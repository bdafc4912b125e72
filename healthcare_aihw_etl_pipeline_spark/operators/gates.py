"""Size gates: every choice between a driver-side shortcut and its
distributed, scale-safe form reads its size through these two functions.

A gate reads a size — a parquet footer row count from
``catalog.table_rows`` (no Spark job) or a bounded probe of the relation
itself — and compares it with a ceiling kept as a module constant next
to its measured rationale at the call site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def at_most(n: int | None, ceiling: int) -> bool:
    """True when a known size ``n`` fits ``ceiling``. An unknown size
    (``None``, e.g. an unreadable footer) never fits, so the caller
    takes its scale-safe side."""
    return n is not None and n <= ceiling


def collect_at_most(df: DataFrame, cap: int) -> list | None:
    """The rows of ``df`` when there are at most ``cap`` of them, else
    None. One bounded collect (LIMIT cap + 1 pushed into the plan), so
    the probe and the fast path's data are the same job."""
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None
