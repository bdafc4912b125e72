"""Reshaping: unpivot (melt) and pivot — the reference's signature pair
(SURVEY §2.10 R1/R2).

R1 `melt` (/root/reference/main.py:126-127) turns wide per-state columns
into long (state, separations) rows; R2 `pivot`
(/root/reference/streamlit_app.py:139) builds the category×state heatmap
matrix.

Scale notes:
- `unpivot` is a narrow transformation (Expand node): no shuffle, output
  is |value_cols| × input rows, streamed through codegen.
- `pivot_sum` with an *explicit* value list avoids the extra distinct-scan
  Spark otherwise runs to discover pivot values — at 100 TB that implicit
  scan is a full extra pass over the fact table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators.gates import collect_at_most


def unpivot(
    df: DataFrame,
    ids: Sequence[str],
    values: Sequence[str],
    var_name: str = "state",
    value_name: str = "separations",
) -> DataFrame:
    """R1 — wide→long, `pd.melt` semantics (/root/reference/main.py:126-127).

    Uses the native `DataFrame.unpivot` (Spark ≥3.4); value columns must
    share a least-common type (cast numerics to double upstream, matching
    the reference's to_numeric coercion at main.py:124).
    """
    return df.unpivot(list(ids), list(values), var_name, value_name)


def pivot_sum(
    df: DataFrame,
    row_key: str,
    pivot_col: str,
    pivot_values: Sequence,
    measure: str,
) -> DataFrame:
    """R2 — long→wide sum-pivot (/root/reference/streamlit_app.py:138-139).

    `pivot_values` is required: passing the domain explicitly keeps this a
    single groupBy pass (one shuffle) instead of distinct-scan + pivot.
    """
    return (
        df.groupBy(row_key)
        .pivot(pivot_col, list(pivot_values))
        .sum(measure)
    )


def pivot_sum_dynamic(
    df: DataFrame,
    row_key: str,
    pivot_col: str,
    measure: str,
    *,
    max_domain: int = 100,
) -> DataFrame:
    """Two-phase DYNAMIC pivot: discover the pivot domain from the data,
    then run the explicit-values single-shuffle pivot (pivot_sum).

    The discovery collect is inherent to dynamic pivot — a relation's
    columns must be driver-known before its plan exists — so the only
    scale question is whether it is BOUNDED: the distinct scan is a
    map-side-combined aggregate and the collect is capped at
    max_domain + 1 rows (limit pushed into the plan); exceeding the cap
    raises instead of materializing an unbounded domain as columns (a
    10^6-column relation is an error, not a result). Values are sorted
    so the output schema is deterministic across partitionings/engines.

    The discovered values are passed to pivot() NATIVELY (not
    stringified): Python's str() rendering of Decimal/date/float can
    differ from Spark's literal matching, which would yield silently
    all-NULL columns, and numeric domains would sort lexicographically
    ('10' < '2'). Native values match exactly and sort in value order;
    only the resulting COLUMN NAMES are Spark's deterministic
    rendering of each value.
    """
    rows = collect_at_most(
        df.select(pivot_col).where(F.col(pivot_col).isNotNull()).distinct(),
        max_domain,
    )
    if rows is None:
        raise ValueError(
            f"pivot domain of {pivot_col!r} exceeds max_domain="
            f"{max_domain}; pivoting an unbounded domain into columns "
            "is almost always a bug — pass explicit values (pivot_sum) "
            "or raise the cap deliberately"
        )
    vals = sorted(r[0] for r in rows)
    return pivot_sum(df, row_key, pivot_col, vals, measure)
