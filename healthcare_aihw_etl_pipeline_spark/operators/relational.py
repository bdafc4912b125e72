"""Relational core: dynamic aggregation, filters, top-k, unions.

Generalizes the reference's filter→groupby→sum→sort analytics spine
(SURVEY §2.3 F1–F7, §2.5 A1–A14, §2.7 O1–O6, §2.8 U1) to arbitrary
DataFrames. Everything is a lazy Column/DataFrame transformation —
Catalyst handles pushdown, partial aggregation, and TakeOrderedAndProject.

Scale notes:
- `dynamic_agg` produces one hash-aggregate with map-side partial combine;
  the only shuffle is on the grouping keys. Skewed keys are handled by AQE
  skew-join/partition splitting (enabled in session.py).
- `top_k` compiles to TakeOrderedAndProject (no global sort at any scale).
- `union_by_name` is metadata-only (no shuffle) — safe for thousands of
  heterogeneous inputs.
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The reference's fixed (non-dimension) columns: grouping keys year/state
# plus the measure (/root/reference/main.py:160, streamlit_app.py:36,66).
FIXED_COLS = frozenset({"year", "state", "separations"})


def dims_of(df: DataFrame, fixed: Iterable[str] = FIXED_COLS) -> list[str]:
    """Schema-driven dimension discovery: all columns except the fixed set
    (/root/reference/main.py:160, /root/reference/streamlit_app.py:36,66)."""
    fixed = set(fixed)
    return [c for c in df.columns if c not in fixed]


def dynamic_agg(
    df: DataFrame,
    keys: Sequence[str],
    measure: str,
    *,
    fill_dims: Sequence[str] | None = None,
    agg: str = "sum",
) -> DataFrame:
    """A1/A2 — group by a dynamic key list, aggregate one measure.

    `fill_dims`: string dims to fill NULL→"" *before* grouping. This is
    load-bearing for reference parity: pandas groupby drops NaN keys, so the
    reference fills first (/root/reference/main.py:161-164); Spark keeps
    NULL keys, so the fill is the only way to match. We standardize on
    fill-then-group (SURVEY §3.3 documents the reference's own discrepancy).
    """
    if fill_dims:
        df = df.na.fill("", subset=list(fill_dims))
    agg_col = getattr(F, agg)(measure).alias(measure)
    return df.groupBy(*keys).agg(agg_col)


def filter_in(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """F4 — IN-list membership filter
    (/root/reference/streamlit_app.py:63)."""
    return df.where(F.col(col).isin(list(values)))


def filter_pred_conjunction(df: DataFrame, preds: Sequence[Column]) -> DataFrame:
    """F5 — fold a list of predicates with AND into one `where`
    (/root/reference/streamlit_app.py:63,73-74). A single conjunctive
    predicate keeps the whole filter pushable into the scan."""
    if not preds:
        return df
    return df.where(reduce(lambda a, b: a & b, preds))


def distinct_domain(df: DataFrame, col: str, *, drop_empty: bool = True) -> DataFrame:
    """A12/F7/O6 — sorted distinct non-null (optionally non-empty) values of
    one column (/root/reference/streamlit_app.py:57,60,68). Used by the
    reference to build filter widget domains; kept lazy so the scan only
    reads one column."""
    out = df.select(col).where(F.col(col).isNotNull())
    # The empty-string exclusion only makes sense (and only type-checks
    # under ANSI mode) for string columns.
    if drop_empty and dict(df.dtypes).get(col) == "string":
        out = out.where(F.col(col) != "")
    return out.distinct().orderBy(col)


def top_k(df: DataFrame, order_col: str, k: int, *, tiebreak: Sequence[str] = ()) -> DataFrame:
    """O1/O3/O4 — top-k by measure descending
    (`nlargest(10, ...)`, /root/reference/streamlit_app.py:129;
    top-1 at streamlit_app.py:82-85). Catalyst plans TakeOrderedAndProject:
    per-partition heap + driver merge, no global sort."""
    order = [F.desc(order_col), *[F.asc(c) for c in tiebreak]]
    return df.orderBy(*order).limit(k)


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    measure: str,
    *,
    salt_buckets: int = 16,
    agg: str = "sum",
) -> DataFrame:
    """Two-stage salted aggregation for skewed keys (100 TB pattern).

    Stage 1 groups by (keys, salt) — the hot key's rows spread over
    `salt_buckets` reducers; stage 2 re-aggregates the (tiny) partials by
    the real keys. Only sound for decomposable aggregates (sum/min/max/
    count via sum). Results are identical to a plain groupBy (asserted by
    tests); use when AQE's skew handling isn't available for the agg path.
    """
    if agg not in {"sum", "min", "max"}:
        raise ValueError(f"non-decomposable agg for salting: {agg}")
    # Deterministic salt from row CONTENT, never monotonically_increasing_id:
    # a nondeterministic expression feeding a shuffle is the classic
    # stage-retry duplication/loss hazard on a real cluster (recomputed
    # rows re-salt differently and land in different reducers). Caveat:
    # bit-identical duplicate rows share a salt, so skew made of EXACT
    # duplicates does not spread — pre-aggregate exact dups first if that
    # is the skew shape.
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(getattr(F, agg)(measure).alias(measure))
    )
    return partial.groupBy(*keys).agg(getattr(F, agg)(measure).alias(measure))


def union_by_name(frames: Sequence[DataFrame]) -> DataFrame:
    """U1 — n-ary UNION ALL over heterogeneous schemas, aligned by column
    name, NULL-filling missing columns — `pd.concat(frames)` semantics
    (/root/reference/main.py:149). Positional `union()` would be wrong."""
    if not frames:
        raise ValueError("no frames to union")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
