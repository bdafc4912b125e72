"""Window-shaped analytics (SURVEY §2.6 W1/W2) plus the full window surface
the driver mandates (row_number/rank/lag/lead/frames).

The reference computes these with sort+iloc on the driver; here they are
single-pass aggregations or window functions.

Scale notes:
- `first_last_pct_change` uses min_by/max_by — one aggregation, no window,
  no sort. The window formulation would shuffle everything to one
  partition (no PARTITION BY); the agg formulation keeps partial combine.
- `argmax_row` uses max_by over structs — again aggregation, not sort.
- `top_k_per_group` is the one true window op: shuffle on the partition
  key, per-partition sort, early-stopping rank filter.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def first_last_pct_change(
    df: DataFrame, order_col: str, measure: str
) -> DataFrame:
    """W1 — pct change between first and last value of a series ordered by
    `order_col` (yearly trend, /root/reference/streamlit_app.py:99-102).

    Returns one row: first_<order>, last_<order>, pct_change.
    Implemented as min_by/max_by aggregation: `(last-first)/first*100`.
    """
    agg = df.groupBy().agg(
        F.min(order_col).alias(f"first_{order_col}"),
        F.max(order_col).alias(f"last_{order_col}"),
        F.min_by(measure, order_col).alias("_first_v"),
        F.max_by(measure, order_col).alias("_last_v"),
    )
    return agg.select(
        f"first_{order_col}",
        f"last_{order_col}",
        F.round(
            (F.col("_last_v") - F.col("_first_v")) / F.col("_first_v") * 100, 4
        ).alias("pct_change"),
    )


def argmax_row(df: DataFrame, by: str, measure: str) -> DataFrame:
    """W2 — the row (key + measure) with the max measure
    (top state / top category, /root/reference/streamlit_app.py:82-85,92-96).

    `max_by` ties are nondeterministic; break them on the key itself by
    max_by-ing a (measure, key) struct — deterministic at any parallelism.
    """
    pair = F.struct(F.col(measure).alias("m"), F.col(by).alias("k"))
    best = df.groupBy().agg(F.max(pair).alias("best"))
    return best.select(
        F.col("best.k").alias(by), F.col("best.m").alias(measure)
    )


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_col: str,
    k: int,
    *,
    tiebreak: Sequence[str] = (),
    rank_fn: str = "row_number",
    rank_name: str = "rn",
) -> DataFrame:
    """Driver-mandated ranking surface (SURVEY §2.6): top-k rows per group
    via row_number/rank/dense_rank over a descending window."""
    order = [F.desc(order_col), *[F.asc(c) for c in tiebreak]]
    w = Window.partitionBy(*partition_by).orderBy(*order)
    ranked = df.withColumn(rank_name, getattr(F, rank_fn)().over(w))
    return ranked.where(F.col(rank_name) <= k)
