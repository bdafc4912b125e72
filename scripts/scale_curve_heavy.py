#!/usr/bin/env python
"""Scale curves for the round-8 HEAVY operators, to sf10, both engines.

Covers the four ops the r8 verdict asked to see on a committed curve:

- embedding_cluster_keep_best  (LSH -> cosine verify -> pointer-jumping
  connected components -> keep-best argmax; the DuckDB twin is the
  oracle's recursive-CTE transitive closure, which goes QUADRATIC on
  replicated duplicate clusters — the measured timeout at sf>=1 IS the
  ">400x vs single-node closure" claim, now an artifact)
- copurchase_triangle_count    (degree-oriented distributed triangles)
- token_shard_plan             (distributed prefix-sum export sharding)
- bucketed as-of join          (hot-key-safe; vs the plain one-shuffle
  as-of and vs DuckDB ASOF JOIN on the same reduction)

Method: registry queries run through fresh physical plans (min of
reps); DuckDB runs the SAME oracle SQL over views of the same parquet,
guarded by a hard interrupt at DUCK_TIMEOUT seconds (recorded as
"timeout<N>s" — a timeout is a data point here, not a failure).

Writes SCALE_CURVE_HEAVY_r10.json at the repo root (cited from
BASELINE.md) and prints the same JSON to stdout.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from healthcare_aihw_etl_pipeline_spark import get_spark  # noqa: E402
from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY  # noqa: E402
from scale_curve_ops import (  # noqa: E402
    DUCK_TIMEOUT,
    _ensure_corpora,
    _time_duck,
    _time_spark,
)

DIRS = [
    ("sf0.01", "/root/testdata/sf0.01", 3),
    ("sf0.1", "/root/testdata/sf0.1", 3),
    ("sf1", "/tmp/sfbench/sf1", 2),
    # single rep at sf10: the measured ops run minutes there, so the
    # warm pass + one timed rep bounds the sweep; relative noise is
    # small at that duration.
    ("sf10", "/tmp/sfbench/sf10", 1),
]

OPS = [
    "embedding_cluster_keep_best",
    "copurchase_triangle_count",
    "token_shard_plan",
    # round-10 addition: the partition-local index rebuild (commit
    # 8c5042b) — the one retrieval op the r9 verdict still had >2x at
    # sf10; the curve is its committed evidence.
    "inverted_index_top20",
]


def _asof_builders(spark, d: str):
    """(plain, bucketed) builders: events purchase rows as-of joined to
    the latest prior non-purchase row per user, reduced to one row
    (count + match count) so collect size is constant."""
    from pyspark.sql import functions as F

    from healthcare_aihw_etl_pipeline_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )

    def _src():
        ev = spark.read.parquet(f"{d}/events.parquet")
        left = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        )
        right = (
            ev.where(F.col("event_type") != "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("event_type").alias("etype"))
        )
        return left, right

    def plain():
        left, right = _src()
        j = asof_join(left, right, on=["user_id"], ts="ts",
                      value_cols=["ts", "etype"])
        return j.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("etype_asof").alias("n_matched"),
        )

    def bucketed():
        left, right = _src()
        j = asof_join_bucketed(left, right, on=["user_id"], ts="ts",
                               value_cols=["ts", "etype"], bucket="1 day")
        return j.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("etype_asof").alias("n_matched"),
        )

    return plain, bucketed


# DuckDB twin of the as-of reduction (native ASOF JOIN).
ASOF_SQL = """
WITH left_t AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), right_t AS (
  SELECT user_id, ts, MAX(event_type) AS etype FROM events
  WHERE event_type <> 'purchase' GROUP BY user_id, ts
)
SELECT COUNT(*) AS n, COUNT(r.etype) AS n_matched
FROM left_t l ASOF LEFT JOIN right_t r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def main() -> None:
    _ensure_corpora()
    spark = get_spark(
        app_name="scale-curve-heavy",
        extra_conf={
            # Scale profile (AQE on, default compression): the config a
            # cluster runs, so the curve is the honest one.
            "spark.locality.wait": "0",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    for _ in range(100):
        spark.range(1).collect()
    out: dict[str, dict] = {}
    for label, d, reps in DIRS:
        if not os.path.isfile(f"{d}/lineitem.parquet"):
            continue
        point: dict[str, dict] = {}
        for name in OPS:
            q = REGISTRY[name]
            spark_s = _time_spark(
                lambda q=q: (q.build or q.fn)(spark, d), reps
            )
            duck_s = _time_duck(d, q.oracle, reps) if q.oracle else None
            point[name] = {"spark": spark_s, "duckdb": duck_s}
            print(f"{label} {name}: {point[name]}", file=sys.stderr)
        plain, bucketed = _asof_builders(spark, d)
        point["asof_plain"] = {"spark": _time_spark(plain, reps),
                               "duckdb": _time_duck(d, ASOF_SQL, reps)}
        point["asof_bucketed"] = {"spark": _time_spark(bucketed, reps),
                                  "duckdb": None}
        print(f"{label} asof: plain={point['asof_plain']} "
              f"bucketed={point['asof_bucketed']}", file=sys.stderr)
        out[label] = point
        # incremental write: a timeout mid-sweep (the sf10 heavy ops run
        # many minutes) must still leave the completed points on disk
        _root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(_root, "SCALE_CURVE_HEAVY_r10.json"), "w") as f:
            json.dump({"metric": "scale_curve_heavy_ops",
                       "duck_timeout_s": DUCK_TIMEOUT,
                       "partial_through": label, "points": out}, f, indent=1)
    result = {"metric": "scale_curve_heavy_ops", "duck_timeout_s": DUCK_TIMEOUT,
              "partial_through": None, "points": out}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALE_CURVE_HEAVY_r10.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
