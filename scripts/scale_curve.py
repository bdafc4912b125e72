#!/usr/bin/env python
"""Four-decade scale curve: the 13-query headline suite at sf0.01 /
sf0.1 / sf1 / sf10 (sf1 and sf10 built by scripts/make_sf1.py
replication, bounded row groups), Spark and DuckDB, sequential and
concurrent-wave shapes.

This is the "would it survive 100x" artifact in one JSON line: the
growth factor of each engine per decade of data, and the ratio trend.
Spark's wall should grow SUBLINEARLY with data until the scan dominates
(the fixed scheduling floor amortizes), and its ratio to DuckDB should
fall as data grows — the design claim the 100 TB mandate grades.

Usage: python scripts/scale_curve.py  (prints one JSON line; also
appends nothing — copy the numbers into BASELINE.md by hand).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (HEADLINE, _wave, run_duckdb)
from healthcare_aihw_etl_pipeline_spark import get_spark  # noqa: E402
from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY  # noqa: E402
from scale_curve_ops import _ensure_corpora  # noqa: E402

DIRS = [
    ("sf0.01", "/root/testdata/sf0.01", 4),
    ("sf0.1", "/root/testdata/sf0.1", 4),
    ("sf1", "/tmp/sfbench/sf1", 3),
    ("sf10", "/tmp/sfbench/sf10", 2),
]


def main() -> None:
    from pyspark.sql import functions as F

    _ensure_corpora()
    spark = get_spark(
        app_name="scale-curve",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        extra_conf={
            # Scale profile, NOT the sf0.1 latency profile: AQE ON (the
            # scale feature), default compression — this is the config
            # a cluster would run, so the curve is the honest one.
            "spark.locality.wait": "0",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    for _ in range(150):
        spark.range(1).collect()
    out: dict[str, dict] = {}
    for label, d, reps in DIRS:
        for n in bench.HEADLINE:  # warm codegen + derived tables
            REGISTRY[n].fn(spark, d).collect()
        seq_best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            for n in bench.HEADLINE:
                REGISTRY[n].fn(spark, d).where(F.lit(True)).collect()
            seq_best = min(seq_best, time.perf_counter() - t0)
        wave_min, wave_med = bench._wave(spark, d, reps=max(reps, 3))
        duck, duck_wave, duck_wave_med = bench.run_duckdb([d])[d]
        out[label] = {
            "spark_seq": round(seq_best, 3),
            "spark_wave": round(wave_min, 3),
            "spark_wave_med": round(wave_med, 3),
            "duckdb_seq": round(sum(duck.values()), 3),
            "duckdb_wave": duck_wave,
            "duckdb_wave_med": duck_wave_med,
        }
        print(f"{label}: {out[label]}", file=sys.stderr)
    # growth factors per decade and ratio trend
    labels = [x[0] for x in DIRS]
    growth = {
        f"{a}->{b}": {
            "spark": round(out[b]["spark_seq"] / out[a]["spark_seq"], 2),
            "duckdb": round(out[b]["duckdb_seq"] / out[a]["duckdb_seq"], 2),
        }
        for a, b in zip(labels, labels[1:])
        if out[a]["duckdb_seq"] and out[a]["spark_seq"]
    }
    ratios = {
        lb: {
            "seq": round(v["spark_seq"] / v["duckdb_seq"], 2),
            "wave_vs_duck_seq": round(v["spark_wave"] / v["duckdb_seq"], 2),
            "wave": round(v["spark_wave"] / v["duckdb_wave"], 2),
        }
        for lb, v in out.items()
        if v["duckdb_seq"]
    }
    result = {"metric": "scale_curve_headline13",
              "points": out, "growth": growth, "ratios": ratios}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALE_CURVE_r10.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
