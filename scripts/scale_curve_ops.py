#!/usr/bin/env python
"""Spark-vs-DuckDB scale curve for any registry queries.

    python scripts/scale_curve_ops.py --ops a,b,... [--sf sf1,sf10] --out FILE.json

For each op and scale factor (sf0.01 / sf0.1 read-only corpora, sf1 /
sf10 built on demand by scripts/make_sf1.py replication, only for the
scale factors asked for), records ``ops[op][sf] = {"spark": s,
"duckdb": s}``:

- one cheap query warms the session first, so codegen/JIT and the first
  scan are not charged to whichever op runs first;
- Spark: one warm build + collect, then the min over reps of fresh
  physical plans (``.where(lit(True))`` defeats reuse of a plan's
  materialized shuffle map outputs);
- DuckDB: the query's oracle SQL over views of the same parquet, under
  ``memory_limit`` ($SCURVE_DUCK_MEM) and a hard interrupt after
  $DUCK_TIMEOUT s. A timeout, an out-of-memory or an SQL error is
  recorded as a data point string, not raised.

Results merge into an existing ``--out`` file (its other op and sf
points and top-level keys are kept), and the file is rewritten after
every op, so a cut-off run keeps what it finished. Re-run a committed ledger by
passing the op keys of its ``SCALE_CURVE_R*.json``, e.g.:

    python scripts/scale_curve_ops.py --sf sf1,sf10 --out SCALE_CURVE_R17.json \\
        --ops "$(python -c 'import json; print(",".join(json.load(open("SCALE_CURVE_R17.json"))["ops"]))')"
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import make_sf1  # noqa: E402

from healthcare_aihw_etl_pipeline_spark.session import local_cpus  # noqa: E402

DUCK_TIMEOUT = int(os.environ.get("DUCK_TIMEOUT", "60"))
DUCK_MEM = os.environ.get("SCURVE_DUCK_MEM", "48GB")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# label -> (corpus dir, timed reps). The small corpora sit beside
# make_sf1.py's source; the replicated ones beside its destination.
_SRC_ROOT = os.path.dirname(make_sf1.SRC.rstrip("/"))
_SFB_ROOT = os.path.dirname(make_sf1.DST.rstrip("/"))
DIRS = {
    "sf0.01": (os.path.join(_SRC_ROOT, "sf0.01"), 3),
    "sf0.1": (os.path.join(_SRC_ROOT, "sf0.1"), 3),
    "sf1": (os.path.join(_SFB_ROOT, "sf1"), 2),
    "sf10": (os.path.join(_SFB_ROOT, "sf10"), 1),
}


def _ensure_corpora(sfs=("sf1", "sf10")) -> None:
    """Build whichever replicated corpora `sfs` needs and lacks: sf1 by
    10x replication of sf0.1, sf10 by 10x replication of sf1."""
    make = [sys.executable, os.path.abspath(make_sf1.__file__)]
    sf1, sf10 = DIRS["sf1"][0], DIRS["sf10"][0]
    if {"sf1", "sf10"} & set(sfs) and not os.path.isfile(f"{sf1}/lineitem.parquet"):
        subprocess.run(make, check=True)
    if "sf10" in sfs and not os.path.isfile(f"{sf10}/lineitem.parquet"):
        env = {**os.environ, "SFB_SRC": sf1, "SFB_DST": sf10}
        subprocess.run(make, check=True, env=env)


def _time_spark(build, reps: int) -> float:
    from pyspark.sql import functions as F

    build().collect()  # warm (codegen, page cache, derived caches)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        build().where(F.lit(True)).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _time_duck(d: str, sql: str, reps: int):
    """Min-of-reps DuckDB seconds; a failure is returned as a verdict
    string ('timeout60s', 'oom48GB', 'error:<type>'), prefixed by the
    best time when an earlier rep succeeded."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {local_cpus()}")
    con.execute(f"SET memory_limit='{DUCK_MEM}'")
    for t in TABLES:
        p = f"{d}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    best = float("inf")
    verdict = None
    try:
        for _ in range(reps):
            timer = threading.Timer(DUCK_TIMEOUT, con.interrupt)
            timer.start()
            t0 = time.perf_counter()
            try:
                con.execute(sql).fetchall()
            finally:
                timer.cancel()
            best = min(best, time.perf_counter() - t0)
    except duckdb.OutOfMemoryException:
        verdict = f"oom{DUCK_MEM}"
    except duckdb.InterruptException:
        verdict = f"timeout{DUCK_TIMEOUT}s"
    except Exception as e:  # binder/SQL error — NOT a timeout: name it
        verdict = f"error:{type(e).__name__}"
    finally:
        con.close()
    if best == float("inf"):
        return verdict
    return round(best, 3) if verdict is None else f"{round(best, 3)};{verdict}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ops", required=True, help="comma-separated registry query names")
    ap.add_argument("--sf", default="sf1,sf10", help=f"comma-separated, from {','.join(DIRS)}")
    ap.add_argument("--out", required=True, help="JSON ledger to write (merged if it exists)")
    args = ap.parse_args()

    from healthcare_aihw_etl_pipeline_spark import get_spark
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    ops = args.ops.split(",")
    sfs = args.sf.split(",")
    unknown = [n for n in ops if n not in REGISTRY] + [s for s in sfs if s not in DIRS]
    if unknown:
        ap.error(f"unknown op or scale factor: {unknown}")
    _ensure_corpora(sfs)
    spark = get_spark()
    t0 = time.perf_counter()
    REGISTRY["count_distinct_years"].build(spark, DIRS[sfs[0]][0]).collect()
    prev: dict = {}
    if os.path.exists(args.out):
        with open(args.out) as fh:
            prev = json.load(fh)
    out = {
        **prev,
        "cpus": local_cpus(),
        "duck_timeout_s": DUCK_TIMEOUT,
        "duck_memory_limit": DUCK_MEM,
        "session_warmup_sec": round(time.perf_counter() - t0, 3),
        "ops": prev.get("ops", {}),
    }
    for name in ops:
        q = REGISTRY[name]
        for label in sfs:
            d, reps = DIRS[label]
            if not os.path.isfile(f"{d}/lineitem.parquet"):
                print(f"{name} @ {label}: no corpus at {d}", file=sys.stderr)
                continue
            row: dict = {}
            spark.sparkContext.setJobDescription(f"curve {name}@{label}")
            row["spark"] = _time_spark(lambda: q.build(spark, d), reps)
            if q.oracle:
                row["duckdb"] = _time_duck(d, q.oracle, reps)
            out["ops"].setdefault(name, {})[label] = row
            print(f"{name} @ {label}: {row}", file=sys.stderr, flush=True)
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    print(json.dumps({"out": args.out, "ops": ops, "sf": sfs}))


if __name__ == "__main__":
    main()
