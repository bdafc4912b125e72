"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload corpus_sf0.1 --seed 1 --seconds 5 --trace 0

Run from the repo root. The run generates the workload's inputs from the
seed (untimed), starts the session with ``get_spark()`` as shipped, at
``SPARK_GRAFT_CPUS`` = the cores this process may use, sets the workload
up ``SETUP_REPS`` times, then runs batches of operations back to back
until ``--seconds`` of operation time have passed. Timing starts right
after set-up, so a run measures the first operations a fresh process
serves, JIT and code-generation warm-up included. Whole batches keep that
mix of cold and warm operations the same in every run: a batch is one
pass over the 13 headline queries, three dashboard interactions, or two
ETL runs, and ``--seconds`` below one batch's time gives exactly one
batch. Each output is checked after its timer stops.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate traced run: spans at every layer boundary and Spark counters per
job group give the per-layer metrics, and the spans are written to
``perfbench/_work/trace/``. The last line of standard output is one JSON
object; the line before it holds the host probes and the workload's
figures under their workload-specific names.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = os.path.join(ROOT, "healthcare_aihw_etl_pipeline_spark")
MAKE_SF1 = os.path.join(ROOT, "scripts", "make_sf1.py")

SETUP_REPS = 3
# Workload-specific names of the generic end-to-end figures.
NAMES = {
    "corpus_sf0.1": ("query", "queries_per_s"),
    "dashboard": ("interaction", "interactions_per_s"),
    "etl": ("run_etl", "run_etl_per_s"),
}

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "spark.job_floor_ms": "ms",
    "plans.registry.build_ms": "ms",
    "plans.registry.build_jobs": "count",
    "plans.registry.hit_us": "us",
    "spark.plan_ms": "ms",
    "spark.collect_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_time_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.result_rows": "count",
    "sources.sheet_ingest.compile_sheets_s": "s",
    "sources.sheet_ingest.load_two_tier_s": "s",
    "etl.jobs": "count",
    "etl.files_written": "count",
    "etl.bytes_written": "bytes",
    "plans.analytics.serve_s": "s",
    "plans.analytics.filter_domains_ms": "ms",
    "plans.analytics.interactive_filter_ms": "ms",
    "plans.analytics.widgets_ms": "ms",
    "plans.analytics.insights_ms": "ms",
    "dashboard.jobs_per_interaction": "count",
    "trace.op_p50_ms": "ms",
    "process.peak_rss_mb": "MB",
}


def quantile(xs: list[float], q: float) -> float:
    """The q-quantile of xs, interpolated between order statistics."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def measure(wl, tr, groups, seconds: float):
    """Closed loop from the end of set-up: whole batches of operations
    run back to back until ``seconds`` of operation time have passed.
    Returns per-op latencies (s), per-op span totals and Spark counters
    (traced run only), and attempted and failed counts."""
    lat: list[float] = []
    per_op: list[dict[str, float]] = []
    attempted = failed = 0
    busy = 0.0
    while busy < seconds:
        for op in wl.batch():
            i = attempted
            attempted += 1
            tr.op = i
            with groups.group("op") as gid:
                t0 = time.perf_counter()
                try:
                    res, err = wl.run(op), None
                except Exception as e:  # counted in failed; the run goes on
                    res, err = None, e
                dt = time.perf_counter() - t0
            busy += dt
            if err is not None:
                print(f"operation {i} raised: {err!r}", file=sys.stderr)
                failed += 1
                continue
            lat.append(dt)
            if tr.enabled:
                row = {"op": str(op), **tr.totals(i), **groups.counters(gid)}
                row["result_rows"] = wl.result_rows(res)
                per_op.append(row)
            if not wl.check(op, res):
                print(f"operation {i} failed its output check", file=sys.stderr)
                failed += 1
    tr.op = None
    return lat, per_op, attempted, failed


def layer_metrics(workload: str, tr, setup_jobs, per_op, lat, get_spark_s, floor_ms, detail):
    out = dict.fromkeys(PER_LAYER, 0.0)

    def setup_median(span: str) -> float:
        return statistics.median(tr.totals(f"setup{r}").get(span, 0.0) for r in range(SETUP_REPS))

    def op_median(key: str) -> float:
        return statistics.median(row.get(key, 0.0) for row in per_op)

    def op_mean(key: str) -> float:
        return sum(row.get(key, 0) for row in per_op) / len(per_op)

    out["session.get_spark_s"] = get_spark_s
    out["spark.job_floor_ms"] = floor_ms
    out["plans.registry.build_ms"] = setup_median("plans.registry.build") * 1e3
    out["plans.analytics.serve_s"] = setup_median("plans.analytics.serve")
    out["plans.analytics.filter_domains_ms"] = setup_median("plans.analytics.filter_domains") * 1e3
    if workload == "corpus_sf0.1":
        out["plans.registry.build_jobs"] = statistics.median(setup_jobs)
    if per_op:
        out["plans.registry.hit_us"] = op_median("plans.registry.hit") * 1e6
        out["spark.plan_ms"] = op_median("spark.plan") * 1e3
        out["spark.collect_ms"] = op_median("spark.collect") * 1e3
        for c in ("jobs", "stages", "tasks", "task_time_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "result_rows"):
            out[f"spark.{c}"] = op_mean(c)
        out["sources.sheet_ingest.compile_sheets_s"] = op_median("sources.sheet_ingest.compile_sheets")
        out["sources.sheet_ingest.load_two_tier_s"] = op_median("sources.sheet_ingest.load_two_tier")
        out["plans.analytics.interactive_filter_ms"] = op_median("plans.analytics.interactive_filter") * 1e3
        out["plans.analytics.widgets_ms"] = op_median("plans.analytics.widgets") * 1e3
        out["plans.analytics.insights_ms"] = op_median("plans.analytics.insights") * 1e3
        if workload == "etl":
            out["etl.jobs"] = op_mean("jobs")
        if workload == "dashboard":
            out["dashboard.jobs_per_interaction"] = op_mean("jobs")
    out["etl.files_written"] = detail.get("etl.files_written", 0)
    out["etl.bytes_written"] = detail.get("etl.bytes_written", 0)
    out["trace.op_p50_ms"] = statistics.median(lat) * 1e3
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in (PACKAGE, MAKE_SF1) if not os.path.exists(p)]
    if missing:
        print(f"not a checkout of the engine: missing {missing}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import probes
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    tr = probes.Tracer(run_id, enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](
        tr, args.seed, ROOT, os.path.join(WORK, args.workload))
    wl.inputs()

    from healthcare_aihw_etl_pipeline_spark.session import get_spark

    load_start = probes.load_avg()
    t0 = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t0
    try:
        wl.spark = spark
        groups = probes.JobGroups(spark, enabled=tr.enabled)

        prep_s, setup_jobs = [], []
        for rep in range(SETUP_REPS):
            if rep:
                wl.reset()
            tr.op = f"setup{rep}"
            with groups.group("setup") as gid:
                t = time.perf_counter()
                wl.prepare(rep)
                prep_s.append(time.perf_counter() - t)
            if tr.enabled:
                setup_jobs.append(groups.counters(gid)["jobs"])
        tr.op = None
        setup_s = get_spark_s + statistics.median(prep_s)

        floor_ms = probes.job_floor_ms(spark)
        duckdb_s = wl.oracles()
        lat, per_op, attempted, failed = measure(
            wl, tr, groups, args.seconds)
        rss_mb = probes.peak_rss_mb(spark)
    finally:
        probes.stop(spark)
    load_end = probes.load_avg()

    if not lat:
        print("no operation completed", file=sys.stderr)
        return 1
    ms = [x * 1e3 for x in lat]
    p50, p75, p90 = (quantile(ms, q) for q in (0.5, 0.75, 0.9))
    ops_per_s = len(lat) / sum(lat)

    op, rate = NAMES[args.workload]
    figures = {
        f"{op}_p50_ms": p50, f"{op}_p75_ms": p75, f"{op}_p90_ms": p90, rate: ops_per_s,
        "samples": len(lat), "failed_ratio": failed / attempted, "peak_rss_mb": rss_mb,
        "setup_reps": SETUP_REPS, "prepare_s": prep_s, "get_spark_s": get_spark_s,
    }
    if args.workload == "etl":
        figures["etl_rows_per_s"] = wl.want_rows / (p50 / 1e3)
        figures["etl_stored_bytes_per_row"] = wl.detail["etl.stored_bytes_per_row"]
    host = {
        "cpus": cpus, "load_avg_start": load_start, "load_avg_end": load_end,
        "spark.job_floor_ms": floor_ms, "duckdb_headline_s": duckdb_s,
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "figures": figures, "host": host}))

    if args.trace:
        values = layer_metrics(args.workload, tr, setup_jobs, per_op, lat,
                               get_spark_s, floor_ms, wl.detail)
        values["process.peak_rss_mb"] = rss_mb
        units = PER_LAYER
        tr.dump(os.path.join(WORK, "trace", f"{run_id}.json"),
                {"per_op": per_op, "setup_jobs": setup_jobs})
    else:
        values = {"setup_s": setup_s, "op_p50_ms": p50, "ops_per_s": ops_per_s}
        units = END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
