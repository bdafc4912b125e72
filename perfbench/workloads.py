"""The three workloads. Each is a closed loop with one client.

A workload generates its inputs (``inputs``, untimed and before the
session starts), prepares once per set-up repetition (``prepare``, undone
by ``reset``), and then runs operations in batches: ``batch()`` gives the
next operations, ``run()`` executes one inside the timed region and
``check()`` verifies its output after the timer has stopped. ``run()``
wraps each call into a layer in a span named after that layer, so the
traced run can split an operation's time.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import check
import gen
from probes import plan

# bench.py's headline wave, copied rather than imported so that the
# workload does not change when bench.py does.
HEADLINE = [
    "revenue_by_nation", "pricing_summary", "top10_brands_by_revenue",
    "filter_in_agg", "pivot_priority_status", "unpivot_lineitem_measures",
    "top3_orders_per_priority", "events_hourly_window", "json_props_agg",
    "events_typed_agg", "dedup_prefix_keepers", "text_token_stats",
    "embedding_norms",
]

# make_sf1.py copies of sf0.1: 1 is sf0.1 laid out in row groups.
CORPUS_COPIES = 1
DASHBOARD_ROWS = 90_000
ETL_SHEETS, ETL_ROWS = 4, 200
# Operations per batch: about ten seconds of work each on a 4-core host.
DASHBOARD_BATCH, ETL_BATCH = 3, 2


class Workload:
    """Shared plumbing: the session, the tracer and a per-run work dir."""

    def __init__(self, tracer, seed: int, root: str, work: str):
        self.tr, self.seed, self.root, self.work = tracer, seed, root, work
        self.spark = None
        self.detail: dict[str, float] = {}

    def fresh_tempdir(self, tag: str) -> None:
        """Point the engine's temp-root caches (such as the silver table
        events_typed_agg serves) at an empty directory, so a repeated
        preparation rebuilds them."""
        d = os.path.join(self.work, "tmp", tag)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        tempfile.tempdir = d

    def oracles(self) -> float | None:
        """Work the workload's reference answers need from outside the
        engine; returns a host-probe time in seconds, if any."""
        return None

    def result_rows(self, result) -> int:
        return 0


class Corpus(Workload):
    """One operation is one headline registry query on a fresh physical plan,
    collected. Each pass runs all 13 in a seeded order."""

    def inputs(self) -> None:
        self.sf_dir = gen.corpus(self.root, os.path.dirname(self.work), CORPUS_COPIES)
        self._rng = random.Random(self.seed)
        self.expected: dict[str, tuple] = {}
        self.first: dict[str, tuple] = {}

    def prepare(self, rep: int) -> None:
        from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

        self.fresh_tempdir(f"prep{rep}")
        with self.tr.span("plans.registry.build"):
            for name in HEADLINE:
                REGISTRY[name].fn(self.spark, self.sf_dir)

    def reset(self) -> None:
        from healthcare_aihw_etl_pipeline_spark.plans.registry import invalidate

        invalidate(sf_dir=self.sf_dir)

    def oracles(self) -> float:
        """Run the 13 DuckDB oracles once (DuckDB threads at most the
        session's cores): sets every query's expected result and returns
        the pass's wall time, a host probe."""
        from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

        threads = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
        con = duckdb.connect(config={"threads": threads})
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        t0 = time.perf_counter()
        for name in HEADLINE:
            rel = con.execute(REGISTRY[name].oracle)
            self.expected[name] = ([d[0] for d in rel.description], rel.fetchall())
        elapsed = time.perf_counter() - t0
        con.close()
        return elapsed

    def batch(self) -> list[str]:
        order = list(HEADLINE)
        self._rng.shuffle(order)
        return order

    def run(self, name: str):
        from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

        with self.tr.span("plans.registry.hit"):
            df = REGISTRY[name].fn(self.spark, self.sf_dir)
        df = df.where(F.lit(True))
        if self.tr.enabled:
            with self.tr.span("spark.plan"):
                plan(df)
        with self.tr.span("spark.collect"):
            rows = df.collect()
        return df.columns, rows

    def result_rows(self, result) -> int:
        return len(result[1])

    def check(self, name: str, result) -> bool:
        """The first result of a query must agree with its DuckDB oracle;
        every later one must repeat the first exactly."""
        cols, rows = result
        key = check.exact_key(cols, rows)
        if name not in self.first:
            if not check.agree(cols, rows, *self.expected[name]):
                return False
            self.first[name] = key
        return key == self.first[name]


WIDGETS = ("state_bar", "year_trend", "category_top10", "category_state_heatmap", "treemap")


class Dashboard(Workload):
    """One operation is one sidebar interaction: interactive_filter, the five
    widgets collected, then generate_insights. Opening the dashboard
    (set-up) reads the tidy table, serves it and reads the filter
    domains."""

    def inputs(self) -> None:
        self.path = os.path.join(self.work, "tidy", "admissions.parquet")
        self.pdf = gen.write_tidy(self.seed, DASHBOARD_ROWS, self.path).to_pandas()
        self._sel = iter(gen.selections(self.seed, 1_000))
        self.base = None

    def prepare(self, rep: int) -> None:
        from healthcare_aihw_etl_pipeline_spark.plans import analytics as A

        raw = self.spark.read.parquet(self.path)
        with self.tr.span("plans.analytics.serve"):
            self.base = A.serve(A.harmonize(raw))
        with self.tr.span("plans.analytics.filter_domains"):
            A.filter_domains(self.base)

    def reset(self) -> None:
        self.base.unpersist(blocking=True)

    def batch(self) -> list[dict]:
        return [next(self._sel) for _ in range(DASHBOARD_BATCH)]

    def run(self, sel: dict):
        from healthcare_aihw_etl_pipeline_spark.plans import analytics as A

        with self.tr.span("plans.analytics.interactive_filter"):
            view = A.interactive_filter(self.base, sel)
        out = {}
        for w in WIDGETS:
            with self.tr.span("plans.analytics.widgets"):
                df = getattr(A, w)(view)
                if self.tr.enabled:
                    with self.tr.span("spark.plan"):
                        plan(df)
                with self.tr.span("spark.collect"):
                    out[w] = df.collect()
        with self.tr.span("plans.analytics.insights"):
            ins = A.generate_insights(view)
        return out, ins

    def result_rows(self, result) -> int:
        return sum(len(rows) for rows in result[0].values())

    def check(self, sel: dict, result) -> bool:
        widgets, ins = result
        if ins is None:
            return False
        want = check.expected_interaction(self.pdf, sel)
        return check.interaction_ok(want, check.observed_interaction(widgets, ins))


class Etl(Workload):
    """One operation is one pipeline.run_etl over the seeded landing zone
    into an empty output directory. The traced run makes the two calls
    run_etl composes (compile_sheets, then load_two_tier), and the check
    holds both forms to the same expected tables."""

    def inputs(self) -> None:
        self.sheets = gen.landing_zone(self.seed, ETL_SHEETS, ETL_ROWS)
        self.want_rows, clean = check.expected_etl(self.sheets)
        self.want_clean = check.frame_key(clean)
        self.out = os.path.join(self.work, "etl_out")
        self._warm = gen.landing_zone(self.seed + 1, 1, ETL_ROWS)

    def prepare(self, rep: int) -> None:
        # One pass over a one-sheet zone: the ETL path's one-time
        # compilation, which the first run_etl of a process pays.
        from healthcare_aihw_etl_pipeline_spark import pipeline

        with self.tr.span("pipeline.run_etl"):
            pipeline.run_etl(self.spark, os.path.join(self.work, "etl_warm"),
                             sheets_override=self._warm)

    def reset(self) -> None:
        shutil.rmtree(os.path.join(self.work, "etl_warm"), ignore_errors=True)

    def batch(self) -> list[int]:
        return list(range(ETL_BATCH))

    def run(self, _op):
        from healthcare_aihw_etl_pipeline_spark import pipeline
        from healthcare_aihw_etl_pipeline_spark.sources import sheet_ingest

        if not self.tr.enabled:
            _tidy, staging, clean = pipeline.run_etl(
                self.spark, self.out, sheets_override=self.sheets)
            return staging, clean
        with self.tr.span("sources.sheet_ingest.compile_sheets"):
            tidy = sheet_ingest.compile_sheets(self.spark, self.sheets)
        with self.tr.span("spark.plan"):
            plan(tidy)
        with self.tr.span("sources.sheet_ingest.load_two_tier"), self.tr.span("spark.collect"):
            return sheet_ingest.load_two_tier(tidy, self.out)

    def check(self, _op, result) -> bool:
        staging, clean = result
        files = [os.path.join(d, f) for p in (staging, clean)
                 for d, _, fs in os.walk(p) for f in fs]
        stored = sum(os.path.getsize(f) for f in files)
        self.detail.update({
            "etl.files_written": sum(f.endswith(".parquet") for f in files),
            "etl.bytes_written": stored,
            "etl.tidy_rows": self.want_rows,
            "etl.stored_bytes_per_row": stored / self.want_rows,
        })
        ok = (pq.read_table(staging).num_rows == self.want_rows
              and check.frame_key(pq.read_table(clean).to_pandas()) == self.want_clean)
        shutil.rmtree(self.out, ignore_errors=True)
        return ok


WORKLOADS = {"corpus_sf0.1": Corpus, "dashboard": Dashboard, "etl": Etl}
