"""Dashboard-serving layer tests (SURVEY §3.2): insights, widget
aggregations and interactive filters over the reference-shaped fixture
corpus, plus the insight and filter semantics pinned on small frames and
the Spark jobs each dashboard step may run."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.plans import analytics
from healthcare_aihw_etl_pipeline_spark.sources import fixtures
from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
    clean_aggregate,
    compile_sheets,
)


TIDY = "year int, state string, category string, separations double"
FULL = "year int, state string, category string, principal_diagnosis string, separations double"
WIDGETS = ("state_bar", "year_trend", "category_top10", "category_state_heatmap", "treemap")
# Each widget's column types over a harmonized frame.
WIDGET_DTYPES = {
    "state_bar": [("state", "string"), ("separations", "double")],
    "year_trend": [("year", "int"), ("state", "string"), ("separations", "double")],
    "category_top10": [("category", "string"), ("separations", "double")],
    "category_state_heatmap": [("category", "string")]
    + [(s, "double") for s in ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT", "AUST"]],
    "treemap": [("category", "string"), ("principal_diagnosis", "string"), ("separations", "double")],
}


@pytest.fixture(scope="module")
def admissions(spark):
    tidy = compile_sheets(spark, fixtures.SHEETS)
    return analytics.serve(analytics.harmonize(clean_aggregate(tidy)))


def test_harmonize_renames(spark):
    df = spark.createDataFrame(
        [(2022, "NSW", "A00", "Infect", 5.0)],
        ["year", "state", "diagnosis", "icd_chapter", "separations"],
    )
    out = analytics.harmonize(df)
    assert "principal_diagnosis" in out.columns and "category" in out.columns


def test_insights_values(admissions):
    ins = analytics.generate_insights(admissions)
    assert ins is not None
    # manual argmax over state totals
    totals = {
        r.state: r.separations for r in analytics.state_bar(admissions).collect()
    }
    assert ins.top_state == max(totals, key=lambda s: (totals[s], s))
    assert ins.top_state_total == totals[ins.top_state]
    assert ins.first_year == 2022 and ins.last_year == 2023
    assert ins.pct_change is not None
    assert len(ins.lines()) == 3


def test_insights_empty_guard(spark, admissions):
    assert analytics.generate_insights(admissions.where("year = 1900")) is None
    assert analytics.generate_insights(spark.createDataFrame([], TIDY)) is None


def test_widget_shapes(admissions):
    heat = analytics.category_state_heatmap(admissions)
    assert heat.columns[0] == "category"
    assert set(heat.columns[1:]) == set(
        ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT", "AUST"]
    )
    top = analytics.category_top10(admissions).collect()
    assert len(top) <= 10
    vals = [r.separations for r in top]
    assert vals == sorted(vals, reverse=True)
    tm = analytics.treemap(admissions)
    assert set(tm.columns) == {"category", "principal_diagnosis", "separations"}


def test_interactive_filter_semantics(admissions):
    domains = analytics.filter_domains(admissions)
    assert set(domains["state"]) >= {"NSW", "VIC", "QLD"}
    # selection == full domain → no-op for dynamic dims (F6)
    full = analytics.interactive_filter(
        admissions, {"category": domains.get("category", [])}
    )
    assert full.count() == admissions.count()
    # year IN-list applies
    only_2022 = analytics.interactive_filter(admissions, {"year": [2022]})
    assert only_2022.select("year").distinct().collect()[0][0] == 2022
    assert only_2022.count() < admissions.count()


def test_insights_tie_goes_to_larger_key(spark):
    df = spark.createDataFrame(
        [(2022, "NSW", "A", 5.0), (2022, "VIC", "B", 5.0)], TIDY
    )
    ins = analytics.generate_insights(df)
    assert (ins.top_state, ins.top_state_total) == ("VIC", 5.0)
    assert (ins.top_category, ins.top_category_total) == ("B", 5.0)


def test_insights_null_category_takes_part_in_argmax(spark):
    df = spark.createDataFrame(
        [(2022, "NSW", None, 10.0), (2022, "VIC", "A", 3.0)], TIDY
    )
    ins = analytics.generate_insights(df)
    assert (ins.top_category, ins.top_category_total) == (None, 10.0)
    assert (ins.top_state, ins.top_state_total) == ("NSW", 10.0)


def test_insights_single_year_has_no_trend(spark):
    df = spark.createDataFrame(
        [(2022, "NSW", "A", 4.0), (2022, "VIC", "B", 6.0)], TIDY
    )
    ins = analytics.generate_insights(df)
    assert (ins.first_year, ins.last_year, ins.pct_change) == (None, None, None)
    assert len(ins.lines()) == 2


def test_insights_without_category(spark):
    df = spark.createDataFrame(
        [(2021, "NSW", 4.0), (2023, "NSW", 5.0)],
        "year int, state string, separations double",
    )
    ins = analytics.generate_insights(df)
    assert (ins.top_category, ins.top_category_total) == (None, None)
    assert (ins.first_year, ins.last_year, ins.pct_change) == (2021, 2023, 25.0)


def test_insights_zero_first_year_has_no_trend(spark):
    """An earliest year summing to 0 has no defined percentage change; the
    dashboard must still answer (ANSI division by zero would raise)."""
    df = spark.createDataFrame(
        [(2021, "NSW", "X", 0.0), (2022, "NSW", "X", 5.0)], TIDY
    )
    ins = analytics.generate_insights(df)
    assert ins.pct_change is None
    assert (ins.top_state, ins.top_state_total) == ("NSW", 5.0)
    assert len(ins.lines()) == 2


def test_null_keys_are_keys_in_widgets_and_insights(spark):
    """A NULL state, category or principal_diagnosis is a group of its
    own in every widget that keys on it, and competes in the argmax."""
    df = spark.createDataFrame(
        [
            (2021, None, "A", "A1", 7.0),
            (2021, "NSW", None, "X1", 4.0),
            (2022, "NSW", "A", None, 2.0),
            (2022, None, None, "X1", 6.0),
        ],
        FULL,
    )
    rows = {w: [tuple(r) for r in getattr(analytics, w)(df).collect()] for w in WIDGETS}
    assert set(rows["state_bar"]) == {(None, 13.0), ("NSW", 6.0)}
    assert set(rows["year_trend"]) == {
        (2021, None, 7.0), (2021, "NSW", 4.0), (2022, "NSW", 2.0), (2022, None, 6.0)
    }
    assert rows["category_top10"] == [(None, 10.0), ("A", 9.0)]
    assert set(rows["treemap"]) == {("A", "A1", 7.0), (None, "X1", 10.0), ("A", None, 2.0)}
    nulls = (None,) * 8
    assert set(rows["category_state_heatmap"]) == {("A", 2.0, *nulls), (None, 4.0, *nulls)}
    ins = analytics.generate_insights(df)
    assert (ins.top_state, ins.top_state_total) == (None, 13.0)
    assert (ins.top_category, ins.top_category_total) == (None, 10.0)
    assert (ins.first_year, ins.last_year, ins.pct_change) == (2021, 2022, -27.2727)


def test_category_top10_breaks_ties_by_category_nulls_first(spark):
    """Measure descending, then category ascending with NULL first; the
    cut at 10 falls inside a tie."""
    cats = [("k", 9.0), (None, 5.0), *[(c, 5.0) for c in "jihgfedcba"], ("z", 1.0)]
    df = spark.createDataFrame([(2022, "NSW", c, v) for c, v in cats], TIDY)
    top = [tuple(r) for r in analytics.category_top10(df).collect()]
    assert top == [("k", 9.0), (None, 5.0), *[(c, 5.0) for c in "abcdefgh"]]


def test_heatmap_row_for_category_with_no_known_state(spark):
    """A category whose rows all have a NULL state or one outside
    STATE_CODES still gets a row, with every state NULL."""
    df = spark.createDataFrame(
        [(2022, None, "X", 3.0), (2022, "ZZ", "X", 4.0), (2022, "VIC", "Y", 2.0)], TIDY
    )
    heat = {r[0]: tuple(r[1:]) for r in analytics.category_state_heatmap(df).collect()}
    assert heat == {"X": (None,) * 9, "Y": (None, 2.0, *(None,) * 7)}
    assert set(map(tuple, analytics.state_bar(df).collect())) == {
        (None, 3.0), ("ZZ", 4.0), ("VIC", 2.0)
    }


def test_widget_dtypes(admissions):
    for w, dtypes in WIDGET_DTYPES.items():
        assert getattr(analytics, w)(admissions).dtypes == dtypes, w


def test_empty_view_gives_empty_widgets_and_no_insights(admissions):
    """An empty view, served or not, gives every widget no rows with the
    usual column types, and no insights."""
    for view in (
        admissions.where("year = 1900"),
        analytics.interactive_filter(admissions, {"year": [1900]}),
    ):
        for w, dtypes in WIDGET_DTYPES.items():
            out = getattr(analytics, w)(view)
            assert (out.collect(), out.dtypes) == ([], dtypes), w
        assert analytics.generate_insights(view) is None


def test_frame_without_principal_diagnosis(spark):
    """treemap needs principal_diagnosis; the other widgets and the
    insights answer without it."""
    df = spark.createDataFrame([(2021, "NSW", "A", 4.0), (2022, "VIC", "B", 6.0)], TIDY)
    with pytest.raises(AnalysisException):
        analytics.treemap(df).collect()
    for w in WIDGETS[:-1]:
        assert getattr(analytics, w)(df).collect(), w
    ins = analytics.generate_insights(df)
    assert (ins.top_state, ins.top_category, ins.pct_change) == ("VIC", "B", 50.0)


@pytest.mark.parametrize(
    "first, last, want", [(20.0, 22.46913, 12.3457), (106.0, 103.349947, -2.5001)]
)
def test_pct_change_rounds_half_up_like_spark(spark, first, last, want):
    """The change is (last - first) / first * 100 rounded half up to 4
    places, as Spark's round does on the shortest decimal form of the
    double; Python's round works on the binary value and rounds these
    two halves the other way."""
    raw = (last - first) / first * 100
    assert round(raw, 4) != want
    spark_round = spark.range(1).select(
        F.round((F.lit(last) - F.lit(first)) / F.lit(first) * 100, 4)
    ).first()[0]
    assert spark_round == want
    df = spark.createDataFrame([(2021, "NSW", "A", first), (2023, "NSW", "A", last)], TIDY)
    assert analytics.generate_insights(df).pct_change == want


def test_unserved_frame_reads_its_source_on_every_call(spark, tmp_path):
    """A frame that was not served is recomputed on every call: a file
    overwritten in place (same name and size, so the frame's file listing
    still holds) gives the new totals."""
    path = str(tmp_path / "tidy.parquet")

    def write(values):
        table = pa.table({
            "year": pa.array([2021, 2021], pa.int32()),
            "state": ["NSW", "VIC"],
            "category": ["A", "A"],
            "separations": pa.array(values, pa.float64()),
        })
        pq.write_table(table, path, compression="none", use_dictionary=False,
                       write_statistics=False)
        return os.path.getsize(path)

    size = write([1.0, 2.0])
    df = spark.read.parquet(path)
    assert sorted(map(tuple, analytics.state_bar(df).collect())) == [("NSW", 1.0), ("VIC", 2.0)]
    assert write([5.0, 7.0]) == size
    assert sorted(map(tuple, analytics.state_bar(df).collect())) == [("NSW", 5.0), ("VIC", 7.0)]


def test_filter_guard_ignores_large_and_single_value_dims(spark):
    wide = [(2022, "NSW", f"c{i:02d}", "only", 1.0) for i in range(50)]
    df = spark.createDataFrame(
        wide, "year int, state string, category string, one string, separations double"
    )
    # 50 categories (>= the cap) and a single-valued dim: both ignored
    out = analytics.interactive_filter(df, {"category": ["c00"], "one": ["other"]})
    assert out.count() == 50
    # one fewer category: the guard admits the dim and the selection applies
    narrow = df.where("category != 'c49'")
    assert analytics.interactive_filter(narrow, {"category": ["c00"]}).count() == 1
    # year and state always filter, even when single-valued
    assert analytics.interactive_filter(df, {"year": [2021]}).count() == 0
    assert analytics.interactive_filter(df, {"state": ["VIC"]}).count() == 0


def test_filter_unserved_frames_use_their_own_domains(spark):
    two = spark.createDataFrame([(2022, "NSW", c, 1.0) for c in "ab"], TIDY)
    three = spark.createDataFrame([(2022, "NSW", c, 1.0) for c in "abc"], TIDY)
    sel = {"category": ["a", "b"]}
    assert analytics.interactive_filter(two, sel).count() == 2
    assert analytics.interactive_filter(three, sel).count() == 2
    assert analytics.interactive_filter(three, {"category": ["a", "b", "c"]}).count() == 3
    assert analytics.interactive_filter(two, {"category": ["a"]}).count() == 1


def test_served_filter_and_insights_job_counts(admissions, jobs_run):
    """Opening the dashboard reads the served frame's domains; an
    interaction's filter then runs no Spark job, and its insights and five
    widgets together run at most 2, all in whichever call comes first."""
    domains = analytics.filter_domains(admissions)
    sel = {"year": [2022], "category": domains["category"][:1]}
    view, n_filter = jobs_run(lambda: analytics.interactive_filter(admissions, sel))
    assert n_filter == 0
    ins, n_insights = jobs_run(lambda: analytics.generate_insights(view))
    assert ins is not None and n_insights <= 2
    _, n_widgets = jobs_run(lambda: [getattr(analytics, w)(view).collect() for w in WIDGETS])
    assert n_widgets == 0


def _dash_frame(spark, parts: int):
    """120 tidy rows in `parts` partitions, planned with no Exchange."""
    i = F.col("id")

    def pick(values, k):
        return F.element_at(F.array(*map(F.lit, values)), (i % k + 1).cast("int"))

    return spark.range(0, 120, 1, parts).select(
        (2020 + i % 3).cast("int").alias("year"),
        pick(["NSW", "VIC", "QLD", "SA"], 4).alias("state"),
        pick("ABCDE", 5).alias("category"),
        F.concat(pick("ABCDE", 5), (i % 7).cast("string")).alias("principal_diagnosis"),
        (i % 11).cast("double").alias("separations"),
    )


def _sorted_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def _interaction(view, jobs_run) -> tuple[dict, object, list[int]]:
    """The five widgets collected, then the insights, as the dashboard
    does: each widget's rows, the insights and the Spark jobs per call."""
    rows, jobs = {}, []
    for w in WIDGETS:
        rows[w], n = jobs_run(lambda: _sorted_rows(getattr(analytics, w)(view).collect()))
        jobs.append(n)
    ins, n = jobs_run(lambda: analytics.generate_insights(view))
    return rows, ins, [*jobs, n]


@pytest.fixture
def small_file(spark, tmp_path):
    """A small file read and harmonized: one partition, no Exchange."""
    path = str(tmp_path / "tidy.parquet")
    _dash_frame(spark, 1).write.parquet(path)
    return analytics.harmonize(spark.read.parquet(path))


def test_one_partition_frame_serves_an_interaction_from_one_aggregate(small_file, jobs_run):
    """serve() declares a one-partition frame so. An interaction's five
    widgets and insights then run at most 2 Spark jobs in all, every one
    in the first call, and give the same rows as the unserved frame."""
    frame = small_file
    served, n_serve = jobs_run(lambda: analytics.serve(frame))
    try:
        assert n_serve == 0
        _, n_domains = jobs_run(lambda: analytics.filter_domains(served))
        assert n_domains <= 3  # cache fill, HLL gate, collect_set
        sel = {"year": [2020, 2021], "category": ["A", "C", "E"]}
        rows, ins, jobs = _interaction(analytics.interactive_filter(served, sel), jobs_run)
        assert jobs[0] <= 2 and sum(jobs[1:]) == 0, jobs
        want = _interaction(analytics.interactive_filter(frame, sel), jobs_run)
        assert (rows, ins) == want[:2]
        assert served.rdd.getNumPartitions() == 1
    finally:
        served.unpersist()


def test_new_selection_compiles_no_new_code(spark, small_file):
    """A new selection over the same columns reuses the code generated
    for the last one: an IN list would inline its values and compile
    the view's aggregate afresh. Checked on a one-partition frame and on
    a 3-partition one, which keeps its Exchange when served."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def interact(served, sel):
        view = analytics.interactive_filter(served, sel)
        for w in WIDGETS:
            getattr(analytics, w)(view).collect()
        analytics.generate_insights(view)

    for frame in (small_file, analytics.harmonize(_dash_frame(spark, 3))):
        served = analytics.serve(frame)
        try:
            interact(served, {"year": [2021], "state": ["NSW", "SA"], "category": ["B"]})
            before = compiles.getCount()
            interact(served, {"year": [2020, 2022], "state": ["VIC"], "category": ["A", "C", "E"]})
            assert compiles.getCount() == before, served.rdd.getNumPartitions()
        finally:
            served.unpersist()


def test_multi_partition_frame_is_served_as_it_is(spark, jobs_run):
    """A frame of several partitions keeps them when served. Once opened
    (its domains read, which fills the cache), its widgets and insights
    equal the unserved frame's and run at most 2 Spark jobs in all, every
    one in the first call. Unserved, each call runs that aggregate once."""
    frame = analytics.harmonize(_dash_frame(spark, 3))
    served = analytics.serve(frame)
    try:
        assert served.rdd.getNumPartitions() == 3
        analytics.filter_domains(served)
        rows, ins, jobs = _interaction(served, jobs_run)
        assert jobs[0] <= 2 and sum(jobs[1:]) == 0, jobs
        want_rows, want_ins, unserved_jobs = _interaction(frame, jobs_run)
        assert (rows, ins) == (want_rows, want_ins)
        assert max(unserved_jobs) <= 2, unserved_jobs
    finally:
        served.unpersist()


def test_one_partition_check_runs_no_job_and_skips_exchanges(spark, jobs_run):
    """The partition count is read only off a plan with no Exchange or
    subquery: with adaptive execution off, a broadcast join's plan would
    start its broadcast job if asked, and a scalar subquery its own."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    for adaptive in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
        try:
            # built under each setting: a frame plans once
            one = _dash_frame(spark, 1)
            years = F.broadcast(one.select("year").distinct())
            last = one.where(F.col("year") == one.select(F.max("year")).scalar())
            cases = [
                (one, True),
                (one.repartition(1), False),
                (one.join(years, "year"), False),
                (last, False),
            ]
            for df, want in cases:
                got, n = jobs_run(lambda: analytics._one_partition(df))
                assert (got, n) == (want, 0), (adaptive, df)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old)


def test_profile(admissions):
    prof = {r.column: r for r in analytics.profile(admissions).collect()}
    assert set(prof) == set(admissions.columns)
    total = admissions.count()
    for r in prof.values():
        assert r.n_non_null + r.n_null == total
    sep = prof["separations"]
    assert float(sep.min_value) >= 0
    assert float(sep.max_value) >= float(sep.min_value)
    assert sep.mean_value is not None
    assert prof["state"].mean_value is None  # non-numeric: no mean


def test_domains_gate_high_cardinality(spark):
    """_domains_one_pass pre-gate: a dim with ~1e6 distinct values must
    NOT go through collect_set (whose partial-aggregation buffers hold
    the full domain); it is routed to a spill-safe distinct+limit and
    still returns the first `cap` values in sort order — the same
    contract as the collect_set path."""
    df = spark.range(1_000_000).select(
        F.format_string("u%07d", F.col("id")).alias("user_key"),
        (F.col("id") % 3).cast("int").alias("tiny_dim"),
    )

    def guarded(c):
        return F.col(c)

    over = analytics._gate_over_cap(df, ["user_key", "tiny_dim"], 50, guarded)
    assert over == {"user_key"}

    domains = analytics._domains_one_pass(df, ["user_key", "tiny_dim"], cap=50)
    # high-card column: exactly cap values (signals "domain >= cap"),
    # and they are the sort-order head, matching sort_array semantics
    assert domains["user_key"] == [f"u{i:07d}" for i in range(50)]
    assert domains["tiny_dim"] == [0, 1, 2]


def test_domains_gate_agrees_with_ungated(spark):
    """Both paths return identical domains on a column near the gate
    boundary, so gating can never change the cardinality-guard verdict."""
    df = spark.range(200).select(
        F.format_string("v%03d", F.col("id") % 120).alias("c")
    )
    # cap=50: 120 distinct > 1.3*50 -> gated; head-of-sort-order slice
    gated = analytics._domains_one_pass(df, ["c"], cap=50)
    assert gated["c"] == [f"v{i:03d}" for i in range(50)]
    # cap=200: 120 < 1.3*200 -> collect_set path, full domain
    ungated = analytics._domains_one_pass(df, ["c"], cap=200)
    assert ungated["c"] == [f"v{i:03d}" for i in range(120)]
