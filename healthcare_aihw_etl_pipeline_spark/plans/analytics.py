"""Dashboard-serving analytics (SURVEY §3.2) — the reference's Streamlit
query path (streamlit_app.py) as an engine API over any tidy fact
DataFrame.

The reference redraws every widget with its own pandas groupby on each
sidebar change (A3–A10) and leans on `st.cache_data` (C2) to compute one
filtered state once. Here the serving pattern is: load → harmonize →
persist once (C2), read the filter domains once per served frame, then
answer each view from ONE aggregate. `_rollup` sums the measure over
every grouping the five widgets and the insights need, as one
grouping-sets aggregate collected once; each widget returns its slice as
a local frame (a LocalRelation, whose collect runs no Spark job) and the
insights are read from it on the driver. An interaction therefore runs
that aggregate's jobs and no others. The result is kept for the served
frame and for the views interactive_filter derives from it; any other
frame is aggregated again on every call, so a lazy frame over a changing
source is never answered from stale rows.

A frame whose plan has no Exchange and already runs as one partition
(a small file read and harmonized) is served as `coalesce(1)`. That
moves no data; it lets the planner see that the cached frame is one
partition, so the filter-domain aggregates over it plan no Exchange.
Every other frame is served as it is: forcing one partition on a
3.6M-row, 4-partition frame made grouped aggregates over it 1.3-2x
slower and `filter_domains` about 2.5x slower (4 cores), so the rule
only declares what the plan already does.
"""

from __future__ import annotations

import math
import weakref
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from healthcare_aihw_etl_pipeline_spark.operators.relational import dims_of
from healthcare_aihw_etl_pipeline_spark.functions.scalar import STATE_CODES, try_double, try_int

MEASURE = "separations"
# F6 cardinality guard: a dynamic dim is a filter only with 1 < n < MAX_DOMAIN values.
MAX_DOMAIN = 50
# Filter domains per served frame: filled by filter_domains, dropped with the frame.
_DOMAINS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# Rollup per served frame and per view filtered from one: filled by
# _rollup, dropped with the frame.
_ROLLUPS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# The rollup's grouping columns, in grouping_id bit order, and the
# groupings the widgets and the insights read.
_ROLLUP_KEYS = ("year", "state", "category", "principal_diagnosis")
_ROLLUP_SETS = (
    ("state",),
    ("year", "state"),
    ("category",),
    ("category", "state"),
    ("category", "principal_diagnosis"),
    ("year",),
)


def harmonize(df: DataFrame) -> DataFrame:
    """P5/X3/X4/F3 — the reference's load-time cleanup
    (/root/reference/streamlit_app.py:39-49): harmonizing renames
    (diagnosis→principal_diagnosis, icd_chapter→category when absent),
    dtype coercion, and the fixed-column null-drop."""
    if "diagnosis" in df.columns and "principal_diagnosis" not in df.columns:
        df = df.withColumnRenamed("diagnosis", "principal_diagnosis")
    if "icd_chapter" in df.columns and "category" not in df.columns:
        df = df.withColumnRenamed("icd_chapter", "category")
    df = df.withColumn("year", try_int("year")).withColumn(MEASURE, try_double(MEASURE))
    return df.na.drop(subset=["year", "state", MEASURE])


def serve(df: DataFrame) -> DataFrame:
    """C2 — persist the harmonized base frame once; each view's rollup
    re-reads it from memory (`st.cache_data`, the reference's
    streamlit_app.py:26-27). The returned frame's filter domains are read
    once, by the first filter_domains call, and its rollup and those of
    the views filtered from it once each, by their first widget or
    insights call.

    A frame that already runs as one partition with no Exchange is
    persisted as `coalesce(1)`: the cached scan then reports
    SinglePartition, which satisfies every clustered and all-tuples
    requirement, so the filter-domain aggregates over it plan no
    Exchange (a rollup still plans one small Exchange: its Expand reports
    unknown partitioning). Any other frame keeps its partitioning (see the module docstring for
    why this is not a general rule)."""
    if _one_partition(df):
        df = df.coalesce(1)
    served = df.persist(StorageLevel.MEMORY_AND_DISK)
    _DOMAINS[served] = None
    _ROLLUPS[served] = None
    return served


def _one_partition(df: DataFrame) -> bool:
    """True when df's executed plan is not adaptive, has no Exchange or
    subquery, and builds an RDD of exactly one partition. Building that
    RDD runs no Spark job for such a plan; an adaptive plan would run its
    stages to answer, so it is never asked."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan" or not plan.subqueriesAll().isEmpty():
        return False
    stack = [plan]
    while stack:
        node = stack.pop()
        if "Exchange" in node.nodeName():
            return False
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return plan.execute().getNumPartitions() == 1


@dataclass(frozen=True)
class _Rollup:
    """One view's grouping-sets result: the rows of each kept set (its
    keys, then the measure) and the type of every output column."""

    spark: SparkSession
    sets: dict[tuple[str, ...], list[tuple]]
    types: dict[str, DataType]

    def frame(
        self, keys: Sequence[str], rows: list[tuple], measures: Sequence[str] = (MEASURE,)
    ) -> DataFrame:
        """rows as a local frame: the key columns typed as in the rollup,
        then one measure-typed column per name in measures. Built from an
        Arrow table, so Spark plans a LocalRelation and its collect runs
        no job (a Python list would be parallelized and collected by one)."""
        schema = StructType(
            [StructField(k, self.types[k]) for k in keys]
            + [StructField(m, self.types[MEASURE]) for m in measures]
        )
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
        )
        return self.spark.createDataFrame(table, schema)


def _rollup(df: DataFrame, *needed: tuple[str, ...]) -> _Rollup:
    """The measure summed over every _ROLLUP_SETS entry whose columns df
    has, as one aggregate collected once. Rows are split by grouping_id,
    so a NULL key of the data stays apart from a rolled-up one. Kept for
    a served frame and the views filtered from it; any other frame is
    aggregated on every call. A `needed` set whose columns df lacks
    raises AnalysisException before anything runs."""
    for keys in needed:
        if not set(keys) <= set(df.columns):
            df.select(*keys)  # raises AnalysisException naming the missing column
    cached = _ROLLUPS.get(df)
    if cached is not None:
        return cached
    sets = [s for s in _ROLLUP_SETS if set(s) <= set(df.columns)]
    keys = [k for k in _ROLLUP_KEYS if any(k in s for s in sets)]
    rows: dict[tuple[str, ...], list[tuple]] = {s: [] for s in sets}
    types: dict[str, DataType] = {}
    if sets:
        agg = df.groupingSets([list(s) for s in sets], *keys).agg(
            F.sum(MEASURE).alias(MEASURE), F.grouping_id().alias("_gid")
        )
        types = {f.name: f.dataType for f in agg.schema}
        # grouping_id has bit (len(keys) - 1 - i) set when keys[i] is rolled up.
        by_gid = {
            sum(1 << (len(keys) - 1 - i) for i, k in enumerate(keys) if k not in s): s
            for s in sets
        }
        for row in agg.collect():
            s = by_gid[row["_gid"]]
            rows[s].append((*(row[k] for k in s), row[MEASURE]))
    out = _Rollup(df.sparkSession, rows, types)
    if df in _ROLLUPS:
        _ROLLUPS[df] = out
    return out


def _order(v) -> tuple:
    """A value's place in Spark's ascending order: NULL first, NaN above
    every number."""
    if v is None:
        return (0, 0)
    if isinstance(v, float) and math.isnan(v):
        return (2, 0)
    return (1, v)


# Widgets A3-A10 (the reference's streamlit_app.py:82-147), each a slice
# of the view's rollup.


def state_bar(df: DataFrame) -> DataFrame:
    """A6 — total measure by state."""
    r = _rollup(df, ("state",))
    return r.frame(["state"], r.sets[("state",)])


def year_trend(df: DataFrame) -> DataFrame:
    """A7 — year × state trend lines."""
    r = _rollup(df, ("year", "state"))
    return r.frame(["year", "state"], r.sets[("year", "state")])


def category_top10(df: DataFrame) -> DataFrame:
    """A8 + O3 — top-10 categories pie input: measure descending (NULL
    last), ties by category ascending (NULL first)."""
    r = _rollup(df, ("category",))
    by_category = sorted(r.sets[("category",)], key=lambda row: _order(row[0]))
    top = sorted(by_category, key=lambda row: _order(row[1]), reverse=True)[:10]
    return r.frame(["category"], top)


def category_state_heatmap(df: DataFrame) -> DataFrame:
    """A9 + R2 — category × state matrix over the fixed state domain: one
    row per category, NULL where it has no rows in a state."""
    r = _rollup(df, ("category",), ("category", "state"))
    cells = {(c, s): v for c, s, v in r.sets[("category", "state")]}
    rows = [(c, *(cells.get((c, s)) for s in STATE_CODES)) for c, _ in r.sets[("category",)]]
    return r.frame(["category"], rows, STATE_CODES)


def treemap(df: DataFrame) -> DataFrame:
    """A10 — two-level category / principal_diagnosis rollup."""
    keys = ("category", "principal_diagnosis")
    r = _rollup(df, keys)
    return r.frame(keys, r.sets[keys])


@dataclass(frozen=True)
class Insights:
    top_state: str | None
    top_state_total: float | None
    top_category: str | None
    top_category_total: float | None
    first_year: int | None
    last_year: int | None
    pct_change: float | None

    def lines(self) -> list[str]:
        out = []
        if self.top_state is not None:
            out.append(
                f"{self.top_state} shows the highest {MEASURE} in the current "
                f"view (~{int(self.top_state_total):,})."
            )
        if self.top_category is not None:
            out.append(
                f"Leading category: {self.top_category} "
                f"(~{int(self.top_category_total):,})."
            )
        if self.pct_change is not None:
            trend = "increased" if self.pct_change > 0 else "decreased"
            out.append(
                f"Overall {MEASURE} have {trend} {abs(self.pct_change):.1f}% "
                f"from {self.first_year} to {self.last_year}."
            )
        return out


def generate_insights(df: DataFrame) -> Insights | None:
    """The insight generator (the reference's streamlit_app.py:78-104):
    top state and top category (W2, ties to the larger key, a NULL key
    competing like any other) and the first→last year pct change (W1),
    read from the view's rollup with no further Spark job. An empty frame
    (F10) gives None; a single year or a zero first-year total gives no
    pct change."""
    r = _rollup(df, ("state",), ("year",))
    if not r.sets[("state",)]:
        return None

    def argmax(rows: list[tuple]) -> tuple:
        return max(rows, key=lambda row: (_order(row[1]), _order(row[0])))

    category = argmax(r.sets[("category",)]) if ("category",) in r.sets else (None, None)
    years = sorted((y, v) for y, v in r.sets[("year",)] if y is not None)
    trend = [None] * 3
    if len(years) > 1:
        (first, first_v), (last, last_v) = years[0], years[-1]
        pct = None
        if first_v and last_v is not None:
            pct = _round_half_up((last_v - first_v) / first_v * 100, 4)
        trend = [first, last, pct]
    return Insights(*argmax(r.sets[("state",)]), *category, *trend)


def _round_half_up(x: float, places: int) -> float:
    """Spark's round on a double: half up on the shortest decimal form of
    x, so 12.34565 gives 12.3457 where Python's round gives 12.3456."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _domains_one_pass(
    df: DataFrame, cols: list[str], *, cap: int
) -> dict[str, list]:
    """Sorted distinct values for many columns in ONE aggregation job.

    Per column: sort_array(collect_set(c)) sliced to `cap` elements —
    collect_set drops NULLs (matching distinct_domain), the slice bounds
    the driver transfer, and a result of exactly `cap` values signals
    "domain ≥ cap" to the caller. Empty strings are excluded INSIDE the
    aggregate (when(c != '', c) nulls them out before collect_set) so the
    cap-slice count reflects the non-empty domain — filtering after the
    slice would let a ≥cap domain plus '' shrink to cap-1 and slip past
    the cardinality guard.

    Extreme cardinality is pre-gated: collect_set buffers the FULL
    distinct set in every partial-aggregation buffer before the slice, so
    a single 10^6-distinct dim would blow executor aggregation memory at
    scale. A first constant-memory pass (HLL++ approx_count_distinct,
    rsd=5%) routes any column whose estimate clears 1.3x the cap to a
    shuffle-based distinct+orderBy+limit job instead — hash-exchange
    aggregation spills to disk and the limit bounds the driver transfer,
    so no executor ever holds the domain in one buffer. The 1.3x margin
    is about 6 standard errors at rsd=5%, and a column misrouted near
    the cap costs nothing either way: collect_set then buffers about
    1.3x cap values, or distinct+limit returns the same first `cap`
    values in sort order. So the cardinality-guard contract
    (len == cap ⇒ "domain ≥ cap") is unchanged. rsd=2% needs 8x the
    HLL registers and made the gate pass about 4x slower (1.0 s against
    0.25 s warm over a served 90k-row frame, 4 cores). All guarded dims
    that fit the cap still share ONE collect_set job.
    """
    if not cols:
        return {}
    dtypes = dict(df.dtypes)

    def guarded(c: str) -> Column:
        return (
            F.when(F.col(c) != "", F.col(c))
            if dtypes.get(c) == "string"
            else F.col(c)
        )

    over = _gate_over_cap(df, cols, cap, guarded)
    small = [c for c in cols if c not in over]
    out: dict[str, list] = {}
    if small:
        row = df.agg(
            *[
                F.slice(F.sort_array(F.collect_set(guarded(c))), 1, cap).alias(c)
                for c in small
            ]
        ).first()
        out.update({c: list(row[c]) for c in small})
    for c in over:
        vals = (
            df.select(guarded(c).alias(c))
            .where(F.col(c).isNotNull())
            .distinct()
            .orderBy(c)
            .limit(cap)
            .collect()
        )
        out[c] = [r[c] for r in vals]
    return out


def _gate_over_cap(
    df: DataFrame, cols: list[str], cap: int, guarded: Callable[[str], Column]
) -> set[str]:
    """Columns whose approximate distinct count exceeds 1.3x `cap` —
    unsafe for a collect_set buffer, served by distinct+limit instead."""
    gate = df.agg(
        *[F.approx_count_distinct(guarded(c), 0.05).alias(c) for c in cols]
    ).first()
    return {c for c in cols if gate[c] > 1.3 * cap}


def interactive_filter(df: DataFrame, selections: dict[str, list]) -> DataFrame:
    """F4/F5/F6 — the sidebar filter model
    (/root/reference/streamlit_app.py:54-74): apply an IN-list per selected
    column. Year and state always apply; a dynamic dim applies only when
    it passes the cardinality guard and the selection is not its full
    domain. A served frame reuses the domains read when it opened, so the
    filter runs no Spark job.

    Each selection is tested as membership in an array literal cast to
    the column's type. Generated code reads an array literal by
    reference, so every plan over the view compiles to the same code
    whatever is selected and hits Spark's compiled-code cache; an IN list
    inlines its values, so each new selection compiled every widget
    afresh (about 70 ms per widget on a served 90k-row frame, 4 cores)."""
    domains = filter_domains(df)
    dynamic = set(dims_of(df))
    types = dict(df.dtypes)
    pred = None
    for col, sel in selections.items():
        if col not in df.columns or not sel:
            continue
        if col in dynamic and len(sel) == len(domains.get(col, sel)):
            continue
        values = F.lit(list(sel)).cast(f"array<{types[col]}>")
        p = F.array_contains(values, F.col(col))
        pred = p if pred is None else (pred & p)
    if pred is None:
        return df
    view = df.where(pred)
    if df in _ROLLUPS:
        _ROLLUPS[view] = None
    return view


def filter_domains(df: DataFrame) -> dict[str, list]:
    """A12/F6/F7 — the widget domains: sorted distinct values per dynamic
    dim with 1 < n < MAX_DOMAIN, plus year/state
    (/root/reference/streamlit_app.py:57-69). One aggregation job
    regardless of column count, once per served frame; any other frame is
    read on every call."""
    cached = _DOMAINS.get(df)
    if cached is not None:
        return cached
    cols = [c for c in ["year", "state", *dims_of(df)] if c in df.columns]
    # year/state domains are small by nature but have no 1<n<max guard, so
    # cap them generously; the guard below drops any larger dynamic dim.
    domains = _domains_one_pass(df, cols, cap=1000)
    out = {
        col: vals
        for col, vals in domains.items()
        if col in ("year", "state") or 1 < len(vals) < MAX_DOMAIN
    }
    if df in _DOMAINS:
        _DOMAINS[df] = out
    return out


def profile(df: DataFrame) -> DataFrame:
    """Dataset profiling (the reference's ydata-profiling EDA feature,
    /root/reference/streamlit_app.py:204-209, minimal mode) as one
    aggregation pass: per column — non-null count, null count, approx
    distinct, and for numeric columns min/max/mean.

    Output: one row per column (column, dtype, n_non_null, n_null,
    approx_distinct, min_value, max_value, mean_value as strings).
    A single job regardless of column count; at scale this is one scan.
    """
    numeric = {"int", "bigint", "double", "float", "smallint", "tinyint", "decimal"}
    # Total row count rides in the SAME aggregation — a separate
    # df.count() would scan the data twice.
    aggs = [F.count(F.lit(1)).alias("__total")]
    for name, dtype in df.dtypes:
        base = dtype.split("(")[0]
        aggs.append(F.count(F.col(name)).alias(f"{name}__cnt"))
        aggs.append(F.approx_count_distinct(name).alias(f"{name}__dist"))
        if base in numeric:
            aggs.append(F.min(name).cast("string").alias(f"{name}__min"))
            aggs.append(F.max(name).cast("string").alias(f"{name}__max"))
            aggs.append(F.round(F.avg(name), 6).cast("string").alias(f"{name}__mean"))
    row = df.agg(*aggs).first()
    total = row["__total"]
    spark = df.sparkSession
    out = []
    values = row.asDict()
    for name, dtype in df.dtypes:
        cnt = values[f"{name}__cnt"]
        out.append(
            (
                name,
                dtype,
                cnt,
                total - cnt,
                values[f"{name}__dist"],
                values.get(f"{name}__min"),
                values.get(f"{name}__max"),
                values.get(f"{name}__mean"),
            )
        )
    return spark.createDataFrame(
        out,
        "column string, dtype string, n_non_null long, n_null long, "
        "approx_distinct long, min_value string, max_value string, mean_value string",
    )
