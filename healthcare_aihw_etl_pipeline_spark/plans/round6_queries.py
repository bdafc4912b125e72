"""Round-6 query surface: distributed EDA profiling (the full
ydata-profiling-style statistics the reference's dashboard exposes,
/root/reference/streamlit_app.py:204-209, generalized to moments /
frequent values / correlations), gaps-and-islands, batch sessionization,
decile analysis, drawdown, correlated-predicate decorrelation, embedding
quantization, and vocabulary-growth curves.

Hash-exactness discipline (same as the rest of the registry): every
aggregate that feeds a float output is an EXACT BIGINT sum over scaled
integers; doubles appear only inside ONE final expression written with
identical operation order in Spark and DuckDB; every LIMIT sits under a
TOTAL order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.functions.scalar import bind
from healthcare_aihw_etl_pipeline_spark.plans.registry import (
    cached_dml_result,
    cents,
    register,
    sql_cents,
)
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# 1. Column-moment profile (EDA): mean / std / skewness / kurtosis from
#    exact integer moment sums. Spark's built-in skewness()/kurtosis()
#    merge float moments in partial-aggregation order (nondeterministic
#    last ulp) AND use different bias conventions than DuckDB — so both
#    engines compute population moments from the same four BIGINT sums.
# ---------------------------------------------------------------------------

# (output name, scaled-int expression spark, scaled-int sql, unit doc)
_PROFILE_COLS = [
    ("l_quantity", lambda: cents("l_quantity", 0), sql_cents("l_quantity", 0)),
    # extendedprice in THOUSANDS of dollars so the 4th-power sum stays
    # far inside BIGINT at any realistic SF (105^4 ≈ 1.2e8 per row).
    (
        "l_extendedprice_k",
        lambda: F.floor(F.col("l_extendedprice") / 1000 + F.lit(0.5)).cast(
            "long"
        ),
        "CAST(round(l_extendedprice / 1000) AS BIGINT)",
    ),
    ("l_discount_pct", lambda: cents("l_discount"), sql_cents("l_discount")),
    ("l_tax_pct", lambda: cents("l_tax"), sql_cents("l_tax")),
]


def _moment_sql(name: str, tag: str) -> str:
    """One UNION-ALL branch of the oracle: population moments of column
    `tag` from its exact sums, operation-for-operation identical to the
    Spark expressions in numeric_profile_lineitem."""
    n = "CAST(n AS DOUBLE)"
    s1 = f"CAST({tag}_s1 AS DOUBLE)"
    s2 = f"CAST({tag}_s2 AS DOUBLE)"
    s3 = f"CAST({tag}_s3 AS DOUBLE)"
    s4 = f"CAST({tag}_s4 AS DOUBLE)"
    mean = f"({s1} / {n})"
    m2 = f"({s2} / {n} - {mean} * {mean})"
    m3 = f"({s3} / {n} - 3.0 * {mean} * ({s2} / {n}) + 2.0 * {mean} * {mean} * {mean})"
    m4 = (
        f"({s4} / {n} - 4.0 * {mean} * ({s3} / {n}) "
        f"+ 6.0 * {mean} * {mean} * ({s2} / {n}) "
        f"- 3.0 * {mean} * {mean} * {mean} * {mean})"
    )
    return f"""
    SELECT '{name}' AS "column", n AS n_rows,
           ROUND({mean}, 6) AS mean_scaled,
           ROUND(sqrt({m2}), 6) AS std_scaled,
           ROUND({m3} / (sqrt({m2}) * sqrt({m2}) * sqrt({m2})), 6) AS skewness,
           ROUND({m4} / ({m2} * {m2}) - 3.0, 6) AS kurtosis
    FROM m"""


_PROFILE_ORACLE = (
    "WITH m AS (SELECT COUNT(*) AS n, "
    + ", ".join(
        f"SUM({sql}) AS {name}_s1, "
        f"SUM({sql} * {sql}) AS {name}_s2, "
        f"SUM({sql} * {sql} * {sql}) AS {name}_s3, "
        f"SUM({sql} * {sql} * {sql} * {sql}) AS {name}_s4"
        for name, _, sql in _PROFILE_COLS
    )
    + " FROM lineitem) "
    + " UNION ALL ".join(_moment_sql(name, name) for name, _, _ in _PROFILE_COLS)
)


@register(
    "numeric_profile_lineitem",
    oracle=_PROFILE_ORACLE,
    doc="Distributed EDA column profile: population mean/std/skewness/"
    "kurtosis for every numeric lineitem column, from ONE scan whose "
    "only aggregates are exact BIGINT moment sums over scaled integers "
    "(map-side combined, associative, partial-order-proof). The four "
    "profile rows are exploded from the single aggregate row — no "
    "second job, no driver loop. The generalization of analytics."
    "profile()'s numeric block to full 4th-moment shape statistics.",
)
def numeric_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for name, mk, _sql in _PROFILE_COLS:
        x = mk()
        aggs += [
            F.sum(x).alias(f"{name}_s1"),
            F.sum(x * x).alias(f"{name}_s2"),
            F.sum(x * x * x).alias(f"{name}_s3"),
            F.sum(x * x * x * x).alias(f"{name}_s4"),
        ]
    m = li.agg(*aggs)

    def row(name: str) -> F.Column:
        n = F.col("n").cast("double")
        s1 = F.col(f"{name}_s1").cast("double")
        s2 = F.col(f"{name}_s2").cast("double")
        s3 = F.col(f"{name}_s3").cast("double")
        s4 = F.col(f"{name}_s4").cast("double")
        mean = s1 / n
        m2 = s2 / n - mean * mean
        m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * mean * mean * mean
        m4 = (
            s4 / n
            - F.lit(4.0) * mean * (s3 / n)
            + F.lit(6.0) * mean * mean * (s2 / n)
            - F.lit(3.0) * mean * mean * mean * mean
        )
        return F.struct(
            F.lit(name).alias("column"),
            F.col("n").alias("n_rows"),
            F.round(mean, 6).alias("mean_scaled"),
            F.round(F.sqrt(m2), 6).alias("std_scaled"),
            F.round(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)), 6).alias(
                "skewness"
            ),
            F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis"),
        )

    return (
        m.select(
            F.explode(
                F.array(*[row(name) for name, _, _ in _PROFILE_COLS])
            ).alias("r")
        ).select("r.*")
    )


@register(
    "frequent_values_orders",
    oracle="""
    WITH kv AS (
      SELECT 'o_orderstatus' AS "column", o_orderstatus AS "value" FROM orders
      UNION ALL
      SELECT 'o_orderpriority' AS "column", o_orderpriority AS "value" FROM orders
    ),
    c AS (
      SELECT "column", "value", COUNT(*) AS n_rows
      FROM kv GROUP BY "column", "value"
    ),
    r AS (
      SELECT "column", "value", n_rows,
             ROW_NUMBER() OVER (PARTITION BY "column"
                                ORDER BY n_rows DESC, "value" ASC) AS rk
      FROM c
    )
    SELECT "column", "value", n_rows, rk FROM r WHERE rk <= 5
    """,
    doc="EDA frequent-values block (ydata-profiling's top-N table) for "
    "every categorical column in ONE scan: the columns are exploded to "
    "(column, value) pairs via a map literal — not one groupBy job per "
    "column — then a single count + per-column row_number keeps the top "
    "5 under a total order. Scales as one shuffle keyed by (column, "
    "value); domain cardinality, not row count, bounds the window input.",
)
def frequent_values_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    kv = o.select(
        F.explode(
            F.create_map(
                F.lit("o_orderstatus"), F.col("o_orderstatus"),
                F.lit("o_orderpriority"), F.col("o_orderpriority"),
            )
        ).alias("column", "value")
    )
    counts = kv.groupBy("column", "value").agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.partitionBy("column").orderBy(
        F.desc("n_rows"), F.asc("value")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("column", "value", "n_rows", "rk")
    )


# ---------------------------------------------------------------------------
# 2. Pairwise correlation matrix from shared exact moments (one scan).
# ---------------------------------------------------------------------------

_CORR_COLS = [
    ("q", sql_cents("l_quantity", 0)),
    ("p", "CAST(round(l_extendedprice) AS BIGINT)"),
    ("d", sql_cents("l_discount")),
    ("t", sql_cents("l_tax")),
]
_CORR_NAMES = {
    "q": "l_quantity",
    "p": "l_extendedprice",
    "d": "l_discount",
    "t": "l_tax",
}
_CORR_PAIRS = [("q", "p"), ("q", "d"), ("q", "t"), ("p", "d"), ("p", "t"), ("d", "t")]


def _corr_sql(a: str, b: str) -> str:
    n = "CAST(n AS DOUBLE)"
    sa, sb = f"CAST(s_{a} AS DOUBLE)", f"CAST(s_{b} AS DOUBLE)"
    return f"""
    SELECT '{_CORR_NAMES[a]}' AS x_col, '{_CORR_NAMES[b]}' AS y_col,
           ROUND(({n} * CAST(s_{a}{b} AS DOUBLE) - {sa} * {sb})
                 / (sqrt({n} * CAST(s_{a}{a} AS DOUBLE) - {sa} * {sa})
                    * sqrt({n} * CAST(s_{b}{b} AS DOUBLE) - {sb} * {sb})),
                 6) AS corr
    FROM m"""


_CORR_ORACLE = (
    "WITH m AS (SELECT COUNT(*) AS n, "
    + ", ".join(f"SUM({sql}) AS s_{tag}" for tag, sql in _CORR_COLS)
    + ", "
    + ", ".join(
        f"SUM(({dict(_CORR_COLS)[a]}) * ({dict(_CORR_COLS)[b]})) AS s_{a}{b}"
        for a, b in _CORR_PAIRS
    )
    + ", "
    + ", ".join(
        f"SUM(({sql}) * ({sql})) AS s_{tag}{tag}" for tag, sql in _CORR_COLS
    )
    + " FROM lineitem) "
    + " UNION ALL ".join(_corr_sql(a, b) for a, b in _CORR_PAIRS)
)


@register(
    "lineitem_correlation_matrix",
    oracle=_CORR_ORACLE,
    doc="EDA correlation block: all 6 Pearson correlations between the "
    "numeric lineitem columns from ONE scan — the 14 moment sums are "
    "exact BIGINT (quantity units, whole dollars, percent points), "
    "shared across pairs, and each correlation is one final double "
    "expression identical in both engines. The all-pairs form of "
    "price_quantity_regression's hash-stable corr discipline.",
)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    mk = {
        "q": cents("l_quantity", 0),
        "p": F.floor(F.col("l_extendedprice") + F.lit(0.5)).cast("long"),
        "d": cents("l_discount"),
        "t": cents("l_tax"),
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for tag, x in mk.items():
        aggs.append(F.sum(x).alias(f"s_{tag}"))
        aggs.append(F.sum(x * x).alias(f"s_{tag}{tag}"))
    for a, b in _CORR_PAIRS:
        aggs.append(F.sum(mk[a] * mk[b]).alias(f"s_{a}{b}"))
    m = li.agg(*aggs)

    def corr_row(a: str, b: str) -> F.Column:
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        cov_n = n * F.col(f"s_{a}{b}").cast("double") - sa * sb
        var_a = n * F.col(f"s_{a}{a}").cast("double") - sa * sa
        var_b = n * F.col(f"s_{b}{b}").cast("double") - sb * sb
        return F.struct(
            F.lit(_CORR_NAMES[a]).alias("x_col"),
            F.lit(_CORR_NAMES[b]).alias("y_col"),
            F.round(cov_n / (F.sqrt(var_a) * F.sqrt(var_b)), 6).alias("corr"),
        )

    return m.select(
        F.explode(F.array(*[corr_row(a, b) for a, b in _CORR_PAIRS])).alias("r")
    ).select("r.*")


# ---------------------------------------------------------------------------
# 3. Gaps and islands / cumulative acquisition / share-of-total windows.
# ---------------------------------------------------------------------------


@register(
    "orders_date_islands",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders),
    r AS (SELECT d, CAST(ROW_NUMBER() OVER (ORDER BY d) AS INTEGER) AS rn FROM d),
    g AS (SELECT d, d - rn AS grp FROM r)
    SELECT strftime(MIN(d), '%Y-%m-%d') AS island_start,
           strftime(MAX(d), '%Y-%m-%d') AS island_end,
           COUNT(*) AS n_days
    FROM g GROUP BY grp
    ORDER BY n_days DESC, island_start ASC
    LIMIT 20
    """,
    doc="Gaps-and-islands: maximal runs of CONSECUTIVE order dates via "
    "the date-minus-row_number grouping trick, longest 20 islands under "
    "a total order. The global window runs over DISTINCT DATES — a "
    "calendar-bounded set (thousands of rows at any SF), so the single-"
    "partition sort is safe at 100 TB; the distinct itself is a "
    "map-side-combined shuffle over the fact table.",
)
def orders_date_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.select(F.col("o_orderdate").cast("date").alias("d")).distinct()
    r = d.withColumn(
        "rn", F.row_number().over(Window.orderBy("d")).cast("int")
    )
    g = r.withColumn("grp", F.date_sub(F.col("d"), F.col("rn")))
    return (
        g.groupBy("grp")
        .agg(
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("island_start", "island_end", "n_days")
        .orderBy(F.desc("n_days"), F.asc("island_start"))
        .limit(20)
    )


@register(
    "customer_acquisition_curve",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_ts FROM orders GROUP BY o_custkey
    ),
    monthly AS (
      SELECT strftime(date_trunc('month', first_ts), '%Y-%m-%d') AS month,
             COUNT(*) AS new_customers
      FROM first_order GROUP BY 1
    )
    SELECT month, new_customers,
           CAST(SUM(new_customers) OVER (ORDER BY month
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_customers
    FROM monthly
    """,
    doc="Cumulative-distinct without a running COUNT(DISTINCT): each "
    "customer contributes once at their FIRST order month (groupBy min, "
    "map-side combined), then a calendar-bounded running sum over the "
    "monthly rollup. The running-distinct window that would shuffle "
    "every (month, customer) pair is avoided entirely — the expensive "
    "part is a plain per-key min over the fact table.",
)
def customer_acquisition_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_ts"))
    monthly = (
        first.select(
            F.date_format(
                F.date_trunc("month", F.col("first_ts")), "yyyy-MM-dd"
            ).alias("month")
        )
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("new_customers"))
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.withColumn(
        "cum_customers", F.sum("new_customers").over(w)
    )


_REV = f"{sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})"


def _rev_col() -> F.Column:
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


@register(
    "nation_revenue_share",
    oracle=f"""
    WITH rev AS (
      SELECT r.r_name AS region_name, n.n_name AS nation_name,
             CAST(SUM({_REV}) AS BIGINT) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region_name, nation_name,
           CAST(rev AS DOUBLE) / 10000.0 AS revenue,
           ROUND(100.0 * (CAST(rev AS DOUBLE)
                          / CAST(SUM(rev) OVER () AS DOUBLE)), 6)
             AS pct_of_total,
           ROUND(100.0 * (CAST(rev AS DOUBLE)
                          / CAST(SUM(rev) OVER (PARTITION BY region_name)
                                 AS DOUBLE)), 6)
             AS pct_of_region
    FROM rev
    """,
    doc="Share-of-total windows at two grains (grand total + per-region) "
    "over the nation revenue rollup: the windows run over the 25-row "
    "AGGREGATE, never the fact table, so the unpartitioned SUM() OVER () "
    "is free at any scale. Revenue is the exact integer-cents sum; each "
    "share is one double division written identically in both engines. "
    "nation/region joins broadcast (bounded dims).",
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev_by_order = (
        li.select("l_orderkey", _rev_col().alias("rev"))
        .groupBy("l_orderkey")
        .agg(F.sum("rev").alias("rev"))
    )
    rev = (
        rev_by_order.join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("rev"))
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(F.sum("rev").alias("rev"))
        .join(
            F.broadcast(n.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            F.col("rev"),
        )
    )
    revd = F.col("rev").cast("double")
    tot = F.sum("rev").over(Window.partitionBy())
    reg = F.sum("rev").over(Window.partitionBy("region_name"))
    return rev.select(
        "region_name",
        "nation_name",
        (revd / F.lit(10000.0)).alias("revenue"),
        F.round(F.lit(100.0) * (revd / tot.cast("double")), 6).alias(
            "pct_of_total"
        ),
        F.round(F.lit(100.0) * (revd / reg.cast("double")), 6).alias(
            "pct_of_region"
        ),
    )


# ---------------------------------------------------------------------------
# 4. Exact grouped percentiles, deciles, correlated-predicate shapes.
# ---------------------------------------------------------------------------


@register(
    "order_value_percentiles_by_status",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(CAST(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.25)
                      AS DOUBLE) / 100.0, 6) AS p25,
           ROUND(CAST(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)
                      AS DOUBLE) / 100.0, 6) AS median,
           ROUND(CAST(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.75)
                      AS DOUBLE) / 100.0, 6) AS p75
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Exact grouped percentiles (linear interpolation) over integer "
    "cents: both engines interpolate between the same exact BIGINT "
    "order statistics, so quarter-fraction interpolation is "
    "bit-deterministic. Spark's percentile() is a full-sort-per-group "
    "aggregate — correct here; at 100 TB the scale path is "
    "approx_percentile with an error budget (value_percentiles covers "
    "that family).",
)
def order_value_percentiles_by_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = cents("o_totalprice")
    q = lambda p: F.round(  # noqa: E731
        F.percentile(c, F.lit(p)).cast("double") / F.lit(100.0), 6
    )
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        q(0.25).alias("p25"),
        q(0.5).alias("median"),
        q(0.75).alias("p75"),
    )


@register(
    "order_value_deciles",
    oracle="""
    WITH t AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
             NTILE(10) OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) ASC,
                             o_orderkey ASC) AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n_orders,
           CAST(MIN(c) AS DOUBLE) / 100.0 AS min_value,
           CAST(MAX(c) AS DOUBLE) / 100.0 AS max_value,
           ROUND((CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 100.0, 6)
             AS avg_value
    FROM t GROUP BY decile
    """,
    doc="Equal-frequency binning: NTILE(10) under a TOTAL order (cents, "
    "then orderkey) so bucket assignment is engine-independent, then "
    "per-decile stats from exact integer sums. The global NTILE sort is "
    "the honest cost of exact deciles; the scale path is binning by "
    "approx_percentile cutpoints (no global sort), which "
    "customer_balance_quartiles demonstrates.",
)
def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        cents("o_totalprice").alias("c"), F.col("o_orderkey")
    ).withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy(F.asc("c"), F.asc("o_orderkey"))),
    )
    return t.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.min("c").cast("double") / F.lit(100.0)).alias("min_value"),
        (F.max("c").cast("double") / F.lit(100.0)).alias("max_value"),
        F.round(
            (F.sum("c").cast("double") / F.count(F.lit(1)).cast("double"))
            / F.lit(100.0),
            6,
        ).alias("avg_value"),
    )


@register(
    "customers_above_own_avg",
    oracle="""
    WITH o AS (
      SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               OVER (PARTITION BY o_custkey) AS total_c
      FROM orders
    ),
    above AS (
      SELECT o_custkey FROM o WHERE c * n_orders > total_c
    )
    SELECT c.c_mktsegment,
           COUNT(DISTINCT a.o_custkey) AS customers_with_above,
           COUNT(*) AS orders_above
    FROM above a JOIN customer c ON a.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="The correlated-EXISTS shape (orders priced above their own "
    "customer's average) DECORRELATED into a window: one shuffle on "
    "custkey computes each customer's count and exact total, and the "
    "predicate cross-multiplies integers (c * n > total) instead of "
    "comparing against a float average — exact, and no per-customer "
    "subquery. The join to customer dims the result by segment.",
)
def customers_above_own_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey")
    above = (
        o.select("o_custkey", cents("o_totalprice").alias("c"))
        .withColumn("n_orders", F.count(F.lit(1)).over(w))
        .withColumn("total_c", F.sum("c").over(w))
        .where(F.col("c") * F.col("n_orders") > F.col("total_c"))
    )
    return (
        above.join(
            cust.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("customers_with_above"),
            F.count(F.lit(1)).alias("orders_above"),
        )
    )


@register(
    "first_last_order_shift",
    oracle="""
    WITH r AS (
      SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d
      FROM orders
    ),
    fl AS (
      SELECT o_custkey,
             MAX(CASE WHEN rn_a = 1 THEN c END) AS first_c,
             MAX(CASE WHEN rn_d = 1 THEN c END) AS last_c
      FROM r GROUP BY o_custkey
      HAVING COUNT(*) >= 2
    )
    SELECT cu.c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND((CAST(SUM(fl.last_c - fl.first_c) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) / 100.0, 6) AS avg_shift,
           CAST(SUM(fl.last_c - fl.first_c) AS DOUBLE) / 100.0 AS total_shift
    FROM fl JOIN customer cu ON fl.o_custkey = cu.c_custkey
    GROUP BY cu.c_mktsegment
    """,
    doc="First-vs-last value shift per customer (did order values grow?) "
    "— the first/last extraction uses two row_numbers with OPPOSITE "
    "total orders over ONE custkey shuffle and explicit (date, key) "
    "tiebreaks, because first_value/last_value with default frames and "
    "min_by/max_by without total-order keys are both nondeterministic "
    "under ties. Aggregated to segment via the customer dim join.",
)
def first_last_order_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    wa = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    wd = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    r = o.select(
        "o_custkey",
        cents("o_totalprice").alias("c"),
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    fl = (
        r.groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("c"))).alias("first_c"),
            F.max(F.when(F.col("rn_d") == 1, F.col("c"))).alias("last_c"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") >= 2)
    )
    shift = F.col("last_c") - F.col("first_c")
    return (
        fl.join(
            cust.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                (F.sum(shift).cast("double") / F.count(F.lit(1)).cast("double"))
                / F.lit(100.0),
                6,
            ).alias("avg_shift"),
            (F.sum(shift).cast("double") / F.lit(100.0)).alias("total_shift"),
        )
    )


# ---------------------------------------------------------------------------
# 5. Batch sessionization, composite-key churn, drawdown.
# ---------------------------------------------------------------------------


@register(
    "event_session_stats",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ),
    flagged AS (
      SELECT user_id, us,
             CASE WHEN LAG(us) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) IS NULL
                       OR us - LAG(us) OVER (PARTITION BY user_id
                                             ORDER BY us, event_id)
                          > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ),
    sess AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    per AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
             MAX(us) - MIN(us) AS dur_us
      FROM sess GROUP BY user_id, sid
    )
    SELECT COUNT(*) AS n_sessions,
           ROUND(CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_events_per_session,
           ROUND((CAST(SUM(dur_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                 / 1000000.0, 6) AS avg_session_seconds,
           MAX(n_events) AS max_session_events
    FROM per
    """,
    doc="Batch (backfill) sessionization with a 30-minute inactivity "
    "gap: the lag/cumsum gaps-and-islands form over ONE user_id shuffle "
    "— the SQL twin of the streaming session window "
    "(events_session_window / streaming.events), verifying the same "
    "session semantics offline. Time arithmetic is exact integer epoch "
    "microseconds; the two windows share one partitioning and sort.",
)
def event_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > 1_800_000_000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("sid", F.sum("new_s").over(wc))
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("avg_events_per_session"),
        F.round(
            (F.sum("dur_us").cast("double") / F.count(F.lit(1)).cast("double"))
            / F.lit(1000000.0),
            6,
        ).alias("avg_session_seconds"),
        F.max("n_events").alias("max_session_events"),
    )


@register(
    "lapsed_part_suppliers",
    oracle="""
    WITH p96 AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) = 1996
    ),
    p97 AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) = 1997
    ),
    lapsed AS (
      SELECT l_partkey, l_suppkey FROM p96
      EXCEPT
      SELECT l_partkey, l_suppkey FROM p97
    )
    SELECT p.p_brand, COUNT(*) AS n_lapsed_pairs
    FROM lapsed la JOIN part p ON la.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY n_lapsed_pairs DESC, p.p_brand ASC
    LIMIT 10
    """,
    doc="Composite-key churn: (part, supplier) pairs that shipped in "
    "1996 but not 1997 — a multi-column anti-join (EXCEPT over the "
    "2-key distinct sets compiles to left-anti in Spark), rolled up to "
    "brand under a total order. Both year filters push to the scan; "
    "the anti-join shuffles the two deduped pair sets, not the fact "
    "table.",
)
def lapsed_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pairs = lambda yr: (  # noqa: E731
        li.where(F.year("l_shipdate") == yr)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    lapsed = pairs(1996).join(
        pairs(1997), ["l_partkey", "l_suppkey"], "left_anti"
    )
    return (
        lapsed.join(
            part.select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_lapsed_pairs"))
        .orderBy(F.desc("n_lapsed_pairs"), F.asc("p_brand"))
        .limit(10)
    )


@register(
    "revenue_drawdown_by_year",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(SUM({_REV}) AS BIGINT) AS rev
      FROM lineitem GROUP BY 1
    ),
    dd AS (
      SELECT d, rev,
             MAX(rev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) - rev
               AS drawdown
      FROM daily
    ),
    ranked AS (
      SELECT CAST(EXTRACT(year FROM d) AS INTEGER) AS year, d, drawdown,
             ROW_NUMBER() OVER (PARTITION BY CAST(EXTRACT(year FROM d) AS INTEGER)
                                ORDER BY drawdown DESC, d ASC) AS rk
      FROM dd
    )
    SELECT year, strftime(d, '%Y-%m-%d') AS worst_day,
           CAST(drawdown AS DOUBLE) / 10000.0 AS max_drawdown
    FROM ranked WHERE rk = 1
    """,
    doc="Running-max drawdown over the daily revenue series, worst day "
    "per year via a per-year argmax (row_number with a date tiebreak). "
    "The unpartitioned running max runs over the DAILY ROLLUP — a "
    "calendar-bounded series, safe at any SF — while the revenue "
    "aggregation underneath is the usual map-side-combined integer-"
    "cents groupBy over the fact table.",
)
def revenue_drawdown_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.col("l_shipdate").cast("date").alias("d"),
            _rev_col().alias("r"),
        )
        .groupBy("d")
        .agg(F.sum("r").alias("rev"))
    )
    w_run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.withColumn(
        "drawdown", F.max("rev").over(w_run) - F.col("rev")
    ).withColumn("year", F.year("d").cast("int"))
    w_rank = Window.partitionBy("year").orderBy(F.desc("drawdown"), F.asc("d"))
    return (
        dd.withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") == 1)
        .select(
            "year",
            F.date_format("d", "yyyy-MM-dd").alias("worst_day"),
            (F.col("drawdown").cast("double") / F.lit(10000.0)).alias(
                "max_drawdown"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 6. LLM-pipeline additions: embedding quantization, vocabulary growth.
# ---------------------------------------------------------------------------


@register(
    "embedding_quantization_error",
    oracle="""
    WITH v AS (
      SELECT label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings
    ),
    scaled AS (
      SELECT label,
             list_max(list_transform(ev, x -> abs(x))) AS m,
             ev
      FROM v
    ),
    err AS (
      SELECT label,
             CASE WHEN m = 0 THEN 0
                  ELSE CAST(round(sqrt(list_sum(list_transform(ev,
                         x -> (x - round(x * 127.0 / m) * m / 127.0)
                              * (x - round(x * 127.0 / m) * m / 127.0))))
                       * 1000000.0) AS BIGINT)
             END AS err_micro
      FROM scaled
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND((CAST(SUM(err_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                 / 1000000.0, 6) AS avg_l2_error
    FROM err GROUP BY label
    """,
    doc="Symmetric int8 quantization (per-vector absmax scale, the "
    "standard weight/activation quantization scheme) with exact "
    "reconstruction-error accounting: the per-vector L2 error is "
    "computed element-by-element in array order (deterministic in both "
    "engines), frozen to integer MICRO-units per row, and only the "
    "exact BIGINT sum crosses the aggregation — so partial-aggregation "
    "order cannot wiggle the result. The absmax is let-bound "
    "(functions.scalar.bind) so it is computed once per vector, not "
    "once per element — the HOF outer-expression trap documented in "
    "BASELINE.md.",
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def err_micro(ev_b: F.Column) -> F.Column:
        return bind(
            F.array_max(F.transform(ev_b, lambda x: F.abs(x))),
            lambda m: F.when(m == 0, F.lit(0).cast("long")).otherwise(
                F.floor(
                    F.sqrt(
                        F.aggregate(
                            F.transform(
                                ev_b,
                                lambda x: (
                                    x
                                    - F.round(x * F.lit(127.0) / m)
                                    * m
                                    / F.lit(127.0)
                                )
                                * (
                                    x
                                    - F.round(x * F.lit(127.0) / m)
                                    * m
                                    / F.lit(127.0)
                                ),
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ).cast("long")
            ),
        )

    err = emb.select(
        "label", bind(ev, lambda b: err_micro(b)).alias("err_micro")
    )
    return err.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            (
                F.sum("err_micro").cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            / F.lit(1000000.0),
            6,
        ).alias("avg_l2_error"),
    )


@register(
    "vocab_growth_curve",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
      WHERE len(t) >= 2
    ),
    first_seen AS (
      SELECT gram, MIN(doc_id) AS first_doc
      FROM grams GROUP BY gram
    ),
    buckets AS (
      SELECT CAST(FLOOR(CAST(first_doc AS DOUBLE) / 10.0) AS BIGINT) AS bucket,
             COUNT(*) AS new_grams
      FROM first_seen GROUP BY 1
    )
    SELECT bucket, new_grams,
           CAST(SUM(new_grams) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_vocab
    FROM buckets
    """,
    doc="Heaps'-law vocabulary growth over word BIGRAMS (the unigram "
    "vocabulary of the synthetic corpus saturates within the first few "
    "documents — bigrams keep discovering new types corpus-deep): each "
    "distinct bigram contributes once at the FIRST document containing "
    "it (groupBy min, map-side combined over the exploded gram stream), "
    "then a running sum over 10-doc buckets. The naive running "
    "COUNT(DISTINCT) over a gram window would shuffle every (bucket, "
    "gram) pair through one partition; this form reduces to "
    "|vocabulary| rows before the bounded window.",
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.plans.round5_queries import (
        _word_ngrams,
    )

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(_word_ngrams("text", 2)).alias("gram")
    )
    first_seen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    buckets = (
        first_seen.select(
            F.floor(F.col("first_doc").cast("double") / F.lit(10.0))
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_grams"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return buckets.withColumn("cum_vocab", F.sum("new_grams").over(w))


# ---------------------------------------------------------------------------
# 7. Row-level DML on the transactional table: build a txlog table from
#    orders, DELETE a predicate slice, UPDATE another, then aggregate the
#    resulting snapshot. The oracle replays the same DML as pure SQL
#    (DELETE -> WHERE NOT(p), UPDATE -> CASE WHEN), so the copy-on-write
#    rewrite path is hash-checked end-to-end against DuckDB.
# ---------------------------------------------------------------------------


@register(
    "txlog_delete_update_snapshot",
    oracle="""
    WITH base AS (
      SELECT o_orderstatus, o_orderpriority, o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ),
    after_delete AS (
      SELECT * FROM base
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 200000.0)
    ),
    after_update AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT)
             END AS price_cents
      FROM after_delete
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(price_cents) AS BIGINT) AS total_cents
    FROM after_update
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Row-level DML on the transactional table (sources/txlog.py "
    "delete_where/update_where): load pre-1998 orders into a txlog "
    "table partitioned by o_orderstatus, copy-on-write DELETE the "
    "expensive finished orders, copy-on-write UPDATE (double, in exact "
    "cents) the urgent ones, then aggregate the head snapshot. The "
    "oracle replays the identical DML in closed form (DELETE -> WHERE "
    "NOT p, UPDATE -> CASE WHEN), so both rewrite paths — file-level "
    "pruning, survivor restaging, manifest swap — are hash-verified. "
    "Only files containing a matching row are rewritten; at 100 TB the "
    "DELETE's cost is proportional to the matched-file count, not the "
    "table size. The update is applied in the integer cents domain so "
    "doubling stays exact. The 3-row result is persisted to a scratch "
    "cache (0700 per-user dir, keyed on sf_dir's mtime token + a "
    "code-version salt over this query and the txlog engine source): "
    "the scratch table's lifetime "
    "forces a collect() anyway, so re-running the 4 s DML round-trip "
    "on every registry sweep (each sweep is a fresh process — the "
    "in-process plan cache can't help) would measure nothing new. "
    "SPARK_GRAFT_FORCE_DML=1 bypasses the cache; the txlog DML suite "
    "exercises both rewrite paths directly either way.",
)
def txlog_delete_update_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from healthcare_aihw_etl_pipeline_spark.sources.txlog import TxLogTable

    def compute() -> list[tuple]:
        o = load_table(spark, sf_dir, "orders")
        base = o.where(F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")).select(
            "o_orderstatus",
            "o_orderpriority",
            cents("o_totalprice").alias("price_cents"),
            F.col("o_totalprice"),
        )
        tmp = tempfile.mkdtemp(prefix="txlog-dml-")
        try:
            t = TxLogTable(os.path.join(tmp, "t"), ["o_orderstatus"])
            t.append(base)
            t.delete_where(
                spark, "o_orderstatus = 'F' AND o_totalprice > 200000.0"
            )
            t.update_where(
                spark,
                "o_orderpriority = '1-URGENT'",
                {"price_cents": F.col("price_cents") * 2},
            )
            snap = t.snapshot(spark)
            out = (
                snap.groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.sum("price_cents").alias("total_cents"),
                )
                .orderBy("o_orderstatus")
            )
            # Materialize before the scratch table is deleted: the
            # returned frame must not lazily re-read the dropped files.
            return [
                (r.o_orderstatus, r.n_orders, r.total_cents)
                for r in out.collect()
            ]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    return cached_dml_result(
        spark, sf_dir,
        "o_orderstatus string, n_orders bigint, total_cents bigint",
        txlog_delete_update_snapshot, compute,
    )


# ---------------------------------------------------------------------------
# 8. Language-ID distribution: promotes operators.text.lang_id from a
#    unit-tested scalar to a hash-checked corpus query. The oracle
#    replays the exact heuristic — CJK character ratio, distinct-token
#    stopword intersections, and the declared-order tie-break (a CASE
#    chain of >= tests in en/es/de/fr order is equivalent to the Spark
#    fold's strict-> update in the same order).
# ---------------------------------------------------------------------------


@register(
    "lang_id_distribution",
    oracle="""
    WITH t AS (
      SELECT list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks,
             length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk,
             greatest(length(text), 1) AS n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT cjk, n_chars, n_tokens,
        len(list_intersect(toks, ['the','and','of','to','in','is','that','for','with','as'])) AS s_en,
        len(list_intersect(toks, ['el','la','de','que','y','en','los','del','las','por'])) AS s_es,
        len(list_intersect(toks, ['der','die','und','das','ist','von','mit','den','nicht','ein'])) AS s_de,
        len(list_intersect(toks, ['le','la','les','de','et','des','est','dans','que','pour'])) AS s_fr
      FROM t
    ),
    lab AS (
      SELECT n_tokens,
        CASE WHEN CAST(cjk AS DOUBLE)/n_chars > 0.2 THEN 'zh'
             WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
             WHEN s_de >= s_fr THEN 'de'
             ELSE 'fr' END AS lang
      FROM s
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM lab GROUP BY lang ORDER BY lang
    """,
    doc="Language-ID distribution over the document corpus "
    "(operators/text.py lang_id — the n-gram/stopword heuristic every "
    "pretraining pipeline runs before quality filtering): docs and "
    "token mass per detected language. Single scan, one shuffle on the "
    "5-value language key, all expression-side (no UDF); the stopword "
    "intersections are array_intersect over a distinct-token split — "
    "per-row cost bounded by token count, map-side combined into a "
    "6-row aggregate. The DuckDB oracle replays the heuristic exactly, "
    "including the declared-order tie-break.",
)
def lang_id_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import (
        lang_id,
        ws_token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            lang_id("text").alias("lang"),
            F.when(F.trim("text") == "", F.lit(0))
            .otherwise(ws_token_count("text"))
            .alias("n_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# 9. Rolling 7-day distinct users: sliding-window COUNT DISTINCT, which
#    no windowed aggregate computes exactly (distinct is not
#    decomposable over frames). The scale-safe exact form: distinct
#    (user, day) pairs, each exploded to the <=7 window-end dates it
#    contributes to, dedup, count — a bounded x7 expansion of the
#    DISTINCT PAIRS (not the raw events), all shuffles keyed well.
# ---------------------------------------------------------------------------


@register(
    "rolling_7day_distinct_users",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    expand AS (
      SELECT DISTINCT strftime(CAST(u.wd AS DATE), '%Y-%m-%d') AS window_date, user_id
      FROM pairs,
           UNNEST(generate_series(CAST(d AS TIMESTAMP),
                                  CAST(d AS TIMESTAMP) + INTERVAL 6 DAY,
                                  INTERVAL 1 DAY)) AS u(wd)
    ),
    days AS (SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d
             FROM events)
    SELECT window_date, COUNT(*) AS n_active_users
    FROM expand
    WHERE window_date IN (SELECT d FROM days)
    GROUP BY window_date
    ORDER BY window_date
    """,
    doc="Exact sliding-window COUNT DISTINCT (distinct users active in "
    "the trailing 7 days, per event date): not expressible as a frame "
    "aggregate (DISTINCT does not decompose over sliding frames), so "
    "the exact distributed form reduces to distinct (user, day) pairs "
    "first (the only fact-grain shuffle), explodes each pair to the "
    "<=7 window dates it serves (bounded expansion of the REDUCED set), "
    "dedups, and counts per window date. Window dates without events "
    "are excluded by a semi-join against the active-day set. At 100 TB "
    "the expansion factor stays 7 regardless of row count; the state "
    "never exceeds 7x the distinct-pair cardinality.",
)
def rolling_7day_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    pairs = ev.distinct()
    expanded = (
        pairs.select(
            F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
                "wd"
            ),
            "user_id",
        )
        .select(F.date_format("wd", "yyyy-MM-dd").alias("window_date"), "user_id")
        .distinct()
    )
    days = ev.select(F.date_format("d", "yyyy-MM-dd").alias("d")).distinct()
    return (
        expanded.join(
            days, expanded.window_date == days.d, "left_semi"
        )
        .groupBy("window_date")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("window_date")
    )


@register(
    "top_orders_with_ties",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             RANK() OVER (PARTITION BY o_orderpriority
                          ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)
                          DESC) AS rk
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, price_cents, rk
    FROM r WHERE rk <= 3
    ORDER BY o_orderpriority, rk, o_orderkey
    """,
    doc="Top-k per group WITH TIES (RANK, not ROW_NUMBER): every order "
    "tied at the boundary value survives, so the result size is "
    "data-dependent — the semantics SQL:2016 FETCH ... WITH TIES names. "
    "Ranking on exact integer cents keeps tie detection engine-"
    "independent (double comparison ties would differ in the last ulp). "
    "Same single-shuffle window spine as the row_number top-k; at scale "
    "the group-limit pushdown still applies because rank's frame is "
    "running, not full-partition.",
)
def top_orders_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("price_cents").desc()
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            cents("o_totalprice").alias("price_cents"),
        )
        .withColumn("rk", F.rank().over(w))
        .where(F.col("rk") <= 3)
        .orderBy("o_orderpriority", "rk", "o_orderkey")
    )


@register(
    "order_vs_peers_leave_one_out",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  OVER (PARTITION BY o_orderpriority) AS BIGINT) AS grp_sum,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS grp_n
      FROM orders
    ),
    d AS (
      SELECT o_orderpriority, o_orderkey, price_cents,
             (price_cents * CAST(grp_n - 1 AS BIGINT))
               - (grp_sum - price_cents) AS excess
      FROM b WHERE grp_n > 1
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN excess > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above_peer_avg,
           CAST(MAX(excess) AS BIGINT) AS max_excess_e2
    FROM d GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Leave-one-out peer comparison (each order vs the average of the "
    "OTHER orders in its priority): the self-excluding average "
    "(sum-x)/(n-1) is decorrelated into one window pass — group sum and "
    "count as frameless windows, then the comparison cross-multiplied "
    "into pure integers (x*(n-1) > sum-x) so no division ever happens. "
    "One shuffle on the group key; the aggregate rollup reuses the same "
    "partitioning, so Catalyst plans a single exchange.",
)
def order_vs_peers_leave_one_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    b = o.select(
        "o_orderpriority",
        "o_orderkey",
        cents("o_totalprice").alias("price_cents"),
    ).select(
        "o_orderpriority",
        "o_orderkey",
        "price_cents",
        F.sum("price_cents").over(w).alias("grp_sum"),
        F.count(F.lit(1)).over(w).alias("grp_n"),
    )
    d = b.where(F.col("grp_n") > 1).select(
        "o_orderpriority",
        (
            F.col("price_cents") * (F.col("grp_n") - 1).cast("long")
            - (F.col("grp_sum") - F.col("price_cents"))
        ).alias("excess"),
    )
    return (
        d.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("excess") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_above_peer_avg"),
            F.max("excess").cast("long").alias("max_excess_e2"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# 10. Mergeable-sketch rollup store: the pre-aggregation pattern that
#     makes distinct counts cheap at 100 TB — per-partition sketches
#     stored at ingest, unioned at query time instead of rescanning raw
#     data. These three queries use PORTABLE sketches (md5-derived HLL
#     registers / fixed-threshold theta hash sets,
#     operators/portable_sketch.py) whose bits replay identically in
#     DuckDB, so the driver hash-checks the whole sketch pipeline — the
#     same portability call as rolling_fingerprint(portable=True). The
#     JVM DataSketches path (hll_sketch_agg / theta_sketch_agg) remains
#     the faster-constant alternative; its estimates cannot be
#     cross-engine-verified, which is why the registered forms are the
#     portable ones.
# ---------------------------------------------------------------------------

def _hll_rollup_oracle() -> str:
    from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
        hll_estimate_oracle_sql,
        hll_observation_sql,
    )

    bucket, rho = hll_observation_sql("h")
    return f"""
    WITH obs AS (
      SELECT CAST(ts AS DATE) AS d, md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    br AS (
      SELECT d, {bucket} AS bucket, {rho} AS rho FROM obs
    ),
    daily AS (
      SELECT d, bucket, MAX(rho) AS r FROM br GROUP BY d, bucket
    ),
    rollup_reg AS (
      SELECT bucket, MAX(r) AS r FROM daily GROUP BY bucket
    ),
    direct_reg AS (
      SELECT bucket, MAX(rho) AS r FROM br GROUP BY bucket
    ),
    f AS (
      SELECT
        (SELECT COUNT(DISTINCT d) FROM daily) AS n_daily_sketches,
        {hll_estimate_oracle_sql("rollup_reg")} AS rollup_estimate,
        {hll_estimate_oracle_sql("direct_reg")} AS direct_estimate,
        (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
    )
    SELECT n_daily_sketches, rollup_estimate, direct_estimate,
           exact_distinct,
           round(abs(CAST(rollup_estimate AS DOUBLE)
                     - CAST(exact_distinct AS DOUBLE))
                 / CAST(exact_distinct AS DOUBLE), 6) AS rel_error
    FROM f
    """


@register(
    "hll_rollup_distinct_users",
    oracle=_hll_rollup_oracle(),
    doc="Sketch-rollup distinct users over a PORTABLE HLL register "
    "store (lgK=12, operators/portable_sketch.py): one register set "
    "per event day — the ingest-time pre-aggregate a 100 TB pipeline "
    "stores in a metrics table, built by a plain (day, bucket) -> "
    "max(rho) aggregation with map-side combine — then the global "
    "distinct-users question answered by register-wise MAX over the "
    "~30 daily register sets, touching kilobytes instead of the fact "
    "table. Registers derive from md5 with pure integer/string "
    "expressions and the harmonic sum stays in BIGINT (dyadic terms "
    "2^(49-rho)), so the whole sketch — not just row counts — is "
    "replayed bit-for-bit by the DuckDB oracle. Self-verifying "
    "columns: rollup estimate == direct one-pass estimate (the "
    "mergeability law: max-of-max is order-insensitive and lossless) "
    "and the exact COUNT DISTINCT with relative error.",
)
def hll_rollup_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
        hll_estimate,
        md5_hex,
        with_hll_observation,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    obs = with_hll_observation(
        ev.select("d", md5_hex("user_id").alias("h")), "h"
    )
    daily = obs.groupBy("d", "bucket").agg(F.max("rho").alias("r"))
    rollup = hll_estimate(
        daily.groupBy("bucket").agg(F.max("r").alias("r"))
    ).withColumnRenamed("estimate", "rollup_estimate")
    direct = hll_estimate(
        obs.groupBy("bucket").agg(F.max("rho").alias("r"))
    ).withColumnRenamed("estimate", "direct_estimate")
    n_daily = daily.agg(
        F.count_distinct("d").alias("n_daily_sketches")
    )
    exact = ev.agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        n_daily.crossJoin(F.broadcast(rollup))
        .crossJoin(F.broadcast(direct))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_daily_sketches",
            "rollup_estimate",
            "direct_estimate",
            "exact_distinct",
            F.round(
                F.abs(
                    F.col("rollup_estimate").cast("double")
                    - F.col("exact_distinct").cast("double")
                )
                / F.col("exact_distinct").cast("double"),
                6,
            ).alias("rel_error"),
        )
    )


def _theta_overlap_oracle() -> str:
    from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
        THETA_INV_P,
        theta_keep_sql,
    )

    return f"""
    WITH base AS (
      SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS h
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    sk AS (
      SELECT DISTINCT event_type, h FROM base WHERE {theta_keep_sql("h")}
    ),
    a AS (SELECT h FROM sk WHERE event_type = 'click'),
    b AS (SELECT h FROM sk WHERE event_type = 'purchase'),
    ca AS (SELECT DISTINCT user_id FROM base WHERE event_type = 'click'),
    cb AS (SELECT DISTINCT user_id FROM base WHERE event_type = 'purchase')
    SELECT
      (SELECT COUNT(*) * {THETA_INV_P} FROM a JOIN b USING (h))
        AS est_both,
      (SELECT COUNT(*) FROM ca JOIN cb USING (user_id)) AS exact_both,
      (SELECT COUNT(*) * {THETA_INV_P} FROM a
         WHERE h NOT IN (SELECT h FROM b)) AS est_click_only,
      (SELECT COUNT(*) FROM ca
         WHERE user_id NOT IN (SELECT user_id FROM cb))
        AS exact_click_only,
      (SELECT COUNT(*) * {THETA_INV_P}
         FROM (SELECT h FROM a UNION SELECT h FROM b)) AS est_either,
      (SELECT COUNT(*) FROM (SELECT user_id FROM ca
                             UNION SELECT user_id FROM cb)) AS exact_either
    """


@register(
    "theta_sketch_audience_overlap",
    oracle=_theta_overlap_oracle(),
    doc="Theta-style set algebra over user audiences with a PORTABLE "
    "fixed-threshold sketch (operators/portable_sketch.py): each "
    "audience's sketch is the set of md5 hashes below a fixed sampling "
    "threshold (p = 1/2 here; tuned to the sketch budget at scale), "
    "built by a filtered distinct — one shuffle with map-side combine, "
    "no per-group collect — and the click-AND-purchase overlap, "
    "click-only remainder, and union are EXACT set algebra over the "
    "sampled hash sets scaled by 1/p. Because 1/p is an integer the "
    "estimates are integer arithmetic end-to-end, so the DuckDB "
    "oracle replays every bit — the mergeable-audience pattern "
    "ad/analytics systems run at 100 TB, where exact INTERSECT of "
    "distinct-user sets costs a full shuffle per question and the "
    "sketch store answers in kilobytes. Exact intersect/except/union "
    "counts ride beside the estimates; the property test bounds the "
    "sampling error.",
)
def theta_sketch_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
        THETA_INV_P,
        md5_hex,
        theta_keep,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    base = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_type", "user_id", md5_hex("user_id").alias("h")
    )
    sk = base.where(theta_keep("h")).select("event_type", "h").distinct()
    a = sk.where(F.col("event_type") == "click").select("h")
    b = sk.where(F.col("event_type") == "purchase").select("h")
    scale = F.lit(THETA_INV_P).cast("long")
    est = (
        a.join(b, "h")
        .agg((F.count(F.lit(1)) * scale).alias("est_both"))
        .crossJoin(
            F.broadcast(
                a.join(b, "h", "left_anti").agg(
                    (F.count(F.lit(1)) * scale).alias("est_click_only")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                a.union(b)
                .distinct()
                .agg((F.count(F.lit(1)) * scale).alias("est_either"))
            )
        )
    )
    clicks = base.where(F.col("event_type") == "click").select("user_id").distinct()
    buys = base.where(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = (
        clicks.intersect(buys).agg(F.count(F.lit(1)).alias("exact_both"))
        .crossJoin(
            F.broadcast(
                clicks.exceptAll(buys).agg(
                    F.count(F.lit(1)).alias("exact_click_only")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                clicks.union(buys).distinct().agg(
                    F.count(F.lit(1)).alias("exact_either")
                )
            )
        )
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_both", "exact_both",
        "est_click_only", "exact_click_only",
        "est_either", "exact_either",
    )


def _theta_retention_oracle() -> str:
    from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
        THETA_INV_P,
        theta_keep_sql,
    )

    return f"""
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS d, user_id,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ev),
    day_pairs AS (
      SELECT a.d FROM days a JOIN days b ON b.d = a.d + 7
    ),
    s AS (
      SELECT DISTINCT d, h FROM ev WHERE {theta_keep_sql("h")}
    ),
    cnt AS (
      SELECT x.d, COUNT(*) * {THETA_INV_P} AS est_retained
      FROM s x JOIN s y ON y.h = x.h AND y.d = x.d + 7
      GROUP BY x.d
    ),
    p AS (SELECT DISTINCT d, user_id FROM ev),
    ex AS (
      SELECT a.d, COUNT(*) AS exact_retained
      FROM p a JOIN p b ON b.user_id = a.user_id AND b.d = a.d + 7
      GROUP BY a.d
    )
    SELECT strftime(dp.d, '%Y-%m-%d') AS day,
           COALESCE(cnt.est_retained, 0) AS est_retained,
           COALESCE(ex.exact_retained, 0) AS exact_retained
    FROM day_pairs dp
    LEFT JOIN cnt ON cnt.d = dp.d
    LEFT JOIN ex ON ex.d = dp.d
    ORDER BY day LIMIT 20
    """


@register(
    "theta_retention_day7",
    oracle=_theta_retention_oracle(),
    doc="Sketch-based 7-day retention over the PORTABLE fixed-threshold "
    "theta store (operators/portable_sketch.py): one sampled hash set "
    "per activity day (the same ingest-time sketch store as the HLL "
    "rollup — a filtered distinct, expected p*|audience| entries), "
    "then for every day d the retained-user count |active(d) AND "
    "active(d+7)| comes from joining two STORED day sketches on hash "
    "and scaling by 1/p — kilobyte sketch joins instead of the "
    "fact-table self-join exact retention needs. Integer arithmetic "
    "end-to-end, so the DuckDB oracle replays the sketch bit-for-bit. "
    "Day spine = days with a day+7 counterpart (zero-retention days "
    "surface as 0, not as missing rows); exact intersect counts ride "
    "beside the estimates. First 20 days under a total order.",
)
def theta_retention_day7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
        THETA_INV_P,
        md5_hex,
        theta_keep,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id",
        md5_hex("user_id").alias("h"),
    )
    days = ev.select("d").distinct()
    day_pairs = (
        days.alias("a")
        .join(
            days.alias("b"),
            F.col("b.d") == F.date_add(F.col("a.d"), 7),
        )
        .select(F.col("a.d").alias("d"))
    )
    s = ev.where(theta_keep("h")).select("d", "h").distinct()
    cnt = (
        s.alias("x")
        .join(
            s.alias("y"),
            (F.col("y.h") == F.col("x.h"))
            & (F.col("y.d") == F.date_add(F.col("x.d"), 7)),
        )
        .groupBy(F.col("x.d").alias("d"))
        .agg(
            (F.count(F.lit(1)) * F.lit(THETA_INV_P).cast("long")).alias(
                "est_retained"
            )
        )
    )
    pairs = ev.select("d", "user_id").distinct()
    exact = (
        pairs.alias("a")
        .join(
            pairs.alias("b"),
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.d") == F.date_add(F.col("a.d"), 7)),
        )
        .groupBy(F.col("a.d").alias("d"))
        .agg(F.count(F.lit(1)).alias("exact_retained"))
    )
    return (
        day_pairs.join(cnt, "d", "left")
        .join(exact, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("est_retained", F.lit(0).cast("long")).alias(
                "est_retained"
            ),
            F.coalesce("exact_retained", F.lit(0).cast("long")).alias(
                "exact_retained"
            ),
        )
        .orderBy("day")
        .limit(20)
    )


@register(
    "brand_price_tiers",
    oracle="""
    WITH px AS (
      SELECT DISTINCT p_brand,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
      FROM part
    ),
    t AS (
      SELECT p_brand, price_cents,
             DENSE_RANK() OVER (PARTITION BY p_brand
                                ORDER BY price_cents DESC) AS tier,
             LEAD(price_cents) OVER (PARTITION BY p_brand
                                     ORDER BY price_cents DESC)
               AS next_lower_cents
      FROM px
    )
    SELECT p_brand, tier, price_cents,
           next_lower_cents,
           price_cents - next_lower_cents AS gap_cents
    FROM t WHERE tier <= 3
    ORDER BY p_brand, tier
    """,
    doc="Distinct-price tiering per brand: DENSE_RANK over the "
    "DEDUPLICATED price set (ties share a tier and no tier numbers are "
    "skipped — the semantics rank() cannot give) plus LEAD for the gap "
    "to the next tier down, on exact integer cents. The distinct "
    "projection runs BEFORE the window, so the sort input is the tier "
    "cardinality, not the row count — the detail that keeps this shape "
    "cheap at 100 TB. Completes the ranking-function surface "
    "(row_number / rank / dense_rank / ntile / percent_rank / "
    "cume_dist all now oracled).",
)
def brand_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    px = part.select(
        "p_brand", cents("p_retailprice").alias("price_cents")
    ).distinct()
    w = Window.partitionBy("p_brand").orderBy(F.col("price_cents").desc())
    t = px.select(
        "p_brand",
        "price_cents",
        F.dense_rank().over(w).alias("tier"),
        F.lead("price_cents").over(w).alias("next_lower_cents"),
    )
    return (
        t.where(F.col("tier") <= 3)
        .select(
            "p_brand",
            "tier",
            "price_cents",
            "next_lower_cents",
            (F.col("price_cents") - F.col("next_lower_cents")).alias(
                "gap_cents"
            ),
        )
        .orderBy("p_brand", "tier")
    )


@register(
    "user_event_type_map_json",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           '{' || string_agg('"' || event_type || '":' || n, ','
                             ORDER BY event_type) || '}' AS type_counts_json,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM c GROUP BY user_id ORDER BY user_id LIMIT 20
    """,
    doc="Per-user event-type histogram serialized as a deterministic "
    "JSON map: counts per (user, type), then map_from_entries over the "
    "entry list SORTED BY KEY before to_json — map column order is "
    "engine-internal, so the sort is what makes the serialization "
    "comparable (and stable for downstream feature stores). The DuckDB "
    "twin builds the same JSON with an ORDER BY inside string_agg. "
    "Covers the map-construction + JSON-serialization surface "
    "(map_from_entries / sort_array / to_json) with two well-keyed "
    "shuffles, both map-side combined.",
)
def user_event_type_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        c.groupBy("user_id")
        .agg(
            F.to_json(
                F.map_from_entries(
                    F.sort_array(
                        F.collect_list(F.struct("event_type", "n"))
                    )
                )
            ).alias("type_counts_json"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
        .limit(20)
    )


@register(
    "quantity_price_covariance",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(round(l_quantity) AS BIGINT)) AS sq,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sp,
             SUM(CAST(round(l_quantity) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sqp
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((CAST(sqp AS DOUBLE) / CAST(n AS DOUBLE))
                 - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)), 4)
             AS covar_pop_cents
    FROM m ORDER BY l_returnflag
    """,
    doc="Grouped population covariance of quantity vs price from exact "
    "BIGINT cross-moment sums (n, Σx, Σy, Σxy) — the same "
    "partial-order-proof discipline as the moment-profile family: "
    "Spark's covar_pop merges float partials in partition order "
    "(nondeterministic last ulp vs DuckDB), so both engines compute "
    "E[xy]−E[x]E[y] from identical integer sums in ONE identical final "
    "double expression. Single scan, map-side combined, 3-row result.",
)
def quantity_price_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = cents("l_quantity", 0)
    p = cents("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"),
        F.sum(p).alias("sp"),
        F.sum(q * p).alias("sqp"),
    )
    n = F.col("n").cast("double")
    return m.select(
        "l_returnflag",
        "n",
        F.round(
            (F.col("sqp").cast("double") / n)
            - (F.col("sq").cast("double") / n)
            * (F.col("sp").cast("double") / n),
            4,
        ).alias("covar_pop_cents"),
    ).orderBy("l_returnflag")


@register(
    "weighted_median_price",
    oracle="""
    WITH r AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(round(l_quantity) AS BIGINT) AS w
      FROM lineitem
    ),
    c AS (
      SELECT l_returnflag, price_cents, w,
             SUM(w) OVER (PARTITION BY l_returnflag
                          ORDER BY price_cents, w
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM r
    )
    SELECT l_returnflag,
           MIN(price_cents) AS weighted_median_cents,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM c
    WHERE cw * 2 >= tw
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Exact weighted median (quantity-weighted median line price per "
    "return flag): no engine has a weighted percentile aggregate, so "
    "the distributed exact form is a running weight cumsum over one "
    "(group, price) sort — the first row whose cumulative weight "
    "reaches half the group total. All arithmetic is integer (cents, "
    "integral weights, cw*2 >= tw instead of a fractional compare), so "
    "the boundary row is engine-independent; the tie order includes "
    "the weight so equal prices accumulate deterministically. One "
    "shuffle on the group key; the aggregate reuses its partitioning.",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    r = li.select(
        "l_returnflag",
        cents("l_extendedprice").alias("price_cents"),
        cents("l_quantity", 0).alias("w"),
    )
    w_run = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_cents", "w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_returnflag")
    c = r.select(
        "l_returnflag",
        "price_cents",
        F.sum("w").over(w_run).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return (
        c.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_cents").alias("weighted_median_cents"),
            F.min("tw").cast("long").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "mad_outlier_orders",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority,
             o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ),
    med AS (
      SELECT o_orderpriority,
             MIN(CASE WHEN rn >= CAST(ceil(0.5 * n) AS BIGINT)
                      THEN price_cents END) AS med_cents
      FROM (
        SELECT o_orderpriority, price_cents,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY price_cents, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM r
      ) GROUP BY o_orderpriority
    ),
    dev AS (
      SELECT r.o_orderpriority, r.o_orderkey,
             ABS(r.price_cents - m.med_cents) AS adev,
             r.price_cents, m.med_cents
      FROM r JOIN med m ON r.o_orderpriority = m.o_orderpriority
    ),
    mad AS (
      SELECT o_orderpriority,
             MIN(CASE WHEN rn >= CAST(ceil(0.5 * n) AS BIGINT)
                      THEN adev END) AS mad_cents
      FROM (
        SELECT o_orderpriority, adev,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY adev, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM dev
      ) GROUP BY o_orderpriority
    )
    SELECT d.o_orderpriority,
           CAST(MIN(d.med_cents) AS BIGINT) AS median_cents,
           CAST(MIN(x.mad_cents) AS BIGINT) AS mad_cents,
           CAST(SUM(CASE WHEN d.adev > 3 * x.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           COUNT(*) AS n_orders
    FROM dev d JOIN mad x ON d.o_orderpriority = x.o_orderpriority
    GROUP BY d.o_orderpriority
    ORDER BY d.o_orderpriority
    """,
    doc="Robust outlier detection via MAD (median absolute deviation): "
    "exact per-group median of price, exact median of |price - median| "
    "(both percentile_disc-style rank selections on integers — no "
    "interpolation, engine-independent ties via the orderkey), then "
    "count rows beyond 3*MAD. Two sorted windows over the SAME group "
    "key — Catalyst reuses one partitioning for median, deviation "
    "join, MAD, and the final rollup; the medians broadcast back as "
    "5-row joins. The robust alternative to the z-score family "
    "(event_volume_zscore) for heavy-tailed data at scale, all "
    "integer-exact.",
)
def mad_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    r = o.select(
        "o_orderpriority",
        "o_orderkey",
        cents("o_totalprice").alias("price_cents"),
    )

    def exact_median(df, val_col, out_name):
        w = Window.partitionBy("o_orderpriority").orderBy(val_col, "o_orderkey")
        wc = Window.partitionBy("o_orderpriority")
        ranked = df.select(
            "o_orderpriority",
            val_col,
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        return ranked.groupBy("o_orderpriority").agg(
            F.min(
                F.when(
                    F.col("rn") >= F.ceil(0.5 * F.col("n")).cast("long"),
                    F.col(val_col),
                )
            ).alias(out_name)
        )

    med = exact_median(r, "price_cents", "med_cents")
    dev = r.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "o_orderkey",
        F.abs(F.col("price_cents") - F.col("med_cents")).alias("adev"),
        "med_cents",
    )
    mad = exact_median(dev, "adev", "mad_cents")
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.min("med_cents").cast("long").alias("median_cents"),
            F.min("mad_cents").cast("long").alias("mad_cents"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad_cents"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "event_type_run_lengths",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_type, rn,
             CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
                                             ORDER BY rn)
                       IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS new_run
      FROM e
    ),
    runs AS (
      SELECT user_id, event_type,
             SUM(new_run) OVER (PARTITION BY user_id ORDER BY rn
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    ),
    per AS (
      SELECT user_id, event_type, run_id, COUNT(*) AS run_len
      FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT event_type,
           COUNT(*) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS max_run,
           CAST(SUM(run_len) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(run_len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_run_len
    FROM per GROUP BY event_type ORDER BY event_type
    """,
    doc="Run-length encoding of per-user event-type sequences (the "
    "islands trick applied to ORDINAL sequences instead of dates): "
    "order each user's events on a TOTAL key (ts, event_id), flag "
    "type changes with null-safe LAG comparison (IS DISTINCT FROM — "
    "the first row starts run 0 on both engines), cumsum into run ids, "
    "then roll runs up per type. Behavioral 'streakiness' — how long "
    "users stay in one activity — from one user-keyed shuffle that "
    "serves both windows and the first aggregate.",
)
def event_type_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    wr = Window.partitionBy("user_id").orderBy("rn")
    flagged = e.withColumn(
        "new_run",
        F.when(
            ~F.lag("event_type").over(wr).eqNullSafe(F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = flagged.withColumn("run_id", F.sum("new_run").over(wcum))
    per = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run"),
            F.sum("run_len").cast("long").alias("n_events"),
            F.round(
                F.sum("run_len").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_run_len"),
        )
        .orderBy("event_type")
    )
