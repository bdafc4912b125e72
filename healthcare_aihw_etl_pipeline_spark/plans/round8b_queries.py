"""Round-8 continuation surface: privacy release audit (k-anonymity /
l-diversity), a portable count-min frequency sketch, distributed
prefix-sum export sharding, per-key time-series interpolation,
bounded-hop graph reachability, drift / dependence / digit-law /
change-point monitoring (PSI, mutual information, Benford, CUSUM),
lag autocorrelation and day-of-week seasonality, last-touch
attribution, MATCH_RECOGNIZE-lite session pattern matching, the
driver-verified incremental-join maintenance scenario, and the
composed curation actions (semantic-dedup keep-best, cluster-aware
contamination-safe splits).

Same exactness discipline as the rest of the registry
(plans/registry.py): integer arithmetic across aggregation boundaries,
identically-written single IEEE expressions where a divide is
unavoidable, a TOTAL order under every LIMIT, and DuckDB HUGEINT sums
cast back to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators import privacy
from healthcare_aihw_etl_pipeline_spark.operators.layout import shard_by_budget
from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
    CMS_DEPTH,
    cms_bucket_sql,
    cms_build,
    cms_estimate,
)
from healthcare_aihw_etl_pipeline_spark.operators.sampling import (
    sql_md5_uniform,
)
from healthcare_aihw_etl_pipeline_spark.operators.search import (
    sql_tokens,
    tokens,
)
from healthcare_aihw_etl_pipeline_spark.plans.registry import (
    cached_dml_result,
    cents,
    register,
    sql_cents,
)
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH groups AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             COUNT(*) AS k,
             COUNT(DISTINCT c_mktsegment) AS l
      FROM customer
      GROUP BY c_nationkey, bal_band
    ),
    banded AS (
      SELECT {privacy.sql_band_of('k')} AS band_lo, k, l FROM groups
    )
    SELECT band_lo,
           CASE band_lo WHEN 1 THEN 'k=1 unique' WHEN 2 THEN '2<=k<5'
                        WHEN 5 THEN '5<=k<20' ELSE 'k>=20' END AS band,
           COUNT(*) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           MIN(k) AS min_k,
           MAX(k) AS max_k,
           MIN(l) AS min_l
    FROM banded
    GROUP BY band_lo
    ORDER BY band_lo
    """,
    doc="k-anonymity / l-diversity release audit over the quasi-"
    "identifier pair (nation, $1000 account-balance band) with "
    "market segment as the sensitive attribute: per risk band "
    "(k=1 unique rows, 2-4, 5-19, 20+), how many QI groups and rows "
    "fall in it and the worst-case k and l. The only data-sized "
    "shuffle is the QI groupBy (map-side combined); the banding pass "
    "runs on the group relation, orders of magnitude smaller. The "
    "audit every corpus extract should pass before release.",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("bal_band"),
        "c_mktsegment",
    )
    groups = privacy.group_anonymity(
        cust, ["c_nationkey", "bal_band"], "c_mktsegment"
    )
    return privacy.anonymity_bands(groups)


@register(
    "cms_token_heavy_hitters",
    oracle=f"""
    WITH counts AS (
      SELECT tok AS token, COUNT(*) AS cnt
      FROM (SELECT UNNEST({sql_tokens('text')}) AS tok
            FROM documents WHERE trim(text) <> '')
      GROUP BY tok
    ),
    obs AS (
      {" UNION ALL ".join(
          f"SELECT token, {i} AS r, {cms_bucket_sql('token', i)} AS b, cnt"
          " FROM counts"
          for i in range(CMS_DEPTH)
      )}
    ),
    cells AS (
      SELECT r, b, CAST(SUM(cnt) AS BIGINT) AS total
      FROM obs GROUP BY r, b
    ),
    est AS (
      SELECT o.token, MIN(cl.total) AS est_cnt
      FROM obs o JOIN cells cl USING (r, b)
      GROUP BY o.token
    )
    SELECT c.token, c.cnt AS exact_cnt, e.est_cnt,
           e.est_cnt - c.cnt AS overcount
    FROM counts c JOIN est e USING (token)
    ORDER BY e.est_cnt DESC, c.token
    LIMIT 20
    """,
    doc="Token heavy hitters through a portable count-min sketch "
    "(depth 4 x width 512, md5 row hashes — the cells replay bit-for-"
    "bit in DuckDB): exact corpus term counts feed the mergeable "
    "cell grid, every term is point-queried back (min over its four "
    "cells, broadcast join against the <=2048-cell grid), and the "
    "top 20 by estimate carry their exact count and CMS overcount. "
    "The grid is O(depth*width) regardless of vocabulary, and two "
    "grids merge by cell-wise addition — per-shard or per-day "
    "frequency stores roll up without touching raw tokens.",
)
def cms_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.trim(F.col("text")) != "")
        .select(F.explode(tokens("text")).alias("token"))
    )
    counts = docs.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    cells = cms_build(counts, "token", "cnt")
    est = cms_estimate(counts.select("token"), cells, "token")
    return (
        counts.join(est, "token")
        .select(
            "token",
            F.col("cnt").alias("exact_cnt"),
            "est_cnt",
            (F.col("est_cnt") - F.col("cnt")).alias("overcount"),
        )
        .orderBy(F.col("est_cnt").desc(), F.col("token").asc())
        .limit(20)
    )


_SHARD_TOKENS = 50_000


@register(
    "token_shard_plan",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, len({sql_tokens('text')}) AS n_tokens
      FROM documents WHERE trim(text) <> ''
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM docs
    ),
    s AS (
      SELECT doc_id, n_tokens, cum,
             CAST((cum - n_tokens) // {_SHARD_TOKENS} AS BIGINT) AS shard
      FROM c
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           CAST(MAX(cum) AS BIGINT) AS cum_end
    FROM s
    GROUP BY shard
    ORDER BY shard
    """,
    doc="Token-budget export sharding — the last step of a training-"
    "data pipeline: documents in doc_id order are packed into shards "
    "of ~50k tokens each (a row belongs to the shard of its exclusive "
    "prefix-sum start offset), reported per shard with doc/token "
    "counts and id bounds. The prefix sum is DISTRIBUTED "
    "(operators/layout.shard_by_budget): range repartition + per-"
    "partition running sums + a partition-count-bounded offset "
    "window — no single-partition global window, identical output on "
    "any executor count, exact integer floor-division for the shard "
    "id (a double divide mis-floors past 2^53). The slim (doc_id, "
    "n_tokens) relation is materialized ONCE (eager localCheckpoint, "
    "16 bytes/row) before the range repartition: without it the "
    "range-boundary SAMPLING pass re-runs the full-text tokenize scan "
    "— recomputing a 100 TB regex pass to save a 16-byte-per-row "
    "materialization is the wrong trade at any scale (the "
    "unigram_lm_prune scan-once lesson).",
)
def token_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.trim(F.col("text")) != "")
        .select(
            "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
        )
        .localCheckpoint(eager=True)
    )
    return _shard_surface(docs)


def _shard_surface(docs: DataFrame) -> DataFrame:
    """The budget-sharding surface over a (doc_id, n_tokens) relation —
    shared by the from-scratch form and the silver-served twin."""
    sharded = shard_by_budget(docs, "doc_id", "n_tokens", _SHARD_TOKENS)
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.max("cum").alias("cum_end"),
        )
        .orderBy("shard")
    )


_INTERP_EXPR = (
    "(CAST(prev_c AS DOUBLE) + CAST(next_c - prev_c AS DOUBLE)"
    " * (CAST(datediff('day', prev_day, day) AS DOUBLE)"
    " / CAST(datediff('day', prev_day, next_day) AS DOUBLE))) / 100.0"
)


@register(
    "daily_value_interpolated",
    oracle=f"""
    WITH known AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM({sql_cents('value')}) AS BIGINT) AS v_c
      FROM events WHERE value > 190.0
      GROUP BY event_type, day
    ),
    bounds AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      FROM known GROUP BY event_type
    ),
    spine AS (
      SELECT event_type,
             CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM bounds
    ),
    j AS (
      SELECT s.event_type, s.day, k.v_c
      FROM spine s LEFT JOIN known k USING (event_type, day)
    ),
    f AS (
      SELECT *,
        last_value(v_c IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
        last_value(CASE WHEN v_c IS NOT NULL THEN day END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
        first_value(v_c IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
        first_value(CASE WHEN v_c IS NOT NULL THEN day END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
      FROM j
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CASE WHEN v_c IS NOT NULL THEN CAST(v_c AS DOUBLE) / 100.0
                ELSE {_INTERP_EXPR} END AS vsum,
           (v_c IS NULL) AS is_interp
    FROM f
    ORDER BY event_type, day
    """,
    doc="Per-key time-series gap fill by LINEAR INTERPOLATION: daily "
    "high-value revenue per event type, missing interior days filled "
    "between their bracketing known days (forward/backward "
    "IGNORE-NULLS window pairs carry the neighbors; the interpolation "
    "weight is an exact integer day ratio). Day sums are quantized to "
    "integer cents BEFORE crossing the aggregation boundary, and the "
    "interpolation expression is a single identically-written IEEE "
    "formula in both engines — hash-exact despite the float output. "
    "Windows are per-key (parallel across keys); the day spine comes "
    "from per-key bounds + sequence(), never a driver-side loop.",
)
def daily_value_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    known = (
        ev.where(F.col("value") > 190.0)
        .groupBy("event_type", "day")
        .agg(F.sum(cents("value")).alias("v_c"))
    )
    bounds = known.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    j = spine.join(known, ["event_type", "day"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("v_c").isNotNull(), F.col("day"))
    f = (
        j.withColumn("prev_c", F.last("v_c", ignorenulls=True).over(wb))
        .withColumn("prev_day", F.last(known_day, ignorenulls=True).over(wb))
        .withColumn("next_c", F.first("v_c", ignorenulls=True).over(wf))
        .withColumn("next_day", F.first(known_day, ignorenulls=True).over(wf))
    )
    frac = F.datediff("day", "prev_day").cast("double") / F.datediff(
        "next_day", "prev_day"
    ).cast("double")
    interp = (
        F.col("prev_c").cast("double")
        + (F.col("next_c") - F.col("prev_c")).cast("double") * frac
    ) / F.lit(100.0)
    return f.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(
            F.col("v_c").isNotNull(), F.col("v_c").cast("double") / F.lit(100.0)
        )
        .otherwise(interp)
        .alias("vsum"),
        F.col("v_c").isNull().alias("is_interp"),
    ).orderBy("event_type", "day")


_SEED_BRAND = "Brand#1"


@register(
    "copurchase_2hop_reach",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL
      SELECT v, u FROM pairs
    ),
    seeds AS (
      SELECT DISTINCT p_partkey AS node FROM part
      WHERE p_brand = '{_SEED_BRAND}'
    ),
    h1 AS (
      SELECT DISTINCT e.dst AS node
      FROM edges e JOIN seeds s ON e.src = s.node
      WHERE e.dst NOT IN (SELECT node FROM seeds)
    ),
    h2 AS (
      SELECT DISTINCT e.dst AS node
      FROM edges e JOIN h1 ON e.src = h1.node
      WHERE e.dst NOT IN (SELECT node FROM seeds)
        AND e.dst NOT IN (SELECT node FROM h1)
    )
    SELECT 0 AS hop, COUNT(*) AS n_parts FROM seeds
    UNION ALL SELECT 1, COUNT(*) FROM h1
    UNION ALL SELECT 2, COUNT(*) FROM h2
    ORDER BY hop
    """,
    doc="Bounded-hop reachability over the part co-purchase graph: "
    "frontier sizes at 0/1/2 hops from the Brand#1 seed set. The "
    "frontier-expansion shape of every graph-adjacent pipeline "
    "(impression spread, related-item candidates). The expansion runs "
    "on the BIPARTITE (order, part) incidence list — neighbors(S) = "
    "parts of orders that contain an S part, one semi-join to the "
    "order side and one back — NEVER the squared co-purchase edge "
    "relation the oracle spells out (materializing it measured 3.6 s "
    "vs 1.3 s at sf0.1, and its distinct alone shuffles O(sum "
    "order_size^2) rows at corpus scale). Each hop's state is a node "
    "relation (distinct + anti-join vs visited), never a driver-side "
    "set; hop count fixed so the plan is static (the unbounded "
    "variant is dedup_transitive_clusters' pointer-jumping loop).",
)
def copurchase_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    seeds = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == _SEED_BRAND)
        .select(F.col("p_partkey").alias("node"))
        .distinct()
    )

    def _neighbors(frontier: DataFrame) -> DataFrame:
        """Distinct parts sharing an order with the frontier set."""
        touched = (
            li.join(
                frontier.withColumnRenamed("node", "l_partkey"),
                "l_partkey",
                "leftsemi",
            )
            .select("l_orderkey")
            .distinct()
        )
        return (
            li.join(touched, "l_orderkey", "leftsemi")
            .select(F.col("l_partkey").alias("node"))
            .distinct()
        )

    h1 = _neighbors(seeds).join(seeds, "node", "left_anti")
    h2 = (
        _neighbors(h1)
        .join(seeds, "node", "left_anti")
        .join(h1, "node", "left_anti")
    )
    def _count(df: DataFrame, hop: int) -> DataFrame:
        return df.agg(
            F.lit(hop).alias("hop"), F.count(F.lit(1)).alias("n_parts")
        )

    return (
        _count(seeds, 0).unionAll(_count(h1, 1)).unionAll(_count(h2, 2))
    ).orderBy("hop")


_PSI_SPLIT = "2024-01-16"
_PSI_Q = 1_000_000


@register(
    "value_drift_psi",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             (CAST(ts AS DATE) >= DATE '{_PSI_SPLIT}') AS late,
             CAST(floor(value / 50.0) AS BIGINT) AS bucket
      FROM events
    ),
    c AS (
      SELECT event_type, late, bucket, COUNT(*) AS c
      FROM b GROUP BY event_type, late, bucket
    ),
    n AS (
      SELECT event_type, late, CAST(SUM(c) AS BIGINT) AS n
      FROM c GROUP BY event_type, late
    ),
    sides AS (
      SELECT c.event_type, c.late, c.bucket, c.c, n.n
      FROM c JOIN n USING (event_type, late)
    ),
    paired AS (
      SELECT e.event_type, e.bucket,
             CAST(e.c AS DOUBLE) / CAST(e.n AS DOUBLE) AS p1,
             CAST(l.c AS DOUBLE) / CAST(l.n AS DOUBLE) AS p2
      FROM (SELECT * FROM sides WHERE NOT late) e
      JOIN (SELECT * FROM sides WHERE late) l
        USING (event_type, bucket)
    ),
    contribs AS (
      SELECT event_type,
             CAST(floor((p2 - p1) * ln(p2 / p1) * {_PSI_Q} + 0.5) AS BIGINT)
               AS contrib_q
      FROM paired
    )
    SELECT event_type,
           COUNT(*) AS n_buckets,
           CAST(SUM(contrib_q) AS BIGINT) AS psi_q,
           CAST(CAST(SUM(contrib_q) AS BIGINT) AS DOUBLE) / {_PSI_Q}.0
             AS psi,
           (CAST(SUM(contrib_q) AS BIGINT) > {_PSI_Q} / 10) AS drifted
    FROM contribs
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Population-stability-index drift audit — the standard "
    "monitoring gate between two corpus snapshots or time windows: "
    "per event type, the value distribution of the first half of the "
    "timeline vs the second, PSI = sum over shared buckets of "
    "(p2-p1)*ln(p2/p1), flagged past the classic 0.1 threshold. "
    "Hash-exact despite ln(): each bucket's contribution is quantized "
    "to integer millionths BEFORE the cross-bucket sum (the "
    "doc_bigram_nll_top20 discipline), so partial-aggregation order "
    "cannot perturb the result. Two aggregations at (key, side, "
    "bucket) grain plus joins on the tiny bucket relation — the only "
    "data-sized pass is the first groupBy, map-side combined.",
)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.to_date("ts") >= F.lit(_PSI_SPLIT)).alias("late"),
        F.floor(F.col("value") / F.lit(50.0)).cast("long").alias("bucket"),
    )
    c = ev.groupBy("event_type", "late", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    # totals derive from the bucket counts — ONE scan of events, not two
    n = c.groupBy("event_type", "late").agg(F.sum("c").alias("n"))
    sides = c.join(n, ["event_type", "late"])
    early = sides.where(~F.col("late")).select(
        "event_type",
        "bucket",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("p1"),
    )
    late = sides.where(F.col("late")).select(
        "event_type",
        "bucket",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("p2"),
    )
    paired = early.join(late, ["event_type", "bucket"])
    contrib_q = F.floor(
        (F.col("p2") - F.col("p1"))
        * F.log(F.col("p2") / F.col("p1"))
        * F.lit(_PSI_Q)
        + F.lit(0.5)
    ).cast("long")
    return (
        paired.select("event_type", contrib_q.alias("contrib_q"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("contrib_q").alias("psi_q"),
        )
        .select(
            "event_type",
            "n_buckets",
            "psi_q",
            (F.col("psi_q").cast("double") / F.lit(float(_PSI_Q))).alias(
                "psi"
            ),
            (F.col("psi_q") > F.lit(_PSI_Q // 10)).alias("drifted"),
        )
        .orderBy("event_type")
    )


_MI_Q = 1_000_000_000


@register(
    "priority_status_mutual_info",
    oracle=f"""
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             o_orderpriority AS pri, o_orderstatus AS st
      FROM orders
    ),
    cxy AS (SELECT yr, pri, st, COUNT(*) AS c FROM base GROUP BY yr, pri, st),
    cx AS (SELECT yr, pri, COUNT(*) AS cx FROM base GROUP BY yr, pri),
    cy AS (SELECT yr, st, COUNT(*) AS cy FROM base GROUP BY yr, st),
    n AS (SELECT yr, COUNT(*) AS n FROM base GROUP BY yr),
    cells AS (
      SELECT cxy.yr,
             CAST(floor(
               (CAST(cxy.c AS DOUBLE) / CAST(n.n AS DOUBLE))
               * ln((CAST(cxy.c AS DOUBLE) * CAST(n.n AS DOUBLE))
                    / (CAST(cx.cx AS DOUBLE) * CAST(cy.cy AS DOUBLE)))
               * {_MI_Q} + 0.5) AS BIGINT) AS contrib_q
      FROM cxy
      JOIN cx USING (yr, pri)
      JOIN cy USING (yr, st)
      JOIN n USING (yr)
    )
    SELECT yr, COUNT(*) AS n_cells,
           CAST(SUM(contrib_q) AS BIGINT) AS mi_q,
           CAST(CAST(SUM(contrib_q) AS BIGINT) AS DOUBLE) / {_MI_Q}.0 AS mi
    FROM cells
    GROUP BY yr
    ORDER BY yr
    """,
    doc="Mutual information between order priority and order status per "
    "year — the feature-relevance / dependence audit of a profiling "
    "pass: MI = sum over contingency cells of p_xy*ln(p_xy/(p_x*p_y)), "
    "assembled from four grouped counts joined on tiny post-aggregate "
    "relations (the single data-sized pass is the (yr,pri,st) "
    "groupBy). Cell contributions — individually signed — are "
    "quantized to integer billionths before the cross-cell sum, so "
    "the ln()-bearing result is order-independent and hash-exact. "
    "The argument of ln is written as (c*n)/(cx*cy): one multiply "
    "per side, identical IEEE sequence in both engines.",
)
def priority_status_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    )
    cxy = base.groupBy("yr", "pri", "st").agg(F.count(F.lit(1)).alias("c"))
    cx = base.groupBy("yr", "pri").agg(F.count(F.lit(1)).alias("cx"))
    cy = base.groupBy("yr", "st").agg(F.count(F.lit(1)).alias("cy"))
    n = base.groupBy("yr").agg(F.count(F.lit(1)).alias("n"))
    cells = (
        cxy.join(cx, ["yr", "pri"])
        .join(cy, ["yr", "st"])
        .join(n, ["yr"])
    )
    contrib_q = F.floor(
        (F.col("c").cast("double") / F.col("n").cast("double"))
        * F.log(
            (F.col("c").cast("double") * F.col("n").cast("double"))
            / (F.col("cx").cast("double") * F.col("cy").cast("double"))
        )
        * F.lit(_MI_Q)
        + F.lit(0.5)
    ).cast("long")
    return (
        cells.select("yr", contrib_q.alias("contrib_q"))
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("contrib_q").alias("mi_q"),
        )
        .select(
            "yr",
            "n_cells",
            "mi_q",
            (F.col("mi_q").cast("double") / F.lit(float(_MI_Q))).alias("mi"),
        )
        .orderBy("yr")
    )


# Benford first-digit expectations log10(1 + 1/d), shared literal-for-
# literal between the Spark plan and the DuckDB oracle so no log10()
# evaluation happens in either engine.
_BENFORD_P = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items())
    + " END"
)


@register(
    "benford_first_digit_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substring(CAST({sql_cents('o_totalprice')} AS VARCHAR),
                            1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    obs AS (SELECT digit, COUNT(*) AS observed FROM digits GROUP BY digit),
    tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs),
    scored AS (
      SELECT o.digit, o.observed,
             CAST(t.n AS DOUBLE) * ({_BENFORD_CASE.replace('digit', 'o.digit')})
               AS expected
      FROM obs o, tot t
    )
    SELECT digit, observed, expected,
           CAST(floor((CAST(observed AS DOUBLE) - expected)
                      * (CAST(observed AS DOUBLE) - expected) / expected
                      * 1000000 + 0.5) AS BIGINT) AS chi2_contrib_q
    FROM scored
    ORDER BY digit
    """,
    doc="Benford's-law first-digit audit of order totals — the classic "
    "fabricated-data / ingestion-fault screen: the leading digit of "
    "each price (taken from the exact integer-cents STRING form, no "
    "float log10 at digit-extraction time), observed counts vs the "
    "log10(1+1/d) expectation, and the per-digit chi-square "
    "contribution quantized to millionths. The expectation constants "
    "are shared python-computed literals — neither engine evaluates "
    "a logarithm. One groupBy on a 9-value key; the totals join is a "
    "broadcast of one row.",
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    digits = load_table(spark, sf_dir, "orders").select(
        F.substring(cents("o_totalprice").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    tot = obs.agg(F.sum("observed").alias("n"))
    p = None
    for d, lit in _BENFORD_P.items():
        c = F.when(F.col("digit") == d, F.lit(float(lit)))
        p = c if p is None else p.when(F.col("digit") == d, F.lit(float(lit)))
    expected = F.col("n").cast("double") * p
    dev = F.col("observed").cast("double") - F.col("expected")
    return (
        obs.crossJoin(F.broadcast(tot))
        .withColumn("expected", expected)
        .select(
            "digit",
            "observed",
            "expected",
            F.floor(dev * dev / F.col("expected") * F.lit(1_000_000) + F.lit(0.5))
            .cast("long")
            .alias("chi2_contrib_q"),
        )
        .orderBy("digit")
    )


@register(
    "ivm_join_snapshot",
    oracle="""
    WITH cust AS (
      SELECT c_custkey,
             CASE WHEN c_nationkey = 1 THEN 'REBUILT'
                  ELSE c_mktsegment END AS seg
      FROM customer
    ),
    o AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
      WHERE NOT (o_totalprice > 400000.0)
    )
    SELECT seg,
           COUNT(*) AS n_pairs,
           CAST(SUM(price_cents) AS BIGINT) AS total_cents
    FROM o JOIN cust ON o.o_custkey = cust.c_custkey
    GROUP BY seg
    ORDER BY seg
    """,
    doc="Incrementally-maintained JOIN, driver-verified end to end: a "
    "customer dimension and an orders fact live in transactional "
    "tables with change feeds; the materialized orders⋈customers view "
    "is maintained by txlog.apply_incremental_join across three syncs "
    "interleaved with a fact append, a dimension segment UPDATE "
    "(nation-1 customers re-labeled) and a fact DELETE (totalprice > "
    "400k). The oracle replays the FINAL state in closed form — "
    "equality holds regardless of the sync interleaving because each "
    "sync restores the invariant out = left⋈right via the bilinear "
    "delta dA⋈B0 + A1⋈dB, never a rescan of both bases. Result rows "
    "are cached per (sf_dir mtime token, code salt over this query + "
    "the txlog engine) in a 0700 per-user scratch dir; "
    "SPARK_GRAFT_FORCE_DML=1 bypasses.",
)
def ivm_join_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    def compute() -> list[tuple]:
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            F.col("c_mktsegment").alias("seg"),
            "c_nationkey",
        )
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("order_id"),
            "o_custkey",
            cents("o_totalprice").alias("price_cents"),
        )
        tmp = tempfile.mkdtemp(prefix="ivm-join-")
        try:
            dim = TxLogTable(os.path.join(tmp, "dim"), track_changes=True)
            fact = TxLogTable(os.path.join(tmp, "fact"), track_changes=True)
            out = TxLogTable(os.path.join(tmp, "out"))
            off = os.path.join(tmp, "off.json")

            def sync():
                apply_incremental_join(
                    spark, out, fact, dim,
                    on=["o_custkey"], left_id="order_id", right_id="o_custkey",
                    offset_path=off,
                )

            dim.append(
                cust.select(F.col("c_custkey").alias("o_custkey"), "seg")
            )
            fact.append(orders.where(F.col("order_id") % 3 != 0))
            sync()
            fact.append(orders.where(F.col("order_id") % 3 == 0))
            sync()
            dim.merge(
                cust.where(F.col("c_nationkey") == 1).select(
                    F.col("c_custkey").alias("o_custkey"),
                    F.lit("REBUILT").alias("seg"),
                ),
                key_cols=["o_custkey"],
            )
            fact.delete_where(spark, F.col("price_cents") > 40_000_000)
            sync()
            snap = out.snapshot(spark)
            res = (
                snap.groupBy("seg")
                .agg(
                    F.count(F.lit(1)).alias("n_pairs"),
                    F.sum("price_cents").alias("total_cents"),
                )
                .orderBy("seg")
            )
            return [
                (r.seg, r.n_pairs, r.total_cents) for r in res.collect()
            ]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    return cached_dml_result(
        spark, sf_dir,
        "seg string, n_pairs bigint, total_cents bigint",
        ivm_join_snapshot, compute,
    )


# Pearson correlation from exact integer moments, as one identically-
# written IEEE expression over the BIGINT sums (sqrt is correctly
# rounded per IEEE-754, so both engines agree bit-for-bit).
_CORR_EXPR = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)


@register(
    "daily_revenue_autocorr",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM({sql_cents('o_totalprice')}) AS BIGINT) // 100000 AS r
      FROM orders GROUP BY day
    ),
    led AS (
      SELECT r,
             lead(r, 1) OVER (ORDER BY day) AS r1,
             lead(r, 7) OVER (ORDER BY day) AS r7
      FROM daily
    ),
    m AS (
      SELECT 1 AS lag, COUNT(*) AS n,
             CAST(SUM(r) AS BIGINT) AS sx, CAST(SUM(r1) AS BIGINT) AS sy,
             CAST(SUM(r * r1) AS BIGINT) AS sxy,
             CAST(SUM(r * r) AS BIGINT) AS sxx,
             CAST(SUM(r1 * r1) AS BIGINT) AS syy
      FROM led WHERE r1 IS NOT NULL
      UNION ALL
      SELECT 7, COUNT(*),
             CAST(SUM(r) AS BIGINT), CAST(SUM(r7) AS BIGINT),
             CAST(SUM(r * r7) AS BIGINT), CAST(SUM(r * r) AS BIGINT),
             CAST(SUM(r7 * r7) AS BIGINT)
      FROM led WHERE r7 IS NOT NULL
    )
    SELECT lag, n AS n_pairs, {_CORR_EXPR} AS autocorr
    FROM m
    ORDER BY lag
    """,
    doc="Lag-1 / lag-7 autocorrelation of daily revenue — the "
    "seasonality/persistence screen of a time-series profile. The "
    "series is the date-grain aggregate (bounded: one row per "
    "calendar day), lags are row-leads over the observed-day order, "
    "and Pearson r comes from EXACT BIGINT moments: day sums are "
    "quantized to cents then coarsened to $1000 units (integer div "
    "100000; sf10 day totals overflowed the previous $10 units — "
    "caught by the sf10 window replay) so the squared-sum moments "
    "keep headroom below 2^63 through ~sf100 day totals; the final "
    "correlation is one identically-written IEEE expression (sqrt is "
    "correctly rounded, so the engines agree bit-for-bit). The "
    "unpartitioned lead window runs on the DATE-GRAIN relation, "
    "never the fact table.",
)
def daily_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window


    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(cents("o_totalprice")).alias("_c"))
        .select("day", F.expr("_c div 100000").alias("r"))
    )
    w = Window.orderBy("day")
    led = daily.select(
        "r",
        F.lead("r", 1).over(w).alias("r1"),
        F.lead("r", 7).over(w).alias("r7"),
    )

    def _moments(lagged: str, lag: int) -> DataFrame:
        return (
            led.where(F.col(lagged).isNotNull())
            .agg(
                F.lit(lag).alias("lag"),
                F.count(F.lit(1)).alias("n"),
                F.sum("r").alias("sx"),
                F.sum(lagged).alias("sy"),
                F.sum(F.col("r") * F.col(lagged)).alias("sxy"),
                F.sum(F.col("r") * F.col("r")).alias("sxx"),
                F.sum(F.col(lagged) * F.col(lagged)).alias("syy"),
            )
        )

    m = _moments("r1", 1).unionAll(_moments("r7", 7))
    return m.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.expr(_CORR_EXPR).alias("autocorr"),
    ).orderBy("lag")


@register(
    "dow_revenue_seasonality",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM({sql_cents('o_totalprice')}) AS BIGINT) AS rev_c
      FROM orders GROUP BY day
    ),
    by_dow AS (
      SELECT CAST(isodow(day) AS BIGINT) AS dow,
             COUNT(*) AS n_days,
             CAST(SUM(rev_c) AS BIGINT) AS sum_c
      FROM daily GROUP BY dow
    ),
    tot AS (
      SELECT CAST(SUM(n_days) AS BIGINT) AS tot_days,
             CAST(SUM(sum_c) AS BIGINT) AS tot_c
      FROM by_dow
    )
    SELECT dow, n_days,
           CAST(sum_c AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0
             AS avg_rev,
           (CAST(sum_c AS DOUBLE) * CAST(tot_days AS DOUBLE))
             / (CAST(n_days AS DOUBLE) * CAST(tot_c AS DOUBLE))
             AS seasonal_index
    FROM by_dow, tot
    ORDER BY dow
    """,
    doc="Day-of-week seasonal profile of daily revenue: per ISO "
    "weekday, observed-day count, average revenue, and the seasonal "
    "index (dow mean over grand mean — the multiplicative seasonal "
    "factor of classical decomposition). Integer cents everywhere "
    "until the two final identically-written IEEE divides; the dow "
    "relation is 7 rows, the totals join a broadcast of one. ISO "
    "weekday via Spark weekday()+1 == DuckDB isodow().",
)
def dow_revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    )
    by_dow = (
        daily.select(
            (F.weekday("day") + F.lit(1)).cast("long").alias("dow"), "rev_c"
        )
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("rev_c").alias("sum_c"),
        )
    )
    tot = by_dow.agg(
        F.sum("n_days").alias("tot_days"), F.sum("sum_c").alias("tot_c")
    )
    return (
        by_dow.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            (
                F.col("sum_c").cast("double")
                / F.col("n_days").cast("double")
                / F.lit(100.0)
            ).alias("avg_rev"),
            (
                (F.col("sum_c").cast("double") * F.col("tot_days").cast("double"))
                / (F.col("n_days").cast("double") * F.col("tot_c").cast("double"))
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


_ATTR_HORIZON_US = 24 * 3600 * 1_000_000


@register(
    "last_touch_attribution",
    oracle=f"""
    WITH purchases AS (
      SELECT user_id, ts, {sql_cents('value')} AS v_c
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts, MAX(event_type) AS touch_type
      FROM events WHERE event_type <> 'purchase'
      GROUP BY user_id, ts
    ),
    j AS (
      SELECT p.v_c,
             CASE WHEN t.ts IS NULL
                    OR epoch_us(p.ts) - epoch_us(t.ts) > {_ATTR_HORIZON_US}
                  THEN 'direct' ELSE t.touch_type END AS channel
      FROM purchases p
      ASOF LEFT JOIN touches t
        ON p.user_id = t.user_id AND t.ts <= p.ts
    )
    SELECT channel,
           COUNT(*) AS n_purchases,
           CAST(SUM(v_c) AS BIGINT) AS attributed_cents
    FROM j
    GROUP BY channel
    ORDER BY channel
    """,
    doc="Last-touch revenue attribution: every purchase credits the "
    "user's most recent non-purchase event within 24 hours, else "
    "'direct' — the standard marketing-attribution shape, built on "
    "the engine's one-shuffle as-of join (operators/asof.py: union + "
    "window carry-forward, no per-row range join, no hot-key "
    "blowup). Touches are pre-deduplicated per (user, ts) with a "
    "deterministic tiebreak so the ASOF tie semantics match DuckDB "
    "exactly; the horizon test runs in exact integer microseconds.",
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", cents("value").alias("v_c")
    )
    touches = (
        ev.where(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("touch_type"))
    )
    j = asof_join(
        purchases,
        touches,
        on=["user_id"],
        ts="ts",
        value_cols=["ts", "touch_type"],
    )
    lag_us = F.expr("timestampdiff(MICROSECOND, ts_asof, ts)")
    channel = F.when(
        F.col("ts_asof").isNull() | (lag_us > F.lit(_ATTR_HORIZON_US)),
        F.lit("direct"),
    ).otherwise(F.col("touch_type_asof"))
    return (
        j.select("v_c", channel.alias("channel"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("v_c").alias("attributed_cents"),
        )
        .orderBy("channel")
    )


_SEMDEDUP_COS = 0.3


@register(
    "embedding_cluster_keep_best",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id, band,
             list_sum(list_transform(generate_series(1, 8),
               j -> CASE WHEN ev[band * 8 + j] >= 0
                         THEN CAST(1 AS BIGINT) << (j - 1) ELSE 0 END)) AS bucket
      FROM v, unnest(generate_series(0, 7)) AS g(band)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             ROUND(list_sum(list_transform(list_zip(va.ev, vb.ev), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(va.ev, x -> x * x)))
                * sqrt(list_sum(list_transform(vb.ev, x -> x * x)))), 6) AS cos
      FROM cand c
      JOIN v va ON va.vec_id = c.id_a
      JOIN v vb ON vb.vec_id = c.id_b
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM scored WHERE cos >= {_SEMDEDUP_COS}
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION
      SELECT dst, src FROM edges
    ),
    cc AS (
      WITH RECURSIVE reach(node, comp) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT s.a, reach.comp FROM sym s JOIN reach ON reach.node = s.b
      )
      SELECT node, MIN(comp) AS component FROM reach GROUP BY node
    ),
    q AS (
      SELECT vec_id,
             CAST(floor(sqrt(list_sum(list_transform(ev, x -> x * x)))
                        * 1000000 + 0.5) AS BIGINT) AS q
      FROM v
    ),
    clusters AS (
      SELECT cc.component,
             COUNT(*) AS size,
             arg_max(cc.node, q.q * 4294967296 + cc.node) AS keeper
      FROM cc JOIN q ON q.vec_id = cc.node
      GROUP BY cc.component
    )
    SELECT size,
           COUNT(*) AS n_clusters,
           CAST(SUM(size) - COUNT(*) AS BIGINT) AS n_removed,
           MIN(keeper) AS min_keeper
    FROM clusters
    GROUP BY size
    ORDER BY size
    """,
    # sf10-capable alternative oracle (WINDOW_SF10 replay only — the
    # primary above stays the independence check at sf0.01): the SAME
    # collapse-first algebra the Spark side uses. On the replicated
    # bench layouts the primary's in-bucket pair space inflates by the
    # replica count SQUARED (every identical vector shares every band
    # bucket), which is why it cannot finish single-node from sf1;
    # collapsing byte-identical vectors to min-id reps FIRST bounds
    # the pair space by the distinct-vector count. Member re-attach is
    # algebraic (groups are fully connected at cos 1.0; the keep-best
    # key q*2^32+id peaks at the group's max id) — the equivalence the
    # Spark rewrite's equivalence test pins.
    alt_oracle=f"""
    WITH grp AS (
      SELECT embedding,
             MIN(vec_id) AS rep,
             MAX(vec_id) AS max_id,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM embeddings GROUP BY embedding
    ),
    v AS (
      SELECT rep AS vec_id, max_id, cnt,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM grp
    ),
    sig AS (
      SELECT vec_id, band,
             list_sum(list_transform(generate_series(1, 8),
               j -> CASE WHEN ev[band * 8 + j] >= 0
                         THEN CAST(1 AS BIGINT) << (j - 1) ELSE 0 END)) AS bucket
      FROM v, unnest(generate_series(0, 7)) AS g(band)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             ROUND(list_sum(list_transform(list_zip(va.ev, vb.ev), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(va.ev, x -> x * x)))
                * sqrt(list_sum(list_transform(vb.ev, x -> x * x)))), 6) AS cos
      FROM cand c
      JOIN v va ON va.vec_id = c.id_a
      JOIN v vb ON vb.vec_id = c.id_b
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM scored WHERE cos >= {_SEMDEDUP_COS}
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION
      SELECT dst, src FROM edges
    ),
    cc AS (
      WITH RECURSIVE reach(node, comp) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT s.a, reach.comp FROM sym s JOIN reach ON reach.node = s.b
      )
      SELECT node, MIN(comp) AS component FROM reach GROUP BY node
    ),
    q AS (
      SELECT vec_id, max_id, cnt,
             CAST(floor(sqrt(list_sum(list_transform(ev, x -> x * x)))
                        * 1000000 + 0.5) AS BIGINT) AS q
      FROM v
    ),
    comp AS (
      SELECT q.max_id, q.cnt, q.q,
             COALESCE(cc.component, q.vec_id) AS component
      FROM q LEFT JOIN cc ON cc.node = q.vec_id
      WHERE cc.component IS NOT NULL OR q.cnt >= 2
    ),
    clusters AS (
      SELECT component,
             CAST(SUM(cnt) AS BIGINT) AS size,
             arg_max(max_id, q * 4294967296 + max_id) AS keeper
      FROM comp GROUP BY component
    )
    SELECT size,
           COUNT(*) AS n_clusters,
           CAST(SUM(size) - COUNT(*) AS BIGINT) AS n_removed,
           MIN(keeper) AS min_keeper
    FROM clusters
    GROUP BY size
    ORDER BY size
    """,
    doc="The composed semantic-curation action, end to end in one "
    "query: sign-band LSH candidates over the embedding table, exact "
    "cosine filter at 0.3, transitive closure into clusters "
    "(operators/dedup.connected_components — pointer-jumping "
    "min-label propagation on the EDGE set, lineage truncated per "
    "round), and a keep-best representative per cluster (argmax on "
    "micro-quantized L2 norm, id tiebreak). Reported as a cluster-"
    "size histogram with removal counts — the dedup plan a curation "
    "run would execute. Every stage is the scale shape already "
    "proven on its standalone query: banding bounds the pair space, "
    "the closure runs on edges never the corpus, keep-best is an "
    "aggregate argmax (no per-cluster window; ranking key q*2^32+id stays under 2^63 for micro-quantized norms and sub-2^32 ids — widen the key at larger id spaces). "
    "COLLAPSE-FIRST (the verified-MinHash discipline): byte-identical "
    "vectors collapse to their min-id representative via ONE exact "
    "groupBy on the raw vector BEFORE the LSH pair stage. Identical "
    "vectors share every band bucket, so on duplicate-heavy corpora "
    "(the 10x/100x-replicated bench layouts; real web embeddings) the "
    "uncollapsed pair space inflates by the replica count SQUARED — "
    "measured 1134 s at the sf10 layout (200k rows, 2000 distinct "
    "vectors) vs seconds collapsed. Members rejoin through the group "
    "relation: each exact group is fully connected (cos(v,v)=1 >= "
    "threshold), so a member's component is its rep's, a group with "
    "cnt>=2 forms a cluster even without external edges, and the "
    "keep-best argmax key q*2^32+node attains its group-max at the "
    "group's max id — size/keeper/histogram are algebraically "
    "identical to the uncollapsed form (equivalence-tested on a "
    "replicated corpus; same oracle).",
)
def embedding_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        _as_double_array,
        embedding_near_dup_pairs,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE corpus shuffle: exact-collapse identical vectors (groupBy on
    # the raw vector — no hash, no collision risk), carrying per-group
    # min id (the rep), max id (where the keep-best key peaks) and
    # count. Checkpointed: feeds the rep pair stage AND the member
    # re-attachment.
    grp = (
        emb.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("rep"),
            F.max("vec_id").alias("max_id"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .localCheckpoint(eager=True)
    )
    pairs = embedding_near_dup_pairs(
        grp.select(F.col("rep").alias("vec_id"), "embedding"),
        "embedding",
        "vec_id",
        n_bands=8,
        band_bits=8,
    ).where(F.col("cos") >= F.lit(_SEMDEDUP_COS))
    cc = connected_components(pairs, src="id_a", dst="id_b")
    # Re-attach exact groups to the rep-level components. A rep with
    # no external edge but cnt >= 2 is still a cluster (its members
    # are pairwise identical); a unique vector with no edge is not —
    # exactly the uncollapsed semantics, where only nodes with >= 1
    # surviving pair appear.
    attrs = grp.select(
        "rep",
        "max_id",
        "cnt",
        F.floor(
            l2_norm(_as_double_array("embedding")) * F.lit(1_000_000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("q"),
    )
    comp = (
        attrs.join(
            cc.withColumnRenamed("node", "rep"), "rep", "left"
        )
        .where(F.col("component").isNotNull() | (F.col("cnt") >= 2))
        .withColumn("component", F.coalesce("component", "rep"))
    )
    clusters = comp.groupBy("component").agg(
        F.sum("cnt").alias("size"),
        F.max_by(
            "max_id", F.col("q") * F.lit(4294967296) + F.col("max_id")
        ).alias("keeper"),
    )
    return (
        clusters.groupBy("size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.sum("size") - F.count(F.lit(1))).alias("n_removed"),
            F.min("keeper").alias("min_keeper"),
        )
        .orderBy("size")
    )


@register(
    "cluster_aware_split",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, md5(text) AS k FROM documents
    ), mins AS (
      SELECT k, MIN(doc_id) AS src FROM base GROUP BY k
    ), e1 AS (
      SELECT mins.src, base.doc_id AS dst FROM base JOIN mins USING (k)
    ), pbase AS (
      SELECT doc_id,
             md5(array_to_string(regexp_split_to_array(TRIM(text), '\\s+')[1:10], ' ')) AS k
      FROM documents
    ), pmins AS (
      SELECT k, MIN(doc_id) AS src FROM pbase GROUP BY k
    ), e2 AS (
      SELECT pmins.src, pbase.doc_id AS dst FROM pbase JOIN pmins USING (k)
    ), edges AS (
      SELECT src, dst FROM e1 WHERE src <> dst
      UNION
      SELECT src, dst FROM e2 WHERE src <> dst
    ), sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION
      SELECT dst, src FROM edges
    ), cc AS (
      WITH RECURSIVE reach(node, comp) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT s.a, reach.comp FROM sym s JOIN reach ON reach.node = s.b
      )
      SELECT node, MIN(comp) AS component FROM reach GROUP BY node
    ),
    assigned AS (
      SELECT d.doc_id,
             COALESCE(cc.component, d.doc_id) AS component,
             CASE WHEN {sql_md5_uniform('COALESCE(cc.component, d.doc_id)')} <= 0.8
                    THEN 'train'
                  WHEN {sql_md5_uniform('COALESCE(cc.component, d.doc_id)')} <= 0.9
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    )
    SELECT split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT component) AS n_clusters
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
    doc="Cluster-aware train/val/test split — the contamination-safe "
    "assignment a pretraining pipeline must use: duplicate clusters "
    "(transitive closure of the deterministic text-hash + 10-token-"
    "prefix edge set, the dedup_transitive_clusters graph) are "
    "assigned as UNITS by hashing the cluster representative "
    "(md5-uniform 80/10/10), so near-duplicate documents can never "
    "straddle train and test; singletons hash their own id. The "
    "no-straddle law is structural (one hash per component) and "
    "asserted in tests. Costs: the closure runs on the edge set, the "
    "assignment is a broadcast-scale left join per doc.",
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from healthcare_aihw_etl_pipeline_spark.operators.sampling import (
        md5_uniform,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select("doc_id", F.md5("text").alias("k"))
    mins = base.groupBy("k").agg(F.min("doc_id").alias("src"))
    e1 = base.join(mins, "k").select("src", F.col("doc_id").alias("dst"))
    prefix = F.md5(
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 10), " "
        )
    )
    pbase = docs.select("doc_id", prefix.alias("k"))
    pmins = pbase.groupBy("k").agg(F.min("doc_id").alias("src"))
    e2 = pbase.join(pmins, "k").select("src", F.col("doc_id").alias("dst"))
    edges = (
        e1.where(F.col("src") != F.col("dst"))
        .unionByName(e2.where(F.col("src") != F.col("dst")))
        .distinct()
    )
    cc = connected_components(edges, src="src", dst="dst")
    assigned = (
        docs.join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "component"
            ),
        )
        .withColumn("_u", md5_uniform("component"))
        .withColumn(
            "split",
            F.when(F.col("_u") <= 0.8, F.lit("train"))
            .when(F.col("_u") <= 0.9, F.lit("val"))
            .otherwise(F.lit("test")),
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component").alias("n_clusters"),
        )
        .orderBy("split")
    )


_SESSION_PATTERNS = [
    ("signup_then_purchase", "s.*p"),
    ("three_consecutive_views", "vvv"),
    ("contains_error", "e"),
]


@register(
    "session_pattern_match",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS c,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, event_id, c,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM e
    ),
    p AS (
      SELECT user_id, sess,
             string_agg(c, '' ORDER BY ts, event_id) AS path
      FROM s GROUP BY user_id, sess
    ),
    pats(name, pat) AS (VALUES {", ".join(f"('{n}', '{p}')" for n, p in _SESSION_PATTERNS)})
    SELECT pats.name AS pattern,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN regexp_matches(p.path, pats.pat)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
    FROM p, pats
    GROUP BY pats.name
    ORDER BY pattern
    """,
    doc="MATCH_RECOGNIZE-lite sequence matching over sessions: each "
    "30-minute-gap session becomes a compact symbol string (first "
    "letter of each event type in (ts, event_id) order — unique per "
    "type in this corpus), and behavioral patterns run as ordinary "
    "regexes over the session strings — signup-then-purchase, three "
    "consecutive views, any error. The sessionization is the proven "
    "one-shuffle lag+running-sum shape (top_session_paths); the "
    "pattern probe is a broadcast of a 3-row literal relation; "
    "patterns stay in the RE2-compatible subset so Java and RE2 "
    "semantics agree.",
)
def session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES"))
    ).cast("long")
    sess = ev.withColumn(
        "sess", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = sess.groupBy("user_id", "sess").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda r: r["c"],
            ),
            "",
        ).alias("path")
    )
    pats = spark.createDataFrame(
        _SESSION_PATTERNS, "name string, pat string"
    )
    return (
        paths.crossJoin(F.broadcast(pats))
        .groupBy(F.col("name").alias("pattern"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(
                F.when(F.expr("path rlike pat"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_matched"),
        )
        .orderBy("pattern")
    )


@register(
    "revenue_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM({sql_cents('o_totalprice')}) AS BIGINT) AS r
      FROM orders GROUP BY day
    ),
    tot AS (
      SELECT CAST(SUM(r) AS BIGINT) AS total, COUNT(*) AS n FROM daily
    ),
    c AS (
      SELECT day,
             CAST(SUM(r * (SELECT n FROM tot) - (SELECT total FROM tot))
                  OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cusum
      FROM daily
    ),
    cp AS (
      SELECT day AS cp_day, abs(cusum) AS max_abs
      FROM c ORDER BY abs(cusum) DESC, day ASC LIMIT 1
    )
    SELECT strftime(cp.cp_day, '%Y-%m-%d') AS cp_day,
           CAST((SELECT n FROM tot) AS BIGINT) AS n_days,
           cp.max_abs AS max_abs_cusum,
           (SELECT CAST(SUM(r) AS DOUBLE) / COUNT(*) / 100.0
            FROM daily WHERE day <= cp.cp_day) AS mean_before,
           (SELECT CAST(SUM(r) AS DOUBLE) / COUNT(*) / 100.0
            FROM daily WHERE day > cp.cp_day) AS mean_after
    FROM cp
    """,
    doc="CUSUM change-point detection on daily revenue: cumulative sum "
    "of deviations from the global mean, computed ENTIRELY in scaled "
    "integers (deviation = r*n - total, so no mean division enters "
    "the cumulative sum) with the argmax |CUSUM| day as the detected "
    "shift point, plus level means either side. The window runs on "
    "the bounded date-grain relation; headroom documented: day-cents "
    "x day-count stays under 2^63 through sf1000-scale totals. The "
    "standard upstream-shift detector next to PSI's distributional "
    "drift.",
)
def revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window


    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(cents("o_totalprice")).alias("r"))
    )
    tot = daily.agg(
        F.sum("r").alias("total"), F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "cusum",
            F.sum(F.col("r") * F.col("n") - F.col("total")).over(w),
        )
    )
    cp = (
        c.orderBy(F.abs("cusum").desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("cp_day"),
            F.abs("cusum").alias("max_abs_cusum"),
            "n",
        )
    )
    sides = (
        daily.crossJoin(F.broadcast(cp))
        .groupBy("cp_day", "max_abs_cusum", "n")
        .agg(
            (
                F.sum(F.when(F.col("day") <= F.col("cp_day"), F.col("r")))
                .cast("double")
                / F.sum(
                    F.when(F.col("day") <= F.col("cp_day"), F.lit(1))
                )
                / F.lit(100.0)
            ).alias("mean_before"),
            (
                F.sum(F.when(F.col("day") > F.col("cp_day"), F.col("r")))
                .cast("double")
                / F.sum(F.when(F.col("day") > F.col("cp_day"), F.lit(1)))
                / F.lit(100.0)
            ).alias("mean_after"),
        )
    )
    return sides.select(
        F.date_format("cp_day", "yyyy-MM-dd").alias("cp_day"),
        F.col("n").cast("long").alias("n_days"),
        "max_abs_cusum",
        "mean_before",
        "mean_after",
    )


@register(
    "linear_decay_attribution",
    oracle=f"""
    WITH purchases AS (
      SELECT event_id AS pid, user_id, ts, {sql_cents('value')} AS v_c
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts, event_type
      FROM events WHERE event_type <> 'purchase'
    ),
    fanout AS (
      SELECT p.pid, p.v_c, t.event_type AS channel,
             {_ATTR_HORIZON_US} - (epoch_us(p.ts) - epoch_us(t.ts)) AS w
      FROM purchases p JOIN touches t
        ON p.user_id = t.user_id
       AND t.ts <= p.ts
       AND epoch_us(p.ts) - epoch_us(t.ts) <= {_ATTR_HORIZON_US}
    ),
    sw AS (
      SELECT pid, CAST(SUM(w) AS BIGINT) AS sw FROM fanout GROUP BY pid
    ),
    credits AS (
      SELECT f.channel,
             CAST(floor(CAST(f.v_c AS DOUBLE) * CAST(f.w AS DOUBLE)
                        / CAST(s.sw AS DOUBLE) * 10000 + 0.5) AS BIGINT)
               AS credit_q
      FROM fanout f JOIN sw s USING (pid)
    ),
    direct AS (
      SELECT 'direct' AS channel,
             CAST(SUM(v_c) AS BIGINT) * 10000 AS credit_q,
             COUNT(*) AS n
      FROM purchases p
      WHERE NOT EXISTS (SELECT 1 FROM fanout f WHERE f.pid = p.pid)
    )
    SELECT channel,
           COUNT(*) AS n_credits,
           CAST(SUM(credit_q) AS BIGINT) AS credited_q
    FROM credits
    GROUP BY channel
    UNION ALL
    SELECT channel, n, credit_q FROM direct WHERE n > 0
    ORDER BY channel
    """,
    doc="Multi-touch attribution with LINEAR time decay: every "
    "non-purchase event in the 24h window before a purchase earns a "
    "share of its value proportional to (horizon − age) — weights in "
    "exact integer microseconds, shares normalized per purchase, each "
    "credit quantized to hundredth-cents BEFORE the channel sum (one "
    "identical mul+div IEEE expression per row — no pow(), which is "
    "not correctly rounded cross-engine). Untouched purchases credit "
    "'direct' in full. The fan-out is an equi-join on user bounded by "
    "the horizon (the purchase_click_window scale argument); the "
    "per-purchase normalizer is one grouped sum joined back on the "
    "purchase id.",
)
def linear_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        "ts",
        cents("value").alias("v_c"),
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id", F.col("ts").alias("t_ts"), "event_type"
    )
    age_us = F.expr("timestampdiff(MICROSECOND, t_ts, ts)")
    fanout = (
        purchases.join(touches, "user_id")
        .where(
            (F.col("t_ts") <= F.col("ts"))
            & (age_us <= F.lit(_ATTR_HORIZON_US))
        )
        .select(
            "pid",
            "v_c",
            F.col("event_type").alias("channel"),
            (F.lit(_ATTR_HORIZON_US) - age_us).alias("w"),
        )
    )
    sw = fanout.groupBy("pid").agg(F.sum("w").alias("sw"))
    credit_q = F.floor(
        F.col("v_c").cast("double")
        * F.col("w").cast("double")
        / F.col("sw").cast("double")
        * F.lit(10_000)
        + F.lit(0.5)
    ).cast("long")
    credits = (
        fanout.join(sw, "pid")
        .select("channel", credit_q.alias("credit_q"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.sum("credit_q").alias("credited_q"),
        )
    )
    direct = (
        purchases.join(fanout.select("pid").distinct(), "pid", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            (F.sum("v_c") * F.lit(10_000)).alias("credited_q"),
        )
        .where(F.col("n_credits") > 0)
        .select(
            F.lit("direct").alias("channel"), "n_credits", "credited_q"
        )
    )
    return credits.unionByName(direct).orderBy("channel")


# Welch statistics assembled from exact BIGINT moments (n, S=sum cents,
# Q=sum cents^2) as one shared IEEE chain per output. S*S is computed in
# DOUBLE (the integer square would overflow BIGINT at ~5e4-cent values
# x 1e6 rows); every divide/sqrt is identically written on both sides.
_VAR = (
    "((CAST(q{i} AS DOUBLE) - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE)"
    " / CAST(n{i} AS DOUBLE)) / CAST(n{i} - 1 AS DOUBLE))"
)
_V1 = _VAR.format(i=1)
_V2 = _VAR.format(i=2)
_SE2 = f"({_V1} / CAST(n1 AS DOUBLE) + {_V2} / CAST(n2 AS DOUBLE))"
_MEAN_DIFF = (
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 100.0"
)
_T_STAT = f"(({_MEAN_DIFF}) * 100.0) / sqrt({_SE2})"
_WELCH_DF = (
    f"({_SE2} * {_SE2}) / "
    f"(({_V1} / CAST(n1 AS DOUBLE)) * ({_V1} / CAST(n1 AS DOUBLE))"
    f" / CAST(n1 - 1 AS DOUBLE)"
    f" + ({_V2} / CAST(n2 AS DOUBLE)) * ({_V2} / CAST(n2 AS DOUBLE))"
    f" / CAST(n2 - 1 AS DOUBLE))"
)


@register(
    "ab_value_t_statistic",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             (CAST(ts AS DATE) >= DATE '{_PSI_SPLIT}') AS late,
             COUNT(*) AS n,
             CAST(SUM({sql_cents('value')}) AS BIGINT) AS s,
             CAST(SUM({sql_cents('value')} * {sql_cents('value')}) AS BIGINT)
               AS q
      FROM events
      GROUP BY event_type, late
    ),
    sides AS (
      SELECT a.event_type,
             a.n AS n1, a.s AS s1, a.q AS q1,
             b.n AS n2, b.s AS s2, b.q AS q2
      FROM (SELECT * FROM m WHERE NOT late) a
      JOIN (SELECT * FROM m WHERE late) b USING (event_type)
    )
    SELECT event_type, n1, n2,
           {_MEAN_DIFF} AS mean_diff,
           {_T_STAT} AS t_stat,
           {_WELCH_DF} AS welch_df
    FROM sides
    ORDER BY event_type
    """,
    doc="Welch two-sample t statistic per event type between the two "
    "timeline halves — the A/B significance screen next to PSI's "
    "distributional drift: means, pooled-free variances and the "
    "Welch-Satterthwaite df all assemble from EXACT BIGINT moments "
    "(n, sum-cents, sum-cents-squared; one map-side-combined "
    "aggregation at (type, side) grain), then one identically-written "
    "IEEE chain per output — S*S deliberately in double (the integer "
    "square overflows BIGINT at large corpora), sqrt correctly "
    "rounded, so the engines agree bit-for-bit.",
)
def ab_value_t_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.to_date("ts") >= F.lit(_PSI_SPLIT)).alias("late"),
        cents("value").alias("v_c"),
    )
    m = ev.groupBy("event_type", "late").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_c").alias("s"),
        F.sum(F.col("v_c") * F.col("v_c")).alias("q"),
    )
    a = m.where(~F.col("late")).select(
        "event_type",
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1"),
    )
    b = m.where(F.col("late")).select(
        "event_type",
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("q").alias("q2"),
    )
    return (
        a.join(b, "event_type")
        .select(
            "event_type",
            "n1",
            "n2",
            F.expr(_MEAN_DIFF).alias("mean_diff"),
            F.expr(_T_STAT).alias("t_stat"),
            F.expr(_WELCH_DF).alias("welch_df"),
        )
        .orderBy("event_type")
    )


@register(
    "quality_decile_lift",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(list_distinct(toks)) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS score,
             md5(text) AS h
      FROM (SELECT doc_id, text, {sql_tokens('text')} AS toks
            FROM documents WHERE trim(text) <> '')
    ),
    labeled AS (
      SELECT s.doc_id, s.score,
             (COUNT(*) OVER (PARTITION BY s.h) > 1) AS is_dup
      FROM scored s
    ),
    deciled AS (
      SELECT ntile(10) OVER (ORDER BY score ASC, doc_id ASC) AS decile,
             is_dup
      FROM labeled
    ),
    per AS (
      SELECT decile, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
      FROM deciled GROUP BY decile
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
             CAST(SUM(n_dup) AS BIGINT) AS td
      FROM per
    )
    SELECT decile, n_docs, n_dup,
           CASE WHEN td = 0 THEN NULL
                ELSE (CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE))
                     / (CAST(td AS DOUBLE) / CAST(tn AS DOUBLE)) END AS lift
    FROM per, tot
    ORDER BY decile
    """,
    doc="Decile lift analysis of a curation signal: documents ranked "
    "by lexical-diversity score (distinct tokens over tokens — a "
    "repetition proxy), cut into score deciles (ntile over the TOTAL "
    "(score, doc_id) order, deterministic), and each decile's exact-"
    "duplicate rate compared to the corpus base rate — the standard "
    "gain-curve check that a quality score actually concentrates the "
    "junk before it gates a pipeline. The dup label is a window count "
    "on the text hash; every ratio is a shared IEEE divide from "
    "integer counts; the totals join broadcasts one row.",
)
def quality_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.trim(F.col("text")) != "")
        .select("doc_id", "text", tokens("text").alias("toks"))
    )
    scored = docs.select(
        "doc_id",
        (
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks").cast("double")
        ).alias("score"),
        F.md5("text").alias("h"),
    )
    labeled = scored.select(
        "doc_id",
        "score",
        (F.count(F.lit(1)).over(Window.partitionBy("h")) > 1).alias(
            "is_dup"
        ),
    )
    deciled = labeled.select(
        F.ntile(10)
        .over(Window.orderBy(F.col("score").asc(), F.col("doc_id").asc()))
        .alias("decile"),
        "is_dup",
    )
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dup"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("tn"), F.sum("n_dup").alias("td")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_docs",
            "n_dup",
            F.when(
                F.col("td") == 0, F.lit(None).cast("double")
            )
            .otherwise(
                (F.col("n_dup").cast("double") / F.col("n_docs").cast("double"))
                / (F.col("td").cast("double") / F.col("tn").cast("double"))
            )
            .alias("lift"),
        )
        .orderBy("decile")
    )


@register(
    "priority_status_chi2",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st FROM orders
    ),
    cxy AS (SELECT pri, st, COUNT(*) AS c FROM base GROUP BY pri, st),
    cx AS (SELECT pri, COUNT(*) AS cx FROM base GROUP BY pri),
    cy AS (SELECT st, COUNT(*) AS cy FROM base GROUP BY st),
    n AS (SELECT COUNT(*) AS n FROM base),
    cells AS (
      SELECT cxy.pri, cxy.st,
             CAST(cx.cx AS DOUBLE) * CAST(cy.cy AS DOUBLE)
               / CAST(n.n AS DOUBLE) AS expected,
             CAST(cxy.c AS DOUBLE) AS observed
      FROM cxy JOIN cx USING (pri) JOIN cy USING (st), n
    ),
    contribs AS (
      SELECT CAST(floor((observed - expected) * (observed - expected)
                        / expected * 1000000 + 0.5) AS BIGINT) AS q
      FROM cells
    ),
    dof AS (
      SELECT ((SELECT COUNT(*) FROM cx) - 1)
             * ((SELECT COUNT(*) FROM cy) - 1) AS dof
    )
    SELECT COUNT(*) AS n_cells,
           CAST((SELECT dof FROM dof) AS BIGINT) AS dof,
           CAST(SUM(q) AS BIGINT) AS chi2_q,
           CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / 1000000.0 AS chi2
    FROM contribs
    """,
    doc="Pearson chi-square independence test on the priority x status "
    "contingency table — the significance counterpart of the mutual-"
    "information dependence measure: expected cell counts from the "
    "margin products, per-cell (O-E)^2/E quantized to millionths "
    "before the cross-cell sum, degrees of freedom from the margin "
    "cardinalities. Same four-grouped-counts shape as the MI query "
    "(one data-sized pass, map-side combined); every float step is a "
    "shared IEEE expression.",
)
def priority_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    )
    cxy = base.groupBy("pri", "st").agg(F.count(F.lit(1)).alias("c"))
    cx = base.groupBy("pri").agg(F.count(F.lit(1)).alias("cx"))
    cy = base.groupBy("st").agg(F.count(F.lit(1)).alias("cy"))
    n = base.agg(F.count(F.lit(1)).alias("n"))
    cells = (
        cxy.join(cx, "pri")
        .join(cy, "st")
        .crossJoin(F.broadcast(n))
        .select(
            (
                F.col("cx").cast("double")
                * F.col("cy").cast("double")
                / F.col("n").cast("double")
            ).alias("expected"),
            F.col("c").cast("double").alias("observed"),
        )
    )
    q = F.floor(
        (F.col("observed") - F.col("expected"))
        * (F.col("observed") - F.col("expected"))
        / F.col("expected")
        * F.lit(1_000_000)
        + F.lit(0.5)
    ).cast("long")
    dof = cx.agg(F.count(F.lit(1)).alias("kx")).crossJoin(
        cy.agg(F.count(F.lit(1)).alias("ky"))
    ).select(((F.col("kx") - 1) * (F.col("ky") - 1)).alias("dof"))
    return (
        cells.select(q.alias("q"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("q").alias("chi2_q"),
        )
        .crossJoin(F.broadcast(dof))
        .select(
            "n_cells",
            F.col("dof").cast("long").alias("dof"),
            "chi2_q",
            (F.col("chi2_q").cast("double") / F.lit(1_000_000.0)).alias(
                "chi2"
            ),
        )
    )
