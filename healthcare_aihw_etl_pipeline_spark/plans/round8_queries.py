"""Round-8 query surface: full-text retrieval (inverted index + BM25),
weighted sampling without replacement, SCD2 dimension history, a
one-pass declarative data-quality audit, and a mergeable sampled
quantile sketch.

Every query carries a DuckDB oracle under the registry's exactness
discipline (plans/registry.py): integer arithmetic wherever a sum
crosses an aggregation boundary (quantized BM25 contributions, cents),
identically-written single IEEE expressions where a divide/ln is
unavoidable, and a TOTAL order under every LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators import quality
from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
    QSKETCH_INV_P,
    qsketch_keep,
    qsketch_keep_sql,
    sampled_rank_quantiles,
)
from healthcare_aihw_etl_pipeline_spark.operators.sampling import (
    sql_md5_uniform,
    weighted_sample_topk,
)
from healthcare_aihw_etl_pipeline_spark.operators.scd import scd2_history
from healthcare_aihw_etl_pipeline_spark.operators.search import (
    bm25_topk,
    inverted_index_stats,
    phrase_search_topk,
    sql_contrib,
    sql_tokens,
)
from healthcare_aihw_etl_pipeline_spark.plans.registry import (
    cents,
    register,
    sql_cents,
)
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

# Shared oracle CTE: per-(doc, token) term frequencies + doc length,
# the DuckDB twin of operators.search.doc_term_freqs.
_TF_CTE = f"""
    tf AS (
      SELECT doc_id, tok AS token, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (
        SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS tok
        FROM (SELECT doc_id, {sql_tokens('text')} AS toks
              FROM documents WHERE trim(text) <> '')
      )
      GROUP BY doc_id, tok
    )
"""

_BM25_TERMS = ["dup", "spark", "merge"]


@register(
    "bm25_search_top10",
    oracle=f"""
    WITH stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl
      FROM (SELECT len({sql_tokens('text')}) AS dl
            FROM documents WHERE trim(text) <> '')
    ),
    matches AS (
      SELECT doc_id, tok AS token, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (
        SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS tok
        FROM (SELECT doc_id, {sql_tokens('text')} AS toks
              FROM documents WHERE trim(text) <> '')
      )
      WHERE tok IN ('dup', 'spark', 'merge')
      GROUP BY doc_id, tok
    ),
    dfm AS (
      SELECT *, COUNT(*) OVER (PARTITION BY token) AS doc_freq
      FROM matches
    ),
    scored AS (
      SELECT m.doc_id,
             {sql_contrib('s.n_docs', 's.sum_dl')} AS contrib_q
      FROM dfm m, stats s
    )
    SELECT doc_id,
           COUNT(*) AS n_terms_matched,
           CAST(SUM(contrib_q) AS BIGINT) AS score_q,
           CAST(SUM(contrib_q) AS DOUBLE) / 10000.0 AS score
    FROM scored
    GROUP BY doc_id
    ORDER BY score_q DESC, doc_id
    LIMIT 10
    """,
    doc="BM25 top-10 over the documents corpus for the query bag "
    "{dup, spark, merge} ('dup' is the rare/high-idf term). Spark side "
    "is operators/search.bm25_topk — a TWO-scan plan: corpus stats "
    "(N, total tokens) from a projection-only pass (size(tokens), no "
    "explode, no corpus-grain shuffle), and a term-frequency path that "
    "filters to the query terms BEFORE its groupBy so only posting-"
    "list rows shuffle; per-term document frequency is a count() "
    "window over those grouped rows (no third scan, no join-back). "
    "Ranking is a TakeOrderedAndProject. Per-(doc,term) contributions "
    "are quantized to integer 1e-4 BEFORE the per-doc sum — partial-"
    "agg order cannot move the score and the oracle replays the "
    "identical expression tree bit-for-bit.",
)
def bm25_search_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", _BM25_TERMS, k=10)


@register(
    "inverted_index_top20",
    oracle=f"""
    WITH {_TF_CTE},
    ranked AS (
      SELECT token, doc_id, tf,
             row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
      FROM tf
    )
    SELECT token,
           COUNT(*) AS doc_freq,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           string_agg(CASE WHEN rn <= 5 THEN CAST(doc_id AS VARCHAR) END,
                      ',' ORDER BY doc_id) AS posting_preview
    FROM ranked
    GROUP BY token
    ORDER BY doc_freq DESC, total_tf DESC, token
    LIMIT 20
    """,
    doc="Inverted-index statistics: top-20 terms by document frequency "
    "with total term frequency and a capped posting preview (5 smallest "
    "doc ids, comma-joined — a bounded deterministic column; the full "
    "posting list is a query, not a column). Built PARTITION-LOCALLY: "
    "docs round-robin so each doc's tokens stay in one partition, the "
    "level-1 (partition, token) aggregate completes map-side (local "
    "distinct-doc set, bounded by docs-per-partition — a sizing "
    "constant, not a data quantity), and the plan's only exchange "
    "carries (partition, token)-grain rows with <=5-id candidate "
    "arrays. No stopword posting list is ever sorted or materialized "
    "on one node (the row_number-window form this replaced sorted "
    "every posting per token: 9.2 s vs 2.3 s at sf10, where DuckDB "
    "takes 2.0 s). Total order under the LIMIT: (doc_freq, total_tf, "
    "token).",
)
def inverted_index_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        inverted_index_stats(docs, "text", "doc_id", preview_docs=5)
        .orderBy(
            F.col("doc_freq").desc(),
            F.col("total_tf").desc(),
            F.col("token").asc(),
        )
        .limit(20)
    )


@register(
    "weighted_sample_orders",
    oracle=f"""
    WITH w AS (
      SELECT o_orderkey,
             {sql_cents('o_totalprice')} AS weight_cents,
             {sql_md5_uniform('o_orderkey')} AS u
      FROM orders
      WHERE CAST({sql_cents('o_totalprice')} AS DOUBLE) > 0
    )
    SELECT o_orderkey, weight_cents, u
    FROM w
    ORDER BY ln(u) / CAST(weight_cents AS DOUBLE) DESC, o_orderkey
    LIMIT 20
    """,
    doc="Efraimidis-Spirakis A-ES weighted sample (without replacement) "
    "of 20 orders, weight = order value in exact cents. u is an md5-"
    "derived uniform — (52 hash bits + 1)/2^52, EXACT in double — so "
    "the sampled set is reproducible across engines/partitionings/"
    "reruns (the property a dataset-lineage audit needs; no RNG). Rank "
    "key ln(u)/w is monotone-equivalent to the textbook u^(1/w); the "
    "plan is one scan + TakeOrderedAndProject — per-partition top-k, "
    "no global sort, no shuffle of the full table. The emitted columns "
    "(key, weight, u) are all integer-or-exact — hash-stable; the libm "
    "ln only ORDERS rows, where a last-ulp divergence would need two "
    "keys within ~1e-16 relative to flip membership.",
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("weight_cents")
    )
    return weighted_sample_topk(o, "o_orderkey", "weight_cents", k=20)


@register(
    "scd2_user_tier_history",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value < 10.0 THEN 'low'
                  WHEN value < 100.0 THEN 'mid'
                  ELSE 'high' END AS tier
      FROM events
    ),
    m AS (
      SELECT user_id, tier, ts, event_id,
             lag(tier) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
      FROM e
    ),
    s AS (
      SELECT user_id, tier, ts, event_id FROM m
      WHERE prev IS NULL OR prev <> tier
    )
    SELECT user_id, tier, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL) AS is_current
    FROM s
    """,
    doc="SCD type-2 history (operators/scd.scd2_history) of each "
    "user's value tier over event time: one row per maximal run of "
    "equal tier with half-open [valid_from, valid_to) and an is_current "
    "flag — the canonical warehouse dimension-maintenance op the "
    "reference's two-tier staging/clean contract stops short of. Pure "
    "streaming window algebra, ONE shuffle on user_id; determinism "
    "from the (ts, event_id) total order within each user.",
)
def scd2_user_tier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") < 10.0, "low")
        .when(F.col("value") < 100.0, "mid")
        .otherwise("high")
        .alias("tier"),
    )
    return scd2_history(e, "user_id", "tier", "ts", "event_id")


@register(
    "data_quality_audit",
    oracle="""
    WITH agg AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS ship_ok,
             COUNT(DISTINCT (l_orderkey, l_linenumber)) AS key_distinct,
             SUM(CASE WHEN l_quantity IS NOT NULL
                       AND (l_quantity < 1.0 OR l_quantity > 50.0)
                      THEN 1 ELSE 0 END) AS qty_bad,
             SUM(CASE WHEN l_discount IS NOT NULL
                       AND (l_discount < 0.0 OR l_discount > 0.1)
                      THEN 1 ELSE 0 END) AS disc_bad,
             SUM(CASE WHEN l_returnflag IS NOT NULL
                       AND l_returnflag NOT IN ('A', 'N', 'R')
                      THEN 1 ELSE 0 END) AS rf_bad
      FROM lineitem
    ),
    orphans AS (
      SELECT COUNT(*) AS n_orphan
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT check_name, metric, passed FROM (
      SELECT 'accepted_values(l_returnflag)' AS check_name,
             CAST(rf_bad AS DOUBLE) AS metric, rf_bad = 0 AS passed
      FROM agg
      UNION ALL
      SELECT 'completeness(l_shipdate)',
             CAST(ship_ok AS DOUBLE) / CAST(n AS DOUBLE), ship_ok = n
      FROM agg
      UNION ALL
      SELECT 'in_range(l_discount,0.0,0.1)',
             CAST(disc_bad AS DOUBLE), disc_bad = 0 FROM agg
      UNION ALL
      SELECT 'in_range(l_quantity,1.0,50.0)',
             CAST(qty_bad AS DOUBLE), qty_bad = 0 FROM agg
      UNION ALL
      SELECT 'referential(l_orderkey->orders)',
             CAST(n_orphan AS DOUBLE), n_orphan = 0 FROM orphans
      UNION ALL
      SELECT 'uniqueness(l_orderkey,l_linenumber)',
             CAST(key_distinct AS DOUBLE) / CAST(n AS DOUBLE),
             key_distinct = n
      FROM agg
    )
    ORDER BY check_name
    """,
    doc="Deequ-style declarative expectation suite "
    "(operators/quality.py) over lineitem: completeness, composite-key "
    "uniqueness, numeric ranges, accepted values — ALL compiled into "
    "ONE aggregation pass (map-side partials, scalar row out, unpivoted "
    "to report rows via stack) — plus a referential orphan check "
    "against orders as its own anti-join aggregate, unioned in. At "
    "100 TB the whole audit costs one scan + one anti join; metrics "
    "are exact integer counts with a single final IEEE divide, so the "
    "report is hash-verifiable.",
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    checks = quality.audit(
        li,
        [
            quality.completeness("l_shipdate"),
            quality.uniqueness("l_orderkey", "l_linenumber"),
            quality.in_range("l_quantity", 1.0, 50.0),
            quality.in_range("l_discount", 0.0, 0.1),
            quality.accepted_values("l_returnflag", ["A", "N", "R"]),
        ],
    )
    ref = quality.referential_orphans(
        li, orders, "l_orderkey", "o_orderkey",
        "referential(l_orderkey->orders)",
    )
    return checks.unionByName(ref).orderBy("check_name")


@register(
    "quantile_sketch_prices",
    oracle=f"""
    WITH base AS (
      SELECT {sql_cents('l_extendedprice')} AS price_cents,
             CAST(l_orderkey AS VARCHAR) || ':'
               || CAST(l_linenumber AS VARCHAR) AS rid
      FROM lineitem
    ),
    s AS (
      SELECT * FROM base WHERE {qsketch_keep_sql('md5(rid)')}
    ),
    ranked AS (
      SELECT price_cents, rid,
             row_number() OVER (ORDER BY price_cents, rid) AS rn
      FROM s
    ),
    n AS (SELECT COUNT(*) AS sample_n FROM s),
    qs(q) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                     (CAST(0.75 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                     (CAST(0.99 AS DOUBLE)))
    SELECT q, price_cents, sample_n
    FROM ranked, n, qs
    WHERE rn = CAST(floor(CAST(sample_n - 1 AS DOUBLE) * q) AS BIGINT) + 1
    ORDER BY q
    """,
    doc="Mergeable quantile sketch (operators/portable_sketch."
    "sampled_rank_quantiles): md5 threshold sample at p = 1/"
    f"{QSKETCH_INV_P}, then EXACT rank selection over the sample "
    "(row_number == floor((n-1)q)+1 under the total order "
    "(price_cents, rid)) — integer-exact, no interpolation, no "
    "cross-engine float drift. The sample is the sketch: union-"
    "mergeable and deterministic (md5, no RNG); its global sort is "
    "sketch-sized by construction (pick p for the executor sort "
    "budget — the same sample-fit contract as the IVF quantizer).",
)
def quantile_sketch_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        cents("l_extendedprice").alias("price_cents"),
        F.concat_ws(
            ":",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
    )
    sample = li.where(qsketch_keep(F.md5(F.col("rid"))))
    return sampled_rank_quantiles(
        sample, "price_cents", "rid", [0.25, 0.5, 0.75, 0.9, 0.99]
    ).orderBy("q")


@register(
    "scd2_temporal_join",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN value < 10.0 THEN 'low'
                  WHEN value < 100.0 THEN 'mid'
                  ELSE 'high' END AS tier
      FROM events
    ),
    m AS (
      SELECT user_id, tier, ts, event_id,
             lag(tier) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
      FROM e
    ),
    s AS (
      SELECT user_id, tier, ts, event_id FROM m
      WHERE prev IS NULL OR prev <> tier
    ),
    dim AS (
      SELECT user_id, tier, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM s
    )
    SELECT d.tier,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM e JOIN dim d
      ON e.user_id = d.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    GROUP BY d.tier
    ORDER BY d.tier
    """,
    doc="Point-in-time (temporal) join of the event facts against the "
    "SCD2 tier dimension built by scd2_user_tier_history: each event "
    "joins the dimension version whose half-open validity interval "
    "covers its timestamp — THE consumption pattern SCD2 exists for. "
    "Self-verifying semantics: an event's joined tier must equal its "
    "own computed tier (each event falls in exactly one interval), so "
    "the aggregate doubles as an interval-correctness proof (n_events "
    "== |events|, no duplicates from overlapping intervals). Plan: "
    "equi-join on user_id (one shuffle pair) with the range predicate "
    "applied as a post-join filter inside SortMergeJoin — no "
    "CartesianProduct; the dimension side is runs-only (much smaller "
    "than facts).",
)
def scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") < 10.0, "low")
        .when(F.col("value") < 100.0, "mid")
        .otherwise("high")
        .alias("tier"),
    )
    dim = scd2_history(e, "user_id", "tier", "ts", "event_id").select(
        F.col("user_id").alias("d_user_id"),
        F.col("tier").alias("d_tier"),
        "valid_from",
        "valid_to",
    )
    joined = e.join(
        dim,
        (F.col("user_id") == F.col("d_user_id"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return (
        joined.groupBy(F.col("d_tier").alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("tier")
    )


@register(
    "phrase_search_top10",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {sql_tokens('text')} AS t
      FROM documents WHERE trim(text) <> ''
    ),
    posed AS (
      SELECT doc_id, t[i] AS token, i AS pos
      FROM toks, UNNEST(range(1, len(t) + 1)) AS x(i)
      WHERE t[i] IN ('window', 'join')
    ),
    p AS (
      SELECT doc_id, token, list_sort(list(pos)) AS positions
      FROM posed GROUP BY doc_id, token
    ),
    hits AS (
      SELECT a.doc_id,
             len(list_intersect(
                 list_transform(a.positions, x -> x + 1),
                 b.positions)) AS n_hits
      FROM p a JOIN p b ON a.doc_id = b.doc_id
      WHERE a.token = 'window' AND b.token = 'join'
    )
    SELECT doc_id, n_hits FROM hits
    WHERE n_hits > 0
    ORDER BY n_hits DESC, doc_id
    LIMIT 10
    """,
    doc="Exact-phrase search ('window join') over positional postings "
    "(operators/search.phrase_search_topk): 1-based token positions "
    "per (doc, term) — filtered to the phrase terms BEFORE the groupBy "
    "so only posting-list rows shuffle — then the classic positional-"
    "index intersection: size(array_intersect(pos[t0]+1, pos[t1])) on "
    "an equi-join by doc id. Integer set algebra end-to-end (no "
    "floats), total order (n_hits desc, doc_id) under the LIMIT.",
)
def phrase_search_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return phrase_search_topk(docs, "text", "doc_id", ["window", "join"], k=10)


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bigram) with multiplicity, lowercase tokenization shared
    with the search family; the token array is let-bound (one split per
    row — functions.scalar.bind documents the O(len²) trap)."""
    from healthcare_aihw_etl_pipeline_spark.functions.scalar import bind
    from healthcare_aihw_etl_pipeline_spark.operators.search import tokens

    docs = load_table(spark, sf_dir, "documents")
    grams = bind(
        tokens("text"),
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return (
        docs.where(F.trim(F.col("text")) != "")
        .select("doc_id", grams.alias("_g"))
        .select("doc_id", F.explode("_g").alias("bigram"))
    )


# Identical ln-probability expression on both engines: add-1 smoothed
# bigram model ln((c12 + 1) / (c1 + V)), quantized to integer millionths
# BEFORE the per-document sum so partial-agg order cannot move totals.
_SQL_LP_Q = (
    "CAST(floor(ln((CAST(c12 AS DOUBLE) + 1.0) / "
    "(CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000.0 + 0.5) "
    "AS BIGINT)"
)


@register(
    "doc_bigram_nll_top20",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {sql_tokens('text')} AS t
      FROM documents WHERE trim(text) <> ''
    ),
    grams AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
      FROM toks, UNNEST(range(1, len(t))) AS x(i)
      WHERE len(t) >= 2
    ),
    c12 AS (SELECT bigram, COUNT(*) AS c12 FROM grams GROUP BY bigram),
    c1 AS (
      SELECT tok AS w1, COUNT(*) AS c1
      FROM (SELECT UNNEST(t) AS tok FROM toks)
      GROUP BY tok
    ),
    vocab AS (SELECT COUNT(*) AS v FROM c1),
    scored AS (
      SELECT g.doc_id,
             {_SQL_LP_Q} AS lp_q
      FROM grams g
      JOIN c12 USING (bigram)
      JOIN c1 ON c1.w1 = string_split(g.bigram, ' ')[1], vocab
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(-SUM(lp_q) AS BIGINT) AS nll_q,
           (CAST(-SUM(lp_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
             / 1000000.0 AS avg_nll
    FROM scored
    GROUP BY doc_id
    ORDER BY avg_nll DESC, doc_id
    LIMIT 20
    """,
    doc="Perplexity-style quality filtering: score every document by "
    "its average negative log-likelihood under an add-1-smoothed "
    "BIGRAM language model trained on the corpus itself, and surface "
    "the 20 most out-of-distribution documents — the classic LM-based "
    "filter of pretraining pipelines (surprising docs are boilerplate, "
    "garbled text, or contamination). Exactness discipline: per-bigram "
    "ln-probabilities are quantized to integer millionths BEFORE the "
    "per-doc sum (identical expression both engines; no exp — avg NLL "
    "orders the same as perplexity without the extra libm call). "
    "Scale shape: two corpus-grain count aggregates (map-side "
    "combined) + one shuffle join of doc bigrams against the model "
    "keyed on the bigram, then a TakeOrderedAndProject; the model "
    "tables are data-bounded (vocab², typically ≪ corpus) and the "
    "unigram side broadcasts when small.",
)
def doc_bigram_nll_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = _doc_bigrams(spark, sf_dir)
    c12 = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    unis = (
        load_table(spark, sf_dir, "documents")
        .where(F.trim(F.col("text")) != "")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w1")
        )
    )
    c1 = unis.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = c1.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        grams.join(c12, "bigram")
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("lp_q", F.expr(_SQL_LP_Q))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("lp_q")).cast("long").alias("nll_q"),
        )
        .withColumn(
            "avg_nll",
            (
                F.col("nll_q").cast("double")
                / F.col("n_bigrams").cast("double")
            )
            / F.lit(1000000.0),
        )
        .orderBy(F.col("avg_nll").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@register(
    "supplier_balance_distribution",
    oracle=f"""
    WITH s AS (
      SELECT s_suppkey, s_nationkey,
             {sql_cents('s_acctbal')} AS bal_cents
      FROM supplier
    )
    SELECT s_nationkey, s_suppkey, bal_cents,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           ntile(4) OVER w AS quartile
    FROM s
    WINDOW w AS (PARTITION BY s_nationkey
                 ORDER BY bal_cents, s_suppkey)
    ORDER BY s_nationkey, bal_cents, s_suppkey
    """,
    doc="Distribution-position window functions — percent_rank, "
    "cume_dist, ntile — over supplier balances within every nation: "
    "the remaining SQL:2003 window-function surface "
    "(rank/dense_rank/row_number/lag/lead/nth_value/first/last are "
    "covered elsewhere). Both ratios are single integer-over-integer "
    "IEEE divides ((rank-1)/(n-1), rows/n) so the doubles hash "
    "identically; (bal_cents, s_suppkey) makes the order total, which "
    "ntile requires for a deterministic bucket assignment.",
)
def supplier_balance_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    s = (
        load_table(spark, sf_dir, "supplier").select(
            "s_nationkey",
            "s_suppkey",
            cents("s_acctbal").alias("bal_cents"),
        )
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("bal_cents").asc(), F.col("s_suppkey").asc()
    )
    return (
        s.select(
            "s_nationkey",
            "s_suppkey",
            "bal_cents",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("s_nationkey", "bal_cents", "s_suppkey")
    )


@register(
    "copurchase_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT x AS node, COUNT(*) AS d
      FROM (SELECT u AS x FROM pairs UNION ALL SELECT v FROM pairs)
      GROUP BY x
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS s,
             CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS t
      FROM pairs p
      JOIN deg du ON du.node = p.u
      JOIN deg dv ON dv.node = p.v
    ),
    wedges AS (
      SELECT e1.t AS v, e2.t AS w
      FROM oriented e1 JOIN oriented e2
        ON e1.s = e2.s AND e1.t < e2.t
    ),
    closing AS (
      SELECT DISTINCT least(s, t) AS v, greatest(s, t) AS w
      FROM oriented
    )
    SELECT COUNT(*) AS n_triangles,
           (SELECT COUNT(*) FROM pairs) AS n_edges,
           (SELECT COUNT(*) FROM deg) AS n_nodes
    FROM wedges w
    WHERE EXISTS (SELECT 1 FROM closing c
                  WHERE c.v = w.v AND c.w = w.w)
    """,
    # Large-scale alternative oracle (WINDOW_SF10 replay; the primary
    # above stays the independence check at sf0.01). Two re-shapes
    # make DuckDB feasible where the r11 attempts failed: (1) pairs
    # from a row-local basket-array fan-out instead of the lineitem
    # self-join (whose output inflates by per-order line multiplicity
    # before DISTINCT collapses it — the temp-disk exhaustion), and
    # (2) the closing as a streaming JOIN-counted wedge probe (two
    # pipelined hash joins feeding COUNT(*) — nothing materialized)
    # instead of EXISTS over a DISTINCT closing set. Measured 365.7 s
    # at sf1 by a one-off probe (OPTIMIZATION_r16.md, alt oracles),
    # where both prior DuckDB forms exceeded 420 s; still the wedge-space shape, so
    # sf10 runs ~10x — a one-off uncapped rung, not the 25-min batch.
    alt_oracle="""
    WITH baskets AS (
      SELECT list_sort(list(DISTINCT l_partkey)) AS ps
      FROM lineitem GROUP BY l_orderkey
      HAVING COUNT(DISTINCT l_partkey) >= 2
    ),
    expl AS (
      SELECT ps[i] AS u, ps[j] AS v
      FROM baskets,
           LATERAL (SELECT UNNEST(range(1, len(ps))) AS i),
           LATERAL (SELECT UNNEST(range(i + 1, len(ps) + 1)) AS j)
    ),
    pairs AS (SELECT DISTINCT u, v FROM expl),
    deg AS (
      SELECT x AS node, COUNT(*) AS d
      FROM (SELECT u AS x FROM pairs UNION ALL SELECT v FROM pairs)
      GROUP BY x
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS s,
             CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS t
      FROM pairs p
      JOIN deg du ON du.node = p.u
      JOIN deg dv ON dv.node = p.v
    ),
    closing AS (
      SELECT least(s, t) AS v, greatest(s, t) AS w FROM oriented
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM oriented e1
      JOIN oriented e2 ON e1.s = e2.s AND e1.t < e2.t
      JOIN closing e3 ON e3.v = e1.t AND e3.w = e2.t
    )
    SELECT n_triangles,
           (SELECT COUNT(*) FROM pairs) AS n_edges,
           (SELECT COUNT(*) FROM deg) AS n_nodes
    FROM tri
    """,
    doc="Distributed triangle counting over the part co-purchase graph "
    "(parts sharing an order are adjacent), using the DEGREE-"
    "ORIENTATION trick that makes triangle counting feasible at "
    "scale: every undirected edge is directed from its (degree, id)-"
    "smaller endpoint, so each vertex's out-degree is O(sqrt(|E|)) on "
    "skewed graphs and the wedge join (E ⋈ E on source) cannot "
    "explode on hub vertices — the naive undirected wedge join is "
    "quadratic in the hub degree. Each triangle is counted exactly "
    "once (its unique (deg,id)-minimal vertex roots it) by the "
    "EDGE-ITERATOR form: per oriented edge, a row-local intersection "
    "of the two endpoints' out-adjacency arrays (each bounded by the "
    "orientation's O(sqrt|E|) out-degree cap) — open wedges are never "
    "materialized or shuffled (the wedge-join form moved 411M open "
    "wedges at the current sf1 graph for a triangle count three "
    "orders smaller). All equi-joins on integer keys; edge building "
    "is per-order and bounded by order size — a row-local "
    "basket-array fan-out (the assoc_rules discipline: one shuffle "
    "to the order grain, pairs explode inside the row), never a "
    "corpus self-join, with the pair and oriented relations "
    "checkpointed once for their multiple consumers. The oracle "
    "keeps the wedge+EXISTS formulation — same count, independently "
    "derived.",
)
def copurchase_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # Row-local basket-array pair fan-out (the assoc_rules_top20
    # discipline): ONE shuffle to the order grain, then C(lines,2)
    # pairs explode inside the row — no corpus self-join, whose output
    # inflates by the per-order line multiplicity before the distinct
    # gets to collapse it. Checkpointed: the pair relation feeds deg,
    # the orientation join AND the n_edges aggregate — uncheckpointed,
    # the whole build re-ran once per consumer branch.
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps") >= 2)
    )
    expl = baskets.select(
        "ps", F.posexplode("ps").alias("i", "u")
    ).select(
        F.col("u"),
        F.explode(
            F.slice(
                F.col("ps"),
                F.col("i") + F.lit(2),
                F.size("ps") - F.col("i") - F.lit(1),
            )
        ).alias("v"),
    )
    pairs = expl.distinct().localCheckpoint(eager=True)
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    forward = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # Oriented edges feed BOTH wedge sides and the closing-edge probe:
    # materialize once (slim integer pairs).
    oriented = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(forward, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(forward, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    # Edge-iterator closing (replaces wedge materialization): per
    # oriented edge (s, t), triangles rooted here = |N+(s) ∩ N+(t)| —
    # a ROW-LOCAL array intersection of two out-adjacency arrays, each
    # bounded by the orientation's O(sqrt|E|) out-degree cap. Each
    # triangle a→b, a→c, b→c counts exactly once, at edge (a, b)
    # (c is the unique shared out-neighbor; the other two edges fail
    # the orientation test). The old wedge join materialized and
    # shuffled every OPEN wedge before the closing probe — 411M rows
    # at the current sf1 graph (12M edges, max out-degree 97) for a
    # triangle count three orders smaller; this form shuffles only
    # the 12M-edge relation joined twice against the 200k-row
    # adjacency relation.
    adj = oriented.groupBy("s").agg(F.collect_list("t").alias("nbrs"))
    tri = (
        oriented.join(
            adj.select(F.col("s"), F.col("nbrs").alias("ns")), "s"
        )
        .join(
            adj.select(
                F.col("s").alias("t"), F.col("nbrs").alias("nt")
            ),
            "t",
            "left",
        )
        .select(
            F.when(F.col("nt").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect("ns", "nt")))
            .alias("c")
        )
        .agg(F.sum("c").cast("long").alias("n_triangles"))
    )
    edges_n = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes_n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return tri.crossJoin(F.broadcast(edges_n)).crossJoin(
        F.broadcast(nodes_n)
    )


@register(
    "pivot_dynamic_priority",
    oracle=f"""
    WITH base AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
             o_orderpriority,
             {sql_cents('o_totalprice')} AS cents
      FROM orders
    )
    SELECT order_year,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN cents END) AS BIGINT) AS "1-URGENT",
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN cents END) AS BIGINT) AS "2-HIGH",
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN cents END) AS BIGINT) AS "3-MEDIUM",
           CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN cents END) AS BIGINT) AS "4-NOT SPECIFIED",
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN cents END) AS BIGINT) AS "5-LOW"
    FROM base
    GROUP BY order_year
    ORDER BY order_year
    """,
    doc="DYNAMIC pivot (operators/reshape.pivot_sum_dynamic): the pivot "
    "domain (order priorities) is discovered from the data behind a "
    "cardinality cap — the inherent driver-side collect of any dynamic "
    "pivot, BOUNDED by limit(cap+1) pushed into the distinct scan and "
    "raising past the cap rather than materializing unbounded columns. "
    "Discovered values are sorted so the schema is deterministic; the "
    "pivot itself is then the single-shuffle explicit-values form (R2). "
    "The oracle pins the expected domain — the discovery must converge "
    "to exactly these five columns at any SF.",
)
def pivot_dynamic_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.reshape import (
        pivot_sum_dynamic,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderpriority",
        cents("o_totalprice").alias("cents"),
    )
    return pivot_sum_dynamic(
        o, "order_year", "o_orderpriority", "cents"
    ).orderBy("order_year")


_SCREEN_QUERIES = [
    ("q1", ["dup", "spark"]),
    ("q2", ["merge", "window", "join"]),
    ("q3", ["vector", "stream"]),
]


@register(
    "bm25_eval_screen_top3",
    oracle=f"""
    WITH q(qid, token) AS (VALUES
      ('q1', 'dup'), ('q1', 'spark'),
      ('q2', 'merge'), ('q2', 'window'), ('q2', 'join'),
      ('q3', 'vector'), ('q3', 'stream')
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl
      FROM (SELECT len({sql_tokens('text')}) AS dl
            FROM documents WHERE trim(text) <> '')
    ),
    tf AS (
      SELECT doc_id, tok AS token, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (
        SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS tok
        FROM (SELECT doc_id, {sql_tokens('text')} AS toks
              FROM documents WHERE trim(text) <> '')
      )
      WHERE tok IN (SELECT token FROM q)
      GROUP BY doc_id, tok
    ),
    dfm AS (
      SELECT *, COUNT(*) OVER (PARTITION BY token) AS doc_freq FROM tf
    ),
    scored AS (
      SELECT q.qid, m.doc_id,
             {sql_contrib('s.n_docs', 's.sum_dl')} AS contrib_q
      FROM dfm m JOIN q USING (token), stats s
    ),
    per_doc AS (
      SELECT qid, doc_id,
             COUNT(*) AS n_terms_matched,
             CAST(SUM(contrib_q) AS BIGINT) AS score_q,
             CAST(SUM(contrib_q) AS DOUBLE) / 10000.0 AS score
      FROM scored GROUP BY qid, doc_id
    )
    SELECT qid, doc_id, n_terms_matched, score_q, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY score_q DESC, doc_id) AS rank
      FROM per_doc
    )
    WHERE rank <= 3
    ORDER BY qid, rank
    """,
    doc="BATCHED BM25 retrieval (operators/search.bm25_batch_topk): "
    "three query bags screened against the corpus in ONE pass — the "
    "contamination-screening shape, where an eval suite's questions "
    "are checked against training data at once instead of one corpus "
    "scan per question. Corpus term frequencies are computed once for "
    "the union of query vocabularies (semi-join prune before the "
    "groupBy), fanned out to (qid, doc) by an equi-join on token, and "
    "ranked per query by a row_number window (bounded buffering). "
    "Quantized contributions keep the scores hash-exact.",
)
def bm25_eval_screen_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.search import (
        bm25_batch_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    qrows = [(qid, t) for qid, terms in _SCREEN_QUERIES for t in terms]
    queries = spark.createDataFrame(qrows, "qid string, token string")
    return bm25_batch_topk(docs, "text", "doc_id", queries, k=3)
