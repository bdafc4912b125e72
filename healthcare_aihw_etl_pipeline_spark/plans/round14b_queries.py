"""Round-14 continuation query families.

Five new families, each closing a named gap in the catalog:

- duplicate-SPAN statistics (``dup_span_stats``): the document-level
  "how much of this doc is duplicated text" measure of suffix-array
  training-data dedup (Lee et al. 2022, "Deduplicating Training Data
  Makes Language Models Better"), re-expressed relationally: token
  k-grams hash portably, k-grams seen in >= 2 distinct documents mark
  their positions duplicated, and per document the marked positions
  merge into MAXIMAL spans (gaps-and-islands) whose covered-token sum
  is the duplicated-token count. ``duplicate_ngram_top20`` ranks the
  shared n-grams themselves; this query answers the per-document
  question a dedup policy actually gates on (drop/trim docs whose
  duplicated fraction exceeds a threshold).

- Benjamini-Hochberg FDR (``bh_fdr_nation_tests``): the
  multiple-testing correction missing from the statistics families —
  25 simultaneous Welch z-tests (nation vs rest on customer balance),
  normal tail probabilities through one shared Abramowitz-Stegun
  26.2.17 expression, and the BH step-up rule decided in EXACT integer
  arithmetic (p_ppb * m * 20 <= rank * 10^9 ⟺ p <= 0.05 * rank / m).

- regression discontinuity (``rdd_order_value``): completes the causal
  family (DiD / IPW / stratified ATT / CUPED already shipped) — local
  linear fits on both sides of a date cutoff from exact BIGINT
  moments, the jump estimated by one identically-written double
  formula (the exact-moment OLS discipline of segmented_trend /
  conformal).

- association rules (``assoc_rules_top20``): confidence/lift rule
  mining over the co-purchase pair relation
  (part_pair_cooccurrence's support counts are the input grain) —
  both rule directions, exact ppm confidence and lift via integer
  `div`, deterministic top-20.

- Markov-chain attribution (``markov_attribution``): removal-effect
  channel credit (Anderl et al. 2014) — the data-driven attribution
  standard beside the position heuristics; bounded-horizon absorption
  probabilities in exact integer ppb, all removals computed in one
  (removed, state) relation, statically unrolled in the oracle.

Reference lineage: the reference app publishes ranked per-entity
analytics views from grouped relations (/root/reference/main.py:93-176,
streamlit_app.py:108-152); these are the same grouped-relation
discipline applied to dedup policy, multiple testing, causal reads and
basket analysis. Same contract as every plans module: idiomatic
PySpark paired with a DuckDB oracle whose arithmetic is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators.gates import at_most, collect_at_most
from healthcare_aihw_etl_pipeline_spark.operators.search import sql_tokens, tokens
from healthcare_aihw_etl_pipeline_spark.plans.registry import register, sql_cents
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Duplicate-span statistics (suffix-array-dedup measure, relationally)

# Span unit: 8-token grams — the Lee et al. operating point scaled to
# the whitespace-token grain used corpus-wide. 60-bit portable md5
# prefix (the simhash-half width): the first planted sf10 run at
# 48 bits saw the expected ~(3e7)^2/2^49 birthday collisions flip the
# top-20 — at 60 bits the same corpus expects ~4e-4 colliding pairs,
# and ~4e5 in 1e12 grams (rate 4e-7) at the 100 TB grain.
_DS_K = 8
_DS_TOP = 20
# One-pass persist gate: the 32 B/row position stream fits memory up to
# bench-scale corpora; past it both branches recompute the hash scan.
_DS_PERSIST_MAX_DOCS = 10_000_000

_DS_GRAM_SQL = " || ' ' || ".join(f"t[i+{j + 1}]" for j in range(_DS_K))


@register(
    "dup_span_stats",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, {sql_tokens('text')} AS t
      FROM documents WHERE trim(text) <> ''
    ),
    kh AS (
      SELECT doc_id, len(t) AS n_tokens,
             list_transform(
               range(0, len(t) - {_DS_K - 1}),
               i -> CAST('0x' || substr(md5({_DS_GRAM_SQL}), 1, 15)
                    AS BIGINT)) AS h
      FROM docs WHERE len(t) >= {_DS_K}
    ),
    pos AS (
      SELECT doc_id, n_tokens,
             UNNEST(range(0, len(h))) AS p, UNNEST(h) AS h
      FROM kh
    ),
    dup AS (
      SELECT h FROM pos GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dpos AS (
      SELECT doc_id, n_tokens, p FROM pos JOIN dup USING (h)
    ),
    brk AS (
      SELECT doc_id, n_tokens, p,
             CASE WHEN lag(p) OVER w IS NULL
                       OR p - lag(p) OVER w > {_DS_K} THEN 1 ELSE 0
             END AS b
      FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ),
    isl AS (
      SELECT doc_id, n_tokens, p,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM brk
    ),
    spans AS (
      SELECT doc_id, n_tokens, island,
             MAX(p) - MIN(p) + {_DS_K} AS span_tokens
      FROM isl GROUP BY doc_id, n_tokens, island
    ),
    perdoc AS (
      SELECT doc_id, n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
             CAST(MAX(span_tokens) AS BIGINT) AS max_span
      FROM spans GROUP BY doc_id, n_tokens
    )
    SELECT doc_id, n_tokens, n_spans, dup_tokens, max_span,
           dup_tokens * 1000000 // n_tokens AS dup_ppm
    FROM perdoc
    ORDER BY dup_ppm DESC, doc_id LIMIT {_DS_TOP}
    """,
    doc="Duplicate-span statistics — the per-document duplicated-text "
    "measure of suffix-array training-data dedup (Lee et al. 2022), "
    f"relationally: every {_DS_K}-token gram hashes through a portable "
    "60-bit md5 prefix; grams appearing in >= 2 DISTINCT documents "
    "mark their start positions duplicated; per document the marked "
    f"positions merge into maximal spans (two marked starts <= {_DS_K} "
    "apart cover a contiguous token range, so the island's covered "
    f"tokens are last - first + {_DS_K} exactly); output is the top-"
    f"{_DS_TOP} documents by duplicated-token fraction (integer ppm) "
    "with span counts and the longest span. This is the statistic a "
    "dedup policy gates on — duplicate_ngram_top20 ranks the shared "
    "grams themselves, winnow_shared_fingerprints samples them; "
    "neither says how much of a GIVEN document is duplicated text. "
    "Scale shape: gram hashing is a row-local higher-order expression "
    "(zero shuffle); the duplicated-gram set is one map-side-combined "
    "groupBy over (hash, doc) partials; the position stream shuffles "
    "ONCE on hash for the semi-join back (hot boilerplate hashes are "
    "exactly the AQE skew-join case) and once on doc_id for the "
    "island window — both key-partitioned, never all-pairs, and the "
    "span/doc aggregates collapse ~K-fold before anything global. "
    "The hashing pass is shared ADAPTIVELY between the two branches "
    "(footer row count, the ensure_min_splits discipline): bench-"
    "scale corpora lazily persist the slim position stream so the "
    "md5 scan — ~2/3 of the wall — runs once; at web scale the "
    "k-gram stream is token-stream-sized and a checkpoint of it "
    "would dwarf the row-local recompute, so the large path "
    "recomputes per branch. Dup-gram detection is the map-side-"
    "combinable min(doc_id) != max(doc_id) in both branches.",
)
def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.layout import (
        ensure_min_splits,
    )

    docs = load_table(spark, sf_dir, "documents")

    def _gram_hashes(t):
        def _h(i):
            gram = F.concat_ws(
                " ",
                *[F.element_at(t, i + F.lit(j + 1)) for j in range(_DS_K)],
            )
            return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast(
                "long"
            )

        return F.transform(
            F.sequence(F.lit(0), F.size(t) - F.lit(_DS_K)), _h
        )

    # Round-robin ONLY when the scan is under-split (small-SF files
    # arrive as 1-2 splits and would serialize the md5 work; a
    # well-split cluster scan passes through with no exchange).
    toks = (
        ensure_min_splits(docs)
        .where(F.trim(F.col("text")) != "")
        .select("doc_id", tokens("text").alias("t"))
        .where(F.size("t") >= _DS_K)
    )
    pos = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.posexplode(_gram_hashes(F.col("t"))).alias("p", "h"),
    )
    # The md5 gram-hash scan is ~2/3 of the wall (decomposed in
    # OPTIMIZATION_r16.md, dup_span_stats: sf10 scan 4.2 s warm of the
    # 12.4 s total), and the two-branch plan (dup-gram groupBy + the
    # position join-back) pays it TWICE. Under the footer gate the
    # position stream is LAZILY persisted so both branches read one
    # hash pass (measured 12.4 -> 7.9 s at sf10, under DuckDB's 11.5 s
    # same-run pair); at web scale a persist would dwarf the row-local
    # recompute. Duplicated-gram detection is min(doc_id) != max(doc_id)
    # in BOTH branches (same predicate as the oracle's
    # COUNT(DISTINCT doc_id) >= 2): unlike countDistinct it partial-
    # aggregates map-side with no expand, so a boilerplate gram shared
    # by millions of docs costs one partial row per map task, and the
    # join-back stays the AQE-skew-handled probe.
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import table_rows

    if at_most(table_rows(sf_dir, "documents"), _DS_PERSIST_MAX_DOCS):
        from pyspark.storagelevel import StorageLevel

        pos = pos.persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        pos.groupBy("h")
        .agg(F.min("doc_id").alias("_a"), F.max("doc_id").alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .select("h")
    )
    dpos = pos.join(dup, "h").select("doc_id", "n_tokens", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    brk = dpos.withColumn(
        "b",
        F.when(
            F.lag("p").over(w).isNull()
            | (F.col("p") - F.lag("p").over(w) > _DS_K),
            1,
        ).otherwise(0),
    )
    isl = brk.withColumn(
        "island",
        F.sum("b").over(
            Window.partitionBy("doc_id")
            .orderBy("p")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = isl.groupBy("doc_id", "n_tokens", "island").agg(
        (F.max("p") - F.min("p") + F.lit(_DS_K)).alias("span_tokens")
    )
    perdoc = spans.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
        F.max("span_tokens").cast("long").alias("max_span"),
    )
    return (
        perdoc.select(
            "doc_id",
            "n_tokens",
            "n_spans",
            "dup_tokens",
            "max_span",
            F.expr("dup_tokens * 1000000 div n_tokens").alias("dup_ppm"),
        )
        .orderBy(F.col("dup_ppm").desc(), F.col("doc_id").asc())
        .limit(_DS_TOP)
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over simultaneous Welch z-tests

# Welch z from exact per-nation moments; the squared-cents second
# moment accumulates in DECIMAL(38,0)/HUGEINT (the customer_revenue_gini
# overflow discipline — BIGINT would overflow near sf50). All doubles
# derive from the exact sums through IDENTICALLY-WRITTEN expressions.
_BH_ALPHA_X20 = 20  # alpha = 0.05 ⟺ p*m*20 <= rank*10^9 in ppb

# Every n / nr / (n-1) / (nr-1) denominator is NULLIF-guarded: a
# degenerate side (0 or 1 rows — smoke scales, shifted date ranges)
# must yield NULL identically in both engines; unguarded, Spark's
# non-ANSI division returns NULL/NaN where DuckDB's downstream
# CAST(floor(NaN) AS BIGINT) raises — an engine divergence.
_BH_Z = (
    "(CAST(s AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0)"
    " - CAST(sr AS DOUBLE) / NULLIF(CAST(nr AS DOUBLE), 0.0))"
    " / sqrt("
    "(CAST(ss AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    " / NULLIF(CAST(n AS DOUBLE), 0.0))"
    " / NULLIF(CAST(n AS DOUBLE) - 1.0, 0.0)"
    " / NULLIF(CAST(n AS DOUBLE), 0.0)"
    " + (CAST(ssr AS DOUBLE)"
    " - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)"
    " / NULLIF(CAST(nr AS DOUBLE), 0.0))"
    " / NULLIF(CAST(nr AS DOUBLE) - 1.0, 0.0)"
    " / NULLIF(CAST(nr AS DOUBLE), 0.0))"
)
# Abramowitz & Stegun 26.2.17 upper-tail approximation, two-sided.
# One shared string: identical parse, identical double op order, in
# both engines (the Mann-Whitney shared-IEEE-z discipline).
_BH_P = (
    "2.0 * (0.3989422804014327 * exp(-0.5 * az * az))"
    " * tt * (0.319381530 + tt * (-0.356563782 + tt * (1.781477937"
    " + tt * (-1.821255978 + tt * 1.330274429))))"
)


@register(
    "bh_fdr_nation_tests",
    oracle=f"""
    WITH mom AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM({sql_cents('c_acctbal')}) AS BIGINT) AS s,
             SUM(CAST({sql_cents('c_acctbal')} AS HUGEINT)
                 * {sql_cents('c_acctbal')}) AS ss
      FROM customer GROUP BY c_nationkey
    ),
    rest AS (
      SELECT n_name, n, s, ss,
             SUM(n) OVER () - n AS nr,
             SUM(s) OVER () - s AS sr,
             SUM(ss) OVER () - ss AS ssr
      FROM mom JOIN nation ON n_nationkey = c_nationkey
    ),
    z AS (SELECT n_name, n, {_BH_Z} AS zval FROM rest),
    az AS (SELECT n_name, n, zval, abs(zval) AS az FROM z),
    tt AS (SELECT n_name, n, zval, az,
                  1.0 / (1.0 + 0.2316419 * az) AS tt FROM az),
    p AS (
      SELECT n_name, n,
             CAST(floor(zval * 10000.0 + 0.5) AS BIGINT) AS z_q,
             CAST(floor(({_BH_P}) * 1000000000.0 + 0.5) AS BIGINT)
               AS p_ppb
      FROM tt
    ),
    ranked AS (
      SELECT n_name, n, z_q, p_ppb,
             CAST(ROW_NUMBER() OVER (ORDER BY p_ppb, n_name) AS BIGINT)
               AS p_rank,
             COUNT(*) OVER () AS m
      FROM p
    ),
    kstar AS (
      SELECT *,
             MAX(CASE WHEN p_ppb * m * {_BH_ALPHA_X20}
                           <= p_rank * 1000000000
                      THEN p_rank ELSE 0 END) OVER () AS k_star
      FROM ranked
    )
    SELECT n_name, n, z_q, p_ppb, p_rank,
           CASE WHEN p_rank <= k_star THEN 1 ELSE 0 END AS rejected
    FROM kstar ORDER BY p_rank
    """,
    doc="Benjamini-Hochberg FDR over 25 simultaneous Welch z-tests "
    "(each nation's customer balance vs the rest) — the multiple-"
    "testing correction the per-test statistics families lack. Exact "
    "BIGINT/HUGEINT moments (count, cents sum, squared-cents sum) "
    "collapse map-side; nation-vs-rest moments derive by windowed "
    "complement on the 25-row relation; z and the normal tail "
    "probability (Abramowitz-Stegun 26.2.17) evaluate through ONE "
    "shared IEEE expression string quantized to ppb; and the BH "
    "step-up decision is pure integer arithmetic "
    "(p_ppb * m * 20 <= rank * 10^9 ⟺ p <= 0.05 * rank / m), so "
    "rank, threshold and the rejected set replay bit-for-bit. Scale "
    "shape: the only data-sized work is the one map-side-combined "
    "groupBy; everything after runs on a bounded nation-count "
    "relation. The squared-cents moment uses DECIMAL(38,0)/HUGEINT "
    "(BIGINT would overflow near sf50 — the customer_revenue_gini "
    "discipline).",
)
def bh_fdr_nation_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    from healthcare_aihw_etl_pipeline_spark.plans.registry import cents

    v = cents("c_acctbal")
    mom = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s"),
        F.sum((v * v).cast("decimal(38,0)")).alias("ss"),
    )
    rest = (
        mom.join(
            F.broadcast(nation),
            mom["c_nationkey"] == nation["n_nationkey"],
        )
        .select("n_name", "n", "s", "ss")
        .withColumn("nr", F.expr("SUM(n) OVER ()") - F.col("n"))
        .withColumn("sr", F.expr("SUM(s) OVER ()") - F.col("s"))
        .withColumn("ssr", F.expr("SUM(ss) OVER ()") - F.col("ss"))
    )
    z = rest.select("n_name", "n", F.expr(_BH_Z).alias("zval"))
    p = (
        z.withColumn("az", F.abs(F.col("zval")))
        .withColumn("tt", F.expr("1.0 / (1.0 + 0.2316419 * az)"))
        .select(
            "n_name",
            "n",
            F.expr("CAST(floor(zval * 10000.0 + 0.5) AS BIGINT)").alias(
                "z_q"
            ),
            F.expr(
                f"CAST(floor(({_BH_P}) * 1000000000.0 + 0.5) AS BIGINT)"
            ).alias("p_ppb"),
        )
    )
    wall = Window.partitionBy()
    ranked = p.withColumn(
        "p_rank",
        F.row_number()
        .over(Window.orderBy(F.col("p_ppb").asc(), F.col("n_name").asc()))
        .cast("long"),
    ).withColumn("m", F.count(F.lit(1)).over(wall))
    kstar = ranked.withColumn(
        "k_star",
        F.max(
            F.when(
                F.col("p_ppb") * F.col("m") * _BH_ALPHA_X20
                <= F.col("p_rank") * F.lit(1000000000),
                F.col("p_rank"),
            ).otherwise(F.lit(0))
        ).over(wall),
    )
    return kstar.select(
        "n_name",
        "n",
        "z_q",
        "p_ppb",
        "p_rank",
        F.when(F.col("p_rank") <= F.col("k_star"), 1)
        .otherwise(0)
        .alias("rejected"),
    ).orderBy("p_rank")


# ---------------------------------------------------------------------------
# Regression discontinuity (sharp RDD at a date cutoff)

_RDD_CUT = "DATE '1997-06-01'"
_RDD_BW = 120  # days each side


def _rdd_ols(side: str) -> tuple[str, str]:
    """(slope, intercept-at-cutoff) expression strings for one side —
    exact BIGINT moments cast to DOUBLE pre-product (the
    segmented_trend overflow discipline), identical text in both
    engines."""
    n = f"CAST(n_{side} AS DOUBLE)"
    sx = f"CAST(sx_{side} AS DOUBLE)"
    sxx = f"CAST(sxx_{side} AS DOUBLE)"
    sy = f"CAST(sy_{side} AS DOUBLE)"
    sxy = f"CAST(sxy_{side} AS DOUBLE)"
    b = (
        f"(({n}) * ({sxy}) - ({sx}) * ({sy}))"
        f" / NULLIF(({n}) * ({sxx}) - ({sx}) * ({sx}), 0.0)"
    )
    # NULLIF on n too: an empty side (degenerate corpus / shifted date
    # range) must yield NULL identically in both engines — Spark's
    # non-ANSI 0/0 returns NULL while DuckDB's CAST(floor(NaN)) raises.
    a = f"((({sy}) - ({b}) * ({sx})) / NULLIF({n}, 0.0))"
    return b, a


_RDD_B_L, _RDD_A_L = _rdd_ols("l")
_RDD_B_R, _RDD_A_R = _rdd_ols("r")


@register(
    "rdd_order_value",
    oracle=f"""
    WITH base AS (
      SELECT date_diff('day', {_RDD_CUT}, o_orderdate) AS x,
             {sql_cents('o_totalprice')} AS y
      FROM orders
      WHERE o_orderdate >= {_RDD_CUT} - {_RDD_BW}
        AND o_orderdate < {_RDD_CUT} + {_RDD_BW}
    ),
    mom AS (
      SELECT
        CAST(SUM(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
        CAST(SUM(CASE WHEN x < 0 THEN x ELSE 0 END) AS BIGINT) AS sx_l,
        CAST(SUM(CASE WHEN x < 0 THEN x * x ELSE 0 END) AS BIGINT)
          AS sxx_l,
        CAST(SUM(CASE WHEN x < 0 THEN y ELSE 0 END) AS BIGINT) AS sy_l,
        CAST(SUM(CASE WHEN x < 0 THEN x * y ELSE 0 END) AS BIGINT)
          AS sxy_l,
        CAST(SUM(CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
        CAST(SUM(CASE WHEN x >= 0 THEN x ELSE 0 END) AS BIGINT) AS sx_r,
        CAST(SUM(CASE WHEN x >= 0 THEN x * x ELSE 0 END) AS BIGINT)
          AS sxx_r,
        CAST(SUM(CASE WHEN x >= 0 THEN y ELSE 0 END) AS BIGINT) AS sy_r,
        CAST(SUM(CASE WHEN x >= 0 THEN x * y ELSE 0 END) AS BIGINT)
          AS sxy_r
      FROM base
    )
    SELECT n_l AS n_left, n_r AS n_right,
           CAST(floor((({_RDD_A_R}) - ({_RDD_A_L})) * 10000.0 + 0.5)
                AS BIGINT) AS jump_q,
           CAST(floor(({_RDD_B_L}) * 1000000.0 + 0.5) AS BIGINT)
             AS slope_left_q,
           CAST(floor(({_RDD_B_R}) * 1000000.0 + 0.5) AS BIGINT)
             AS slope_right_q
    FROM mom
    """,
    doc="Sharp regression discontinuity at a date cutoff — the causal "
    "design missing beside DiD / IPW / stratified ATT / CUPED: local "
    f"linear OLS on each side of {_RDD_CUT} (bandwidth {_RDD_BW} days, "
    "running variable = integer day offset, outcome = order value in "
    "exact cents), the treatment-effect estimate being the intercept "
    "jump at the cutoff. All ten moments (count, Σx, Σx², Σy, Σxy per "
    "side) accumulate as exact BIGINTs in ONE conditional map-side-"
    "combined aggregate over the date-range-pruned scan; the two fits "
    "and the jump evaluate through identically-written double "
    "formulas (moments cast to DOUBLE pre-product — n·Σxy would "
    "overflow BIGINT near sf100), quantized to cents-ten-thousandths. "
    "Scale shape: one partition-pruned scan, one 10-column partial "
    "aggregate, a 1-row solve — the ab_value_t_statistic shape with a "
    "two-sided local-polynomial read.",
)
def rdd_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.plans.registry import cents

    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(
        (F.col("o_orderdate") >= F.expr(f"{_RDD_CUT} - {_RDD_BW}"))
        & (F.col("o_orderdate") < F.expr(f"{_RDD_CUT} + {_RDD_BW}"))
    ).select(
        F.datediff(F.col("o_orderdate"), F.expr(_RDD_CUT)).alias("x"),
        cents("o_totalprice").alias("y"),
    )
    left = F.col("x") < 0

    def _m(cond, expr, name):
        return (
            F.sum(F.when(cond, expr).otherwise(F.lit(0)))
            .cast("long")
            .alias(name)
        )

    x, y = F.col("x"), F.col("y")
    mom = base.agg(
        _m(left, F.lit(1), "n_l"),
        _m(left, x, "sx_l"),
        _m(left, x * x, "sxx_l"),
        _m(left, y, "sy_l"),
        _m(left, x * y, "sxy_l"),
        _m(~left, F.lit(1), "n_r"),
        _m(~left, x, "sx_r"),
        _m(~left, x * x, "sxx_r"),
        _m(~left, y, "sy_r"),
        _m(~left, x * y, "sxy_r"),
    )
    return mom.select(
        F.col("n_l").alias("n_left"),
        F.col("n_r").alias("n_right"),
        F.expr(
            f"CAST(floor((({_RDD_A_R}) - ({_RDD_A_L})) * 10000.0 + 0.5)"
            " AS BIGINT)"
        ).alias("jump_q"),
        F.expr(
            f"CAST(floor(({_RDD_B_L}) * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("slope_left_q"),
        F.expr(
            f"CAST(floor(({_RDD_B_R}) * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("slope_right_q"),
    )


# ---------------------------------------------------------------------------
# Association rules (confidence / lift) over co-purchase baskets

_AR_SUPPORT = 2
_AR_TOP = 20
# Lazy in-memory basket persist up to ~sf3; past it the order-grain
# arrays are corpus-sized and take the eager DISK_ONLY checkpoint.
_AR_PERSIST_MAX_LINEITEM = 20_000_000


@register(
    "assoc_rules_top20",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM op),
    item AS (
      SELECT l_partkey AS part, CAST(COUNT(*) AS BIGINT) AS supp
      FROM op GROUP BY l_partkey
    ),
    opf AS (
      SELECT o.l_orderkey, o.l_partkey
      FROM op o JOIN item i ON i.part = o.l_partkey
      WHERE i.supp >= {_AR_SUPPORT}
    ),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(COUNT(*) AS BIGINT) AS supp_ab
      FROM opf a JOIN opf b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_AR_SUPPORT}
    ),
    rules AS (
      SELECT u AS ante, v AS cons, supp_ab FROM pairs
      UNION ALL SELECT v, u, supp_ab FROM pairs
    )
    SELECT r.ante, r.cons, r.supp_ab,
           ia.supp AS supp_a, ib.supp AS supp_b,
           r.supp_ab * 1000000 // ia.supp AS conf_ppm,
           CAST(CAST(r.supp_ab AS HUGEINT)
                  * (SELECT n_baskets FROM nb) * 1000000
                // (CAST(ia.supp AS HUGEINT) * ib.supp) AS BIGINT)
             AS lift_ppm
    FROM rules r
    JOIN item ia ON ia.part = r.ante
    JOIN item ib ON ib.part = r.cons
    ORDER BY lift_ppm DESC, conf_ppm DESC, ante, cons
    LIMIT {_AR_TOP}
    """,
    doc="Association rules over co-purchase baskets: for every part "
    f"pair sharing >= {_AR_SUPPORT} orders (the part_pair_cooccurrence "
    "support grain), both rule directions a→b score confidence "
    "supp(ab)/supp(a) and lift supp(ab)·N/(supp(a)·supp(b)) as exact "
    f"integer ppm via `div`; top-{_AR_TOP} by lift. Completes basket "
    "analysis beyond raw pair support: lift is the actual "
    "recommendation signal (support alone just ranks popular pairs). "
    "Scale shape: ONE corpus shuffle — collect_set to the order grain "
    "(the per-order distinct rides inside the aggregate, checkpointed "
    "DISK_ONLY) — from which n_baskets (a count), item supports (one "
    "slim explode + map-side count: apriori's k=1 relation) and the "
    "C(lines,2) pair fan-out (a ROW-LOCAL double explode into "
    "BIGINT-encoded pairs — no self-join, no corpus-sized pair "
    "materialization) all derive; one pair-stream groupBy; scoring "
    "joins against the checkpointed item relation with N as an "
    "F.broadcast 1-row aggregate. The apriori prune (support "
    "monotonicity) is ADAPTIVE: it costs a shuffle of the deduped "
    "stream, so it runs only when below-floor parts exceed 10% of "
    "the part domain (singleton-heavy corpora), broadcasting the "
    "smaller of infrequent/frequent. TakeOrdered top-20, never a "
    "global sort.",
)
def assoc_rules_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from healthcare_aihw_etl_pipeline_spark.sources.catalog import table_rows

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select("l_orderkey", "l_partkey")
    # ONE corpus shuffle for the whole basket stage: collect_set to
    # the order grain (the per-order DISTINCT rides inside the
    # aggregate). Everything else — n_baskets, item supports, the
    # pair fan-out — derives from this persisted relation, so the
    # corpus is scanned once and shuffled once. (The previous
    # self-join formulation materialized the corpus-sized distinct
    # PAIR relation — 4.7 s of the 5.7 s sf1 wall and an 8g-heap OOM
    # at sf10; a rollup countDistinct variant re-paid the distinct
    # machinery per consumer.)
    #
    # Storage keyed on the lineitem footer row count: under the gate a
    # LAZY in-memory persist lets the first action pipeline basket build
    # + item supports + prune stats in ONE pass instead of four
    # serialized materializations (that eager-checkpoint stage barrier
    # was a 2.8x-at-sf1 residue). Past it, or with an unreadable
    # footer, the eager DISK_ONLY checkpoint that sf10 needs.
    small = at_most(table_rows(sf_dir, "lineitem"), _AR_PERSIST_MAX_LINEITEM)
    baskets_all = base.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    if small:
        baskets_all = baskets_all.persist(StorageLevel.MEMORY_AND_DISK)
    else:
        baskets_all = baskets_all.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    nb = baskets_all.agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    # Item supports from the DEDUPED basket stream (apriori's k=1
    # relation): one slim explode + map-side-combined count — no
    # second corpus distinct. Lazy persist on the small path (the
    # prune-stats collect below materializes baskets + item + counts
    # as one pipelined job); eager on the large path where the stage
    # barrier is the safe shape.
    item = (
        baskets_all.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("supp"))
        # feeds the prune decision and both scoring joins
    )
    if small:
        item = item.persist(StorageLevel.MEMORY_AND_DISK)
    else:
        item = item.localCheckpoint(eager=True)
    # ADAPTIVE apriori prune (support monotonicity: supp(ab) <=
    # supp(a), so below-floor parts cannot appear in any surviving
    # pair). Pruning costs one extra shuffle of the deduped stream, so
    # it runs ONLY when it can pay for itself — when below-floor parts
    # are a nontrivial share of the part domain (singleton-heavy
    # corpora: web baskets). The decision reads two bounded counts off
    # the checkpointed item relation; the broadcast side is whichever
    # of infrequent/frequent is smaller. TPC-H layouts have ZERO
    # singleton parts, so the bench path never pays the pass; the
    # support-monotonicity law test exercises the pruned branch on a
    # planted singleton-heavy corpus.
    cnts = item.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum((F.col("supp") < _AR_SUPPORT).cast("long")).alias("n_inf"),
    ).collect()[0]
    if cnts["n_inf"] * 10 > cnts["n_parts"]:
        ex = baskets_all.select(
            "l_orderkey", F.explode("ps").alias("part")
        )
        if cnts["n_inf"] * 2 <= cnts["n_parts"]:
            side = item.where(F.col("supp") < _AR_SUPPORT).select("part")
            kept = ex.join(F.broadcast(side), "part", "left_anti")
        else:
            side = item.where(F.col("supp") >= _AR_SUPPORT).select("part")
            kept = ex.join(F.broadcast(side), "part", "left_semi")
        baskets = kept.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_set("part")).alias("ps")
        )
    else:
        baskets = baskets_all
    baskets = baskets.where(F.size("ps") >= 2)
    # Each pair travels as ONE BIGINT (u << 32 | v) through the hash
    # aggregate — measured ~1 s faster than struct keys on the 12M-row
    # sf1 pair stream. Domain guard: BOTH halves must fit 32 bits for
    # the encoding to be injective (the part-key domain is ~2e5·SF —
    # safe beyond sf10000); a violating corpus raises loudly per the
    # sentinel-guard discipline on either side. u is guarded
    # explicitly because the session does NOT run ANSI mode — a
    # u >= 2^32 would otherwise wrap u * 2^32 silently into a wrong
    # pair key instead of raising. The two explodes stay in one
    # codegen stage (posexplode
    # positions, then the strictly-after slice), measured 2x faster
    # than flatten-of-nested-transforms (no per-element array copies
    # from the sliced tails being re-built per outer element).
    enc = F.lit(1 << 32).cast("long")
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
    uv = F.when(
        (F.col("v") < enc) & (F.col("u") < enc),
        F.col("u") * enc + F.col("v"),
    ).otherwise(
        F.raise_error(
            F.lit("assoc_rules_top20: l_partkey exceeds the 32-bit pair"
                  " encoding domain")
        ).cast("long")
    )
    pairs = (
        expl.select(uv.alias("uv"))
        .groupBy("uv")
        .agg(F.count(F.lit(1)).cast("long").alias("supp_ab"))
        .where(F.col("supp_ab") >= _AR_SUPPORT)
        .select(
            F.expr("uv div 4294967296").alias("u"),
            F.pmod(F.col("uv"), enc).alias("v"),
            "supp_ab",
        )
        # feeds both union branches — checkpoint once (the LPA pair
        # discipline; slim 24-byte rows)
        .localCheckpoint(eager=True)
    )
    rules = pairs.select(
        F.col("u").alias("ante"), F.col("v").alias("cons"), "supp_ab"
    ).unionByName(
        pairs.select(
            F.col("v").alias("ante"), F.col("u").alias("cons"), "supp_ab"
        )
    )
    ia = item.select(F.col("part").alias("ante"), F.col("supp").alias("supp_a"))
    ib = item.select(F.col("part").alias("cons"), F.col("supp").alias("supp_b"))
    return (
        rules.join(ia, "ante")
        .join(ib, "cons")
        .crossJoin(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            "supp_ab",
            "supp_a",
            "supp_b",
            F.expr("supp_ab * 1000000 div supp_a").alias("conf_ppm"),
            # Lift numerator in DECIMAL(38,0) / HUGEINT (the
            # customer_revenue_gini overflow discipline): a hot pair's
            # supp_ab * n_baskets * 1e6 passes 2^63 near sf100, where
            # Spark (non-ANSI) would wrap silently while DuckDB raises
            # — the engines must agree bit-for-bit instead.
            F.expr(
                "CAST(CAST(supp_ab AS DECIMAL(38,0))"
                " * n_baskets * 1000000"
                " div (CAST(supp_a AS DECIMAL(38,0)) * supp_b)"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(
            F.col("lift_ppm").desc(),
            F.col("conf_ppm").desc(),
            F.col("ante").asc(),
            F.col("cons").asc(),
        )
        .limit(_AR_TOP)
    )


# ---------------------------------------------------------------------------
# Markov-chain attribution (removal effect)

# First-order Markov attribution (Anderl et al. 2014): user journeys
# as start -> channel -> ... -> conversion/abandon transitions, channel
# credit = its REMOVAL EFFECT (how much the conversion probability
# drops when paths through the channel fail). Completes the
# attribution family: last_touch / linear_decay / u_shaped are
# position heuristics; this is the data-driven standard.
#
# Conversion probability is the absorption probability within a fixed
# horizon of _MK_H steps — the bounded-frontier recursion made static
# (the graph_ann unroll discipline), so the whole computation is
# exact integer ppb arithmetic and replays bit-for-bit in DuckDB.
# Per-term truncating division (p * a div 10^9 summed afterwards)
# keeps every intermediate <= |channels| * 10^9 — no engine-dependent
# wide-integer behavior anywhere.
_MK_H = 8

# Driver-side recursion gate: the transition matrix is bounded by the
# event-type domain squared, enum-like here (tens of cells), but the
# collect must not be an article of faith — above this many cells the
# distributed plan runs instead (r16 verdict item 4).
_MK_MAX_CELLS = 4096

_MK_ROUND_CTES = "".join(
    f""",
    c{h} AS (
      SELECT p.removed, tt.src AS s,
             CAST(SUM(tt.p_ppb * p.a // 1000000000) AS BIGINT) AS ss
      FROM tch tt JOIN a{h - 1} p ON p.s = tt.dst
      GROUP BY p.removed, tt.src
    ),
    a{h} AS (
      SELECT b.removed, b.s, b.pconv + COALESCE(c.ss, 0) AS a
      FROM base b LEFT JOIN c{h} c
        ON c.removed = b.removed AND c.s = b.s
    )"""
    for h in range(2, _MK_H + 1)
)


@register(
    "markov_attribution",
    oracle=f"""
    WITH ev AS (
      -- Sentinel-collision guard: the synthetic states below must not
      -- occur as REAL event types, or they would silently merge with
      -- the synthetic start/absorption states and corrupt the
      -- transition matrix. Both engines raise loudly instead.
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('start', 'conv', 'null', '_none')
                  THEN error('markov_attribution: event_type collides'
                             || ' with a sentinel state')
                  ELSE event_type END AS event_type
      FROM events
    ),
    seq AS (
      SELECT event_type AS cur,
             lag(event_type) OVER w AS prev,
             lead(event_type) OVER w AS nxt
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    edges AS (
      SELECT CASE WHEN prev IS NULL OR prev = 'purchase'
                  THEN 'start' ELSE prev END AS src,
             CASE WHEN cur = 'purchase' THEN 'conv' ELSE cur END AS dst
      FROM seq
      UNION ALL
      SELECT cur, 'null' FROM seq
      WHERE nxt IS NULL AND cur <> 'purchase'
    ),
    -- MATERIALIZED: the unrolled rounds below reference t/base once per
    -- level; without the hint DuckDB inlines the whole chain and
    -- re-runs the corpus-sized window pass ~2x per round (measured
    -- 222 s at sf1 inlined vs seconds materialized). The materialized
    -- relations are bounded by the event-type domain squared.
    trans AS MATERIALIZED (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM edges GROUP BY 1, 2
    ),
    t AS MATERIALIZED (
      SELECT src, dst,
             CAST(cnt * 1000000000
                  // SUM(cnt) OVER (PARTITION BY src) AS BIGINT) AS p_ppb
      FROM trans
    ),
    channels AS (
      SELECT DISTINCT dst AS ch FROM t WHERE dst NOT IN ('conv', 'null')
    ),
    removals AS (
      SELECT ch AS removed FROM channels UNION ALL SELECT '_none'
    ),
    states AS (SELECT ch AS s FROM channels UNION ALL SELECT 'start'),
    pconv AS (SELECT src AS s, p_ppb AS pc FROM t WHERE dst = 'conv'),
    base AS MATERIALIZED (
      SELECT r.removed, st.s, COALESCE(pc.pc, 0) AS pconv
      FROM removals r CROSS JOIN states st
      LEFT JOIN pconv pc ON pc.s = st.s
      WHERE st.s <> r.removed
    ),
    tch AS MATERIALIZED (
      SELECT src, dst, p_ppb FROM t WHERE dst NOT IN ('conv', 'null')
    ),
    a1 AS (SELECT removed, s, pconv AS a FROM base){_MK_ROUND_CTES},
    res AS (
      SELECT removed, CAST(a AS BIGINT) AS conv_ppb
      FROM a{_MK_H} WHERE s = 'start'
    ),
    eff AS (
      SELECT r.removed AS channel,
             (SELECT conv_ppb FROM res WHERE removed = '_none')
               AS base_ppb,
             r.conv_ppb AS removed_conv_ppb,
             (SELECT conv_ppb FROM res WHERE removed = '_none')
               - r.conv_ppb AS effect_ppb
      FROM res r WHERE r.removed <> '_none'
    )
    SELECT channel, base_ppb, removed_conv_ppb, effect_ppb,
           CAST(effect_ppb * 1000000
                // NULLIF(SUM(effect_ppb) OVER (), 0) AS BIGINT)
             AS share_ppm
    FROM eff ORDER BY channel
    """,
    doc="Markov-chain attribution by removal effect (Anderl et al. "
    "2014) — the data-driven standard completing the position-"
    "heuristic family (last_touch / linear_decay / u_shaped): user "
    "event journeys (reset after each purchase; abandonment = "
    "terminal 'null') build a first-order transition matrix in exact "
    "integer ppb; conversion = absorption probability within "
    f"{_MK_H} steps, computed for the full graph and for each "
    "channel-removed graph SIMULTANEOUSLY (one (removed, state) "
    "relation, the removed channel's rows absent so paths through it "
    "die — no per-channel re-run); a channel's credit is the "
    "conversion drop its removal causes, shared as exact ppm. Every "
    "step is per-term truncating integer arithmetic, so the whole "
    "pipeline hash-replays in DuckDB as statically-unrolled CTEs "
    "(the graph_ann bounded-frontier discipline). Scale shape: the "
    "ONLY data-sized work is one per-user window pass (lag/lead) + "
    "one map-side-combined (src, dst) count; the transition matrix "
    "is bounded by the event-type domain squared, every subsequent "
    "relation by (|channels|+1)², and all joins after the count are "
    "broadcast-tiny. Per-term division keeps intermediates under "
    "|channels| * 10^9 — identical BIGINT math in both engines with "
    "no wide-integer promotion anywhere.",
)
def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Sentinel-collision guard (mirrors the oracle's ev CTE): a real
    # event_type equal to a synthetic state name would silently merge
    # states and corrupt the transition matrix — raise loudly instead.
    ev = ev.withColumn(
        "event_type",
        F.when(
            F.col("event_type").isin("start", "conv", "null", "_none"),
            F.raise_error(
                F.lit(
                    "markov_attribution: event_type collides"
                    " with a sentinel state"
                )
            ),
        ).otherwise(F.col("event_type")),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    edges = seq.select(
        F.when(
            F.col("prev").isNull() | (F.col("prev") == "purchase"),
            "start",
        )
        .otherwise(F.col("prev"))
        .alias("src"),
        F.when(F.col("cur") == "purchase", "conv")
        .otherwise(F.col("cur"))
        .alias("dst"),
    ).unionByName(
        seq.where(F.col("nxt").isNull() & (F.col("cur") != "purchase"))
        .select(F.col("cur").alias("src"), F.lit("null").alias("dst"))
    )
    trans = edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # Everything below the transition matrix is bounded by the
    # event-type domain squared (tens of rows here), yet unrolling the 7
    # removal-effect rounds in Spark (14 nested broadcast joins + 2
    # eager checkpoints) cost ~16 s cold / ~4.6 s warm at sf0.001 of
    # planning and per-job floor. The corpus-sized work (per-user
    # window + map-side-combined (src, dst) count) stays in Spark; the
    # matrix is collected and the exact integer ppb recursion runs
    # driver-side with the IDENTICAL truncating-division term order
    # (Spark `div` rounds toward zero; all operands are non-negative,
    # where it equals the oracle's `//`). Measured 15.7 s -> 1.6 s cold,
    # byte-identical rows (tests/test_round14b.py::
    # test_markov_matches_python pins them). A high-cardinality
    # event_type would put domain² rows on the driver, so the collect
    # is gated: past _MK_MAX_CELLS the distributed removal-effect plan
    # (_markov_spark_rounds) runs instead.
    tr = collect_at_most(trans, _MK_MAX_CELLS)
    if tr is None:
        return _markov_spark_rounds(ev, trans)

    def _div(a: int, b: int) -> int:
        """Spark's integer `div` (truncate toward zero), exactly."""
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    out_n: dict[str, int] = {}
    for r in tr:
        out_n[r["src"]] = out_n.get(r["src"], 0) + r["cnt"]
    p = {
        (r["src"], r["dst"]): _div(r["cnt"] * 1_000_000_000, out_n[r["src"]])
        for r in tr
    }
    channels = sorted(
        {d for (_, d) in p if d not in ("conv", "null")}
    )
    states = channels + ["start"]
    removals = channels + ["_none"]
    pconv = {s: p.get((s, "conv"), 0) for s in states}
    tch = [
        (s, d, v) for (s, d), v in p.items() if d not in ("conv", "null")
    ]
    # base: (removed, s) for every state except the removed one
    base_keys = [
        (rm, s) for rm in removals for s in states if s != rm
    ]
    # Index channel->channel edges by dst once: the round loop then
    # costs O(|a| * in-degree) instead of O(|a| * |edges|). Integer
    # addition is exact and commutative, so the per-key sum is
    # unchanged by the traversal order.
    by_dst: dict[str, list[tuple[str, int]]] = {}
    for (src, dst, ppb) in tch:
        by_dst.setdefault(dst, []).append((src, ppb))
    a = {k: pconv[k[1]] for k in base_keys}
    for _ in range(_MK_H - 1):
        c: dict[tuple[str, str], int] = {}
        for (rm, s2), av in a.items():
            # edges INTO s2 contribute p*a (per-term truncating div,
            # matching the SQL's SUM(p_ppb * a div 1e9) exactly)
            for (src, ppb) in by_dst.get(s2, ()):
                k = (rm, src)
                c[k] = c.get(k, 0) + _div(ppb * av, 1_000_000_000)
        a = {k: pconv[k[1]] + c.get(k, 0) for k in base_keys}
    base_ppb = a[("_none", "start")]
    effs = [(ch, base_ppb - a[(ch, "start")]) for ch in channels]
    tot_eff = sum(e for _, e in effs)
    rows = [
        (
            ch,
            base_ppb,
            base_ppb - e,
            e,
            _div(e * 1_000_000, tot_eff) if tot_eff != 0 else None,
        )
        for ch, e in effs
    ]
    return ev.sparkSession.createDataFrame(
        rows,
        "channel string, base_ppb long, removed_conv_ppb long, "
        "effect_ppb long, share_ppm long",
    ).orderBy("channel")


def _markov_spark_rounds(ev: DataFrame, trans: DataFrame) -> DataFrame:
    """Distributed removal-effect rounds — the pre-r16 plan, kept as
    the graceful path for a transition matrix too large to collect
    (high-cardinality event_type). Identical integer-ppb arithmetic:
    Spark `div` per term, same round unrolling."""
    t = trans.select(
        "src",
        "dst",
        F.expr(
            "CAST(cnt * 1000000000 div SUM(cnt) OVER (PARTITION BY src)"
            " AS BIGINT)"
        ).alias("p_ppb"),
    ).localCheckpoint(eager=True)
    one = ev.sparkSession.range(1)
    channels = (
        t.where(~F.col("dst").isin("conv", "null"))
        .select(F.col("dst").alias("ch"))
        .distinct()
    )
    removals = channels.select(F.col("ch").alias("removed")).unionByName(
        one.select(F.lit("_none").alias("removed"))
    )
    states = channels.select(F.col("ch").alias("s")).unionByName(
        one.select(F.lit("start").alias("s"))
    )
    pconv = t.where(F.col("dst") == "conv").select(
        F.col("src").alias("s"), F.col("p_ppb").alias("pc")
    )
    base = (
        removals.crossJoin(F.broadcast(states))
        .where(F.col("s") != F.col("removed"))
        .join(F.broadcast(pconv), "s", "left")
        .select(
            "removed", "s", F.coalesce(F.col("pc"), F.lit(0)).alias("pconv")
        )
        .localCheckpoint(eager=True)
    )
    tch = t.where(~F.col("dst").isin("conv", "null"))
    a = base.select("removed", "s", F.col("pconv").alias("a"))
    for _ in range(_MK_H - 1):
        c = (
            tch.alias("tt")
            .join(
                F.broadcast(a.alias("p")),
                F.col("p.s") == F.col("tt.dst"),
            )
            .groupBy(
                F.col("p.removed").alias("removed"),
                F.col("tt.src").alias("s"),
            )
            .agg(
                F.sum(F.expr("p_ppb * a div 1000000000"))
                .cast("long")
                .alias("ss")
            )
        )
        a = (
            base.join(F.broadcast(c), ["removed", "s"], "left")
            .select(
                "removed",
                "s",
                (
                    F.col("pconv") + F.coalesce(F.col("ss"), F.lit(0))
                ).alias("a"),
            )
        )
    res = a.where(F.col("s") == "start").select(
        "removed", F.col("a").cast("long").alias("conv_ppb")
    )
    baseline = res.where(F.col("removed") == "_none").select(
        F.col("conv_ppb").alias("base_ppb")
    )
    eff = (
        res.where(F.col("removed") != "_none")
        .crossJoin(F.broadcast(baseline))
        .select(
            F.col("removed").alias("channel"),
            "base_ppb",
            F.col("conv_ppb").alias("removed_conv_ppb"),
            (F.col("base_ppb") - F.col("conv_ppb")).alias("effect_ppb"),
        )
    )
    return eff.select(
        "channel",
        "base_ppb",
        "removed_conv_ppb",
        "effect_ppb",
        F.expr(
            "CAST(effect_ppb * 1000000"
            " div NULLIF(SUM(effect_ppb) OVER (), 0) AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("channel")
