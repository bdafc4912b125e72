"""Round-12 query families — iterative ML and fused sweep analytics:

- fused interval sweep profile (every sweep-derived daily concurrency
  measure — session count, peak, union coverage, concurrency integral —
  from ONE scan/agg/window pipeline over the shared boundary-delta
  operator, the round-11 review's requested fusion A/B),
- Cox proportional hazards (single Newton step from beta = 0 on the
  partial likelihood, Breslow ties, exact integer risk-set moments —
  completes the KM / Nelson-Aalen survival family with the canonical
  covariate-effect model),
- logistic regression (single Newton/IRLS step from beta = 0 — the
  closed-form first iteration every GLM fitter runs, entirely from five
  exact integer moments),
- BPE merge training (bounded merge rounds over the weighted pair-count
  relation of the DISTINCT-word vocabulary — the tokenizer-training
  companion to the bpe_token_totals application query),
- winnowing xxhash64 fast path (the production-hash twin of the
  portable md5 winnowing fingerprints, same banding law).

Same contract as every plans module: idiomatic PySpark paired with a
DuckDB oracle whose arithmetic is bit-identical — exact integer
moments, integer-quantized per-group terms before any cross-row sum,
single IEEE arithmetic on identical expressions (float products/sums
of identical doubles are IEEE-deterministic; only transcendentals are
not), and truncating integer division (Spark ``div`` == DuckDB ``//``).
Reference lineage: the reference (/root/reference/main.py) serves
grouped views of admissions data; these queries extend the engine's
statistics/ML surface (survival modelling, GLMs, tokenizer training)
the way a 100 TB curation cluster needs them — bounded-round loops over
pre-aggregated relations, never per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators.gates import at_most, collect_at_most
from healthcare_aihw_etl_pipeline_spark.operators.privacy import sql_band_of
from healthcare_aihw_etl_pipeline_spark.plans.registry import register
from healthcare_aihw_etl_pipeline_spark.plans.round11b_queries import winnow_top_fingerprints
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# Fused sweep profile (round-11 review item: one pass, both families)


@register(
    "interval_sweep_profile",
    oracle="""
    WITH iv AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             epoch_us(MIN(ts)) AS s, epoch_us(MAX(ts)) AS e
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    deltas AS (
      SELECT day, s AS t, CAST(1 AS BIGINT) AS d, e - s AS dur FROM iv
      UNION ALL
      SELECT day, e AS t, CAST(-1 AS BIGINT) AS d, 0 FROM iv
    ),
    seg AS (
      SELECT day, d, dur,
             SUM(d) OVER (
               PARTITION BY day ORDER BY t, d DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS running,
             COALESCE(LEAD(t) OVER (
               PARTITION BY day ORDER BY t, d DESC) - t, 0) AS gap_us
      FROM deltas
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions,
           CAST(MAX(running) AS BIGINT) AS max_concurrent,
           CAST(SUM(CASE WHEN running > 0 THEN gap_us ELSE 0 END)
                AS BIGINT) AS covered_us,
           CAST(SUM(dur) AS BIGINT) AS total_session_us,
           CAST(SUM(CASE WHEN running > 0 THEN gap_us * running ELSE 0 END)
                AS BIGINT) AS user_us_integral
    FROM seg GROUP BY day ORDER BY day
    """,
    doc="Fused daily sweep profile: session count, peak concurrency, "
    "union coverage, total span time and the concurrency integral — "
    "the outputs of max_concurrent_sessions AND interval_union_coverage "
    "— from ONE scan, one (user, day) aggregate exchange and one "
    "(day)-partitioned window (operators.sweep.sweep_day_profile). "
    "This is the round-11 review's fusion: callers who need both "
    "families (every capacity dashboard does) previously paid the "
    "scan→agg→window pipeline twice; the fused pass halves the I/O and "
    "shuffle volume, and the shared operator means the three sweep "
    "queries cannot drift semantically. Identity cross-checks ride "
    "along: user_us_integral == total_session_us (each span contributes "
    "its own length to the integral) and covered_us <= total_session_us "
    "with equality iff no overlap.",
)
def interval_sweep_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.sweep import (
        sweep_day_profile,
    )

    from healthcare_aihw_etl_pipeline_spark.sources.catalog import table_rows

    return sweep_day_profile(
        load_table(spark, sf_dir, "events"), table_rows(sf_dir, "events")
    )


# ---------------------------------------------------------------------------
# Cox proportional hazards: one Newton step on the partial likelihood

# Survival frame matches kaplan_meier_conversion / nelson_aalen_hazard:
# duration = days from first signup to first subsequent purchase,
# right-censored at the corpus horizon. Covariate x = user_id % 2 (the
# experiment-variant convention shared with cuped_ab_adjustment), so
# beta is the log hazard ratio of variant 1 vs 0.
#
# At beta = 0 the score and information are pure risk-set moments:
#   U(0) = sum_t [ dx_t - d_t * S1(t)/S0(t) ]
#   I(0) = sum_t d_t * (S1/S0) * (1 - S1/S0)          (binary x: S2 = S1)
# with S0/S1 the subjects/treated-subjects at risk at duration t and
# d_t/dx_t the events/treated events AT t (Breslow tie handling). Each
# per-duration term is quantized to integer millionths BEFORE the
# cross-duration sum — both engines evaluate the identical truncating
# integer expression on exact BIGINT moments, so the sums match
# bit-for-bit. Overflow bound: d_t*S1*Q <= N^2 * 1e6 needs N < ~3e6
# subjects (sf300 for this corpus's user universe); past that, raise
# the grain or drop Q.
_COX_Q = 1_000_000
_DAY_US = 86_400_000_000


@register(
    "cox_hazard_newton",
    oracle=f"""
    WITH h AS (SELECT MAX(ts) AS horizon FROM events),
    s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts >= s.s_ts
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id
    ),
    d AS (
      SELECT s.user_id % 2 AS x,
             CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END AS evt,
             (epoch_us(COALESCE(p.p_ts, h.horizon)) - epoch_us(s.s_ts))
               // {_DAY_US} AS dur
      FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN h
    ),
    byt AS (
      SELECT dur,
             CAST(COUNT(*) AS BIGINT) AS n_t,
             CAST(SUM(x) AS BIGINT) AS x_t,
             CAST(SUM(evt) AS BIGINT) AS d_t,
             CAST(SUM(evt * x) AS BIGINT) AS dx_t
      FROM d GROUP BY dur
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS xs FROM d
    ),
    risk AS (
      SELECT dur, d_t, dx_t,
             n - COALESCE(SUM(n_t) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS s0,
             xs - COALESCE(SUM(x_t) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS s1
      FROM byt CROSS JOIN tot
    ),
    terms AS (
      SELECT d_t, dx_t,
             (d_t * s1 * {_COX_Q}) // s0 AS du_q,
             ((d_t * s1 * {_COX_Q}) // s0) * (s0 - s1) // s0 AS i_q
      FROM risk WHERE d_t > 0
    )
    SELECT (SELECT n FROM tot) AS n_subjects,
           (SELECT xs FROM tot) AS n_treated,
           CAST(SUM(d_t) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_event_days,
           CAST(SUM(dx_t * {_COX_Q} - du_q) AS BIGINT) AS score_uq,
           CAST(SUM(i_q) AS BIGINT) AS info_iq,
           CAST(SUM(dx_t * {_COX_Q} - du_q) AS DOUBLE)
             / CAST(SUM(i_q) AS DOUBLE) AS beta1
    FROM terms
    """,
    doc="Cox proportional-hazards model of signup->purchase conversion "
    "(the canonical covariate-effect companion to the KM/Nelson-Aalen "
    "curves the registry already carries): one exact Newton step from "
    "beta = 0 on the partial likelihood with Breslow tie handling, "
    "covariate = experiment variant (user_id % 2). The score U(0) and "
    "information I(0) reduce to risk-set moments S0/S1 — descending "
    "cumulative sums over the calendar-bounded duration grain (the "
    "same value-grouped-cumulative shape as KM) — and every "
    "per-duration term is quantized to integer millionths before the "
    "cross-duration sum, so both engines agree bit-for-bit; "
    "beta1 = U/I is ONE IEEE divide on identical integers. Scale: the "
    "only fact-grain work is the per-user signup/purchase aggregate "
    "(map-side combined); everything after lives on the duration "
    "relation, bounded by the calendar, not the data. A full Newton "
    "solve iterates this step with exp(beta*x) weights — each "
    "iteration the same one-pass moment shape (for binary x it is two "
    "exact exponential weights); the single step from 0 is the "
    "standard score test and carries the entire distributed design.",
)
def cox_hazard_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.survival import (
        signup_purchase_durations,
    )

    # Shared duration relation (operators/survival.py): two fact scans
    # with map-side user-grain aggregation + the footer-statistics
    # horizon — a metadata read replaced what used to be a third scan.
    d = signup_purchase_durations(
        spark, sf_dir, extra={"x": F.col("user_id") % 2}
    )
    return _cox_surface(d)


def _cox_surface(d: DataFrame) -> DataFrame:
    """The Cox partial-likelihood Newton step over a (x, evt, dur)
    relation — shared by the from-scratch form and the silver-served
    twin."""
    byt = d.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("n_t"),
        F.sum("x").cast("long").alias("x_t"),
        F.sum("evt").cast("long").alias("d_t"),
        F.sum(F.col("evt") * F.col("x")).cast("long").alias("dx_t"),
    )
    # Risk-set moments as ONE descending-cumulative window pass:
    # S0(t) = sum_{dur >= t} n_t and S1(t) = sum_{dur >= t} x_t are the
    # oracle's n - prefix / xs - prefix on the same exact integers —
    # and the totals themselves fall out as MAX(s0)/MAX(s1) (the
    # cumulative sum of non-negative counts peaks at the smallest
    # duration, where everyone is at risk). Round 13: this replaces the
    # separate `tot` aggregate, which re-ran the ENTIRE fact pipeline
    # (both event scans, the user-grain exchanges and the left join) a
    # second time just to fetch two scalars, plus its two broadcast
    # crossJoins — the per-stage floor the round-12 curve measured.
    wdesc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = byt.select(
        "d_t",
        "dx_t",
        F.sum("n_t").over(wdesc).alias("s0"),
        F.sum("x_t").over(wdesc).alias("s1"),
    )
    hit = F.col("d_t") > 0
    du_q = F.expr(f"(d_t * s1 * {_COX_Q}) div s0")
    i_q = F.expr(f"((d_t * s1 * {_COX_Q}) div s0) * (s0 - s1) div s0")
    ev_days = F.sum(F.when(hit, 1).otherwise(0)).cast("long")
    # The oracle aggregates over `terms` (event days only): on a corpus
    # with zero qualifying events its SUMs are NULL over an empty
    # relation while COUNT(*) is 0 — reproduce that shape exactly by
    # aggregating the UNFILTERED risk relation with event-day-gated
    # sums nulled when no event day exists. GLOBAL aggregate (not
    # groupBy over constants) so an empty corpus still yields one row;
    # n_subjects coalesces to 0 to match the oracle's COUNT(*) there.
    sum_if = lambda c: F.when(ev_days > 0, F.sum(F.when(hit, c).otherwise(F.lit(0).cast("long"))).cast("long"))  # noqa: E731
    uq = sum_if(F.col("dx_t") * F.lit(_COX_Q) - du_q)
    iq = sum_if(i_q)
    return risk.agg(
        F.coalesce(F.max("s0"), F.lit(0).cast("long")).alias("n_subjects"),
        F.max("s1").alias("n_treated"),
        sum_if(F.col("d_t")).alias("n_events"),
        ev_days.alias("n_event_days"),
        uq.alias("score_uq"),
        iq.alias("info_iq"),
        (uq.cast("double") / iq.cast("double")).alias("beta1"),
    )


# ---------------------------------------------------------------------------
# Logistic regression: one Newton (IRLS) step from beta = 0

# Model: P(order is finished) ~ sigmoid(b0 + b1 * order_age_days).
# At beta = 0 the Hessian is X'X/4 and the gradient X'(y - 1/2), so the
# first Newton step has the closed form
#   beta = 2 * (X'X)^{-1} [2*sy - n, 2*sxy - sx]
# — five exact BIGINT moments (n, sx, sxx, sy, sxy), then pure IEEE
# double arithmetic on identical expressions (each moment cast to
# DOUBLE before any product: n*sxx overflows BIGINT at sf10 — the OLS
# normal-equation discipline).
_LOGIT_EPOCH = "DATE '1992-01-01'"


@register(
    "logistic_newton_step",
    oracle=f"""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS sy,
             CAST(SUM(date_diff('day', {_LOGIT_EPOCH}, o_orderdate))
                  AS BIGINT) AS sx,
             CAST(SUM(date_diff('day', {_LOGIT_EPOCH}, o_orderdate)
                      * date_diff('day', {_LOGIT_EPOCH}, o_orderdate))
                  AS BIGINT) AS sxx,
             CAST(SUM(CASE WHEN o_orderstatus = 'F'
                      THEN date_diff('day', {_LOGIT_EPOCH}, o_orderdate)
                      ELSE 0 END) AS BIGINT) AS sxy
      FROM orders
    )
    SELECT n, sy AS n_pos, sx, sxx, sxy,
           2.0 * (CAST(sxx AS DOUBLE) * CAST(2 * sy - n AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(2 * sxy - sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta0,
           2.0 * (CAST(n AS DOUBLE) * CAST(2 * sxy - sx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(2 * sy - n AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta1
    FROM m
    """,
    doc="Logistic regression of order completion on order age: one "
    "Newton/IRLS step from beta = 0 — the closed-form first iteration "
    "of every GLM fitter, computed entirely from five exact integer "
    "moments in ONE map-side-combined aggregate over the fact table. "
    "At beta = 0 the working weights are the constant 1/4, so the step "
    "is 2*(X'X)^-1 * [2*sy - n, 2*sxy - sx] — the gradient doubled into "
    "integers to stay exact. The 2x2 solve runs in DOUBLE on moments "
    "cast BEFORE multiplying (n*sxx passes 2^63 at sf10; products and "
    "sums of identical doubles are IEEE-deterministic cross-engine, "
    "unlike transcendentals, so no quantization is needed). Scale: "
    "this is the textbook distributed-GLM shape — each further IRLS "
    "iteration is the same one-pass moment aggregate with "
    "sigmoid-weighted sufficient statistics; nothing but a 5-number "
    "relation ever leaves the executors.",
)
def logistic_newton_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("long")
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).cast("long")
    m = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(F.when(F.col("o_orderstatus") == "F", x).otherwise(F.lit(0)))
        .cast("long")
        .alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    g0_d = (2 * F.col("sy") - F.col("n")).cast("double")
    g1_d = (2 * F.col("sxy") - F.col("sx")).cast("double")
    det = n_d * sxx_d - sx_d * sx_d
    return m.select(
        "n",
        F.col("sy").alias("n_pos"),
        "sx",
        "sxx",
        "sxy",
        (F.lit(2.0) * (sxx_d * g0_d - sx_d * g1_d) / det).alias("beta0"),
        (F.lit(2.0) * (n_d * g1_d - sx_d * g0_d) / det).alias("beta1"),
    )


# ---------------------------------------------------------------------------
# BPE merge training (bounded merge rounds over the vocab relation)

# Merge rounds — a compile-time constant, so the oracle unrolls to R
# CTE stages and the Spark loop collects exactly R one-row argmaxes.
_BPE_ROUNDS = 8
# Word filter: pure ASCII letters, bounded length — the vocabulary
# relation stays a deterministic function of the corpus and every
# symbol is space-free (the spaced encoding depends on that).
_BPE_WORD_RE = "^[a-z]{2,16}$"

# Driver-side merge-loop gate (r17): max distinct-word vocab rows the
# driver path may collect (~50 B/row of Python tuples -> ~100 MB at
# the cap). Real [a-z]{2,16} vocabularies sit 1-3 orders below this;
# past it the Spark merge loop runs instead.
_BPE_MAX_VOCAB = 2_000_000
# Doc-count proxy in front of that probe: past it the Spark merge loop
# runs without collecting any vocab.
_BPE_MAX_DOCS = 10_000_000


def _bpe_stage_sql(i: int) -> str:
    """One unrolled merge round: pair counts -> argmax -> rewrite.

    t{i} is read by v{i} and by the oracle's consumer of the merge
    table, v{i} (like v0) by the next round's p and v, so both are
    MATERIALIZED (see round13_queries' _KNN_ORACLE_CTES)."""
    prev = f"v{i - 1}"
    return f"""
    p{i} AS (
      SELECT pr AS pair, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        SELECT UNNEST(list_transform(
                 range(1, len(sy)),
                 k -> sy[k] || ' ' || sy[k+1])) AS pr,
               cnt
        FROM (SELECT list_filter(string_split(spaced, '  '),
                                 s -> s <> '') AS sy, cnt
              FROM {prev})
      ) GROUP BY pr
    ),
    t{i} AS MATERIALIZED (
      SELECT CAST({i} AS BIGINT) AS round,
             string_split(pair, ' ')[1] AS left_sym,
             string_split(pair, ' ')[2] AS right_sym,
             replace(pair, ' ', '') AS merged,
             c AS pair_count
      FROM p{i} ORDER BY c DESC, pair ASC LIMIT 1
    ),
    v{i} AS MATERIALIZED (
      SELECT replace(spaced,
                     ' ' || left_sym || '  ' || right_sym || ' ',
                     ' ' || merged || ' ') AS spaced, cnt
      FROM {prev} CROSS JOIN t{i}
    )"""


_BPE_ORACLE = (
    f"""
    WITH words AS (
      SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents WHERE trim(text) <> ''
      ) WHERE regexp_matches(t, '{_BPE_WORD_RE}') GROUP BY t
    ),
    v0 AS MATERIALIZED (
      SELECT '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS spaced,
             cnt
      FROM words
    ),"""
    + ",".join(_bpe_stage_sql(i) for i in range(1, _BPE_ROUNDS + 1))
    + """
    SELECT * FROM ("""
    + " UNION ALL ".join(
        f"SELECT * FROM t{i}" for i in range(1, _BPE_ROUNDS + 1)
    )
    + """)
    ORDER BY round
    """
)


@register(
    "bpe_merge_training",
    oracle=_BPE_ORACLE,
    doc="Byte-pair-encoding merge training (Sennrich 2016 — the "
    f"tokenizer-training algorithm): {_BPE_ROUNDS} merge rounds, each "
    "selecting the corpus's most frequent adjacent symbol pair "
    "(count desc, pair asc — a total order, so the merge table is "
    "deterministic) and rewriting every word by merging that pair "
    "left-to-right non-overlapping. The key scale trick is the one "
    "every production BPE trainer uses: aggregate the corpus to the "
    "DISTINCT-WORD vocabulary with counts FIRST — the corpus-sized "
    "work happens exactly once; all merge rounds run on the vocab "
    "relation, orders of magnitude smaller and bounded by the "
    "language, not the data. Words are encoded as double-space-joined "
    "symbol strings so a merge is ONE string replace: both engines' "
    "replace() scans left-to-right and resumes after the consumed "
    "match (verified identical, incl. the 'a a a' overlap case), which "
    "is exactly BPE's greedy non-overlapping application; the doubled "
    "separator keeps each neighbouring boundary intact when a match "
    "consumes its two flanking spaces. Spark runs the bounded loop "
    "with one 1-row argmax collect per round (the greedy-max-coverage "
    "pattern) against a localCheckpointed vocab; the oracle unrolls "
    f"the same {_BPE_ROUNDS} stages as CTEs. Output: the merge table "
    "(round, pair, merged symbol, count) — the artifact a tokenizer "
    "ships.",
)
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "round long, left_sym string, right_sym string, "
        "merged string, pair_count long",
    ).orderBy("round")


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The bounded Sennrich merge loop, shared by bpe_merge_training
    (its surface) and bpe_encode_stats (round 13: trains then APPLIES
    the merges). Returns [(round, left, right, merged, pair_count)]."""
    from healthcare_aihw_etl_pipeline_spark.operators.search import tokens

    docs = load_table(spark, sf_dir, "documents")
    spark_sess = docs.sparkSession
    nparts = spark_sess.sparkContext.defaultParallelism
    words = (
        docs.where(F.trim(F.col("text")) != "")
        .select(F.explode(tokens("text")).alias("word"))
        .where(F.col("word").rlike(_BPE_WORD_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # The corpus-sized work is ONE pass, the distinct-word count above;
    # every merge round runs on the language-bounded vocab. Under both
    # gates (the documents footer, then the vocab itself, which a
    # token-diverse corpus can inflate independently of doc count) the
    # vocab is collected once and the 8 rounds run driver-side with the
    # IDENTICAL pair-count / argmax / left-to-right non-overlapping
    # replace semantics (Python str.replace == Spark replace() == DuckDB
    # replace(), verified for the 'a a a' overlap case), as production
    # BPE trainers do; otherwise the Spark loop below runs. Measured
    # cold at sf0.001 against the per-round Spark loop (17 jobs):
    # bpe_merge_training 12.5 -> 1.3 s, bpe_encode_stats 26 -> 3 s;
    # byte-identical merge tables (the oracle and tests/test_round12.py
    # pin them).
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import table_rows

    collected = (
        collect_at_most(words, _BPE_MAX_VOCAB)
        if at_most(table_rows(sf_dir, "documents"), _BPE_MAX_DOCS)
        else None
    )
    if collected is not None:
        vocab_rows = [
            ("  " + "".join(ch + "  " for ch in r["word"]), r["cnt"])
            for r in collected
        ]
        out: list[tuple] = []
        for rnd in range(1, _BPE_ROUNDS + 1):
            counts: dict[str, int] = {}
            for spaced, cnt in vocab_rows:
                sy = [s for s in spaced.split("  ") if s != ""]
                if len(sy) < 2:
                    continue
                for k in range(len(sy) - 1):
                    pr = sy[k] + " " + sy[k + 1]
                    counts[pr] = counts.get(pr, 0) + cnt
            if not counts:
                break
            pair = min(counts, key=lambda k: (-counts[k], k))
            c = counts[pair]
            a, b = pair.split(" ")
            merged = a + b
            out.append((rnd, a, b, merged, c))
            src, dst = f" {a}  {b} ", f" {merged} "
            vocab_rows = [
                (spaced.replace(src, dst), cnt)
                for spaced, cnt in vocab_rows
            ]
        return out
    # Vocab relation: bounded by the language (~1e4-1e6 words at any
    # corpus size), so checkpointing it per round is metadata-scale.
    # repartition first: the vocab parquet lineage may hold 1-2 splits.
    vocab = (
        words.repartition(nparts)
        .select(
            F.concat(
                F.lit("  "),
                F.regexp_replace(F.col("word"), "(.)", "$1  "),
            ).alias("spaced"),
            "cnt",
        )
        .localCheckpoint(eager=True)
    )
    out = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        syms = F.filter(
            F.split(F.col("spaced"), "  "), lambda s: s != F.lit("")
        )
        # Guard size >= 2 BEFORE building the index sequence: Spark's
        # sequence(1, 0) is the DESCENDING [1, 0], not empty (DuckDB's
        # range(1, 1) is empty) — a fully-merged single-symbol word
        # would otherwise index element 0.
        sy = vocab.select(syms.alias("sy"), "cnt").where(
            F.size("sy") >= 2
        )
        pairs = sy.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("sy") - F.lit(1)),
                    lambda k: F.concat_ws(
                        " ",
                        F.element_at(F.col("sy"), k),
                        F.element_at(F.col("sy"), k + F.lit(1)),
                    ),
                )
            ).alias("pair"),
            "cnt",
        )
        pick = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not pick:
            break
        pair, c = pick[0].pair, pick[0].c
        a, b = pair.split(" ")
        merged = a + b
        out.append((rnd, a, b, merged, c))
        vocab = vocab.select(
            F.replace(
                F.col("spaced"),
                F.lit(f" {a}  {b} "),
                F.lit(f" {merged} "),
            ).alias("spaced"),
            "cnt",
        ).localCheckpoint(eager=True)
    return out


# ---------------------------------------------------------------------------
# Winnowing xxhash64 fast path (production twin of the md5 portable form)

@register(
    "winnow_shared_fingerprints_fast",
    # No oracle: DuckDB has no xxhash64. The md5 twin
    # (winnow_shared_fingerprints, round11b) carries the full
    # bit-replay oracle for the identical banding algebra; the
    # equivalence law (both paths flag the same planted shared-run
    # structure, locality guarantee included) is asserted in
    # tests/test_round12.py on a planted corpus — the same fast-path
    # discipline as the minhash/simhash dedup twins.
    oracle=None,
    doc="Winnowing fingerprints, production hash path: identical "
    "algorithm to winnow_shared_fingerprints (token 3-grams, window-4 "
    "minima, Schleimer/Wilkerson/Aiken locality guarantee) with the "
    "k-gram hash swapped from interpreted-HOF md5+conv to the "
    "JVM-native codegen xxhash64 — the round-11 curve showed the md5 "
    "constant IS the residual vs single-node (~17us per k-gram "
    "interpreted), and xxhash64 is the hash the dedup family already "
    "ships in production paths. Same plan shape: row-local k-gram -> "
    "hash -> least()-chain window minima (no per-window array "
    "allocation), then the two map-side-combined fingerprint "
    "aggregates. Shuffled volume stays ~2/w per token. Rows-only "
    "correctness (the hash is engine-native); the md5 twin is the "
    "portable oracle form.",
)
def winnow_shared_fingerprints_fast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return winnow_top_fingerprints(
        load_table(spark, sf_dir, "documents"), F.xxhash64
    )


# ---------------------------------------------------------------------------
# Exact ROC-AUC of the order-age score (evaluation for the GLM family)


@register(
    "roc_auc_order_age",
    oracle=f"""
    WITH vals AS (
      SELECT date_diff('day', {_LOGIT_EPOCH}, o_orderdate) AS s,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    g AS (
      SELECT s,
             CAST(SUM(y) AS BIGINT) AS n1,
             CAST(SUM(1 - y) AS BIGINT) AS n0
      FROM vals GROUP BY s
    ),
    cum AS (
      SELECT n1, n0, n1 + n0 AS c,
             CAST(SUM(n1 + n0) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (n1 + n0) AS BIGINT) AS prev
      FROM g
    ),
    agg AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS np,
             CAST(SUM(n0) AS BIGINT) AS nn,
             CAST(SUM(n1 * (2 * prev + c + 1)) AS BIGINT) AS r2p
      FROM cum
    )
    SELECT np AS n_pos, nn AS n_neg,
           CAST(r2p - np * (np + 1) AS BIGINT) AS u2,
           CAST(r2p - np * (np + 1) AS DOUBLE)
             / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) AS auc,
           CAST(r2p - np * (np + 1) AS DOUBLE)
             / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) - 1.0
             AS gini_index
    FROM agg
    """,
    doc="Exact ROC-AUC of order age as a completion score — the "
    "evaluation metric for the logistic_newton_step model (AUC is "
    "monotone-invariant, so the single-feature model's AUC IS the raw "
    "feature's AUC; the pair ships train + evaluate for the GLM "
    "family). Computed exactly through the Mann-Whitney identity "
    "AUC = U/(n_pos*n_neg) with the registry's doubled-midrank trick: "
    "per distinct score, positive/negative counts; one cumulative "
    "window over the calendar-bounded score grain; the doubled "
    "positive rank sum, U (doubled) and both class counts stay exact "
    "BIGINT, and AUC/Gini are single shared IEEE expressions. Scale: "
    "one fact groupBy collapsing to the score domain (~2500 days), "
    "then scalar math — the textbook distributed-AUC shape "
    "(histogram-then-rank), never a pairwise comparison.",
)
def roc_auc_order_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1992-01-01").cast("date"),
        ).cast("long").alias("s"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = vals.groupBy("s").agg(
        F.sum("y").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n0"),
    )
    wcum = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "n1",
        "n0",
        (F.col("n1") + F.col("n0")).alias("c"),
        (
            F.sum(F.col("n1") + F.col("n0")).over(wcum)
            - (F.col("n1") + F.col("n0"))
        ).alias("prev"),
    )
    agg = cum.agg(
        F.sum("n1").alias("np"),
        F.sum("n0").alias("nn"),
        F.sum(
            F.col("n1")
            * (F.lit(2) * F.col("prev") + F.col("c") + F.lit(1))
        ).alias("r2p"),
    )
    u2 = (F.col("r2p") - F.col("np") * (F.col("np") + 1)).cast("long")
    np_d = F.col("np").cast("double")
    nn_d = F.col("nn").cast("double")
    u2_d = u2.cast("double")
    return agg.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        u2.alias("u2"),
        (u2_d / (F.lit(2.0) * np_d * nn_d)).alias("auc"),
        (u2_d / (np_d * nn_d) - F.lit(1.0)).alias("gini_index"),
    )


# ---------------------------------------------------------------------------
# Isotonic regression (PAVA solution via the exact max-min formula)

# Rate quantum: billionths. cum_ones * Q <= 1.5e7 * 1e9 at sf10 — safe
# through ~sf600.
_ISO_Q = 1_000_000_000


@register(
    "isotonic_calibration_by_age",
    oracle=f"""
    WITH g AS (
      SELECT date_diff('day', {_LOGIT_EPOCH}, o_orderdate) AS s,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ones
      FROM orders GROUP BY s
    ),
    cum AS (
      SELECT s, cnt, ones,
             SUM(cnt) OVER w AS ccnt, SUM(ones) OVER w AS cones
      FROM g
      WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    pairs AS (
      SELECT lo.s AS j, hi.s AS k,
             ((hi.cones - lo.cones + lo.ones) * {_ISO_Q})
               // (hi.ccnt - lo.ccnt + lo.cnt) AS bq
      FROM cum lo JOIN cum hi ON lo.s <= hi.s
    ),
    amin AS (
      SELECT j, k,
             MIN(bq) OVER (PARTITION BY j ORDER BY k DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
      FROM pairs
    ),
    fit AS (
      SELECT k AS s, CAST(MAX(a) AS BIGINT) AS iso_q
      FROM amin GROUP BY k
    )
    SELECT g.s AS age_day, g.cnt AS n, g.ones AS n_pos,
           CAST((g.ones * {_ISO_Q}) // g.cnt AS BIGINT) AS rate_q,
           fit.iso_q
    FROM g JOIN fit ON g.s = fit.s
    ORDER BY age_day
    """,
    doc="Isotonic regression of order-completion rate on order age — "
    "the calibration leg of the GLM family (train: "
    "logistic_newton_step; evaluate: roc_auc_order_age; calibrate: "
    "this — the standard monotone-calibration stack). Computed by the "
    "EXACT max-min characterization of the weighted-L2 isotonic "
    "solution (Barlow et al. 1972): fit(i) = max_{{j<=i}} min_{{k>=i}} "
    "wmean(y, j..k). Every windowed mean quantizes to billionths by "
    "truncating integer division, and because truncation is monotone "
    "it COMMUTES with min/max — the integer result is exactly "
    "floor(Q * true fit), bit-stable on both engines with zero float "
    "in the lattice. Scale: the only fact-grain work is one map-side "
    "combined groupBy to the age grain; the O(G^2) pair relation "
    "(~3M rows) is CALENDAR-bounded — independent of corpus size — "
    "so the sequential-looking PAVA becomes two windows and a "
    "groupBy over a fixed-size relation. Verified against a "
    "pure-Python Fraction-exact PAVA (the minimax theorem makes them "
    "equal).",
)
def isotonic_calibration_by_age(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    s = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("long")
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    g = o.groupBy(s.alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(y).cast("long").alias("ones"),
    )
    wcum = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "s",
        "cnt",
        "ones",
        F.sum("cnt").over(wcum).alias("ccnt"),
        F.sum("ones").over(wcum).alias("cones"),
    )
    lo = cum.select(
        F.col("s").alias("j"),
        F.col("cnt").alias("j_cnt"),
        F.col("ones").alias("j_ones"),
        F.col("ccnt").alias("j_ccnt"),
        F.col("cones").alias("j_cones"),
    )
    hi = cum.select(
        F.col("s").alias("k"),
        F.col("ccnt").alias("k_ccnt"),
        F.col("cones").alias("k_cones"),
    )
    # calendar-bounded BNLJ (the Theil-Sen precedent): G^2 pairs where
    # G is the number of distinct age days, not a function of the data
    pairs = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        F.expr(
            f"((k_cones - j_cones + j_ones) * {_ISO_Q})"
            " div (k_ccnt - j_ccnt + j_cnt)"
        ).alias("bq"),
    )
    wmin = (
        Window.partitionBy("j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    amin = pairs.select("j", "k", F.min("bq").over(wmin).alias("a"))
    fit = amin.groupBy("k").agg(F.max("a").cast("long").alias("iso_q"))
    return (
        g.join(fit, g["s"] == fit["k"])
        .select(
            F.col("s").alias("age_day"),
            F.col("cnt").alias("n"),
            F.col("ones").alias("n_pos"),
            F.expr(f"(ones * {_ISO_Q}) div cnt").cast("long").alias("rate_q"),
            "iso_q",
        )
        .orderBy("age_day")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction interval (distribution-free coverage)

# Miscoverage level: alpha = 0.1 -> the ceil(0.9*(n_cal+1))-th smallest
# calibration residual is the interval half-width (finite-sample
# guarantee >= 90% coverage on exchangeable data).
_CONF_KEY = (
    "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
)


@register(
    "conformal_interval_price",
    oracle=f"""
    WITH base AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST({{y_c}} AS DOUBLE) AS y,
             CAST(l_quantity AS BIGINT) AS xi,
             CAST({{y_c}} AS BIGINT) AS yi,
             CASE WHEN substr(md5({_CONF_KEY}), 1, 2) < '55' THEN 0
                  WHEN substr(md5({_CONF_KEY}), 1, 2) < 'aa' THEN 1
                  ELSE 2 END AS split
      FROM lineitem
    ),
    m AS (
      -- Exact integer moments (HUGEINT), cast to DOUBLE only for the
      -- solve — the same order as the Spark side's BIGINT sums, so the
      -- two engines round the SAME exact integer once instead of
      -- accumulating order-dependent double partials. Parity bound is
      -- now the Spark long-sum overflow (sxy ~ 2.6e15 at sf10, 2^63 at
      -- ~sf3000), not the 2^53 double-mantissa edge (~sf30).
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xi) AS DOUBLE) AS sx, CAST(SUM(yi) AS DOUBLE) AS sy,
             CAST(SUM(xi * xi) AS DOUBLE) AS sxx,
             CAST(SUM(xi * yi) AS DOUBLE) AS sxy
      FROM base WHERE split = 0
    ),
    fit AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS b0
      FROM m
    ),
    cal AS (
      SELECT CAST(floor(abs(y - (b0 + b1 * x))) AS BIGINT) AS r_c
      FROM base CROSS JOIN fit WHERE split = 1
    ),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    bands AS (
      SELECT r_c, COUNT(*) AS c FROM cal GROUP BY r_c
    ),
    q AS (
      SELECT CAST(MIN(r_c) AS BIGINT) AS q_c FROM (
        SELECT r_c,
               SUM(c) OVER (ORDER BY r_c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum
        FROM bands
      ) CROSS JOIN nc
      WHERE cum >= (9 * (n_cal + 1) + 9) // 10
    ),
    ev AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
             CAST(SUM(CASE WHEN CAST(floor(abs(y - (b0 + b1 * x)))
                                AS BIGINT) <= q_c
                      THEN 1 ELSE 0 END) AS BIGINT) AS covered
      FROM base CROSS JOIN fit CROSS JOIN q WHERE split = 2
    )
    SELECT (SELECT n FROM fit) AS n_train,
           (SELECT n_cal FROM nc) AS n_cal,
           (SELECT b1 FROM fit) AS b1,
           (SELECT q_c FROM q) AS q_cents,
           n_eval, covered,
           CAST(covered * 1000000 // n_eval AS BIGINT) AS coverage_ppm
    FROM ev
    """.replace("{y_c}", "round(l_extendedprice * 100)"),
    doc="Split-conformal prediction interval for line price from "
    "quantity — the distribution-free uncertainty layer of the ML "
    "family (finite-sample coverage guarantee with NO model or noise "
    "assumptions; Vovk/Papadopoulos, the standard production recipe): "
    "md5 thirds split the facts into train/calibrate/evaluate; OLS "
    "fits on train (exact-moment normal equations in shared IEEE "
    "expressions); the ceil(0.9*(n_cal+1))-th smallest absolute "
    "calibration residual — an EXACT order statistic via cent-banded "
    "cumulative counts, never a sort of the residual stream — is the "
    "interval half-width; held-out coverage is reported in exact ppm. "
    "The coverage >= 90% guarantee is asserted as a property test. "
    "Scale: three scans of the fact table (train moments, calibration "
    "bands, eval coverage), each a map-side-combined aggregate; the "
    "order statistic runs on the banded residual DOMAIN, not the row "
    "stream — the same histogram-then-rank shape as the AUC/quantile "
    "family.",
)
def conformal_interval_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    h2 = F.substring(
        F.md5(
            F.concat_ws(
                "-",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        ),
        1,
        2,
    )
    base = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.expr("CAST(round(l_extendedprice * 100) AS DOUBLE)").alias("y"),
        F.col("l_quantity").cast("long").alias("xi"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("yi"),
        F.when(h2 < "55", 0).when(h2 < "aa", 1).otherwise(2).alias("split"),
    )
    # Exact BIGINT moments on BOTH engines (oracle sums the same
    # BIGINT-cast xi/yi into HUGEINT), each cast to DOUBLE once before
    # the solve — bit-identical until the Spark long sum itself
    # overflows (~sf3000), far past the old double-partial 2^53 edge.
    m = base.where("split = 0").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xi").cast("double").alias("sx"),
        F.sum("yi").cast("double").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("double").alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).cast("double").alias("sxy"),
    )
    b1 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = m.select(
        "n", b1.alias("b1"), ((F.col("sy") - b1 * F.col("sx")) / F.col("n")).alias("b0")
    )
    resid = F.floor(
        F.abs(F.col("y") - (F.col("b0") + F.col("b1") * F.col("x")))
    ).cast("long")
    cal = (
        base.where("split = 1")
        .crossJoin(F.broadcast(fit))
        .select(resid.alias("r_c"))
    )
    nc = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    bands = cal.groupBy("r_c").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("r_c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    q = (
        bands.select("r_c", F.sum("c").over(wcum).alias("cum"))
        .crossJoin(F.broadcast(nc))
        .where(F.expr("cum >= (9 * (n_cal + 1) + 9) div 10"))
        .agg(F.min("r_c").cast("long").alias("q_c"))
    )
    ev = (
        base.where("split = 2")
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(F.when(resid <= F.col("q_c"), 1).otherwise(0))
            .cast("long")
            .alias("covered"),
        )
    )
    return (
        ev.crossJoin(F.broadcast(fit.select("n", "b1")))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(q))
        .select(
            F.col("n").alias("n_train"),
            "n_cal",
            "b1",
            F.col("q_c").alias("q_cents"),
            "n_eval",
            "covered",
            F.expr("covered * 1000000 div n_eval").cast("long")
            .alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# t-closeness release audit (completes the k-anonymity / l-diversity pair)

# Variational-distance quantum: parts-per-million. The cross-multiplied
# deviation sum S <= 2 * n_g * N, so S * 500000 <= 1e6 * n_g * N —
# under 2^63 while n_g * N < 9.2e12, i.e. through ~sf40 for the worst
# group; past that, band to per-thousand.
_TC_BANDS = "CASE band_lo WHEN 1 THEN 'k=1 unique' WHEN 2 THEN '2<=k<5' WHEN 5 THEN '5<=k<20' ELSE 'k>=20' END"


@register(
    "t_closeness_audit",
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer GROUP BY 1, 2, 3
    ),
    seg AS (
      SELECT c_mktsegment, CAST(SUM(cnt) AS BIGINT) AS seg_n FROM cells
      GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cells),
    per_cell AS (
      SELECT c.c_nationkey, c.bal_band, c.cnt, s.seg_n, t.n,
             SUM(c.cnt) OVER (PARTITION BY c.c_nationkey, c.bal_band)
               AS k
      FROM cells c JOIN seg s USING (c_mktsegment) CROSS JOIN tot t
    ),
    per_group AS (
      SELECT c_nationkey, bal_band,
             CAST(MAX(k) AS BIGINT) AS k,
             CAST(SUM(abs(cnt * n - seg_n * k)) AS BIGINT)
               AS present_dev,
             CAST(SUM(seg_n) AS BIGINT) AS present_seg_n
      FROM per_cell GROUP BY c_nationkey, bal_band
    ),
    vd AS (
      SELECT k,
             (present_dev + (t.n - present_seg_n) * k) * 500000
               // (k * t.n) AS vd_ppm
      FROM per_group CROSS JOIN tot t
    ),
    banded AS (
      SELECT {{band_expr}} AS band_lo, k, vd_ppm FROM vd
    )
    SELECT band_lo, {_TC_BANDS} AS band,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MAX(vd_ppm) AS BIGINT) AS max_vd_ppm,
           CAST(SUM(vd_ppm) // COUNT(*) AS BIGINT) AS mean_vd_ppm,
           CAST(SUM(CASE WHEN vd_ppm > 200000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_t
    FROM banded GROUP BY band_lo ORDER BY band_lo
    """.replace("{band_expr}", sql_band_of("k")),
    doc="t-closeness release audit over the same quasi-identifier frame "
    "as k_anonymity_audit (nation x $1000 balance band, sensitive = "
    "market segment): per QI group, the variational distance "
    "(categorical t-closeness, Li et al. 2007) between the group's "
    "sensitive distribution and the global one — exact via "
    "cross-multiplied integer counts, ppm-quantized with truncating "
    "division; absent segments contribute their full global mass "
    "through the (N - sum of present seg_n) * k term, no outer join "
    "against the segment domain needed. Reported per k-anonymity risk "
    "band with the count of groups above the t = 0.2 disclosure "
    "threshold — k, l (k_anonymity_audit) and t together are the "
    "standard pre-release privacy triple. Scale: one fact groupBy to "
    "the (QI, segment) cell grain (map-side combined); the 5-row "
    "segment totals broadcast back; everything after runs on the "
    "group relation.",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators import privacy

    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    seg = cells.groupBy("c_mktsegment").agg(
        F.sum("cnt").cast("long").alias("seg_n")
    )
    tot = cells.agg(F.sum("cnt").cast("long").alias("n"))
    wg = Window.partitionBy("c_nationkey", "bal_band")
    enriched = (
        cells.join(F.broadcast(seg), "c_mktsegment")
        .crossJoin(F.broadcast(tot))
        .withColumn("k", F.sum("cnt").over(wg).cast("long"))
    )
    per_group = enriched.groupBy("c_nationkey", "bal_band").agg(
        F.max("k").alias("k"),
        F.sum(
            F.abs(F.col("cnt") * F.col("n") - F.col("seg_n") * F.col("k"))
        )
        .cast("long")
        .alias("present_dev"),
        F.sum("seg_n").cast("long").alias("present_seg_n"),
        F.max("n").alias("n"),
    )
    vd = per_group.select(
        "k",
        F.expr(
            "(present_dev + (n - present_seg_n) * k) * 500000"
            " div (k * n)"
        ).alias("vd_ppm"),
    )
    banded = vd.select(privacy.band_of(F.col("k")).alias("band_lo"), "k", "vd_ppm")
    band_name = (
        F.when(F.col("band_lo") == 1, "k=1 unique")
        .when(F.col("band_lo") == 2, "2<=k<5")
        .when(F.col("band_lo") == 5, "5<=k<20")
        .otherwise("k>=20")
    )
    return (
        banded.groupBy("band_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.max("vd_ppm").cast("long").alias("max_vd_ppm"),
            F.expr("SUM(vd_ppm) div COUNT(*)").cast("long").alias("mean_vd_ppm"),
            F.sum(F.when(F.col("vd_ppm") > 200000, 1).otherwise(0))
            .cast("long")
            .alias("n_above_t"),
        )
        .select("band_lo", band_name.alias("band"), "n_groups",
                "max_vd_ppm", "mean_vd_ppm", "n_above_t")
        .orderBy("band_lo")
    )


# ---------------------------------------------------------------------------
# PCA top component via integer power iteration on the mean Gram matrix

# Embedding quantum (3dp), iterate rescale bound and direction surface
# quantum. Worst-case bounds at D=64 for ANY unit-ball coordinates
# (|x| <= 1 => |xq| <= 1000, mean-Gram entries <= 1e6):
#   v2 entries       <= 64 * 1e6 * _PCA_ITQ        = 6.4e11
#   direction_q step <= v2 * _PCA_VQ               = 6.4e17  (< 2^63)
#   Rayleigh num     <= 64 * 6.4e11 * _PCA_ITQ     = 4.1e17  (< 2^63)
# The iterate rescale target is deliberately 1e4, not 1e6: a 1e6
# iterate pushed the direction scale-up and Rayleigh products past
# int64 on adversarial (near-unit, correlated) coordinates — Spark
# (non-ANSI) would wrap silently while the oracle errors.
_PCA_XQ = 1_000
_PCA_ITQ = 10_000
_PCA_VQ = 1_000_000
_PCA_D = 64


@register(
    "pca_power_component",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id, i,
             -- promote to DOUBLE before scaling: the stored type is
             -- float32, and a single-precision x*1000 rounds
             -- differently at quantization boundaries (caught by the
             -- sf10 spot-check as an off-by-one direction component;
             -- Spark's pandas path promotes to float64 first)
             CAST(floor(CAST(embedding[i] AS DOUBLE) * {_PCA_XQ} + 0.5)
                  AS BIGINT) AS x
      FROM embeddings CROSS JOIN range(1, {_PCA_D + 1}) t(i)
    ),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    gram AS (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(a.x * b.x) AS BIGINT) AS g
      FROM xq a JOIN xq b USING (vec_id)
      GROUP BY a.i, b.i
    ),
    m AS (SELECT i, j, g // n AS m FROM gram CROSS JOIN nv),
    v1 AS (SELECT i, CAST(SUM(m) AS BIGINT) AS v FROM m GROUP BY i),
    s1 AS (SELECT MAX(abs(v)) // {_PCA_ITQ} + 1 AS s FROM v1),
    v1r AS (SELECT i, v // s AS v FROM v1 CROSS JOIN s1),
    v2 AS (
      SELECT m.i AS i, CAST(SUM(m.m * v1r.v) AS BIGINT) AS v
      FROM m JOIN v1r ON m.j = v1r.i GROUP BY m.i
    ),
    s2 AS (SELECT MAX(abs(v)) AS mx FROM v2),
    ray AS (
      -- CAST the quotient itself: DuckDB SUMs of BIGINT are HUGEINT,
      -- and a HUGEINT surfaced through the pandas bridge degrades to
      -- float64 (the strict-harness gotcha)
      SELECT CAST(CAST(SUM(v2.v * v1r.v) AS BIGINT)
               // CAST((SELECT SUM(v * v) FROM v1r) AS BIGINT)
               AS BIGINT) AS rq
      FROM v2 JOIN v1r USING (i)
    )
    SELECT v2.i AS dim,
           CAST(v2.v * {_PCA_VQ} // s2.mx AS BIGINT) AS direction_q,
           (SELECT n FROM nv) AS n_vectors,
           (SELECT rq FROM ray) AS rayleigh_q
    FROM v2 CROSS JOIN s2
    ORDER BY dim
    """,
    doc="Principal-direction estimate of the embedding cloud: TWO exact "
    "integer power-iteration steps on the mean (uncentered) Gram "
    "matrix — the "
    "dimensionality-reduction leg of the iterative-ML family next to "
    "k-means/PageRank/greedy-coverage. Coordinates quantize to 3dp "
    "integers (floor(x*1000 + 0.5), identical in both engines), so the "
    "Gram moments, the div-n mean matrix, both matrix-vector products, "
    "the between-iteration L-inf rescale and the Rayleigh-quotient "
    "eigenvalue estimate are ALL exact BIGINT arithmetic — zero float "
    "anywhere, hash-stable by construction. Surface: the direction in "
    "L-inf-normalized millionths plus the Rayleigh quotient (largest "
    "eigenvalue of the mean Gram, quantized-coordinate units). Scale "
    "shape: the only fact-grain pass computes per-Arrow-batch partial "
    "Gram matrices with vectorized int64 X^T X (mapInPandas — the "
    "multimodal/Arrow discipline; numpy integer matmul is exact and "
    "associative, so batch boundaries cannot change the sum) and "
    "shuffles ONLY the D^2 = 4096-entry partials per partition; every "
    "iteration then runs on the fixed 4096-row matrix relation — the "
    "oracle replays the same integers through an explode/self-join, "
    "feasible at oracle scale and bit-identical because integer sums "
    "are order-free. Like kmeans_refine_clusters, the registered op is "
    "the exact BOUNDED iteration (convergence needs a spectral gap the "
    "synthetic corpus deliberately lacks); further components = "
    "deflate and repeat, further iterations = the same bounded step.",
)
def pca_power_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    spark_sess = emb.sparkSession

    def gram_partials(batches):
        import numpy as np

        acc = np.zeros((_PCA_D, _PCA_D), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xq = np.floor(x * _PCA_XQ + 0.5).astype(np.int64)
            acc += xq.T @ xq
            seen = True
        if seen:
            ii, jj = np.indices((_PCA_D, _PCA_D))
            yield pd.DataFrame(
                {
                    "i": (ii + 1).reshape(-1),
                    "j": (jj + 1).reshape(-1),
                    "p": acc.reshape(-1),
                }
            )

    partials = emb.select("embedding").mapInPandas(
        gram_partials, "i int, j int, p long"
    )
    nv = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = (
        partials.groupBy("i", "j")
        .agg(F.sum("p").cast("long").alias("g"))
        .crossJoin(F.broadcast(nv))
        .select("i", "j", F.expr("g div n").alias("m"))
    )
    v1 = m.groupBy("i").agg(F.sum("m").cast("long").alias("v"))
    s1 = v1.agg(
        F.expr(f"MAX(abs(v)) div {_PCA_ITQ} + 1").alias("s")
    )
    v1r = v1.crossJoin(F.broadcast(s1)).select(
        "i", F.expr("v div s").alias("v")
    )
    v2 = (
        m.join(
            v1r.select(F.col("i").alias("j"), F.col("v").alias("vj")), "j"
        )
        .groupBy("i")
        .agg(F.sum(F.col("m") * F.col("vj")).cast("long").alias("v"))
    )
    s2 = v2.agg(F.max(F.abs(F.col("v"))).alias("mx"))
    vsq = v1r.agg(F.sum(F.col("v") * F.col("v")).alias("vv"))
    ray = (
        v2.join(v1r.select(F.col("i"), F.col("v").alias("v1")), "i")
        .agg(F.sum(F.col("v") * F.col("v1")).alias("num"))
        .crossJoin(F.broadcast(vsq))
        .select(F.expr("num div vv").cast("long").alias("rq"))
    )
    return (
        v2.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(nv))
        .crossJoin(F.broadcast(ray))
        .select(
            F.col("i").alias("dim"),
            F.expr(f"v * {_PCA_VQ} div mx").cast("long").alias("direction_q"),
            F.col("n").alias("n_vectors"),
            F.col("rq").alias("rayleigh_q"),
        )
        .orderBy("dim")
    )
