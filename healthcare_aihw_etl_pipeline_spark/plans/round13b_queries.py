"""Round-13 continuation families.

- Kolmogorov–Smirnov two-sample test (ks_two_sample_value): the
  nonparametric distribution-drift gate the PSI/Wasserstein family was
  missing — exact integer cross-multiplied CDF gap, no libm anywhere.
- Brier-score decomposition (brier_decomposition): reliability /
  resolution / uncertainty (Murphy 1973) of a train-split forecast on a
  held-out split — completes the GLM evaluate→calibrate stack beside
  roc_auc_order_age and isotonic_calibration_by_age.
- Zipf rank-frequency fit (zipf_slope_tokens): log-log OLS slope over
  the top-1000 token ranks — the corpus-health diagnostic next to the
  entropy/Gopher screens (natural text ≈ -1).
- Johnson–Lindenstrauss projection search (jl_projection_top10):
  ±1 md5-derived 64→16 projection, exact integer projected distances,
  top-10 with per-row exact-top-10 membership — the dimensionality-
  reduction leg of the ANN family (qLSH keeps only signs; JL keeps
  distances).
- Sequential probability ratio test (sprt_ab_decision): Wald's SPRT
  over daily conversion counts per A/B variant — the sequential-
  decision leg of the experimentation family (CUPED/Welch-t are
  fixed-horizon; SPRT is the early-stopping form).

Same contract as every plans module: idiomatic PySpark paired with a
DuckDB oracle whose arithmetic is bit-identical (exact BIGINT sums;
any double step is a single identically-written IEEE formula evaluated
once per bounded row, then quantized). Reference lineage: extends the
reference's descriptive-statistics surface (/root/reference/main.py
grouped views, streamlit_app.py:108-152 distribution charts) to the
hypothesis-testing and evaluation statistics a production pipeline
runs on the same grouped relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators.gates import at_most
from healthcare_aihw_etl_pipeline_spark.plans.registry import cents, register
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample test

# D = max_v |F1(v) - F2(v)| compared via the cross-multiplied integer
# d_num = max |n2*cum1 - n1*cum2| — exact at any scale where n1*cum1
# fits int64 (n1, n2 <= 3e9 keeps the product under 2^63; documented
# corpus bound, same class as the Gini DECIMAL note). The quantized
# display statistic divides once, as a single identical double op.
_KS_DQ = (
    "CAST(floor(CAST(d_num AS DOUBLE) * 1000000.0"
    " / (CAST(n_purchase AS DOUBLE) * CAST(n_click AS DOUBLE)) + 0.5)"
    " AS BIGINT)"
)


@register(
    "ks_two_sample_value",
    oracle=f"""
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v_c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    g AS (
      SELECT v_c, CAST(SUM(is_p) AS BIGINT) AS c1,
             CAST(SUM(1 - is_p) AS BIGINT) AS c2
      FROM pts GROUP BY v_c
    ),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n_purchase,
             CAST(SUM(c2) AS BIGINT) AS n_click
      FROM g
    ),
    cum AS (
      SELECT v_c,
             SUM(c1) OVER (ORDER BY v_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
             SUM(c2) OVER (ORDER BY v_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
      FROM g
    ),
    d AS (
      SELECT v_c, abs(n_click * f1 - n_purchase * f2) AS dn
      FROM cum CROSS JOIN tot
    ),
    mx AS (SELECT CAST(MAX(dn) AS BIGINT) AS d_num FROM d),
    at AS (
      SELECT CAST(MIN(v_c) AS BIGINT) AS at_value_c
      FROM d, mx WHERE d.dn = mx.d_num
    )
    SELECT n_purchase, n_click, d_num, {_KS_DQ} AS d_q, at_value_c
    FROM tot, mx, at
    """,
    doc="Kolmogorov–Smirnov two-sample test between the purchase and "
    "click value distributions — the nonparametric drift gate beside "
    "value_drift_psi (binned) and wasserstein_daily_revenue "
    "(transport): D = max CDF gap over the cents-quantized value "
    "domain, decided on the EXACT integer cross-multiplication "
    "|n2*cum1 - n1*cum2| (no division until the one quantized display "
    "ratio), so the statistic and its argmax value hash-check at any "
    "sf. Scale shape: one scan -> conditional groupBy on the value "
    "domain (map-side combined; the domain is bounded by the corpus's "
    "fixed price range, not the row count), one bounded-domain "
    "cumulative window, one max — the nelson_aalen calendar-bounded "
    "window law on the price axis.",
)
def ks_two_sample_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pts = ev.where(F.col("event_type").isin("purchase", "click")).select(
        cents("value").alias("v_c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_p"
        ),
    )
    g = pts.groupBy("v_c").agg(
        F.sum("is_p").cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("is_p")).cast("long").alias("c2"),
    )
    tot = g.agg(
        F.sum("c1").cast("long").alias("n_purchase"),
        F.sum("c2").cast("long").alias("n_click"),
    )
    w = Window.orderBy("v_c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "v_c",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "v_c",
        F.abs(
            F.col("n_click") * F.col("f1")
            - F.col("n_purchase") * F.col("f2")
        ).alias("dn"),
    )
    mx = d.agg(F.max("dn").cast("long").alias("d_num"))
    at = (
        d.crossJoin(F.broadcast(mx))
        .where(F.col("dn") == F.col("d_num"))
        .agg(F.min("v_c").cast("long").alias("at_value_c"))
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            "n_purchase",
            "n_click",
            "d_num",
            F.expr(_KS_DQ).alias("d_q"),
            "at_value_c",
        )
    )


# ---------------------------------------------------------------------------
# Brier-score decomposition (Murphy): reliability / resolution / uncertainty

# Forecast quantum: integer basis points (the SCORE_QUANT tier). The
# Brier numerator is EXACT integer arithmetic; REL/RES terms carry one
# rational that cannot stay integer (o_k/n_k), so each bin's term is a
# single identically-written double formula quantized to millionths
# BEFORE the (exact BIGINT) sum — partial-agg order cannot move totals.
_BR_Q = 10_000
_BR_REL_TERM = (
    "CAST(floor(CAST(n_k AS DOUBLE) * "
    f"(CAST(p_q AS DOUBLE) / {_BR_Q}.0"
    " - CAST(o_k AS DOUBLE) / CAST(n_k AS DOUBLE))"
    f" * (CAST(p_q AS DOUBLE) / {_BR_Q}.0"
    " - CAST(o_k AS DOUBLE) / CAST(n_k AS DOUBLE))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)
_BR_RES_TERM = (
    "CAST(floor(CAST(n_k AS DOUBLE) * "
    "(CAST(o_k AS DOUBLE) / CAST(n_k AS DOUBLE)"
    " - CAST(o_ev AS DOUBLE) / CAST(n_ev AS DOUBLE))"
    " * (CAST(o_k AS DOUBLE) / CAST(n_k AS DOUBLE)"
    " - CAST(o_ev AS DOUBLE) / CAST(n_ev AS DOUBLE))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)
_BR_UNC = (
    "CAST(floor(CAST(o_ev AS DOUBLE) / CAST(n_ev AS DOUBLE)"
    " * (1.0 - CAST(o_ev AS DOUBLE) / CAST(n_ev AS DOUBLE))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)
_BR_BRIER = (
    "CAST(floor(CAST(b_num AS DOUBLE) * 1000000.0"
    f" / ({_BR_Q}.0 * {_BR_Q}.0 * CAST(n_ev AS DOUBLE)) + 0.5) AS BIGINT)"
)


@register(
    "brier_decomposition",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS pri, year(o_orderdate) AS yr,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
                  < '80' THEN 0 ELSE 1 END AS split
      FROM orders
    ),
    tr AS (
      SELECT pri, yr, CAST(COUNT(*) AS BIGINT) AS n_tr,
             CAST(SUM(y) AS BIGINT) AS o_tr
      FROM base WHERE split = 0 GROUP BY pri, yr
    ),
    p AS (
      SELECT pri, yr, CAST(o_tr * {_BR_Q} // n_tr AS BIGINT) AS p_q
      FROM tr
    ),
    ev AS (
      SELECT b.pri, b.yr, p.p_q, CAST(COUNT(*) AS BIGINT) AS n_k,
             CAST(SUM(b.y) AS BIGINT) AS o_k
      FROM base b JOIN p ON p.pri = b.pri AND p.yr = b.yr
      WHERE b.split = 1 GROUP BY b.pri, b.yr, p.p_q
    ),
    tot AS (
      SELECT CAST(SUM(n_k) AS BIGINT) AS n_ev,
             CAST(SUM(o_k) AS BIGINT) AS o_ev,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(SUM(n_k * p_q * p_q - 2 * p_q * o_k * {_BR_Q}
                      + o_k * {_BR_Q * _BR_Q}) AS BIGINT) AS b_num
      FROM ev
    ),
    terms AS (
      SELECT CAST(SUM({_BR_REL_TERM}) AS BIGINT) AS rel_num_q,
             CAST(SUM({_BR_RES_TERM}) AS BIGINT) AS res_num_q
      FROM ev CROSS JOIN tot
    )
    SELECT (SELECT CAST(SUM(n_tr) AS BIGINT) FROM tr) AS n_train,
           n_ev AS n_eval, n_bins, {_BR_BRIER} AS brier_q,
           rel_num_q, res_num_q, {_BR_UNC} AS unc_q
    FROM tot CROSS JOIN terms
    """,
    doc="Brier-score decomposition (Murphy 1973) of a held-out "
    "forecast: per-(priority, order-year) fulfillment rates learned on "
    "an md5 train split (integer basis points, exact `div`) are "
    "evaluated on the held split, decomposed into reliability "
    "(calibration gap), resolution (bin separation) and uncertainty "
    "(base-rate variance) — completing the GLM evaluation stack "
    "beside roc_auc_order_age (ranking) and isotonic_calibration_by_"
    "age (recalibration). The Brier numerator is EXACT integer "
    "arithmetic; each REL/RES bin term carries its one unavoidable "
    "rational through a single identically-written double formula, "
    "quantized per bin BEFORE the exact BIGINT sum, so partial-agg "
    "order cannot move totals. Scale shape: two conditional "
    "aggregates over one scan grain (train rates, eval counts), a "
    "broadcast rate join, and all decomposition math on the "
    "(priority x year)-bounded bin relation.",
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h2 = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    base = orders.select(
        F.col("o_orderpriority").alias("pri"),
        F.year("o_orderdate").alias("yr"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(h2 < "80", 0).otherwise(1).alias("split"),
    )
    tr = (
        base.where("split = 0")
        .groupBy("pri", "yr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tr"),
            F.sum("y").cast("long").alias("o_tr"),
        )
    )
    p = tr.select(
        "pri", "yr", F.expr(f"o_tr * {_BR_Q} div n_tr").alias("p_q")
    )
    ev = (
        base.where("split = 1")
        .join(F.broadcast(p), ["pri", "yr"])
        .groupBy("pri", "yr", "p_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_k"),
            F.sum("y").cast("long").alias("o_k"),
        )
    )
    tot = ev.agg(
        F.sum("n_k").cast("long").alias("n_ev"),
        F.sum("o_k").cast("long").alias("o_ev"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(
            F.expr(
                f"n_k * p_q * p_q - 2 * p_q * o_k * {_BR_Q}"
                f" + o_k * {_BR_Q * _BR_Q}"
            )
        )
        .cast("long")
        .alias("b_num"),
    )
    terms = (
        ev.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.expr(_BR_REL_TERM)).cast("long").alias("rel_num_q"),
            F.sum(F.expr(_BR_RES_TERM)).cast("long").alias("res_num_q"),
        )
    )
    n_train = tr.agg(F.sum("n_tr").cast("long").alias("n_train"))
    return (
        tot.crossJoin(F.broadcast(terms))
        .crossJoin(F.broadcast(n_train))
        .select(
            "n_train",
            F.col("n_ev").alias("n_eval"),
            "n_bins",
            F.expr(_BR_BRIER).alias("brier_q"),
            "rel_num_q",
            "res_num_q",
            F.expr(_BR_UNC).alias("unc_q"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (log-log OLS over the top-1000 token ranks)

_ZIPF_K = 1000
_ZIPF_XQ = "CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
_ZIPF_YQ = "CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
# OLS solve on the one-row exact-BIGINT moments; every double op below
# is a single identically-written formula in both engines.
_ZIPF_SLOPE_RAW = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
)
_ZIPF_SLOPE_Q = (
    f"CAST(floor({_ZIPF_SLOPE_RAW} * 1000000.0 + 0.5) AS BIGINT)"
)
_ZIPF_ICEPT_Q = (
    "CAST(floor((CAST(sy AS DOUBLE)"
    f" - {_ZIPF_SLOPE_RAW} * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
    " + 0.5) AS BIGINT)"
)
_ZIPF_R2_Q = (
    "CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)


@register(
    "zipf_slope_tokens",
    oracle=f"""
    WITH counts AS (
      SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents WHERE trim(text) <> ''
      ) WHERE t <> '' GROUP BY t
    ),
    top AS (
      SELECT token, cnt, rk FROM (
        SELECT token, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk
        FROM counts
      ) WHERE rk <= {_ZIPF_K}
    ),
    pts AS (
      SELECT {_ZIPF_XQ} AS x_q, {_ZIPF_YQ} AS y_q FROM top
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x_q) AS BIGINT) AS sx,
             CAST(SUM(y_q) AS BIGINT) AS sy,
             CAST(SUM(x_q * x_q) AS BIGINT) AS sxx,
             CAST(SUM(x_q * y_q) AS BIGINT) AS sxy,
             CAST(SUM(y_q * y_q) AS BIGINT) AS syy
      FROM pts
    )
    SELECT n AS n_ranked, {_ZIPF_SLOPE_Q} AS slope_q,
           {_ZIPF_ICEPT_Q} AS intercept_q, {_ZIPF_R2_Q} AS r2_q
    FROM m
    """,
    doc="Zipf rank-frequency fit — the corpus-health diagnostic beside "
    "the entropy/Gopher screens (natural text slopes ~ -1; template or "
    "machine-generated corpora flatten or steepen): log-log OLS over "
    "the top-1000 token ranks. ln(rank) and ln(count) quantize to "
    "integer millionths (the shared doc_bigram_nll expression), the "
    "OLS moments are EXACT BIGINT sums of those integers, and the "
    "solve is a single identically-written double formula on the "
    "one-row moment relation. Scale shape: one token explode + "
    "map-side-combined counts, top-1000 via TakeOrderedAndProject "
    "(never a global vocab sort), then all regression math on 1000 "
    "bounded rows.",
)
def zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import (
        whitespace_token_counts,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.trim(F.col("text")) != ""
    )
    counts = whitespace_token_counts(docs)
    return _zipf_fit(counts)


def _zipf_fit(counts: DataFrame) -> DataFrame:
    """The rank/fit surface over a (token, cnt) relation — shared by
    the from-scratch form and the silver-served twin (cannot drift)."""
    from healthcare_aihw_etl_pipeline_spark.operators.relational import top_k

    # top_k pulls exactly the top-1000 under the same total order the
    # oracle ranks by, so re-ranking the bounded result locally equals
    # the oracle's global ROW_NUMBER.
    top = top_k(counts, "cnt", _ZIPF_K, tiebreak=["token"]).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
        ),
    )
    pts = top.select(
        F.expr(_ZIPF_XQ).alias("x_q"), F.expr(_ZIPF_YQ).alias("y_q")
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x_q").cast("long").alias("sx"),
        F.sum("y_q").cast("long").alias("sy"),
        F.sum(F.col("x_q") * F.col("x_q")).cast("long").alias("sxx"),
        F.sum(F.col("x_q") * F.col("y_q")).cast("long").alias("sxy"),
        F.sum(F.col("y_q") * F.col("y_q")).cast("long").alias("syy"),
    )
    return m.select(
        F.col("n").alias("n_ranked"),
        F.expr(_ZIPF_SLOPE_Q).alias("slope_q"),
        F.expr(_ZIPF_ICEPT_Q).alias("intercept_q"),
        F.expr(_ZIPF_R2_Q).alias("r2_q"),
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss projection search (64 -> 16 dims, exact integers)

_JL_DIMS = 16
_JL_SALT = "jl:"
_JL_TOPK = 10


@register(
    "jl_projection_top10",
    oracle=f"""
    WITH signs AS (
      SELECT j.j AS j, d.d AS d,
             CASE WHEN CAST('0x' ||
                        substring(md5('{_JL_SALT}' || j.j || ',' || d.d),
                                  1, 1) AS INT) % 2 = 1
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT UNNEST(range({_JL_DIMS})) AS j) j,
           (SELECT UNNEST(range(64)) AS d) d
    ),
    qv AS (
      SELECT vec_id, u.d AS d,
             CAST(round(CAST(embedding[u.d + 1] AS DOUBLE) * 127)
                  AS BIGINT) AS q
      FROM embeddings, UNNEST(range(64)) AS u(d)
    ),
    pq AS (SELECT d, q AS q0 FROM qv WHERE vec_id = 0),
    proj AS (
      SELECT qv.vec_id, signs.j, CAST(SUM(qv.q * signs.s) AS BIGINT) AS y
      FROM qv JOIN signs ON signs.d = qv.d
      GROUP BY qv.vec_id, signs.j
    ),
    pp AS (SELECT j, y AS y0 FROM proj WHERE vec_id = 0),
    pd AS (
      SELECT p.vec_id,
             CAST(SUM((p.y - pp.y0) * (p.y - pp.y0)) AS BIGINT) AS pdist
      FROM proj p JOIN pp USING (j) GROUP BY p.vec_id
    ),
    qd AS (
      SELECT qv.vec_id,
             CAST(SUM((qv.q - pq.q0) * (qv.q - pq.q0)) AS BIGINT) AS qdist
      FROM qv JOIN pq USING (d) GROUP BY qv.vec_id
    ),
    ptop AS (
      SELECT vec_id, pdist,
             ROW_NUMBER() OVER (ORDER BY pdist, vec_id) AS rank
      FROM pd
    ),
    etop AS (SELECT vec_id FROM qd ORDER BY qdist, vec_id LIMIT {_JL_TOPK})
    SELECT CAST(p.rank AS BIGINT) AS rank, p.vec_id, p.pdist, qd.qdist,
           p.vec_id IN (SELECT vec_id FROM etop) AS in_exact_top10
    FROM ptop p JOIN qd ON qd.vec_id = p.vec_id
    WHERE p.rank <= {_JL_TOPK} ORDER BY p.rank
    """,
    doc="Johnson–Lindenstrauss projection search — the dimensionality-"
    "reduction leg of the ANN family (qLSH keeps only hyperplane "
    "SIGNS; JL keeps projected DISTANCES, the primitive behind "
    "sketched re-ranking and OPQ-style rotations): int7 codes project "
    "64 -> 16 dims through a +/-1 md5-derived matrix (salted so the "
    "stream is independent of the LSH bands), squared L2 in projected "
    "space is exact int64, and the probe's projected top-10 carries "
    "its exact 64-dim distance plus an in-exact-top-10 recall flag — "
    "the quality readout a JL index ships with. Scale shape: one "
    "embedding scan computes both distances (the 16 projections are "
    "fixed-width integer folds), both top-10s are "
    "TakeOrderedAndProject, and the flag join broadcasts 10 rows. "
    "Whole pipeline integer-exact, hash-checked at any sf.",
)
def jl_projection_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        qlsh_signs,
        quantize_q127,
    )

    signs = qlsh_signs(_JL_DIMS, 64, salt=_JL_SALT)
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    probe = (
        raw.where(F.col("vec_id") == 0)
        .select(quantize_q127("embedding").alias("q"))
        .first()
    )
    if probe is None or probe[0] is None:
        raise ValueError(
            f"embeddings table at {sf_dir!r} has no probe row vec_id=0"
        )
    q0 = [int(v) for v in probe[0]]

    # Both distances in one Arrow-batched numpy pass (the knn_graph
    # build_sig pattern): a first cut computed them as 17 interpreted
    # HOF folds per row and measured 5.0 s at the replicated sf10 —
    # the vectorized matmul does the same exact int64 arithmetic in
    # ~1 s. round(x*127) replicates as sign(x)*floor(|x|+0.5), exact
    # in double for float32 inputs (the established code contract).
    def score(batches):
        import numpy as np
        import pandas as pd

        S = np.array(signs, dtype=np.int64).T  # (64, 16)
        q0v = np.array(q0, dtype=np.int64)
        y0v = q0v @ S
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            X = E * 127.0
            Q = (np.sign(X) * np.floor(np.abs(X) + 0.5)).astype(np.int64)
            Y = Q @ S
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "pdist": ((Y - y0v) ** 2).sum(axis=1),
                    "qdist": ((Q - q0v) ** 2).sum(axis=1),
                }
            )

    # Materialize the scored relation once (eager checkpoint, slim 24
    # bytes/row): it feeds TWO independent TakeOrdered subtrees (the
    # projected top-10 and the exact top-10) — without it each branch
    # re-runs the embeddings scan and the matmul pass (and the whole
    # point of the vectorized rewrite was to pay that pass once).
    scored = raw.mapInPandas(
        score, "vec_id long, pdist long, qdist long"
    ).localCheckpoint(eager=True)
    ptop = (
        scored.orderBy(F.col("pdist").asc(), F.col("vec_id").asc())
        .limit(_JL_TOPK)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("pdist").asc(), F.col("vec_id").asc()))
            .cast("long"),
        )
    )
    etop = (
        scored.orderBy(F.col("qdist").asc(), F.col("vec_id").asc())
        .limit(_JL_TOPK)
        .select("vec_id", F.lit(True).alias("_hit"))
    )
    return (
        ptop.join(F.broadcast(etop), "vec_id", "left")
        .select(
            "rank",
            "vec_id",
            "pdist",
            "qdist",
            F.coalesce(F.col("_hit"), F.lit(False)).alias("in_exact_top10"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Wald's sequential probability ratio test (SPRT) over daily conversions

# H0: p = 0.48, H1: p = 0.52 (conversion = purchase share of the
# purchase+click stream, ~0.5 in this corpus — the test runs near its
# hardest operating point). alpha = beta = 0.05. Every ln is a literal
# constant folded from the SAME double in both engines, quantized to
# integer billionths; the cumulative LLR is then exact BIGINT. The
# literals are CAST to DOUBLE explicitly: Spark parses a bare 0.52 /
# 0.48 as DECIMAL division (different rounding), DuckDB as DOUBLE.
def _sprt_c(num: float, den: float) -> str:
    return (
        f"CAST(floor(ln(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"
        " * 1000000000.0 + 0.5) AS BIGINT)"
    )


_SPRT_LA = _sprt_c(0.52, 0.48)
_SPRT_LB = _sprt_c(0.48, 0.52)
_SPRT_A = _sprt_c(0.95, 0.05)
_SPRT_B = _sprt_c(0.05, 0.95)


@register(
    "sprt_ab_decision",
    oracle=f"""
    WITH ev AS (
      SELECT CASE WHEN CAST('0x' ||
                        substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                        AS INT) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CAST(ts AS DATE) AS day,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    daily AS (
      SELECT variant, day, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS x
      FROM ev GROUP BY variant, day
    ),
    cum AS (
      SELECT variant, day,
             SUM(x * {_SPRT_LA} + (n - x) * {_SPRT_LB}) OVER (
               PARTITION BY variant ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS llr_q
      FROM daily
    ),
    agg AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_days,
             MIN(CASE WHEN llr_q >= {_SPRT_A} THEN day END) AS up_day,
             MIN(CASE WHEN llr_q <= {_SPRT_B} THEN day END) AS dn_day,
             CAST(arg_max(llr_q, day) AS BIGINT) AS final_llr_q
      FROM cum GROUP BY variant
    )
    SELECT variant, n_days,
           CASE WHEN up_day IS NOT NULL
                     AND (dn_day IS NULL OR up_day <= dn_day)
                THEN 'accept_h1'
                WHEN dn_day IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           strftime(CASE WHEN up_day IS NOT NULL
                              AND (dn_day IS NULL OR up_day <= dn_day)
                         THEN up_day ELSE dn_day END,
                    '%Y-%m-%d') AS decision_day,
           final_llr_q
    FROM agg ORDER BY variant
    """,
    doc="Wald's sequential probability ratio test per A/B variant — "
    "the early-stopping leg of the experimentation family (CUPED / "
    "Welch-t / Mann-Whitney are fixed-horizon): users md5-split into "
    "variants, daily purchase-vs-click conversions accumulate a "
    "log-likelihood ratio whose per-observation ln terms are literal "
    "constants quantized to integer billionths (identical doubles "
    "both engines), and each variant reports the first boundary "
    "crossing (accept H1 at ln((1-b)/a), accept H0 at ln(b/(1-a)), "
    "else continue) plus its final LLR. The cumulative sum, crossing "
    "days and decision are exact BIGINT/date arithmetic. Scale shape: "
    "one scan -> (variant, day) map-side-combined aggregate; the "
    "cumulative window and decision logic run on the calendar-bounded "
    "daily relation.",
)
def sprt_ab_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.streaming.sprt import variant_of

    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("purchase", "click")).select(
        variant_of().alias("variant"),
        F.col("ts").cast("date").alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    daily = base.groupBy("variant", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("x"),
    )
    return _sprt_surface(daily)


def _sprt_surface(daily: DataFrame) -> DataFrame:
    """The decision layer over a (day, variant, n, x) evidence
    relation — shared by the batch query and the streaming monitor's
    read side (streaming/sprt.py), so batch and stream decisions
    cannot drift."""
    w = (
        Window.partitionBy("variant")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "variant",
        "day",
        F.sum(
            F.col("x") * F.expr(_SPRT_LA)
            + (F.col("n") - F.col("x")) * F.expr(_SPRT_LB)
        )
        .over(w)
        .alias("llr_q"),
    )
    agg = cum.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.min(
            F.when(F.col("llr_q") >= F.expr(_SPRT_A), F.col("day"))
        ).alias("up_day"),
        F.min(
            F.when(F.col("llr_q") <= F.expr(_SPRT_B), F.col("day"))
        ).alias("dn_day"),
        F.expr("max_by(llr_q, day)").cast("long").alias("final_llr_q"),
    )
    up_first = F.col("up_day").isNotNull() & (
        F.col("dn_day").isNull() | (F.col("up_day") <= F.col("dn_day"))
    )
    return agg.select(
        "variant",
        "n_days",
        F.when(up_first, "accept_h1")
        .when(F.col("dn_day").isNotNull(), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
        F.date_format(
            F.when(up_first, F.col("up_day")).otherwise(F.col("dn_day")),
            "yyyy-MM-dd",
        ).alias("decision_day"),
        "final_llr_q",
    ).orderBy("variant")


# ---------------------------------------------------------------------------
# AMS (Alon–Matias–Szegedy) F2 sketch — second-moment estimation

# k independent ±1 estimators over the md5 hash stream 'f2:{i},{token}'
# (the qlsh_signs salting discipline): Z_i = sum_t cnt_t * s_i(t),
# E[Z_i^2] = F2. Vocab-first: counts aggregate on the token domain
# BEFORE the k sign expressions run, so the md5-per-estimator cost is
# |vocab| * k, never |occurrences| * k — the same law that made BPE the
# only sf10 finisher. Everything is exact integer arithmetic: Z_i,
# Z_i^2, the mean estimate (exact div), the exact F2 and the ppm error.
# int64 bound: |Z_i| <= total token occurrences and F2 <= (max cnt)^2
# * |vocab| — both < 2^63 to ~1e9-occurrence corpora per shard
# (documented corpus contract, the Gini DECIMAL class).
_AMS_K = 16


def _ams_sign_sql(i: int) -> str:
    """DuckDB sign expression ('0x' hex cast)."""
    return (
        f"CASE WHEN CAST('0x' || substring(md5('f2:{i},' || token), 1, 1)"
        " AS INT) % 2 = 1 THEN 1 ELSE -1 END"
    )


def _ams_sign_spark(i: int) -> str:
    """Spark twin of :func:`_ams_sign_sql` — same first-nibble parity
    via conv() (Spark cannot CAST '0x…' strings to INT; conv ==
    CAST('0x'||…) on hex digits, the DSIR bucket-hash convention)."""
    return (
        "CASE WHEN CAST(conv(substring(md5(concat('f2:"
        f"{i},', token)), 1, 1), 16, 10) AS INT) % 2 = 1"
        " THEN 1 ELSE -1 END"
    )


@register(
    "ams_f2_tokens",
    oracle=f"""
    WITH counts AS (
      SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents WHERE trim(text) <> ''
      ) WHERE t <> '' GROUP BY t
    ),
    z AS (
      SELECT
        {", ".join(f"CAST(SUM(cnt * ({_ams_sign_sql(i)})) AS BIGINT) AS z{i}"
                   for i in range(_AMS_K))},
        CAST(SUM(cnt * cnt) AS BIGINT) AS exact_f2,
        CAST(COUNT(*) AS BIGINT) AS n_tokens_distinct
      FROM counts
    )
    SELECT n_tokens_distinct, exact_f2,
           CAST(({" + ".join(f"z{i} * z{i}" for i in range(_AMS_K))})
                // {_AMS_K} AS BIGINT) AS est_f2,
           CAST(abs(({" + ".join(f"z{i} * z{i}" for i in range(_AMS_K))})
                // {_AMS_K} - exact_f2) * 1000000 // exact_f2 AS BIGINT)
             AS err_ppm
    FROM z
    """,
    doc="AMS F2 sketch — the second-moment estimator that completes "
    "the sketch family (HLL=F0, CMS=point counts, quantile, theta, "
    "bloom): 16 independent +/-1 md5-derived estimators ('f2:' salt — "
    "the qlsh_signs stream discipline), Z_i = sum cnt_t * s_i(t), "
    "mean of Z_i^2 estimates sum cnt^2. Vocab-first: token counts "
    "aggregate BEFORE the k sign expressions, so the md5 cost is "
    "|vocab| x 16, never |occurrences| x 16; per-shard sketches roll "
    "up by adding the Z vectors (linear sketch), exactly like the CMS "
    "family. The estimate, the exact F2 (computed beside it from the "
    "same counts) and the ppm error are pure BIGINT — hash-exact at "
    "any sf. Scale shape: one token explode + map-side-combined "
    "counts + one wide aggregate.",
)
def ams_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import (
        whitespace_token_counts,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.trim(F.col("text")) != ""
    )
    counts = whitespace_token_counts(docs)
    return _ams_from_counts(counts)


def _ams_from_counts(counts: DataFrame) -> DataFrame:
    """The estimator surface over a (token, cnt) relation — shared by
    the from-scratch form and the silver-served twin."""
    aggs = [
        F.sum(F.col("cnt") * F.expr(_ams_sign_spark(i)))
        .cast("long")
        .alias(f"z{i}")
        for i in range(_AMS_K)
    ]
    z = counts.agg(
        *aggs,
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("exact_f2"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_distinct"),
    )
    sq = " + ".join(f"z{i} * z{i}" for i in range(_AMS_K))
    return z.select(
        "n_tokens_distinct",
        "exact_f2",
        F.expr(f"({sq}) div {_AMS_K}").alias("est_f2"),
        F.expr(
            f"abs(({sq}) div {_AMS_K} - exact_f2) * 1000000 div exact_f2"
        ).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence / information-value encoding

# The scorecard-modeling feature screen: per (mktsegment x balance-sign)
# bin, WOE = ln((good_share)/(bad_share)) with add-0 guard via the
# add-1-smoothed shares (the DSIR smoothing discipline), IV term =
# (g/G - b/B) * WOE. WOE quantizes through the shared ln expression on
# exact integers; the IV term carries its two rationals through ONE
# identically-written double formula per bounded bin, quantized before
# any sum. Outcome: customer has >= 1 'F' (fulfilled) order.
_WOE_GS = "((CAST(g AS DOUBLE) + 1.0) / (CAST(gt AS DOUBLE) + CAST(nb AS DOUBLE)))"
_WOE_BS = "((CAST(b AS DOUBLE) + 1.0) / (CAST(bt AS DOUBLE) + CAST(nb AS DOUBLE)))"
_WOE_LN = (
    f"CAST(floor(ln({_WOE_GS} / {_WOE_BS})"
    " * 1000000.0 + 0.5) AS BIGINT)"
)
_WOE_IV = (
    f"CAST(floor(({_WOE_GS} - {_WOE_BS})"
    f" * (ln({_WOE_GS} / {_WOE_BS}))"
    " * 1000000000.0 + 0.5) AS BIGINT)"
)


@register(
    "woe_iv_segments",
    oracle=f"""
    WITH cust AS (
      SELECT c.c_custkey, c.c_mktsegment AS seg,
             CASE WHEN c.c_acctbal >= 0 THEN 'pos' ELSE 'neg' END AS bal,
             CASE WHEN EXISTS (
               SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
             ) THEN 1 ELSE 0 END AS y
      FROM customer c
    ),
    bins AS (
      SELECT seg, bal, CAST(SUM(y) AS BIGINT) AS g,
             CAST(SUM(1 - y) AS BIGINT) AS b
      FROM cust GROUP BY seg, bal
    ),
    tot AS (
      SELECT CAST(SUM(g) AS BIGINT) AS gt, CAST(SUM(b) AS BIGINT) AS bt,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM bins
    )
    SELECT seg, bal, g AS n_good, b AS n_bad,
           {_WOE_LN} AS woe_q,
           {_WOE_IV} AS iv_term_q
    FROM bins CROSS JOIN tot
    ORDER BY seg, bal
    """,
    doc="Weight-of-evidence / information-value feature screen (the "
    "scorecard-modeling standard): per (market segment x balance sign) "
    "bin, WOE = ln(good share / bad share) with add-1 smoothing (the "
    "DSIR discipline — no zero-bin infinities) and the IV term "
    "(g/G - b/B) * WOE, the additive measure of a feature's predictive "
    "power; outcome = customer has a fulfilled order (a semi-join "
    "flag, never an orders fan-out). WOE quantizes to millionths and "
    "each IV term carries its rationals through a single "
    "identically-written double formula per BOUNDED bin (segments x 2), "
    "so every output is exact BIGINT. Scale shape: one orders "
    "semi-join aggregated to customer grain map-side, one bounded "
    "groupBy, all ratio math on the 10-row bin relation.",
)
def woe_iv_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    f_orders = (
        orders.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    base = (
        cust.join(
            f_orders.withColumn("_has_f", F.lit(1)), "c_custkey", "left"
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("c_acctbal") >= 0, "pos").otherwise("neg").alias(
                "bal"
            ),
            F.coalesce(F.col("_has_f"), F.lit(0)).alias("y"),
        )
    )
    bins = base.groupBy("seg", "bal").agg(
        F.sum("y").cast("long").alias("g"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("b"),
    )
    tot = bins.agg(
        F.sum("g").cast("long").alias("gt"),
        F.sum("b").cast("long").alias("bt"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "bal",
            F.col("g").alias("n_good"),
            F.col("b").alias("n_bad"),
            F.expr(_WOE_LN).alias("woe_q"),
            F.expr(_WOE_IV).alias("iv_term_q"),
        )
        .orderBy("seg", "bal")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (gear-hash CDC) — dedup-storage chunk stats

# Stateless gear-hash CDC: a position i (16 <= i < len) is a chunk
# boundary iff the 16-char rolling gear hash h_i = sum_{k=0..15}
# gear(c_{i-k}) * 2^k is divisible by 64 (expected chunk ~64 chars).
# gear(c) = (codepoint(c) * 2654435761) % 2^20 — Knuth's multiplicative
# mix, PURE INTEGER in both engines (no md5 in the per-character hot
# path), h <= 16 * 2^20 * 2^15 = 2^39, far inside int64. Unlike
# FastCDC's min-size rule (which makes each boundary depend on the
# previous one — inherently sequential), the stateless criterion is a
# pure per-position predicate, so chunking parallelizes perfectly and
# needs NO shuffle: boundaries, chunk spans and chunk hashes all
# derive inside the document row via higher-order functions; the only
# exchange is the final per-source aggregate.
_CDC_W = 16
_CDC_MOD = 64
_CDC_MIX = 2654435761
_CDC_MASK = 1 << 20


def _cdc_h(at: str, idx: callable) -> str:
    """The 16-term rolling hash at position `at` (1-based), with
    idx(expr) rendering a 1-based lookup of the gear array."""
    terms = [
        f"({idx(f'{at} - {k}')} * {1 << k})" for k in range(_CDC_W)
    ]
    return "(" + " + ".join(terms) + f") % {_CDC_MOD}"


@register(
    "cdc_chunk_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS n
      FROM documents WHERE trim(text) <> ''
    ),
    g AS (
      SELECT doc_id, source, text, n,
             list_transform(range(1, n + 1),
               i -> (ascii(substr(text, CAST(i AS INT), 1))
                     * {_CDC_MIX}) % {_CDC_MASK}) AS garr
      FROM d
    ),
    b AS (
      SELECT doc_id, source, text, n,
             list_filter(range({_CDC_W}, n + 1),
               i -> i < n AND ({_cdc_h('i', lambda e: f'garr[CAST({e} AS INT)]')}) = 0)
               AS bnds
      FROM g
    ),
    spans AS (
      SELECT doc_id, source, text,
             list_prepend(CAST(1 AS BIGINT),
                          list_transform(bnds, x -> x + 1)) AS starts,
             list_append(bnds, n) AS ends
      FROM b
    ),
    chunks AS (
      SELECT doc_id, source,
             UNNEST(list_transform(range(1, len(starts) + 1),
               j -> {{'s': starts[CAST(j AS INT)],
                      'l': ends[CAST(j AS INT)] - starts[CAST(j AS INT)] + 1}}))
               AS c,
             text
      FROM spans
    ),
    hashed AS (
      SELECT doc_id, source, c.l AS clen,
             md5(substr(text, CAST(c.s AS INT), CAST(c.l AS INT))) AS h
      FROM chunks
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(clen) AS BIGINT) AS chars_total,
           CAST(SUM(clen) * 100 // COUNT(*) AS BIGINT) AS avg_len_c,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_chunks,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS dup_chunks
    FROM hashed GROUP BY source ORDER BY source
    """,
    doc="Content-defined chunking (gear-hash CDC) — the dedup-storage "
    "primitive behind chunk-level corpus dedup and delta storage: "
    "boundaries where a 16-char rolling gear hash is 0 mod 64, so "
    "identical substrings chunk identically regardless of their "
    "position or document (the property fixed-size chunking — "
    "doc_chunks — lacks). STATELESS criterion by design: FastCDC's "
    "min-size rule chains boundaries sequentially, while this "
    "per-position predicate needs no scan order, so chunking is "
    "shuffle-FREE — gear array, boundaries, spans and chunk hashes "
    "all derive inside each document row via higher-order functions "
    "(one Generate per chunk, never per character), and the only "
    "exchange is the final per-source aggregate. The gear is Knuth's "
    "multiplicative mix of the codepoint (pure integer, identical in "
    "both engines — no md5 in the per-character hot path); per-source "
    "chunk counts, exact distinct chunk hashes and the duplicate-"
    "chunk volume quantify the dedup-storage win.",
)
def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.trim(F.col("text")) != ""
    )

    # Chunking runs as ONE Arrow-batched pass (the knn_graph/PCA
    # pattern): a first cut expressed the gear array + 16-term rolling
    # filter as Spark higher-order functions — semantically identical,
    # but interpreted lambda evaluation measured 43 s at sf1 vs
    # DuckDB's 1.1 s. Vectorized: codepoints via a utf-32 decode (no
    # per-char Python), the rolling hash as a sliding-window dot with
    # the 2^k weight vector, chunk hashes via hashlib on the same
    # UTF-8 bytes DuckDB's md5 reads. Integer arithmetic is identical
    # by construction; the oracle keeps the declarative per-position
    # definition.
    def chunk(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        wts = (1 << np.arange(_CDC_W, dtype=np.int64))[::-1]
        for pdf in batches:
            out_doc: list = []
            out_src: list = []
            out_len: list = []
            out_h: list = []
            for doc_id, src, t in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                n = len(t)
                cps = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                gear = (cps * _CDC_MIX) % _CDC_MASK
                if n >= _CDC_W:
                    win = np.lib.stride_tricks.sliding_window_view(
                        gear, _CDC_W
                    )
                    h = win @ wts  # h[j] is the hash ending at i=j+W
                    ends = np.nonzero(h % _CDC_MOD == 0)[0] + _CDC_W
                    ends = ends[ends < n]  # boundary i < n (1-based)
                else:
                    ends = np.empty(0, dtype=np.int64)
                starts = [1] + [int(e) + 1 for e in ends]
                stops = [int(e) for e in ends] + [n]
                for s, e in zip(starts, stops):
                    out_doc.append(doc_id)
                    out_src.append(src)
                    out_len.append(e - s + 1)
                    out_h.append(
                        hashlib.md5(t[s - 1 : e].encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "source": pd.Series(out_src, dtype="object"),
                    "clen": pd.Series(out_len, dtype="int64"),
                    "h": pd.Series(out_h, dtype="object"),
                }
            )

    hashed = docs.select("doc_id", "source", "text").mapInPandas(
        chunk, "doc_id long, source string, clen long, h string"
    )
    return (
        hashed.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("clen").cast("long").alias("chars_total"),
            F.expr("SUM(clen) * 100 div COUNT(*)")
            .cast("long")
            .alias("avg_len_c"),
            F.countDistinct("h").cast("long").alias("n_distinct_chunks"),
            (F.count(F.lit(1)) - F.countDistinct("h"))
            .cast("long")
            .alias("dup_chunks"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Silver-served token-count twins (bronze -> silver, the sweep-family
# discipline applied to the token-statistics floor). Oracles are the
# ORIGINALS' oracles (raw-documents replay) pulled from the registry,
# so a hash match proves the vocabulary silver faithful.

from healthcare_aihw_etl_pipeline_spark.plans.registry import REGISTRY as _REG

_ZIPF_ORACLE = _REG["zipf_slope_tokens"].oracle
_AMS_ORACLE = _REG["ams_f2_tokens"].oracle


@register(
    "zipf_slope_tokens_served",
    oracle=_ZIPF_ORACLE,
    doc="zipf_slope_tokens served from the materialized vocabulary "
    "silver table (operators/text.served_token_counts): the round-13b "
    "curve showed every token-statistics query pays the same "
    "explode+count floor from scratch; a corpus-health dashboard asks "
    "several against one documents snapshot, so the vocabulary "
    "materializes once at ingest (mtime-keyed) and this twin costs a "
    "columnar scan + TakeOrdered + the 1000-row fit. The oracle "
    "replays the full explode from raw documents, so the hash match "
    "proves the silver faithful; the from-scratch form stays "
    "registered as the oracle path.",
)
def zipf_slope_tokens_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import (
        served_token_counts,
    )

    return _zipf_fit(served_token_counts(spark, sf_dir))


@register(
    "ams_f2_tokens_served",
    oracle=_AMS_ORACLE,
    doc="ams_f2_tokens served from the materialized vocabulary silver "
    "table — scan + one wide aggregate per query (see "
    "zipf_slope_tokens_served); the linear-sketch Z vector computes "
    "over the silver vocabulary with identical integer arithmetic.",
)
def ams_f2_tokens_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import (
        served_token_counts,
    )

    return _ams_from_counts(served_token_counts(spark, sf_dir))


# ---------------------------------------------------------------------------
# Silver-served survival twins: the (user, s_ts, p_ts) span relation is
# HORIZON-INDEPENDENT, so one ingest-time materialization
# (operators/survival.served_user_spans) serves every estimator;
# censoring applies at serve time with the footer-statistics horizon.
# Oracles are the ORIGINALS' full raw-events replays.

_KM_ORACLE = _REG["kaplan_meier_conversion"].oracle
_NA_ORACLE = _REG["nelson_aalen_hazard"].oracle
_COX_ORACLE = _REG["cox_hazard_newton"].oracle


def _served_durations(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.survival import (
        signup_purchase_durations,
    )

    return signup_purchase_durations(spark, sf_dir, served=True, **kw)


@register(
    "kaplan_meier_conversion_served",
    oracle=_KM_ORACLE,
    doc="kaplan_meier_conversion served from the materialized user-span "
    "silver table (operators/survival.served_user_spans): the span "
    "relation (first signup, first qualifying purchase per user) is "
    "horizon-independent, so it materializes once at ingest and every "
    "survival estimator serves from a slim columnar scan + the "
    "footer-statistics horizon — per-query cost drops from two fact "
    "scans + two user-grain exchanges to the calendar-bounded "
    "duration-grain math. Oracle replays the full pipeline from raw "
    "events, so the hash match proves the silver faithful; the "
    "from-scratch form stays registered as the oracle path.",
)
def kaplan_meier_conversion_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.plans.round9_queries import (
        _km_surface,
    )

    return _km_surface(_served_durations(spark, sf_dir))


@register(
    "nelson_aalen_hazard_served",
    oracle=_NA_ORACLE,
    doc="nelson_aalen_hazard served from the user-span silver table — "
    "see kaplan_meier_conversion_served.",
)
def nelson_aalen_hazard_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.plans.round11b_queries import (
        _na_surface,
    )

    return _na_surface(_served_durations(spark, sf_dir))


@register(
    "cox_hazard_newton_served",
    oracle=_COX_ORACLE,
    doc="cox_hazard_newton served from the user-span silver table — "
    "see kaplan_meier_conversion_served; the treatment arm derives "
    "from the silver's user_id at serve time.",
)
def cox_hazard_newton_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.plans.round12_queries import (
        _cox_surface,
    )

    return _cox_surface(
        _served_durations(spark, sf_dir, extra={"x": F.col("user_id") % 2})
    )


# ---------------------------------------------------------------------------
# Silver-served export sharding

_SHARD_ORACLE = _REG["token_shard_plan"].oracle


@register(
    "token_shard_plan_served",
    oracle=_SHARD_ORACLE,
    doc="token_shard_plan served from the materialized per-document "
    "token-count silver table (operators/text."
    "served_doc_token_counts): the tokenize pass is the query's "
    "data-proportional cost, and an export pipeline re-plans shards "
    "whenever the budget or policy changes against the same corpus "
    "snapshot — so the (doc_id, n_tokens) relation materializes once "
    "at ingest and every re-plan costs a slim columnar scan + the "
    "distributed prefix sum. Oracle replays the full tokenize from "
    "raw documents; from-scratch form stays the oracle path.",
)
def token_shard_plan_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import (
        served_doc_token_counts,
    )
    from healthcare_aihw_etl_pipeline_spark.plans.round8b_queries import (
        _shard_surface,
    )

    return _shard_surface(served_doc_token_counts(spark, sf_dir))


# ---------------------------------------------------------------------------
# Label-propagation communities (LPA) on the co-purchase graph

# Synchronous LPA, 3 unrolled rounds, deterministic tie-break (most
# frequent neighbor label, ties -> smallest label): the community-
# detection sibling of the connected-components family — CC merges
# anything touching, LPA needs label MAJORITY, so weak bridges between
# dense groups do not fuse them. Edges: distinct part pairs sharing
# >= 2 orders (the part_pair_cooccurrence relation with a support
# floor — fan-out per order is C(lines, 2) with lines bounded by the
# data model, so the edge build is linear in orders), symmetrized.
_LPA_ROUNDS = 3
_LPA_SUPPORT = 2
_LPA_TOPK = 20


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""l{r} AS (
      SELECT node, label FROM (
        SELECT e.src AS node, l.label,
               ROW_NUMBER() OVER (PARTITION BY e.src
                 ORDER BY COUNT(*) DESC, l.label) AS rk
        FROM edges e JOIN {prev} l ON l.node = e.dst
        GROUP BY e.src, l.label
      ) WHERE rk = 1
    )""")
        prev = f"l{r}"
    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_SUPPORT}
    ),
    edges AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL SELECT v, u FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {",".join(rounds)}
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MIN(node) AS BIGINT) AS min_part,
           CAST(MAX(node) AS BIGINT) AS max_part
    FROM l{_LPA_ROUNDS} GROUP BY label
    ORDER BY n_parts DESC, community LIMIT {_LPA_TOPK}
    """


@register(
    "lpa_communities_top20",
    oracle=_lpa_oracle(),
    doc="Label-propagation communities (synchronous LPA, 3 unrolled "
    "rounds, deterministic most-frequent-neighbor-label update with "
    "smallest-label tie-break) on the support-thresholded co-purchase "
    "graph — the community-detection sibling of "
    "dedup_transitive_clusters: connected components merge anything "
    "touching, while LPA requires label MAJORITY, so weak bridges "
    "between dense groups do not fuse them. Top-20 communities by "
    "size. Scale shape: the edge build is the part_pair_cooccurrence "
    "relation (linear in orders — per-order fan-out is C(lines, 2) "
    "with lines bounded by the data model) with a support floor that "
    "prunes the hairball; each round is one edge-label join + one "
    "map-side-combined (node, label) count + a per-node window — "
    "bounded rounds, static plan, no driver-side state. Fully "
    "deterministic (no RNG anywhere), so the whole community "
    "structure hash-checks against the unrolled SQL replay.",
)
def lpa_communities_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _LPA_SUPPORT)
        .select("u", "v")
        # The PAIR relation is the expensive leg (lineitem self-join +
        # support aggregate) and feeds BOTH union branches — checkpoint
        # it once so symmetrization does not run the join twice; the
        # union over the checkpoint is a cheap projection re-read by
        # each round (slim 16-byte rows).
        .localCheckpoint(eager=True)
    )
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(
                labels.withColumnRenamed("node", "dst"), "dst"
            )
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("src").orderBy(
            F.col("c").desc(), F.col("label").asc()
        )
        labels = (
            cnt.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select(F.col("src").alias("node"), "label")
        )
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("node").cast("long").alias("min_part"),
            F.max("node").cast("long").alias("max_part"),
        )
        .select(
            F.col("label").alias("community"), "n_parts", "min_part",
            "max_part",
        )
        .orderBy(F.col("n_parts").desc(), F.col("community").asc())
        .limit(_LPA_TOPK)
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (2x2 DiD with md5 assignment)

# Treatment: md5(custkey) parity (the SPRT split discipline); period:
# orders before/after the cutoff. Outcome: order value in exact cents.
# The four cell means are rationals; the DiD point estimate passes
# through ONE identically-written double formula over the exact BIGINT
# cell sums/counts, quantized to integer cents-millionths.
_DID_CUT = "DATE '1998-07-01'"
_DID_Q = (
    "CAST(floor(((CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE)"
    " - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE))"
    " - (CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE)"
    " - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE)))"
    " * 10000.0 + 0.5) AS BIGINT)"
)


@register(
    "did_order_value",
    oracle=f"""
    WITH base AS (
      SELECT CASE WHEN CAST('0x' ||
                        substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)
                        AS INT) % 2 = 0 THEN 1 ELSE 0 END AS treated,
             CASE WHEN o_orderdate >= {_DID_CUT} THEN 1 ELSE 0 END AS post,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v_c
      FROM orders
    ),
    cells AS (
      SELECT treated, post, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v_c) AS BIGINT) AS s
      FROM base GROUP BY treated, post
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_t1,
        MAX(CASE WHEN treated = 1 AND post = 1 THEN s END) AS s_t1,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_t0,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN s END) AS s_t0,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_c1,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN s END) AS s_c1,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_c0,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN s END) AS s_c0
      FROM cells
    )
    SELECT n_t1, n_t0, n_c1, n_c0, s_t1, s_t0, s_c1, s_c0,
           {_DID_Q} AS did_q
    FROM wide
    """,
    doc="2x2 difference-in-differences — the panel-causal leg beside "
    "CUPED (variance reduction) and stratified ATT (matching): "
    "customers md5-assigned to treatment, orders split at a calendar "
    "cutoff, outcome = order value in exact cents; DiD = (post-pre "
    "gap, treated) - (post-pre gap, control) over the four cell "
    "means, computed as ONE identically-written double formula on the "
    "exact BIGINT cell sums (quantized to cents-ten-thousandths). "
    "Scale shape: one conditional groupBy over one scan; all DiD math "
    "on the 4-row cell relation pivoted wide.",
)
def did_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.streaming.sprt import variant_of

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        # the SAME md5 parity split as the SPRT family (shared helper,
        # cannot drift), rendered as the DiD treatment indicator
        F.when(variant_of("o_custkey") == "A", 1)
        .otherwise(0)
        .alias("treated"),
        F.when(F.expr(f"o_orderdate >= {_DID_CUT}"), 1)
        .otherwise(0)
        .alias("post"),
        cents("o_totalprice").alias("v_c"),
    )
    cells = base.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_c").cast("long").alias("s"),
    )

    def cell(t, p, col):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p), F.col(col)
            )
        ).alias(f"{col}_{'t' if t else 'c'}{p}")

    wide = cells.agg(
        cell(1, 1, "n"), cell(1, 1, "s"), cell(1, 0, "n"), cell(1, 0, "s"),
        cell(0, 1, "n"), cell(0, 1, "s"), cell(0, 0, "n"), cell(0, 0, "s"),
    )
    return wide.select(
        "n_t1", "n_t0", "n_c1", "n_c0",
        "s_t1", "s_t0", "s_c1", "s_c0",
        F.expr(_DID_Q).alias("did_q"),
    )


# ---------------------------------------------------------------------------
# UCB1 bandit allocation over daily arm statistics

# Arms = event types; reward = value >= 200 (a high-value event). After
# each day, the UCB1 index mean + sqrt(2 ln N / n) decides the arm a
# bandit would play next. Exact BIGINT cumulative (n, s) per arm on a
# dense (day x arm) spine; the index is ONE identically-written double
# formula quantized to millionths, and the argmax is decided on the
# QUANTIZED integers (tie -> arm name) so both engines pick the same
# arm even at 1-ulp libm divergence (the shared quantized-ln class).
_UCB_REWARD = 200.0
_UCB_IDX = (
    "CAST(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    " + sqrt(2.0 * ln(CAST(nt AS DOUBLE)) / CAST(n AS DOUBLE)))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)


@register(
    "ucb1_daily_choice",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type AS arm,
             CAST(COUNT(*) AS BIGINT) AS dn,
             CAST(SUM(CASE WHEN value >= {_UCB_REWARD} THEN 1 ELSE 0 END)
                  AS BIGINT) AS ds
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT d.day, a.arm
      FROM (SELECT DISTINCT day FROM daily) d
      CROSS JOIN (SELECT DISTINCT arm FROM daily) a
    ),
    cum AS (
      SELECT s.day, s.arm,
             CAST(SUM(COALESCE(dl.dn, 0)) OVER (
               PARTITION BY s.arm ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS n,
             CAST(SUM(COALESCE(dl.ds, 0)) OVER (
               PARTITION BY s.arm ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS s
      FROM spine s LEFT JOIN daily dl
        ON dl.day = s.day AND dl.arm = s.arm
    ),
    tot AS (
      SELECT day, arm, n, s,
             CAST(SUM(n) OVER (PARTITION BY day) AS BIGINT) AS nt
      FROM cum
    ),
    idx AS (
      SELECT day, arm, n, nt, {_UCB_IDX} AS index_q,
             ROW_NUMBER() OVER (PARTITION BY day
               ORDER BY {_UCB_IDX} DESC, arm) AS rk
      FROM tot WHERE n > 0
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, arm AS chosen_arm,
           n AS n_arm, nt AS n_total, index_q
    FROM idx WHERE rk = 1 ORDER BY day
    """,
    doc="UCB1 bandit allocation — the adaptive-experimentation leg "
    "beside SPRT (sequential stopping) and CUPED (variance "
    "reduction): per day, the arm (event type) a UCB1 bandit would "
    "play next given the cumulative reward history (reward = "
    "high-value event), i.e. argmax of mean + sqrt(2 ln N / n). "
    "Cumulative (n, s) are exact BIGINT windows per arm on a dense "
    "(day x arm) spine (an arm silent for a day carries its stats "
    "forward); the index is one identically-written double formula "
    "quantized to millionths, and the per-day argmax decides on the "
    "QUANTIZED integers with an arm-name tie-break — cross-engine "
    "deterministic under the shared quantized-ln contract. Scale "
    "shape: one conditional groupBy over one scan; everything after "
    "lives on the calendar-bounded (day x 5 arms) relation.",
)
def ucb1_daily_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            F.col("event_type").alias("arm"),
            F.when(F.col("value") >= _UCB_REWARD, 1).otherwise(0).alias(
                "r"
            ),
        )
        .groupBy("day", "arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dn"),
            F.sum("r").cast("long").alias("ds"),
        )
        # feeds THREE subtrees (day spine, arm spine, join input) —
        # materialize the calendar-bounded relation once instead of
        # re-running the fact scan per consumer.
        .localCheckpoint(eager=True)
    )
    days = daily.select("day").distinct()
    arms = daily.select("arm").distinct()
    spine = days.crossJoin(arms)
    joined = spine.join(daily, ["day", "arm"], "left")
    wcum = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = joined.select(
        "day",
        "arm",
        F.sum(F.coalesce(F.col("dn"), F.lit(0)))
        .over(wcum)
        .cast("long")
        .alias("n"),
        F.sum(F.coalesce(F.col("ds"), F.lit(0)))
        .over(wcum)
        .cast("long")
        .alias("s"),
    )
    tot = cum.withColumn(
        "nt", F.sum("n").over(Window.partitionBy("day")).cast("long")
    )
    idx = tot.where(F.col("n") > 0).select(
        "day",
        "arm",
        "n",
        "nt",
        F.expr(_UCB_IDX).alias("index_q"),
    )
    w = Window.partitionBy("day").orderBy(
        F.col("index_q").desc(), F.col("arm").asc()
    )
    return (
        idx.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("arm").alias("chosen_arm"),
            F.col("n").alias("n_arm"),
            F.col("nt").alias("n_total"),
            "index_q",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# k-center greedy coreset over the embedding corpus

# Gonzalez's 2-approximation: seed at vec_id 0, then 7 rounds of
# "farthest point from the chosen set" (exact int7 squared L2,
# tie -> smallest vec_id). Row `round` = the point selected at that
# round with sel_dist = its distance to the prior set (the coverage
# radius OF that prior set); round 9 reports the would-be-9th pick,
# i.e. the radius certificate of the final 8-center coreset. The
# greedy argmax is a 1-row TakeOrdered collect per round — the
# bpe_merge_training bounded-collect policy (8 rounds, 1 row each).
_KC_ROUNDS = 8
# Driver-path gate: 64 int64 codes/row -> ~100 MB numpy at the cap
# (the graph_ann gate), far past any bench corpus; beyond it the
# carried-dmin Arrow path runs.
_KC_MAX_DRIVER_ROWS = 200_000


def _kcenter_oracle() -> str:
    # qv and the m{t}/p{t} chain are read twice per round, so they are
    # MATERIALIZED (see round13_queries' _KNN_ORACLE_CTES): inlined, each
    # round re-expands the chain. Each d{t} joins the new center's 64
    # codes first, so a round is one n x 64 probe join, not a qv
    # self-join on d.
    ctes = ["""qv AS MATERIALIZED (
      SELECT vec_id, u.d AS d,
             CAST(round(CAST(embedding[u.d + 1] AS DOUBLE) * 127)
                  AS BIGINT) AS q
      FROM embeddings, UNNEST(range(64)) AS u(d)
    ),
    d1 AS (
      SELECT a.vec_id, CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT)
               AS dist
      FROM qv a JOIN qv b ON b.vec_id = 0 AND b.d = a.d
      GROUP BY a.vec_id
    ),
    m1 AS MATERIALIZED (SELECT vec_id, dist FROM d1)"""]
    for t in range(2, _KC_ROUNDS + 2):
        ctes.append(f"""p{t} AS MATERIALIZED (
      SELECT vec_id, dist FROM m{t - 1}
      ORDER BY dist DESC, vec_id LIMIT 1
    )""")
        if t <= _KC_ROUNDS:
            ctes.append(f"""d{t} AS (
      SELECT a.vec_id, CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT)
               AS dist
      FROM qv a
      JOIN (SELECT qv.d, qv.q FROM qv JOIN p{t} USING (vec_id)) b ON b.d = a.d
      GROUP BY a.vec_id
    )""")
            ctes.append(f"""m{t} AS MATERIALIZED (
      SELECT m.vec_id, LEAST(m.dist, d{t}.dist) AS dist
      FROM m{t - 1} m JOIN d{t} USING (vec_id)
    )""")
    rows = [
        "SELECT 1 AS round, CAST(0 AS BIGINT) AS vec_id,"
        " CAST(0 AS BIGINT) AS sel_dist"
    ]
    for t in range(2, _KC_ROUNDS + 2):
        rows.append(
            f"SELECT {t}, vec_id, CAST(dist AS BIGINT) FROM p{t}"
        )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL ".join(rows)
        + "\n    ORDER BY round"
    )


@register(
    "kcenter_coreset_seeds",
    oracle=_kcenter_oracle(),
    doc="k-center greedy coreset (Gonzalez's farthest-point 2-approx) "
    "over the embedding corpus — the diversity-selection leg of the "
    "data-selection family (DSIR picks by target-likeness, greedy "
    "coverage by attribute mass; k-center picks by geometric "
    "coverage): seed at the probe, then 7 farthest-point rounds on "
    "exact int7 squared L2 with smallest-id tie-break; row `round` "
    "carries the selected point and its distance to the prior set "
    "(that set's coverage radius), and round 9 is the would-be-next "
    "pick — the radius certificate of the final 8-center coreset. "
    "Scale shape: the quantized code relation materializes once "
    "(slim, checkpointed); each round is one Arrow-batched min-dist "
    "update pass + a 1-row TakeOrdered collect (the bpe_merge "
    "bounded-collect policy — 9 single-row collects total); the "
    "min-dist column carries forward so round t costs one distance "
    "to the NEW center, never t distances.",
)
def kcenter_coreset_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        quantize_q127,
    )
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import table_rows

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_q127("embedding").alias("q")
    )

    def center_code(vid: int) -> list[int]:
        row = emb.where(F.col("vec_id") == vid).select("q").first()
        if row is None or row[0] is None:
            raise ValueError(f"missing center row vec_id={vid}")
        return [int(v) for v in row[0]]

    # At bench scale the round loop's cost is its job count: 8 x (Arrow
    # min-dist pass + eager localCheckpoint + 1-row TakeOrdered) = 20
    # jobs. Below the footer gate the int7 codes are collected ONCE and
    # the Gonzalez loop runs in numpy (exact integer squared-L2, the
    # (dmin desc, vec_id asc) tie rule as max-then-min-id), so centers
    # and radii are bit-identical in 1 job. The carried-dmin Arrow path
    # below remains the large-corpus shape.
    if at_most(table_rows(sf_dir, "embeddings"), _KC_MAX_DRIVER_ROWS):
        import numpy as np

        rows = emb.collect()
        if not any(int(r["vec_id"]) == 0 for r in rows):
            raise ValueError("missing center row vec_id=0")
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        Q = np.array([list(r["q"]) for r in rows], dtype=np.int64)
        seed = Q[np.nonzero(ids == 0)[0][0]]
        dmin = ((Q - seed) ** 2).sum(axis=1)
        out_rows = [(1, 0, 0)]
        for t in range(2, _KC_ROUNDS + 2):
            m = int(dmin.max())
            ties = np.nonzero(dmin == m)[0]
            sel = ties[np.argmin(ids[ties])]
            out_rows.append((t, int(ids[sel]), m))
            if t <= _KC_ROUNDS:
                dmin = np.minimum(dmin, ((Q - Q[sel]) ** 2).sum(axis=1))
        return spark.createDataFrame(
            out_rows, "round int, vec_id long, sel_dist long"
        ).orderBy("round")

    def min_dist_update(code: list[int], first: bool):
        import numpy as np
        import pandas as pd

        cv = np.array(code, dtype=np.int64)

        def fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
                d = ((Q - cv) ** 2).sum(axis=1)
                out = {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "q": pdf["q"],
                    "dmin": d
                    if first
                    else np.minimum(pdf["dmin"].to_numpy(), d),
                }
                yield pd.DataFrame(out)

        return fn

    def _persisted_ids() -> set:
        # JavaSparkContext.getPersistentRDDs(): id -> JavaRDD of every
        # block-pinned RDD, including localCheckpoint's internal one
        # (which queryExecution().toRdd() does NOT return — it builds a
        # fresh scan RDD over the LogicalRDD, so unpersisting that was
        # a no-op that left up to 9 state copies pinned).
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            return set(jmap.keySet().toArray())
        except Exception:
            return set()

    def _checkpoint(df: DataFrame) -> tuple[DataFrame, set]:
        before = _persisted_ids()
        ck = df.localCheckpoint(eager=True)
        return ck, _persisted_ids() - before

    def _release(ids: set) -> None:
        # release the superseded round's checkpoint blocks — without
        # this up to 9 full copies of the (vec_id, q[64], dmin)
        # relation stay pinned in executor storage simultaneously
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in ids:
                jrdd = jmap.get(rid)
                if jrdd is not None:
                    jrdd.unpersist(False)
        except Exception:
            pass  # cleanup is best-effort; ContextCleaner catches up

    schema = "vec_id long, q array<long>, dmin long"
    state, state_ids = _checkpoint(
        emb.mapInPandas(min_dist_update(center_code(0), True), schema)
    )
    out_rows = [(1, 0, 0)]
    for t in range(2, _KC_ROUNDS + 2):
        sel = (
            state.orderBy(F.col("dmin").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        out_rows.append((t, int(sel["vec_id"]), int(sel["dmin"])))
        if t <= _KC_ROUNDS:
            prev_ids = state_ids
            state, state_ids = _checkpoint(
                state.mapInPandas(
                    min_dist_update([int(v) for v in sel["q"]], False),
                    schema,
                )
            )
            _release(prev_ids)
    return spark.createDataFrame(
        out_rows, "round int, vec_id long, sel_dist long"
    ).orderBy("round")


# ---------------------------------------------------------------------------
# Log-rank test (two-arm survival-curve comparison)

# Per duration day t: O1 = observed arm-1 events, E1_t = d_t*n1_t/n_t
# (expected under H0), V_t = hypergeometric variance
# d_t*(n1/n)*(1-n1/n)*(n-d)/(n-1). E1/V are the family's unavoidable
# rationals: each passes through ONE identically-written double
# formula quantized to millionths per duration BEFORE the exact BIGINT
# sum (the Brier discipline); durations with n_t <= 1 contribute no
# variance (guarded identically both engines). The risk sets come from
# the Cox descending-cumulative trick on the SAME shared duration
# relation, so the whole survival family rides one operator.
_LR_E1 = (
    "CAST(floor(CAST(d_t AS DOUBLE) * CAST(n1_t AS DOUBLE)"
    " / CAST(n_t AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
)
_LR_V = (
    "CAST(floor(CAST(d_t AS DOUBLE) * (CAST(n1_t AS DOUBLE)"
    " / CAST(n_t AS DOUBLE)) * (1.0 - CAST(n1_t AS DOUBLE)"
    " / CAST(n_t AS DOUBLE)) * (CAST(n_t AS DOUBLE)"
    " - CAST(d_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1.0)"
    " * 1000000.0 + 0.5) AS BIGINT)"
)
# v_q = 0 (no duration contributes variance) yields NULL in BOTH
# engines instead of an engine-divergent Infinity/NaN cast.
_LR_CHI2 = (
    "CASE WHEN v_q = 0 THEN CAST(NULL AS BIGINT) ELSE "
    "CAST(floor((CAST(o1 AS DOUBLE) - CAST(e1_q AS DOUBLE) / 1000000.0)"
    " * (CAST(o1 AS DOUBLE) - CAST(e1_q AS DOUBLE) / 1000000.0)"
    " / (CAST(v_q AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) AS BIGINT)"
    " END"
)


@register(
    "logrank_arm_test",
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
               // 86400000000 AS dur
      FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN h
    ),
    byt AS (
      SELECT dur, CAST(COUNT(*) AS BIGINT) AS c_t,
             CAST(SUM(x) AS BIGINT) AS c1_t,
             CAST(SUM(evt) AS BIGINT) AS d_t,
             CAST(SUM(evt * x) AS BIGINT) AS d1_t
      FROM d GROUP BY dur
    ),
    risk AS (
      SELECT dur, d_t, d1_t,
             CAST(SUM(c_t) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_t,
             CAST(SUM(c1_t) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n1_t
      FROM byt
    ),
    terms AS (
      SELECT CAST(SUM(d1_t) AS BIGINT) AS o1,
             CAST(SUM(CASE WHEN d_t > 0 THEN {_LR_E1} ELSE 0 END)
                  AS BIGINT) AS e1_q,
             CAST(SUM(CASE WHEN d_t > 0 AND n_t > 1 THEN {_LR_V}
                      ELSE 0 END) AS BIGINT) AS v_q,
             CAST(MAX(n_t) AS BIGINT) AS n_subjects,
             CAST(MAX(n1_t) AS BIGINT) AS n_arm1
      FROM risk
    )
    SELECT n_subjects, n_arm1, o1, e1_q, v_q, {_LR_CHI2} AS chi2_q
    FROM terms
    """,
    doc="Log-rank test between the two treatment arms (user parity, "
    "the Cox arm) of signup->purchase survival — the hypothesis-test "
    "completion of the survival family (KM/NA estimate curves, Cox "
    "fits the hazard ratio, log-rank TESTS the difference): per "
    "duration day, observed arm-1 events vs the hypergeometric "
    "expectation and variance over the risk sets, chi-square from the "
    "quantized sums. Risk sets come from the Cox descending-"
    "cumulative pass over the SAME shared duration relation "
    "(operators/survival.py); E1/V are the family's unavoidable "
    "rationals, each one identically-written double formula quantized "
    "per duration BEFORE the exact BIGINT sum (the Brier discipline); "
    "n_t <= 1 durations contribute no variance, guarded identically "
    "in both engines. Scale shape: the shared two-scan duration "
    "pipeline, then everything on the calendar-bounded duration "
    "grain.",
)
def logrank_arm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.survival import (
        signup_purchase_durations,
    )

    return _logrank_surface(
        signup_purchase_durations(
            spark, sf_dir, extra={"x": F.col("user_id") % 2}
        )
    )


def _logrank_surface(d: DataFrame) -> DataFrame:
    byt = d.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("c_t"),
        F.sum("x").cast("long").alias("c1_t"),
        F.sum("evt").cast("long").alias("d_t"),
        F.sum(F.col("evt") * F.col("x")).cast("long").alias("d1_t"),
    )
    wdesc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = byt.select(
        "dur",
        "d_t",
        "d1_t",
        F.sum("c_t").over(wdesc).cast("long").alias("n_t"),
        F.sum("c1_t").over(wdesc).cast("long").alias("n1_t"),
    )
    terms = risk.agg(
        F.sum("d1_t").cast("long").alias("o1"),
        F.sum(
            F.when(F.col("d_t") > 0, F.expr(_LR_E1)).otherwise(
                F.lit(0).cast("long")
            )
        )
        .cast("long")
        .alias("e1_q"),
        F.sum(
            F.when(
                (F.col("d_t") > 0) & (F.col("n_t") > 1), F.expr(_LR_V)
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("v_q"),
        F.max("n_t").cast("long").alias("n_subjects"),
        F.max("n1_t").cast("long").alias("n_arm1"),
    )
    return terms.select(
        "n_subjects", "n_arm1", "o1", "e1_q", "v_q",
        F.expr(_LR_CHI2).alias("chi2_q"),
    )


@register(
    "logrank_arm_test_served",
    oracle=_REG["logrank_arm_test"].oracle,
    doc="logrank_arm_test served from the user-span silver table "
    "(operators/survival.served_user_spans) — the fourth and last "
    "survival query onto the shared silver (KM/NA/Cox serve at "
    "0.9-1.2x DuckDB); the treatment arm derives from the silver's "
    "user_id at serve time, and the oracle replays the full raw-events "
    "pipeline so the hash match proves the silver faithful.",
)
def logrank_arm_test_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _logrank_surface(
        _served_durations(spark, sf_dir, extra={"x": F.col("user_id") % 2})
    )


# ---------------------------------------------------------------------------
# IPW / post-stratification ATE

# Per (priority x year) stratum b with n_b rows, nT_b treated:
# e_b = nT_b / n_b is the estimated propensity, and the IPW estimator
# collapses stratum-wise to ATE = sum_b (sT_b/e_b - sC_b/(1-e_b)) / n
# = sum_b (sT_b*n_b/nT_b - sC_b*n_b/nC_b) / n — the Horvitz-Thompson
# form on exact integers. Strata with an empty arm are skipped
# (standard positivity screen), identically in both engines. Each
# stratum term is one identically-written double formula quantized to
# cents-ten-thousandths BEFORE the exact BIGINT sum (the Brier
# discipline); the naive difference in means rides along for the
# selection-bias contrast.
_IPW_TERM = (
    "CAST(floor((CAST(s_t AS DOUBLE) * CAST(n_b AS DOUBLE)"
    " / CAST(n_t AS DOUBLE) - CAST(s_c AS DOUBLE) * CAST(n_b AS DOUBLE)"
    " / CAST(n_b - n_t AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)"
)
_IPW_ATE = (
    "CAST(floor(CAST(term_q AS DOUBLE) / CAST(n_used AS DOUBLE) + 0.5)"
    " AS BIGINT)"
)
_IPW_NAIVE = (
    "CAST(floor((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)"
    " - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)) * 10000.0 + 0.5)"
    " AS BIGINT)"
)


@register(
    "ipw_ate_order_value",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS pri, year(o_orderdate) AS yr,
             CASE WHEN CAST('0x' ||
                        substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)
                        AS INT) % 2 = 0 THEN 1 ELSE 0 END AS t,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v_c
      FROM orders
    ),
    strata AS (
      SELECT pri, yr, CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(t) AS BIGINT) AS n_t,
             CAST(SUM(t * v_c) AS BIGINT) AS s_t,
             CAST(SUM((1 - t) * v_c) AS BIGINT) AS s_c
      FROM base GROUP BY pri, yr
    ),
    used AS (
      SELECT * FROM strata WHERE n_t > 0 AND n_t < n_b
    ),
    agg AS (
      SELECT CAST(SUM(n_b) AS BIGINT) AS n_used,
             CAST(COUNT(*) AS BIGINT) AS n_strata,
             CAST(SUM({_IPW_TERM}) AS BIGINT) AS term_q
      FROM used
    ),
    naive AS (
      SELECT CAST(SUM(t) AS BIGINT) AS nt,
             CAST(SUM(1 - t) AS BIGINT) AS nc,
             CAST(SUM(t * v_c) AS BIGINT) AS st,
             CAST(SUM((1 - t) * v_c) AS BIGINT) AS sc
      FROM base
    )
    SELECT n_used, n_strata, {_IPW_NAIVE} AS naive_q,
           {_IPW_ATE} AS ate_ipw_q
    FROM agg CROSS JOIN naive
    """,
    doc="IPW / post-stratification average treatment effect — the "
    "propensity-weighting leg that completes the causal stack (DiD: "
    "parallel trends; CUPED: variance reduction; stratified ATT: "
    "matching; IPW: reweighting): per (priority x year) stratum the "
    "estimated propensity e_b = nT_b/n_b turns the Horvitz-Thompson "
    "sum into the exact stratum identity sT*n/nT - sC*n/nC; strata "
    "with an empty arm are screened out (positivity), identically in "
    "both engines; each stratum term is one identically-written "
    "double formula quantized BEFORE the exact BIGINT sum, and the "
    "naive mean difference rides along as the selection-bias "
    "contrast. Scale shape: one conditional groupBy over one scan "
    "(plus the 4-sum naive aggregate on the same scan grain); all "
    "estimator math on the bounded stratum relation.",
)
def ipw_ate_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.streaming.sprt import variant_of

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("pri"),
        F.year("o_orderdate").alias("yr"),
        F.when(variant_of("o_custkey") == "A", 1).otherwise(0).alias("t"),
        cents("o_totalprice").alias("v_c"),
    )
    strata = base.groupBy("pri", "yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("t").cast("long").alias("n_t"),
        F.sum(F.col("t") * F.col("v_c")).cast("long").alias("s_t"),
        F.sum((F.lit(1) - F.col("t")) * F.col("v_c"))
        .cast("long")
        .alias("s_c"),
    )
    used = strata.where((F.col("n_t") > 0) & (F.col("n_t") < F.col("n_b")))
    agg = used.agg(
        F.sum("n_b").cast("long").alias("n_used"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(F.expr(_IPW_TERM)).cast("long").alias("term_q"),
    )
    naive = base.agg(
        F.sum("t").cast("long").alias("nt"),
        F.sum(F.lit(1) - F.col("t")).cast("long").alias("nc"),
        F.sum(F.col("t") * F.col("v_c")).cast("long").alias("st"),
        F.sum((F.lit(1) - F.col("t")) * F.col("v_c"))
        .cast("long")
        .alias("sc"),
    )
    return agg.crossJoin(F.broadcast(naive)).select(
        "n_used",
        "n_strata",
        F.expr(_IPW_NAIVE).alias("naive_q"),
        F.expr(_IPW_ATE).alias("ate_ipw_q"),
    )
