"""Round-11 continuation: four further engine families —

- hybrid retrieval fusion (reciprocal-rank fusion of the BM25 lexical
  ranking with the dense cosine ranking, the standard hybrid-search
  combiner for RAG/retrieval pipelines),
- grid-density clustering (DBSCAN-style: dense grid cells merged
  through 8-neighbour adjacency into clusters — the scalable
  density-clustering shape, complementing the centroid-based k-means
  family),
- winnowing document fingerprints (the MOSS local fingerprinting
  algorithm: k-gram rolling hashes, per-window minima — the
  document-fingerprinting leg of the dedup family, fully row-local
  until one fingerprint-grain aggregate),
- Theil-Sen robust trend (median of pairwise slopes over the
  calendar-bounded day grain, next to the exact-moment OLS the
  registry already carries).

Same contract as every plans module: idiomatic PySpark paired with a
DuckDB oracle whose arithmetic is bit-identical — exact integer cents,
integer-quantized scores/slopes before any ranking or median, single
IEEE divides on identical literal expressions, and truncating integer
division (Spark ``div`` and DuckDB ``//`` both truncate toward zero —
verified on negative operands). Reference lineage: the reference
(/root/reference/main.py, /root/reference/streamlit_app.py:108-152)
serves grouped/ranked views of admissions data; these queries extend
the ranked-analytics surface to retrieval fusion, density clustering,
fingerprinting, and robust regression at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators.gates import collect_at_most
from healthcare_aihw_etl_pipeline_spark.operators.search import (
    sql_contrib,
    sql_tokens,
)
from healthcare_aihw_etl_pipeline_spark.plans.registry import (
    cents,
    register,
    sql_cents,
)
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (BM25 x dense cosine)

# RRF constant (Cormack/Clarke/Buettcher 2009: k=60 is the published
# default) and fusion depth. Contributions are exact integers:
# 10^9 div (60 + rank) — both engines truncate toward zero, so the
# fused score is hash-stable with no float in the ranking path.
_RRF_K = 60
_RRF_DEPTH = 50
_RRF_NUM = 1_000_000_000

_RRF_TERMS = ["dup", "spark", "merge"]


@register(
    "hybrid_rrf_fusion_top10",
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
      SELECT *, COUNT(*) OVER (PARTITION BY token) AS doc_freq FROM matches
    ),
    contrib AS (
      SELECT m.doc_id, {sql_contrib('s.n_docs', 's.sum_dl')} AS contrib_q
      FROM dfm m, stats s
    ),
    bm25 AS (
      SELECT doc_id, CAST(SUM(contrib_q) AS BIGINT) AS score_q
      FROM contrib GROUP BY doc_id
      ORDER BY score_q DESC, doc_id LIMIT {_RRF_DEPTH}
    ),
    bm25r AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id)
                  AS BIGINT) AS r_bm25
      FROM bm25
    ),
    q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    dense AS (
      SELECT e.vec_id,
             ROUND(list_sum(list_transform(
                     list_zip(list_transform(e.embedding,
                                             x -> CAST(x AS DOUBLE)), q.qv),
                     p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(e.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 6) AS cos
      FROM embeddings e, q
      ORDER BY cos DESC, vec_id LIMIT {_RRF_DEPTH}
    ),
    denser AS (
      SELECT vec_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id)
                  AS BIGINT) AS r_dense
      FROM dense
    )
    SELECT COALESCE(b.doc_id, d.vec_id) AS doc_id,
           b.r_bm25 AS r_bm25,
           d.r_dense AS r_dense,
           CAST(COALESCE({_RRF_NUM} // ({_RRF_K} + b.r_bm25), 0)
                + COALESCE({_RRF_NUM} // ({_RRF_K} + d.r_dense), 0)
                AS BIGINT) AS rrf_q
    FROM bm25r b FULL JOIN denser d ON b.doc_id = d.vec_id
    ORDER BY rrf_q DESC, doc_id LIMIT 10
    """,
    doc="Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical "
    "top-50 (query bag {dup, spark, merge}) and the dense cosine top-50 "
    "(probe = embedding of vec_id 0, one vector per document in the "
    "synthetic corpus) fused by RRF with the published k=60 — "
    "contribution 10^9 div (60 + rank), an exact integer in both "
    "engines (div and // both truncate toward zero), so the fused "
    "ranking is hash-stable end to end. Documents outside one leg's "
    "coverage (at sf0.1 only 2000 of 5000 docs carry embeddings — "
    "partial dense coverage, the realistic hybrid-search case) score "
    "on the surviving leg alone via the FULL OUTER fusion join. Scale "
    "shape: each leg is an independent bounded top-k "
    "(TakeOrderedAndProject — per-partition heaps, no global sort; the "
    "BM25 leg reuses bm25_topk's zero-corpus-explode two-scan plan), "
    "and everything after the two top-50s — ranking windows, the "
    "fusion join, the final top-10 — runs on <=100 rows of metadata. "
    "Fusing deeper rankings at 100 TB changes only the constant "
    "_RRF_DEPTH; the legs stay heap-bounded.",
)
def hybrid_rrf_fusion_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.relational import top_k
    from healthcare_aihw_etl_pipeline_spark.operators.search import bm25_topk
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        cosine_to_query,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # Lexical leg: exact integer-quantized BM25, depth-50.
    bm25 = bm25_topk(docs, "text", "doc_id", _RRF_TERMS, k=_RRF_DEPTH).select(
        "doc_id", "score_q"
    )
    # The rank windows run AFTER each leg's LIMIT — 50-row relations, so
    # the unpartitioned window is bounded by construction, not by data.
    wb = Window.orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
    bm25r = bm25.select(
        "doc_id", F.row_number().over(wb).cast("long").alias("r_bm25")
    )

    # Dense leg: 6dp-quantized cosine (the ann_cosine_top10 contract),
    # depth-50.
    from healthcare_aihw_etl_pipeline_spark.plans.llm_queries import (
        _query_vector,
    )

    qv = _query_vector(spark, sf_dir)
    scored = emb.select(
        "vec_id",
        F.round(cosine_to_query("embedding", qv), 6).alias("cos"),
    )
    dense = top_k(scored, "cos", _RRF_DEPTH, tiebreak=["vec_id"])
    wd = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    denser = dense.select(
        "vec_id", F.row_number().over(wd).cast("long").alias("r_dense")
    )

    fused = bm25r.join(
        denser, bm25r["doc_id"] == denser["vec_id"], "full_outer"
    ).select(
        F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
        "r_bm25",
        "r_dense",
        (
            F.coalesce(
                F.expr(f"{_RRF_NUM} div ({_RRF_K} + r_bm25)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{_RRF_NUM} div ({_RRF_K} + r_dense)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_q"),
    )
    return fused.orderBy(
        F.col("rrf_q").desc(), F.col("doc_id").asc()
    ).limit(10)


# ---------------------------------------------------------------------------
# Grid-density clustering (DBSCAN-style over the embedding plane)

# Cell width in embedding units and the dense-cell point threshold.
# Quantization is floor(x / eps) on the DOUBLE value — one IEEE divide
# by a literal then an exact floor, identical in both engines.
_GRID_EPS = 0.08
_GRID_MINPTS = 8
# Cell-id encoding: (cx + B) * 2B + (cy + B). Embedding coordinates are
# O(1) (unit-scale vectors), so |cx| << B at any SF; 2^21 * 2^22 < 2^63.
_GRID_B = 1 << 20
_GRID_ENC = 1 << 21

_GRID_NEIGHBORS = [
    (dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
]


@register(
    "grid_density_clusters",
    oracle=f"""
    WITH RECURSIVE pts AS (
      SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) / {_GRID_EPS}) AS BIGINT)
               AS cx,
             CAST(floor(CAST(embedding[2] AS DOUBLE) / {_GRID_EPS}) AS BIGINT)
               AS cy
      FROM embeddings
    ),
    dense AS (
      SELECT cx, cy,
             (cx + {_GRID_B}) * {_GRID_ENC} + (cy + {_GRID_B}) AS cid,
             COUNT(*) AS n
      FROM pts GROUP BY cx, cy HAVING COUNT(*) >= {_GRID_MINPTS}
    ),
    edges AS (
      SELECT a.cid AS s, b.cid AS d
      FROM dense a JOIN dense b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
    ),
    r(cell, lab) AS (
      SELECT cid, cid FROM dense
      UNION
      SELECT e.s, r.lab FROM edges e JOIN r ON r.cell = e.d
    ),
    labels AS (SELECT cell, MIN(lab) AS component FROM r GROUP BY cell)
    SELECT CAST(l.component AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(dn.n) AS BIGINT) AS n_points
    FROM labels l JOIN dense dn ON dn.cid = l.cell
    GROUP BY l.component
    ORDER BY n_points DESC, cluster_id
    """,
    doc="Grid-density clustering, the scalable DBSCAN shape: points "
    "quantize to grid cells (floor(coord/eps) on the first two "
    "embedding dimensions — exact integer cells, no float in any key), "
    "cells holding >= minpts points are dense, and dense cells merge "
    "through 8-neighbour adjacency into clusters via the engine's "
    "connected-components operator (min reachable cell id = the "
    "deterministic cluster label). Complements kmeans_refine_clusters: "
    "density clustering finds arbitrary-shape clusters and needs no k. "
    "Scale shape: ONE fact-grain shuffle (the cell groupBy, map-side "
    "combined); everything after runs on the CELL grain, which is "
    "bounded by the coordinate range / eps^2 — a geometry constant, "
    "not a data quantity — so the neighbour join broadcasts and the "
    "closure is metadata-sized at any corpus size. The oracle replays "
    "the closure as a recursive CTE over the same bounded cell graph.",
)
def grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        connected_components,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e0 = F.col("embedding").getItem(0).cast("double")
    e1 = F.col("embedding").getItem(1).cast("double")
    pts = emb.select(
        F.floor(e0 / F.lit(_GRID_EPS)).alias("cx"),
        F.floor(e1 / F.lit(_GRID_EPS)).alias("cy"),
    )
    dense = (
        pts.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= _GRID_MINPTS)
        .withColumn(
            "cid",
            (F.col("cx") + F.lit(_GRID_B)) * F.lit(_GRID_ENC)
            + (F.col("cy") + F.lit(_GRID_B)),
        )
        # Cell grain is geometry-bounded; materialize once for the three
        # consumers (neighbour probe, neighbour build, point rollup)
        # instead of re-running the fact-grain groupBy per consumer.
        .localCheckpoint(eager=True)
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(dx).cast("long").alias("dx"),
                F.lit(dy).cast("long").alias("dy"),
            )
            for dx, dy in _GRID_NEIGHBORS
        ]
    )
    cand = dense.select(
        "cid",
        F.explode(offs).alias("o"),
        F.col("cx"),
        F.col("cy"),
    ).select(
        "cid",
        (
            (F.col("cx") + F.col("o.dx") + F.lit(_GRID_B))
            * F.lit(_GRID_ENC)
            + (F.col("cy") + F.col("o.dy") + F.lit(_GRID_B))
        ).alias("ncid"),
    )
    edges = cand.join(
        F.broadcast(dense.select(F.col("cid").alias("ncid"))), "ncid"
    ).select("cid", "ncid")
    labels = connected_components(edges, src="cid", dst="ncid")
    comp = (
        dense.join(
            F.broadcast(labels), dense["cid"] == labels["node"], "left"
        )
        # Isolated dense cells have no non-self edge (the closure drops
        # self-loops); they are their own singleton cluster.
        .select(
            F.coalesce(F.col("component"), F.col("cid")).alias("cluster_id"),
            "n",
        )
    )
    return (
        comp.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("n_points"),
        )
        .orderBy(F.col("n_points").desc(), F.col("cluster_id").asc())
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (MOSS local fingerprinting)

# k-gram size (tokens) and winnowing window (k-grams). Guarantee: any
# shared token run of length >= _WIN_K + _WIN_W - 1 produces at least
# one shared fingerprint (Schleimer/Wilkerson/Aiken 2003).
_WIN_K = 3
_WIN_W = 4


@register(
    "winnow_shared_fingerprints",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ),
    kh AS (
      SELECT doc_id,
             list_transform(
               range(0, len(t) - {_WIN_K - 1}),
               i -> CAST('0x' || substr(md5(t[i+1] || ' ' || t[i+2]
                                            || ' ' || t[i+3]), 1, 8)
                    AS BIGINT)) AS h
      FROM docs WHERE len(t) >= {_WIN_K + _WIN_W - 1}
    ),
    fp AS (
      SELECT doc_id,
             UNNEST(list_transform(
               range(0, len(h) - {_WIN_W - 1}),
               s -> list_min(list_slice(h, s + 1, s + {_WIN_W})))) AS f
      FROM kh
    ),
    perdoc AS (
      SELECT doc_id, f, COUNT(*) AS c FROM fp GROUP BY doc_id, f
    )
    SELECT f AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS first_doc
    FROM perdoc GROUP BY f
    ORDER BY n_docs DESC, n_occurrences DESC, fingerprint LIMIT 20
    """,
    doc="Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS): "
    "token 3-grams hash through portable md5 (first 8 hex chars as an "
    "integer — bit-replayable in any engine), every sliding window of "
    "4 k-gram hashes selects its minimum, and the selected hashes are "
    "the document's fingerprints — the locality guarantee (any shared "
    "run of >= 6 tokens shares a fingerprint) that plain minhash lacks. "
    "Output: the 20 fingerprints shared by the most documents — the "
    "cross-document plagiarism/boilerplate signal. Scale shape: "
    "k-gramming, hashing, and window minima are HIGHER-ORDER ARRAY "
    "expressions on the let-bound token array — entirely row-local, "
    "zero shuffles, whole-stage codegen — so the only exchanges are "
    "the (doc, fingerprint) and (fingerprint) aggregates, both "
    "map-side combined. No per-token row stream ever exists before "
    "the per-window minima collapse ~w-fold; at 100 TB the shuffled "
    "volume is the fingerprint density (~2/w per token), not the "
    "token count. Measured (SCALE_CURVE_R11B): the residual vs "
    "single-node DuckDB (~2.6x at sf10) is the interpreted "
    "higher-order-function md5 constant — per-window slice "
    "allocation was eliminated (least() chain, 13.6 -> 6.3 s at "
    "sf10), and the exploded-token-stream alternative was rejected "
    "because it shuffles the full k-gram stream (petabyte-grade at "
    "100 TB) to shave a constant factor on a scan-local pass.",
)
def winnow_shared_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_top_fingerprints(
        load_table(spark, sf_dir, "documents"),
        lambda gram: F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long"),
    )


def winnow_top_fingerprints(docs: DataFrame, gram_hash) -> DataFrame:
    """Winnowing body shared by the md5 and xxhash64 fingerprint
    queries: the 20 fingerprints shared by the most documents, where
    ``gram_hash`` maps a space-joined token k-gram to a long."""
    from healthcare_aihw_etl_pipeline_spark.functions.scalar import bind
    from healthcare_aihw_etl_pipeline_spark.operators.search import tokens

    def _kgram_hashes(t):
        def _h(i):
            return gram_hash(
                F.concat_ws(
                    " ", *[F.element_at(t, i + F.lit(j + 1)) for j in range(_WIN_K)]
                )
            )

        return F.transform(
            F.sequence(F.lit(0), F.size(t) - F.lit(_WIN_K)), _h
        )

    def _window_minima(h):
        # least(element_at x w) instead of array_min(slice(...)): the
        # slice form ALLOCATES a w-element array per window inside the
        # interpreted HOF path — measured 12.3 s vs 5.1 s for the
        # minima pass at sf10 (the hash pass itself is ~5 s). Same
        # value per window, zero allocation.
        return F.transform(
            F.sequence(F.lit(0), F.size(h) - F.lit(_WIN_W)),
            lambda s: F.least(
                *[
                    F.element_at(h, s + F.lit(j + 1))
                    for j in range(_WIN_W)
                ]
            ),
        )

    # Round-robin the docs across the full core count before the heavy
    # row-local pass: small-SF document files scan as 1-2 splits, which
    # would serialize the k-gram hashing on 2 of 32 cores (the
    # inverted-index lesson — same fix). ~100-byte rows, so the one-off
    # exchange is noise next to the hashing it parallelizes; on a real
    # cluster the scan already arrives well-split and this is a no-op
    # cost-wise.
    nparts = max(
        docs.sparkSession.sparkContext.defaultParallelism,
        docs.rdd.getNumPartitions(),
    )
    fp = (
        docs.repartition(nparts)
        .where(F.trim(F.col("text")) != "")
        .where(F.size(tokens("text")) >= _WIN_K + _WIN_W - 1)
        .select(
            "doc_id",
            F.explode(
                bind(
                    bind(tokens("text"), _kgram_hashes), _window_minima
                )
            ).alias("f"),
        )
    )
    perdoc = fp.groupBy("doc_id", "f").agg(F.count(F.lit(1)).alias("c"))
    return (
        perdoc.groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .select(
            F.col("f").alias("fingerprint"),
            "n_docs",
            "n_occurrences",
            "first_doc",
        )
        .orderBy(
            F.col("n_docs").desc(),
            F.col("n_occurrences").desc(),
            F.col("fingerprint").asc(),
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes, day grain)

# Slope quantum: integer micro-cents/day. (dy * 10^6) div dx is exact
# in both engines (truncation toward zero matches); |dy| is one day's
# revenue in cents, so dy * 10^6 stays far under 2^63 through sf100.
_TS_SLOPE_QUANT = 1_000_000
_TS_EPOCH = "DATE '1992-01-01'"

# Driver-side pair-stage gate: above this many distinct days the
# O(days²) numpy allocation (5 int64 arrays over day-pairs; ~1.3 GB at
# the threshold) yields to the distributed pair plan. 8192 days is two
# decades of calendar — far past any bench corpus.
_TS_MAX_DAYS = 8192


@register(
    "theil_sen_daily_trend",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', {_TS_EPOCH}, o_orderdate) AS x,
             SUM({sql_cents('o_totalprice')}) AS r
      FROM orders GROUP BY o_orderdate
    ),
    pairs AS (
      SELECT CAST((b.r - a.r) * {_TS_SLOPE_QUANT} // (b.x - a.x)
                  AS BIGINT) AS sl
      FROM daily a JOIN daily b ON a.x < b.x
    ),
    g AS (SELECT sl, COUNT(*) AS c FROM pairs GROUP BY sl),
    cum AS (
      SELECT sl,
             SUM(c) OVER (ORDER BY sl
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER () AS np
      FROM g
    ),
    med AS (
      SELECT MIN(sl) AS ts_slope, MIN(np) AS np FROM cum
      WHERE cum >= (np + 1) // 2
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(r) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * r) AS BIGINT) AS sxy
      FROM daily
    )
    SELECT m.nd AS n_days,
           CAST(d.np AS BIGINT) AS n_pairs,
           CAST(d.ts_slope AS BIGINT) AS theil_sen_slope_micro,
           (CAST(m.nd AS DOUBLE) * CAST(m.sxy AS DOUBLE)
              - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
             / (CAST(m.nd AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)) AS ols_slope
    FROM med d, mom m
    """,
    doc="Theil-Sen robust trend of daily order revenue: the median of "
    "all pairwise slopes (dy/dx over day pairs), the 29%-breakdown "
    "robust alternative to OLS (reported alongside from the same "
    "scan, via the registry's exact-BIGINT-moment pattern). Slopes are "
    "quantized to integer micro-cents/day with truncating integer "
    "division — identical in Spark (div) and DuckDB (//) including "
    "negatives — and the median is the exact lower median via a "
    "cumulative count over the GROUPED slope relation, so no float "
    "ever enters ordering or selection. Scale shape: the pair "
    "relation is day x day — CALENDAR-bounded (~3M pairs for seven "
    "years), constant in corpus size — built as one broadcast "
    "nested-loop pass over the once-materialized day-grain aggregate; "
    "the fact table is scanned exactly once (the day rollup), and the "
    "median's unpartitioned window runs over distinct slope values of "
    "a calendar-bounded set, the same justification as the "
    "Kaplan-Meier and changepoint relations. Overflow bounds: the "
    "BIGINT moments themselves fit through ~sf50 (sxy ~ 8.6e15 at "
    "sf0.1, x10 per decade); the OLS normal-equation PRODUCTS exceed "
    "2^63 already at sf0.1, so each exact moment casts to DOUBLE "
    "BEFORE the products — identical IEEE expression both engines, "
    "and the ~1e-16 relative error lands on a display column, never "
    "in ordering.",
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderdate").agg(
        F.sum(cents("o_totalprice")).alias("r")
    ).select(
        F.datediff(F.col("o_orderdate"), F.expr(_TS_EPOCH))
        .cast("long")
        .alias("x"),
        "r",
    )
    # ROUND 16 (optimization): the day grain is CALENDAR-bounded
    # (~2.4k rows for seven years at ANY corpus size), so everything
    # past the one fact-table rollup is constant-sized — yet the
    # previous plan built the ~2.9M-row pair relation as a
    # BroadcastNestedLoopJoin, shuffled it into a groupBy over ~2.9M
    # mostly-unique quantized slopes, and ran an UNPARTITIONED
    # cumulative window (single-task global sort) to select the
    # median: 4.24 s at sf0.1 vs DuckDB's 2.61 s, flat in corpus size
    # because the pair stage dominates. Bounded-collect discipline
    # (markov / graph-ANN precedent): collect the day grain once and
    # compute the exact pairwise-slope median in vectorized int64
    # numpy — sign(dy)*(|dy*Q| // dx) reproduces Spark's
    # truncate-toward-zero `div` exactly (dx > 0 always), and
    # np.partition selects the ((np+1) div 2)-th smallest slope, the
    # same lower median as the oracle's cumulative-count selection.
    # The OLS moments are exact Python-int sums cast to double in the
    # IDENTICAL expression order as the SQL. Measured: 4.24 -> 0.62 s
    # at sf0.1 (the orders rollup is now the whole cost);
    # tests/test_round11b_ops.py::test_theil_sen_matches_exact_python
    # pins the result against an independent pure-Python pairwise
    # replication.
    import numpy as np

    # The numpy pair stage allocates O(days²) driver memory, so the
    # collect is gated: past _TS_MAX_DAYS days the retained Spark pair
    # plan (_theil_sen_spark_pairs) runs instead.
    rows = collect_at_most(daily, _TS_MAX_DAYS)
    if rows is None:
        return _theil_sen_spark_pairs(daily)
    xs = np.array([r["x"] for r in rows], dtype=np.int64)
    rs = np.array([r["r"] for r in rows], dtype=np.int64)
    order = np.argsort(xs)
    xs, rs = xs[order], rs[order]
    nd = int(xs.size)
    # Overflow guard (r16 ADVICE): numpy int64 wraps silently where
    # Spark under ANSI would raise — verify the worst |dy| * QUANT fits
    # int64 with exact Python ints and raise loudly if not (reachable
    # only far beyond the documented sf100 envelope).
    if nd and (int(rs.max()) - int(rs.min())) * _TS_SLOPE_QUANT >= 2**63:
        raise ArithmeticError(
            "theil_sen_daily_trend: |dy| * slope quantum exceeds int64 "
            "— corpus outside the exact-arithmetic envelope"
        )
    iu, ju = np.triu_indices(nd, k=1)
    dx = xs[ju] - xs[iu]  # > 0: strictly increasing distinct days
    dyq = (rs[ju] - rs[iu]) * np.int64(_TS_SLOPE_QUANT)
    sl = np.sign(dyq) * (np.abs(dyq) // dx)  # Spark `div` exactly
    n_pairs = int(sl.size)
    if n_pairs:
        k = (n_pairs + 1) // 2
        ts_slope = int(np.partition(sl, k - 1)[k - 1])
        np_out: int | None = n_pairs
    else:
        # oracle: MIN over the empty cum relation -> NULLs
        ts_slope, np_out = None, None
    sx = int(xs.sum(dtype=object)) if nd else 0
    sy = int(rs.sum(dtype=object)) if nd else 0
    sxx = sum(int(v) * int(v) for v in xs)
    sxy = sum(int(a) * int(b) for a, b in zip(xs, rs))
    # The OLS division stays a SPARK expression over the exact literal
    # moments: identical IEEE op order to the previous plan AND
    # identical divide-by-zero semantics under whatever ANSI setting
    # the session runs (a 1-day corpus raised before and still does).
    mom = spark.createDataFrame(
        [(nd, np_out, ts_slope, sx, sy, sxx, sxy)],
        "nd long, np long, ts long, sx long, sy long, sxx long, sxy long",
    )
    return mom.select(
        F.col("nd").alias("n_days"),
        F.col("np").alias("n_pairs"),
        F.col("ts").alias("theil_sen_slope_micro"),
        (
            (
                F.col("nd").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.col("nd").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
        ).alias("ols_slope"),
    )


def _theil_sen_spark_pairs(daily: DataFrame) -> DataFrame:
    """Distributed pairwise-slope median — the pre-r16 plan, kept as
    the graceful path for a day grain too large for the O(days²)
    driver pair stage. Identical quantized-slope arithmetic and lower-
    median selection."""
    # Materialize the day grain once: the pair pass reads it twice
    # (probe + broadcast build) and the moment aggregate a third time.
    daily = daily.localCheckpoint(eager=True)
    a = daily.select(F.col("x").alias("xa"), F.col("r").alias("ra"))
    b = daily.select(F.col("x").alias("xb"), F.col("r").alias("rb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("xa") < F.col("xb"))
        .select(
            F.expr(
                f"CAST((rb - ra) * {_TS_SLOPE_QUANT} div (xb - xa)"
                " AS BIGINT)"
            ).alias("sl")
        )
    )
    g = pairs.groupBy("sl").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("sl").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("sl").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = g.select(
        "sl",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("np"),
    )
    med = cum.where(F.col("cum") >= F.expr("(np + 1) div 2")).agg(
        F.min("sl").alias("ts_slope"),
        F.min("np").alias("np"),
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("x").alias("sx"),
        F.sum("r").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("r")).alias("sxy"),
    )
    return med.crossJoin(F.broadcast(mom)).select(
        F.col("nd").alias("n_days"),
        F.col("np").cast("long").alias("n_pairs"),
        F.col("ts_slope").cast("long").alias("theil_sen_slope_micro"),
        (
            (
                F.col("nd").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.col("nd").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
        ).alias("ols_slope"),
    )


# ---------------------------------------------------------------------------
# Decision-stump learning: best information-gain split

# Entropy quantum: integer milli-nats per c*ln(n) - c*ln(c) term. The
# terms are generic reals (a 1-ulp libm ln divergence cannot reach the
# 5e-4 quantization boundary), the BM25/value_drift_psi discipline.
_IG_QUANT = 1000.0


@register(
    "decision_stump_quantity_split",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS q, l_returnflag AS flag,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    qmax AS (SELECT MAX(q) AS m FROM cells),
    splits AS (SELECT DISTINCT q AS s FROM cells, qmax WHERE q < m),
    pairs AS (
      SELECT s, CASE WHEN q <= s THEN 'L' ELSE 'R' END AS side, flag, c
      FROM splits, cells
    ),
    grp AS (
      SELECT s, side, flag, CAST(SUM(c) AS BIGINT) AS c
      FROM pairs GROUP BY 1, 2, 3
    ),
    sided AS (
      SELECT *, CAST(SUM(c) OVER (PARTITION BY s, side) AS BIGINT) AS n
      FROM grp
    ),
    terms AS (
      SELECT s, side, c,
             CAST(floor((CAST(c AS DOUBLE) * ln(CAST(n AS DOUBLE))
                         - CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                        * {_IG_QUANT} + 0.5) AS BIGINT) AS t
      FROM sided
    ),
    score AS (
      SELECT s, CAST(SUM(t) AS BIGINT) AS child_milli,
             CAST(SUM(CASE WHEN side = 'L' THEN c ELSE 0 END)
                  AS BIGINT) AS n_left,
             CAST(SUM(CASE WHEN side = 'R' THEN c ELSE 0 END)
                  AS BIGINT) AS n_right
      FROM terms GROUP BY s
    ),
    ft AS (
      SELECT flag, CAST(SUM(c) AS BIGINT) AS c FROM cells GROUP BY flag
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ft),
    parent AS (
      SELECT CAST(SUM(CAST(floor((CAST(c AS DOUBLE)
                                  * ln(CAST(n AS DOUBLE))
                                  - CAST(c AS DOUBLE)
                                  * ln(CAST(c AS DOUBLE)))
                                 * {_IG_QUANT} + 0.5) AS BIGINT))
                  AS BIGINT) AS p
      FROM ft, tot
    )
    SELECT s AS split_q, n_left, n_right,
           child_milli AS child_entropy_milli,
           CAST(p - child_milli AS BIGINT) AS info_gain_milli
    FROM score, parent
    ORDER BY child_milli ASC, s ASC LIMIT 1
    """,
    doc="Decision-stump learning in pure relational algebra: the "
    "l_quantity threshold that best predicts l_returnflag by "
    "information gain. The fact table collapses to (quantity, class) "
    "cells in ONE map-side-combined groupBy — 150 cells regardless of "
    "corpus size — and every candidate split is scored from those "
    "cells alone: weighted child entropy as exact integer milli-nat "
    "sums of c*ln(n) - c*ln(c) terms (quantize-before-sum, the BM25 "
    "discipline — ln on identical integer-valued doubles cannot cross "
    "the 5e-4 boundary), argmin with a deterministic split tiebreak. "
    "The split x cell expansion (49 x 150) and every later step run "
    "on broadcast metadata — the shape a distributed decision-tree "
    "layer (one stump per feature per node) runs at 100 TB, where "
    "only the histogram pass touches the fact table.",
)
def decision_stump_quantity_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.col("l_quantity").cast("long").alias("q"),
            F.col("l_returnflag").alias("flag"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        # Class-histogram grain (|quantity domain| x |classes| cells):
        # four downstream consumers, one fact pass.
        .localCheckpoint(eager=True)
    )
    qmax = cells.agg(F.max("q").alias("m"))
    splits = (
        cells.select("q")
        .distinct()
        .crossJoin(F.broadcast(qmax))
        .where(F.col("q") < F.col("m"))
        .select(F.col("q").alias("s"))
    )
    pairs = splits.crossJoin(F.broadcast(cells)).select(
        "s",
        F.when(F.col("q") <= F.col("s"), F.lit("L"))
        .otherwise(F.lit("R"))
        .alias("side"),
        "flag",
        "c",
    )
    grp = pairs.groupBy("s", "side", "flag").agg(F.sum("c").alias("c"))
    wside = Window.partitionBy("s", "side")
    sided = grp.select(
        "s", "side", "c", F.sum("c").over(wside).alias("n")
    )
    term = F.floor(
        (
            F.col("c").cast("double") * F.log(F.col("n").cast("double"))
            - F.col("c").cast("double") * F.log(F.col("c").cast("double"))
        )
        * F.lit(_IG_QUANT)
        + F.lit(0.5)
    ).cast("long")
    score = (
        sided.select("s", "side", "c", term.alias("t"))
        .groupBy("s")
        .agg(
            F.sum("t").alias("child_milli"),
            F.sum(
                F.when(F.col("side") == "L", F.col("c")).otherwise(F.lit(0))
            ).alias("n_left"),
            F.sum(
                F.when(F.col("side") == "R", F.col("c")).otherwise(F.lit(0))
            ).alias("n_right"),
        )
    )
    ft = cells.groupBy("flag").agg(F.sum("c").alias("c"))
    tot = ft.agg(F.sum("c").alias("n"))
    parent = (
        ft.crossJoin(F.broadcast(tot))
        .select(term.alias("t"))
        .agg(F.sum("t").alias("p"))
    )
    return (
        score.crossJoin(F.broadcast(parent))
        .select(
            F.col("s").alias("split_q"),
            "n_left",
            "n_right",
            F.col("child_milli").alias("child_entropy_milli"),
            (F.col("p") - F.col("child_milli"))
            .cast("long")
            .alias("info_gain_milli"),
        )
        .orderBy(F.col("child_entropy_milli").asc(), F.col("split_q").asc())
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining: top event-type trigrams


@register(
    "event_trigram_patterns",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS t1,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n DESC, t1, t2, t3 LIMIT 20
    """,
    doc="Sequential pattern mining, order-2: the 20 most frequent "
    "consecutive event-type TRIGRAMS across user journeys (the "
    "markov_transitions family one order deeper — order-k sequence "
    "counts are the support statistics behind next-action models and "
    "funnel discovery). The (ts, event_id) window order is total, so "
    "every engine sees identical successors. Scale: one shuffle on "
    "user_id for the two LEADs (per-user partitions, never global), "
    "then a map-side-combined count on a domain bounded by "
    "|event_types|^3 — metadata-sized regardless of fact volume; the "
    "top-20 is a TakeOrderedAndProject.",
)
def event_trigram_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("n").desc(),
            F.col("t1").asc(),
            F.col("t2").asc(),
            F.col("t3").asc(),
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# FIFO allocation matching (returns consumed against shipments)


@register(
    "fifo_return_matching",
    oracle="""
    WITH supply AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS shi,
             CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w
                  - CAST(l_quantity AS BIGINT) AS BIGINT) AS slo,
             l_shipdate AS sdate
      FROM lineitem WHERE l_returnflag = 'N'
      WINDOW w AS (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    demand AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS dhi,
             CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w
                  - CAST(l_quantity AS BIGINT) AS BIGINT) AS dlo,
             -- per-part demand total rides the SAME partition window:
             -- no second scan, no separate aggregate branch
             CAST(SUM(CAST(l_quantity AS BIGINT))
                  OVER (PARTITION BY l_partkey) AS BIGINT) AS dq,
             l_shipdate AS ddate
      FROM lineitem WHERE l_returnflag = 'R'
      WINDOW w AS (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    matched AS (
      SELECT d.l_partkey, d.dq,
             LEAST(s.shi, d.dhi) - GREATEST(s.slo, d.dlo) AS mq,
             CAST(date_diff('day', s.sdate, d.ddate) AS BIGINT) AS age
      FROM demand d JOIN supply s
        ON d.l_partkey = s.l_partkey
       AND s.slo < d.dhi AND d.dlo < s.shi
    ),
    alloc AS (
      SELECT l_partkey, CAST(SUM(mq) AS BIGINT) AS matched_qty,
             CAST(SUM(mq * age) AS BIGINT) AS qty_age_days,
             CAST(MAX(dq) AS BIGINT) AS dq
      FROM matched GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, matched_qty,
           CAST(dq - matched_qty AS BIGINT) AS unmatched_qty,
           qty_age_days
    FROM alloc
    ORDER BY matched_qty DESC, partkey LIMIT 20
    """,
    doc="FIFO allocation matching — the classic interval-intersection "
    "formulation: per part, shipments (flag N) and returns (flag R) "
    "each become cumulative-quantity intervals [lo, hi) in FIFO order "
    "(shipdate, orderkey, linenumber — a total order), and the "
    "allocation of each return against each shipment is the OVERLAP "
    "of their intervals — the set-based equivalent of the sequential "
    "matching loop every inventory/cost-basis/payment-waterfall "
    "system runs, with exact integer quantities and quantity-weighted "
    "age. Scale: both cumulative windows partition by part (bounded "
    "rows per part by the data model), the match is an EQUI join on "
    "partkey with the interval overlap as a residual predicate — "
    "co-partitioned, never a range-only join — and per-part fan-out "
    "is linear in lines per part because each demand interval "
    "overlaps on average O(1) supply intervals. Top-20 is a "
    "TakeOrderedAndProject.",
)
def fifo_return_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 12: the allocation relation moved to operators.fifo so the
    # streaming twin (streaming.fifo.part_fifo_matching) shares the
    # exact definition; this query is its top-20 ranked surface.
    from healthcare_aihw_etl_pipeline_spark.operators.fifo import (
        fifo_interval_alloc,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return (
        fifo_interval_alloc(li)
        .orderBy(F.col("matched_qty").desc(), F.col("partkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (KM's estimator sibling, div-exact)

_NA_DAY_US = 86_400_000_000
_NA_QUANT = 1_000_000_000


@register(
    "nelson_aalen_hazard",
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
      SELECT s.user_id,
             CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END AS evt,
             (epoch_us(COALESCE(p.p_ts, h.horizon)) - epoch_us(s.s_ts))
               // {_NA_DAY_US} AS dur
      FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN h
    ),
    km AS (
      SELECT dur, CAST(SUM(evt) AS BIGINT) AS d_t,
             CAST(SUM(1 - evt) AS BIGINT) AS c_t
      FROM d GROUP BY dur
    ),
    w AS (
      SELECT dur, d_t, c_t,
             (SELECT COUNT(*) FROM d)
               - COALESCE(SUM(d_t + c_t) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk
      FROM km
    ),
    t AS (
      SELECT dur, n_risk, d_t, c_t,
             CAST(d_t * {_NA_QUANT} // n_risk AS BIGINT) AS term_q
      FROM w
    )
    SELECT dur AS duration_day,
           CAST(n_risk AS BIGINT) AS n_risk,
           d_t AS n_events,
           c_t AS n_censored,
           CAST(SUM(term_q) OVER (ORDER BY dur) AS BIGINT) AS cumhaz_q
    FROM t
    ORDER BY duration_day
    """,
    doc="Nelson-Aalen cumulative hazard of signup->purchase conversion "
    "(right-censored at the corpus horizon) — Kaplan-Meier's estimator "
    "sibling, and arithmetically STRICTER: each hazard increment "
    "d_t/n_risk quantizes through exact integer division (d_t * 10^9 "
    "div n_risk — truncation-identical in both engines), so unlike "
    "KM's ln terms no libm call exists anywhere; the whole curve is "
    "integer arithmetic end to end. Same scale shape as KM: one "
    "groupBy(user) shuffle, then the hazard relation is |distinct "
    "durations| — calendar-bounded — so the unpartitioned cumulative "
    "window costs nothing at any corpus size. Reference lineage: "
    "extends the percentage-trend family of /root/reference/main.py "
    "(pct_change views) to event-history statistics.",
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.survival import (
        signup_purchase_durations,
    )

    # Shared duration relation (operators/survival.py): two fact scans
    # with map-side user-grain aggregation + the footer-statistics
    # horizon (was three scans; the scan-count rationale lives with
    # the operator).
    d = signup_purchase_durations(spark, sf_dir)
    return _na_surface(d)


def _na_surface(d: DataFrame) -> DataFrame:
    """The Nelson-Aalen estimator over a (evt, dur) relation — shared
    by the from-scratch form and the silver-served twin."""
    km = d.groupBy("dur").agg(
        F.sum("evt").alias("d_t"),
        F.sum(F.lit(1) - F.col("evt")).alias("c_t"),
    )
    wprev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w = km.select(
        "dur",
        "d_t",
        "c_t",
        (
            F.sum(F.col("d_t") + F.col("c_t")).over(wall)
            - F.coalesce(
                F.sum(F.col("d_t") + F.col("c_t")).over(wprev), F.lit(0)
            )
        ).alias("n_risk"),
    )
    t = w.select(
        "dur",
        "n_risk",
        "d_t",
        "c_t",
        F.expr(f"d_t * {_NA_QUANT} div n_risk").alias("term_q"),
    )
    return t.select(
        F.col("dur").alias("duration_day"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_t").alias("n_events"),
        F.col("c_t").alias("n_censored"),
        F.sum("term_q").over(wcum).cast("long").alias("cumhaz_q"),
    ).orderBy("duration_day")


# ---------------------------------------------------------------------------
# Segmented (two-piece) trend at the CUSUM changepoint

_SEG_EPOCH = "DATE '1992-01-01'"


@register(
    "segmented_trend_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', {_SEG_EPOCH}, o_orderdate) AS x,
             CAST(SUM({sql_cents('o_totalprice')}) AS BIGINT) AS r
      FROM orders GROUP BY o_orderdate
    ),
    tot AS (
      SELECT CAST(SUM(r) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM daily
    ),
    c AS (
      SELECT x,
             CAST(SUM(r * (SELECT n FROM tot) - (SELECT total FROM tot))
                  OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cusum
      FROM daily
    ),
    cp AS (
      SELECT x AS cp_x FROM c ORDER BY abs(cusum) DESC, x ASC LIMIT 1
    ),
    seg AS (
      SELECT CASE WHEN d.x <= cp.cp_x THEN 'pre' ELSE 'post' END AS segment,
             CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(d.x) AS BIGINT) AS sx,
             CAST(SUM(d.r) AS BIGINT) AS sy,
             CAST(SUM(d.x * d.x) AS BIGINT) AS sxx,
             CAST(SUM(d.x * d.r) AS BIGINT) AS sxy
      FROM daily d, cp GROUP BY 1
    )
    SELECT s.segment,
           strftime({_SEG_EPOCH} + CAST(cp.cp_x AS INTEGER), '%Y-%m-%d')
             AS cp_day,
           s.nd AS n_days,
           CASE WHEN CAST(s.nd AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                     - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) <> 0.0
                THEN (CAST(s.nd AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                      - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
                     / (CAST(s.nd AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                        - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
                ELSE NULL END AS slope_cents_per_day,
           CAST(s.sy AS DOUBLE) / CAST(s.nd AS DOUBLE) / 100.0
             AS mean_dollars
    FROM seg s, cp
    ORDER BY s.segment DESC
    """,
    doc="Segmented (two-piece) regression: the CUSUM-detected "
    "changepoint of daily revenue (exact scaled-integer deviations, "
    "argmax |CUSUM| with a deterministic day tiebreak — bit-identical "
    "to revenue_changepoint's detector) splits the day grain into "
    "pre/post segments, and each segment gets an exact-moment OLS "
    "trend — slope from BIGINT moments cast to DOUBLE before the "
    "normal-equation products (the theil_sen overflow discipline), "
    "guarded NULL for a degenerate single-day segment. Piecewise "
    "trend fitting is the standard post-detection follow-up to a "
    "changepoint alarm; this runs detector + both fits in ONE day-"
    "grain pipeline. Scale: one fact groupBy to the calendar-bounded "
    "day grain (localCheckpoint — detector and segment moments reuse "
    "it), everything downstream is metadata-sized.",
)
def segmented_trend_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy("o_orderdate")
        .agg(F.sum(cents("o_totalprice")).alias("r"))
        .select(
            F.datediff(F.col("o_orderdate"), F.expr(_SEG_EPOCH))
            .cast("long")
            .alias("x"),
            "r",
        )
        .localCheckpoint(eager=True)
    )
    tot = daily.agg(
        F.sum("r").alias("total"), F.count(F.lit(1)).alias("n")
    )
    wcum = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = daily.crossJoin(F.broadcast(tot)).withColumn(
        "cusum", F.sum(F.col("r") * F.col("n") - F.col("total")).over(wcum)
    )
    cp = (
        c.orderBy(F.abs(F.col("cusum")).desc(), F.col("x").asc())
        .limit(1)
        .select(F.col("x").alias("cp_x"))
    )
    seg = (
        daily.crossJoin(F.broadcast(cp))
        .groupBy(
            F.when(F.col("x") <= F.col("cp_x"), F.lit("pre"))
            .otherwise(F.lit("post"))
            .alias("segment")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("nd"),
            F.sum("x").alias("sx"),
            F.sum("r").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("r")).alias("sxy"),
        )
    )
    den = (
        F.col("nd").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    num = (
        F.col("nd").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    return (
        seg.crossJoin(F.broadcast(cp))
        .select(
            "segment",
            F.date_format(
                F.expr(f"date_add({_SEG_EPOCH}, CAST(cp_x AS INT))"),
                "yyyy-MM-dd",
            ).alias("cp_day"),
            F.col("nd").alias("n_days"),
            F.when(den != F.lit(0.0), num / den)
            .otherwise(F.lit(None).cast("double"))
            .alias("slope_cents_per_day"),
            (
                F.col("sy").cast("double")
                / F.col("nd").cast("double")
                / F.lit(100.0)
            ).alias("mean_dollars"),
        )
        .orderBy(F.col("segment").desc())
    )


# ---------------------------------------------------------------------------
# Wasserstein-1 distance between two daily-revenue distributions

_W1_YEAR_A = 1995
_W1_YEAR_B = 1996


@register(
    "wasserstein_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(SUM({sql_cents('o_totalprice')}) AS BIGINT) AS r
      FROM orders
      WHERE year(o_orderdate) IN ({_W1_YEAR_A}, {_W1_YEAR_B})
      GROUP BY o_orderdate
    ),
    v AS (
      SELECT r,
             CAST(SUM(CASE WHEN y = {_W1_YEAR_A} THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN y = {_W1_YEAR_B} THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM daily GROUP BY r
    ),
    cum AS (
      SELECT r,
             CAST(SUM(c1) OVER (ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS k1,
             CAST(SUM(c2) OVER (ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS k2,
             CAST(SUM(c1) OVER () AS BIGINT) AS n1,
             CAST(SUM(c2) OVER () AS BIGINT) AS n2,
             CAST(LEAD(r) OVER (ORDER BY r) - r AS BIGINT) AS gap
      FROM v
    )
    SELECT CAST(MIN(n1) AS BIGINT) AS n1_days,
           CAST(MIN(n2) AS BIGINT) AS n2_days,
           CAST(SUM(abs(k1 * n2 - k2 * n1) * gap) AS BIGINT) AS w1_num,
           CAST(SUM(abs(k1 * n2 - k2 * n1) * gap) AS DOUBLE)
             / (CAST(MIN(n1) AS DOUBLE) * CAST(MIN(n2) AS DOUBLE))
             / 100.0 AS w1_dollars
    FROM cum WHERE gap IS NOT NULL
    """,
    doc=f"Wasserstein-1 (earth-mover) distance between the daily-"
    f"revenue distributions of {_W1_YEAR_A} and {_W1_YEAR_B} — the "
    "distribution-shift metric with UNITS (dollars of revenue that "
    "must move), complementing the registry's PSI (log-ratio mass), "
    "chi-square (counts) and MI (dependence) monitors. Computed as "
    "the exact CDF-gap integral on the merged support: per support "
    "value, |K1*n2 - K2*n1| * gap — cross-multiplied BIGINT "
    "cumulative counts, no division until the final display column, "
    "so the statistic is hash-exact (overflow bound: cum-count "
    "products x cent gaps stay under 2^63 through ~sf10; beyond, "
    "widen to DECIMAL on both engines). Scale: one fact groupBy to "
    "the day grain, then the CDF window runs on the CALENDAR-bounded "
    "support (<=731 values), the KM/changepoint justification.",
)
def wasserstein_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.where(
            F.year("o_orderdate").isin(_W1_YEAR_A, _W1_YEAR_B)
        )
        .groupBy("o_orderdate")
        .agg(F.sum(cents("o_totalprice")).alias("r"))
        .select(
            F.year("o_orderdate").cast("long").alias("y"),
            "r",
        )
    )
    v = daily.groupBy("r").agg(
        F.sum(
            F.when(F.col("y") == _W1_YEAR_A, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("c1"),
        F.sum(
            F.when(F.col("y") == _W1_YEAR_B, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("c2"),
    )
    wcum = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wlead = Window.orderBy("r")
    cum = v.select(
        "r",
        F.sum("c1").over(wcum).alias("k1"),
        F.sum("c2").over(wcum).alias("k2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
        (F.lead("r").over(wlead) - F.col("r")).cast("long").alias("gap"),
    )
    return cum.where(F.col("gap").isNotNull()).agg(
        F.min("n1").cast("long").alias("n1_days"),
        F.min("n2").cast("long").alias("n2_days"),
        F.sum(
            F.abs(F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1"))
            * F.col("gap")
        )
        .cast("long")
        .alias("w1_num"),
        (
            F.sum(
                F.abs(
                    F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1")
                )
                * F.col("gap")
            ).cast("double")
            / (
                F.min("n1").cast("double") * F.min("n2").cast("double")
            )
            / F.lit(100.0)
        ).alias("w1_dollars"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue concentration


@register(
    "gini_customer_revenue",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey, CAST(SUM({sql_cents('o_totalprice')}) AS BIGINT)
               AS m
      FROM orders GROUP BY o_custkey
    ),
    v AS (
      SELECT m, CAST(COUNT(*) AS BIGINT) AS cnt FROM cust GROUP BY m
    ),
    cum AS (
      SELECT m, cnt,
             CAST(SUM(cnt) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS k,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n,
             CAST(SUM(m * cnt) OVER () AS BIGINT) AS s
      FROM v
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_customers,
           CAST(MIN(s) AS BIGINT) AS total_cents,
           -- 2*sum(i*x_(i)) with tie groups spanning ranks (k-cnt+1)..k:
           -- sum over groups of m*cnt*(2k - cnt + 1). DECIMAL(38,0):
           -- 2nS overflows 2^63 already at sf10 day totals (caught by
           -- the sf10 window replay), and 10^38 holds through any SF
           CAST(SUM(CAST(m AS HUGEINT) * cnt * (2 * k - cnt + 1))
                AS VARCHAR) AS two_sum_rank_value,
           (CAST(SUM(CAST(m AS HUGEINT) * cnt * (2 * k - cnt + 1))
                 AS DOUBLE)
              - (CAST(MIN(n) AS DOUBLE) + 1.0) * CAST(MIN(s) AS DOUBLE))
             / (CAST(MIN(n) AS DOUBLE) * CAST(MIN(s) AS DOUBLE)) AS gini
    FROM cum
    """,
    doc="Gini coefficient of revenue concentration across customers — "
    "the inequality statistic behind whale-risk and data-skew audits. "
    "Exact grouped form: customers collapse to distinct revenue "
    "VALUES with counts, and a tie group spanning sorted ranks "
    "(k-cnt+1)..k contributes m*cnt*(2k-cnt+1) to 2*sum(i*x_(i)) — "
    "accumulated in DECIMAL(38,0)/HUGEINT (the sf10 window replay "
    "caught the BIGINT form overflowing: 2nS ~ 1e21 on the replicated "
    "sf10 corpus; 10^38 holds at any SF), so the rank-weighted sum "
    "stays hash-exact; the only doubles are one shared final "
    "expression. Scale: one fact groupBy "
    "to customer grain, a second to the distinct-value grain; the "
    "cumulative window runs on distinct revenue values — data-"
    "bounded, the order_value_deciles precedent — and a 100 TB "
    "deployment swaps the exact tail for the quantile-sketch Lorenz "
    "buckets the registry already carries.",
)
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("m")
    )
    v = cust.groupBy("m").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcum = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = v.select(
        "m",
        "cnt",
        F.sum("cnt").over(wcum).alias("k"),
        F.sum("cnt").over(wall).alias("n"),
        F.sum(F.col("m") * F.col("cnt")).over(wall).alias("s"),
    )
    two_sum = F.sum(
        F.col("m").cast("decimal(38,0)")
        * F.col("cnt")
        * (F.lit(2) * F.col("k") - F.col("cnt") + F.lit(1))
    )
    return cum.agg(
        F.min("n").cast("long").alias("n_customers"),
        F.min("s").cast("long").alias("total_cents"),
        # digit string: DECIMAL(38,0) survives neither engine's pandas
        # bridge losslessly (DuckDB renders float64), a plain string does
        two_sum.cast("decimal(38,0)").cast("string").alias(
            "two_sum_rank_value"
        ),
        (
            (
                two_sum.cast("double")
                - (F.min("n").cast("double") + F.lit(1.0))
                * F.min("s").cast("double")
            )
            / (F.min("n").cast("double") * F.min("s").cast("double"))
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Consistent-hash resharding audit

# Ring construction: V virtual nodes per shard, positions =
# md5("s{shard}-v{vnode}") truncated to 48 bits — engine-portable (the
# registry's md5 convention) and DATA-INDEPENDENT, so the ring is a
# compile-time literal in both plans: assignment is a row-local lookup
# over a ~100-element constant array, zero joins, zero shuffles.
_CH_VNODES = 16
_CH_N_OLD = 8
_CH_N_NEW = 9


def _ch_ring(n_shards: int) -> list[tuple[int, int]]:
    import hashlib

    ring = []
    for s in range(n_shards):
        for j in range(_CH_VNODES):
            pos = int(
                hashlib.md5(f"s{s}-v{j}".encode()).hexdigest()[:12], 16
            )
            ring.append((pos, s))
    ring.sort()
    return ring


def _ch_sql_lookup(ring: list[tuple[int, int]], h: str) -> str:
    pos = "[" + ", ".join(str(p) for p, _ in ring) + "]"
    sh = "[" + ", ".join(str(s) for _, s in ring) + "]"
    # smallest ring position >= h, wrapping to the first entry
    return (
        f"{sh}[COALESCE(list_filter(range(1, {len(ring) + 1}),"
        f" i -> {pos}[i] >= {h})[1], 1)]"
    )


def _ch_spark_lookup(ring: list[tuple[int, int]], h):
    pos = F.array(*[F.lit(p).cast("long") for p, _ in ring])
    sh = F.array(*[F.lit(s).cast("long") for _, s in ring])
    idx = F.coalesce(
        F.try_element_at(
            F.filter(
                F.sequence(F.lit(1), F.lit(len(ring))),
                lambda i: F.element_at(pos, i) >= h,
            ),
            F.lit(1),
        ),
        F.lit(1),
    )
    return F.element_at(sh, idx)


@register(
    "consistent_hash_resharding",
    oracle=f"""
    WITH assigned AS (
      SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                  AS BIGINT) AS h
      FROM documents
    ),
    pair AS (
      SELECT {_ch_sql_lookup(_ch_ring(_CH_N_OLD), 'h')} AS s8,
             {_ch_sql_lookup(_ch_ring(_CH_N_NEW), 'h')} AS s9
      FROM assigned
    )
    SELECT CAST(s8 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved_out,
           CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS moved_ppm
    FROM pair GROUP BY s8 ORDER BY shard
    """,
    doc=f"Consistent-hashing resharding audit: every document hashes "
    f"onto a {_CH_VNODES}-vnode-per-shard md5 ring, and the query "
    f"reports, per current shard ({_CH_N_OLD} shards), how many "
    f"documents MOVE when a shard is added ({_CH_N_NEW}) — the "
    "movement bound (~1/(N+1) of keys, vs ~all keys under modulo "
    "hashing) that makes consistent hashing the standard reshard "
    "strategy for 100 TB key-value layouts. The ring is data-"
    "independent, so BOTH ring lookups are row-local scans over a "
    "~144-element compile-time literal array (successor-with-wrap via "
    "a filtered index sequence) — one scan, one 8-group aggregate, "
    "zero joins; the md5 positions replay bit-for-bit in DuckDB "
    "(hex-prefix cast, the engine-wide portable-hash convention).",
)
def consistent_hash_resharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    both = docs.select(
        _ch_spark_lookup(_ch_ring(_CH_N_OLD), h).alias("s8"),
        _ch_spark_lookup(_ch_ring(_CH_N_NEW), h).alias("s9"),
    )
    return (
        both.groupBy(F.col("s8").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("s8") != F.col("s9"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_moved_out"),
        )
        .select(
            "shard",
            "n_docs",
            "n_moved_out",
            F.expr("n_moved_out * 1000000 div n_docs").alias("moved_ppm"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Greedy max-coverage source selection (submodular corpus curation)

_COV_ROUNDS = 5


@register(
    "greedy_source_coverage",
    oracle=f"""
    WITH st AS (
      SELECT DISTINCT source, tok AS token
      FROM (SELECT source, UNNEST(toks) AS tok
            FROM (SELECT source, {sql_tokens('text')} AS toks
                  FROM documents WHERE trim(text) <> ''))
    ),
    g1 AS (
      SELECT source, COUNT(*) AS gain FROM st GROUP BY source
      ORDER BY gain DESC, source LIMIT 1
    ),
    c1 AS (SELECT token FROM st WHERE source = (SELECT source FROM g1)),
    g2 AS (
      SELECT source, COUNT(*) AS gain FROM st
      WHERE token NOT IN (SELECT token FROM c1)
      GROUP BY source ORDER BY gain DESC, source LIMIT 1
    ),
    c2 AS (SELECT token FROM c1 UNION
           SELECT token FROM st WHERE source = (SELECT source FROM g2)),
    g3 AS (
      SELECT source, COUNT(*) AS gain FROM st
      WHERE token NOT IN (SELECT token FROM c2)
      GROUP BY source ORDER BY gain DESC, source LIMIT 1
    ),
    c3 AS (SELECT token FROM c2 UNION
           SELECT token FROM st WHERE source = (SELECT source FROM g3)),
    g4 AS (
      SELECT source, COUNT(*) AS gain FROM st
      WHERE token NOT IN (SELECT token FROM c3)
      GROUP BY source ORDER BY gain DESC, source LIMIT 1
    ),
    c4 AS (SELECT token FROM c3 UNION
           SELECT token FROM st WHERE source = (SELECT source FROM g4)),
    g5 AS (
      SELECT source, COUNT(*) AS gain FROM st
      WHERE token NOT IN (SELECT token FROM c4)
      GROUP BY source ORDER BY gain DESC, source LIMIT 1
    ),
    c5 AS (SELECT token FROM c4 UNION
           SELECT token FROM st WHERE source = (SELECT source FROM g5))
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS round, source,
             CAST(gain AS BIGINT) AS marginal_gain,
             CAST((SELECT COUNT(*) FROM c1) AS BIGINT) AS covered FROM g1
      UNION ALL
      SELECT 2, source, CAST(gain AS BIGINT),
             CAST((SELECT COUNT(*) FROM c2) AS BIGINT) FROM g2
      UNION ALL
      SELECT 3, source, CAST(gain AS BIGINT),
             CAST((SELECT COUNT(*) FROM c3) AS BIGINT) FROM g3
      UNION ALL
      SELECT 4, source, CAST(gain AS BIGINT),
             CAST((SELECT COUNT(*) FROM c4) AS BIGINT) FROM g4
      UNION ALL
      SELECT 5, source, CAST(gain AS BIGINT),
             CAST((SELECT COUNT(*) FROM c5) AS BIGINT) FROM g5
    ) ORDER BY round
    """,
    doc=f"Greedy maximum-coverage source selection ({_COV_ROUNDS} "
    "rounds): pick the corpus source whose documents add the most "
    "NOT-YET-COVERED distinct tokens, repeat — the classic (1-1/e)-"
    "approximate submodular-maximization loop behind data-mixture "
    "curation ('which sources buy the most vocabulary for the "
    "budget'). Iterative-algorithm family next to k-means/PageRank: "
    "each round is one anti-join against the covered-token set plus "
    "a source-grain argmax (a 1-row bounded collect, the capped-"
    "domain policy), with lineage truncated per round. The (source, "
    "token) base relation is built ONCE — one scan, one distinct — "
    "and localCheckpointed; at 100 TB rounds shuffle only that "
    "deduplicated relation, never the corpus. Deterministic "
    "tiebreak (gain desc, source asc); the oracle replays the loop "
    "as unrolled CTEs.",
)
def greedy_source_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.search import tokens

    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.where(F.trim(F.col("text")) != "")
        .select("source", F.explode(tokens("text")).alias("token"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark_sess = docs.sparkSession
    covered = None
    out = []
    covered_n = 0
    for rnd in range(1, _COV_ROUNDS + 1):
        remaining = (
            st if covered is None else st.join(covered, "token", "left_anti")
        )
        pick = (
            remaining.groupBy("source")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("source").asc())
            .limit(1)
            .collect()
        )
        if not pick:
            break
        src, gain = pick[0].source, pick[0].gain
        covered_n += gain
        out.append((rnd, src, gain, covered_n))
        newly = st.where(F.col("source") == src).select("token")
        covered = (
            newly
            if covered is None
            else covered.unionByName(newly).distinct()
        ).localCheckpoint(eager=True)
    return spark_sess.createDataFrame(
        out, "round long, source string, marginal_gain long, covered long"
    ).orderBy("round")


# ---------------------------------------------------------------------------
# Stratified-matching ATT (observational causal inference)

# Same experiment frame as cuped_ab_adjustment: pre-period activity x
# (days <= 15, deci-cent units), post-period outcome y, variant =
# user_id % 2 (1 = treated). Strata are log2 buckets of pre-activity —
# DATA-INDEPENDENT boundaries (floor(log2(x+1)); log2 of exact powers
# of two is exact in IEEE, so the floor is engine-stable), the
# scale-safe alternative to global ntile quantiles.
_ATT_UNIT = 1000
_ATT_SPLIT_DAY = 15
_ATT_QUANT = 1000


@register(
    "stratified_att_matching",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS t,
             SUM(CASE WHEN day(ts) <= {_ATT_SPLIT_DAY}
                 THEN CAST(round(value * 100) AS BIGINT) // {_ATT_UNIT}
                 ELSE 0 END) AS x,
             SUM(CASE WHEN day(ts) > {_ATT_SPLIT_DAY}
                 THEN CAST(round(value * 100) AS BIGINT) // {_ATT_UNIT}
                 ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    strat AS (
      SELECT CAST(floor(log2(CAST(x + 1 AS DOUBLE))) AS BIGINT) AS s,
             t, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy
      FROM per_user GROUP BY 1, 2
    ),
    cells AS (
      SELECT s,
             CAST(SUM(CASE WHEN t = 1 THEN n ELSE 0 END) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN t = 0 THEN n ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN t = 1 THEN sy ELSE 0 END) AS BIGINT) AS syt,
             CAST(SUM(CASE WHEN t = 0 THEN sy ELSE 0 END) AS BIGINT) AS syc
      FROM strat GROUP BY s
    )
    SELECT CAST(SUM(CASE WHEN nt > 0 AND nc > 0 THEN nt ELSE 0 END)
                AS BIGINT) AS n_treated_matched,
           CAST(SUM(CASE WHEN nt > 0 AND nc = 0 THEN nt ELSE 0 END)
                AS BIGINT) AS n_treated_unmatched,
           CAST(SUM(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_strata_matched,
           CAST(SUM(CASE WHEN nt > 0 AND nc > 0
                    THEN syt * {_ATT_QUANT}
                         - (nt * syc * {_ATT_QUANT} // nc)
                    ELSE 0 END)
                // SUM(CASE WHEN nt > 0 AND nc > 0 THEN nt ELSE 0 END)
                AS BIGINT) AS att_milli,
           CAST(SUM(syt) * {_ATT_QUANT} // SUM(nt)
                - SUM(syc) * {_ATT_QUANT} // SUM(nc)
                AS BIGINT) AS naive_diff_milli
    FROM cells
    """,
    doc="Stratified-matching average treatment effect on the treated "
    "(ATT): treated users compare against control users in the SAME "
    "pre-activity stratum (log2 buckets — data-independent "
    "boundaries), the standard observational adjustment when "
    "randomization can't be assumed, next to the registry's "
    "randomized-experiment tools (CUPED, Welch-t). ENTIRELY integer "
    "arithmetic: per-stratum counterfactual sums quantize through "
    "nt*syc*1000 div nc (truncating integer division, identical in "
    "both engines), the ATT is one integer division over the matched "
    "treated count, and the unadjusted naive difference rides along "
    "for the confounding contrast — no float enters any estimate "
    "(overflow bound: nt x syc x 1000 stays under 2^63 through "
    "~sf10 at these deci-cent units; widen to DECIMAL beyond). "
    "Off-support strata (no control) are excluded and counted — the "
    "common-support accounting a real matching pipeline must report. "
    "Scale: one events groupBy(user), one (stratum, variant) groupBy "
    "(<=2 x ~40 cells), then scalar math.",
)
def stratified_att_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    unit_val = F.expr(
        f"CAST(round(value * 100) AS BIGINT) div {_ATT_UNIT}"
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.dayofmonth("ts") <= _ATT_SPLIT_DAY, unit_val).otherwise(
                F.lit(0)
            )
        ).alias("x"),
        F.sum(
            F.when(F.dayofmonth("ts") > _ATT_SPLIT_DAY, unit_val).otherwise(
                F.lit(0)
            )
        ).alias("y"),
    ).select(
        (F.col("user_id") % 2).alias("t"), "x", "y"
    )
    strat = per_user.groupBy(
        F.floor(F.log2((F.col("x") + 1).cast("double")))
        .cast("long")
        .alias("s"),
        "t",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").alias("sy"),
    )
    cells = strat.groupBy("s").agg(
        F.sum(F.when(F.col("t") == 1, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("nt"),
        F.sum(F.when(F.col("t") == 0, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("t") == 1, F.col("sy")).otherwise(F.lit(0)))
        .cast("long")
        .alias("syt"),
        F.sum(F.when(F.col("t") == 0, F.col("sy")).otherwise(F.lit(0)))
        .cast("long")
        .alias("syc"),
    )
    matched = (F.col("nt") > 0) & (F.col("nc") > 0)
    return cells.agg(
        F.sum(F.when(matched, F.col("nt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_treated_matched"),
        F.sum(
            F.when((F.col("nt") > 0) & (F.col("nc") == 0), F.col("nt"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_treated_unmatched"),
        F.sum(F.when(matched, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_strata_matched"),
        F.expr(
            f"CAST(SUM(CASE WHEN nt > 0 AND nc > 0 THEN syt * {_ATT_QUANT}"
            f" - (nt * syc * {_ATT_QUANT} div nc) ELSE 0 END)"
            " div SUM(CASE WHEN nt > 0 AND nc > 0 THEN nt ELSE 0 END)"
            " AS BIGINT)"
        ).alias("att_milli"),
        F.expr(
            f"CAST(SUM(syt) * {_ATT_QUANT} div SUM(nt)"
            f" - SUM(syc) * {_ATT_QUANT} div SUM(nc) AS BIGINT)"
        ).alias("naive_diff_milli"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-based nonparametric A/B test)

# Value bands: deci-dollar quantization (cents div 1000) deliberately
# produces tied ranks, so the midrank machinery and the tie-corrected
# variance are exercised, not just present. Doubled midranks keep the
# rank sums in integers: 2*midrank(v) = 2*prev(v) + cnt(v) + 1.
_MWU_BAND = 1000


@register(
    "mann_whitney_order_values",
    oracle=f"""
    WITH vals AS (
      SELECT {sql_cents('o_totalprice')} // {_MWU_BAND} AS v,
             o_orderkey % 2 AS t
      FROM orders
    ),
    g AS (
      SELECT v,
             CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
      FROM vals GROUP BY v
    ),
    cum AS (
      SELECT v, n1, n0, n1 + n0 AS c,
             CAST(SUM(n1 + n0) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (n1 + n0) AS BIGINT) AS prev
      FROM g
    ),
    agg AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS na,
             CAST(SUM(n0) AS BIGINT) AS nb,
             CAST(SUM(n1 * (2 * prev + c + 1)) AS BIGINT) AS r2a,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
      FROM cum
    )
    SELECT na AS n_a, nb AS n_b,
           CAST(r2a - na * (na + 1) AS BIGINT) AS u_a_doubled,
           (CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0
            - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
           / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                  * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                     - CAST(tie3 AS DOUBLE)
                       / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                          * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)
                             - 1.0)))) AS z_score
    FROM agg
    """,
    doc="Mann-Whitney U: the rank-based nonparametric A/B test, the "
    "distribution-free complement to the registry's Welch-t (no "
    "normality assumption — the right tool for heavy-tailed revenue). "
    "Order values band to deci-dollars so TIES genuinely occur, and "
    "the whole rank layer is exact integers: doubled midranks "
    "(2*prev + cnt + 1 per tie group) make the treated rank sum, the "
    "U statistic (doubled), and the tie-correction term sum(c^3 - c) "
    "all BIGINT — only the final normal-approximation z is a shared "
    "IEEE expression. Scale: one fact groupBy to the band grain, the "
    "cumulative window runs on distinct bands (value-domain-bounded, "
    "the Gini/deciles precedent), then scalar math. Overflow: rank "
    "sums ~ 2N^2 fit 2^63 through ~sf100; the tie cube needs a "
    "dominant band of ~2e6 rows to matter, documented with it.",
)
def mann_whitney_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        F.expr(
            f"CAST(round(o_totalprice * 100) AS BIGINT) div {_MWU_BAND}"
        ).alias("v"),
        (F.col("o_orderkey") % 2).alias("t"),
    )
    g = vals.groupBy("v").agg(
        F.sum(F.when(F.col("t") == 1, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("t") == 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n0"),
    )
    wcum = Window.orderBy("v").rowsBetween(
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
        F.sum("n1").alias("na"),
        F.sum("n0").alias("nb"),
        F.sum(
            F.col("n1")
            * (F.lit(2) * F.col("prev") + F.col("c") + F.lit(1))
        ).alias("r2a"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie3"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    u2 = (F.col("r2a") - F.col("na") * (F.col("na") + 1)).cast("long")
    return agg.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        u2.alias("u_a_doubled"),
        (
            (u2.cast("double") / F.lit(2.0) - na * nb / F.lit(2.0))
            / F.sqrt(
                na
                * nb
                / F.lit(12.0)
                * (
                    (na + nb + F.lit(1.0))
                    - F.col("tie3").cast("double")
                    / ((na + nb) * (na + nb - F.lit(1.0)))
                )
            )
        ).alias("z_score"),
    )
