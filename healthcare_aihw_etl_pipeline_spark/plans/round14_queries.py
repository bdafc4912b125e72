"""Round-14 query families.

- graph-based ANN search (graph_ann_top10): bounded multi-entry beam
  search over the kNN graph built by knn_graph_topk — the index-SEARCH
  leg that completes index-build → index-search (the retrieval sibling
  of LPA and the mutual-kNN closure, which consume the same edge
  relation). HNSW's layer-0 search is a best-first frontier walk; the
  deterministic, engine-portable formulation here is a fixed-depth
  beam: score a stride-spread entry set against the probe, then H
  times expand the current beam's out-edges, score only the
  never-visited neighbors, and keep the global top-B as the next beam.
  Every score is the exact int7-quantized integer dot product
  (ann_qlsh_top10_portable's arithmetic), so the whole search replays
  bit-identically in DuckDB as unrolled bounded-frontier CTEs (the
  copurchase_2hop_reach pattern).

Scale shape: the edge relation IS the served index (built distributed,
checkpointed once, filtered by a broadcast-size beam each hop); each
hop touches <= beam * k candidate rows plus one IN-pushed scan of the
quantized codes; every driver-side collect is bounded by the fixed
beam/entry constants, never by corpus size (the bpe_merge bounded-
collect policy). Reference lineage: the reference app serves top-N
ranked views from precomputed relations (/root/reference/
streamlit_app.py:108-152); this is that serve-from-index discipline
applied to vector retrieval.

Same contract as every plans module: idiomatic PySpark paired with a
DuckDB oracle whose arithmetic is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators.gates import at_most
from healthcare_aihw_etl_pipeline_spark.plans.llm_queries import top_dup_clusters
from healthcare_aihw_etl_pipeline_spark.plans.registry import register
from healthcare_aihw_etl_pipeline_spark.plans.round13_queries import (
    _KNN_K,
    _KNN_ORACLE_CTES,
    _knn_graph,
)
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Graph-based ANN search over the kNN graph

_GA_ENTRIES = 64  # target entry-point count (stride-spread over ids)
_GA_BEAM = 32  # beam width B
_GA_HOPS = 4  # expansion rounds H (converges by 3 at sf10; 1 spare)
_GA_K = 10  # result size

# Per-hop CTE triple: candidates = beam's out-neighbors never visited,
# scored by the exact quantized dot against the probe, folded into the
# visited relation; the next beam is the global top-B of visited.
# Unrolled H times — the bounded-frontier recursion made static. Each
# visited relation is read three times, so it is MATERIALIZED (see
# _KNN_ORACLE_CTES).
_GA_HOP_CTES = "".join(
    f""",
    cand{t} AS (
      SELECT DISTINCT e.nbr AS vec_id
      FROM edges e JOIN beam{t - 1} b ON e.src = b.vec_id
      WHERE e.nbr NOT IN (SELECT vec_id FROM visited{t - 1})
    ),
    score{t} AS (
      SELECT qv.vec_id, CAST(SUM(qv.q * probe.q) AS BIGINT) AS dot
      FROM qv JOIN probe ON probe.d = qv.d
      JOIN cand{t} c ON c.vec_id = qv.vec_id
      GROUP BY qv.vec_id
    ),
    visited{t} AS MATERIALIZED (
      SELECT * FROM visited{t - 1} UNION ALL SELECT * FROM score{t}
    ),
    beam{t} AS (
      SELECT vec_id FROM visited{t}
      ORDER BY dot DESC, vec_id LIMIT {_GA_BEAM}
    )"""
    for t in range(1, _GA_HOPS + 1)
)


@register(
    "graph_ann_top10",
    oracle=f"""
    WITH {_KNN_ORACLE_CTES},
    -- SYMMETRIZED edge relation (HNSW's bidirectional links): a
    -- directed kNN graph is not navigable — hub nodes are pointed AT
    -- by their neighborhood but point elsewhere, so a beam reaching
    -- the true neighborhood could not enter it (measured recall@10
    -- 0.6 at sf1/sf10 regardless of beam/entries/hops; the search
    -- CONVERGED below the answer). Reverse edges make every link
    -- walkable both ways: recall@10 = 1.0 at sf1 and sf10 with the
    -- SAME constants (UNION dedups).
    edges AS MATERIALIZED (
      SELECT src, nbr FROM ranked WHERE rank <= {_KNN_K}
      UNION
      SELECT nbr AS src, src AS nbr FROM ranked WHERE rank <= {_KNN_K}
    ),
    stride AS (
      SELECT GREATEST(1, COUNT(*) // {_GA_ENTRIES}) AS st FROM embeddings
    ),
    probe AS MATERIALIZED (SELECT d, q FROM qv WHERE vec_id = 0),
    visited0 AS MATERIALIZED (
      SELECT qv.vec_id, CAST(SUM(qv.q * probe.q) AS BIGINT) AS dot
      FROM qv JOIN probe ON probe.d = qv.d
      WHERE qv.vec_id % (SELECT st FROM stride) = 0
      GROUP BY qv.vec_id
    ),
    beam0 AS (
      SELECT vec_id FROM visited0
      ORDER BY dot DESC, vec_id LIMIT {_GA_BEAM}
    ){_GA_HOP_CTES}
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY dot DESC, vec_id) AS BIGINT)
             AS rank,
           vec_id, dot AS qdot
    FROM visited{_GA_HOPS}
    ORDER BY dot DESC, vec_id LIMIT {_GA_K}
    """,
    doc="Graph-based ANN search: fixed-depth multi-entry beam search "
    "over knn_graph_topk's SYMMETRIZED edge relation for the probe "
    "(vec_id 0) — the index-search leg completing index-build → "
    "index-search. Reverse edges are HNSW's bidirectional-link "
    "insight: the directed k=5 graph is not navigable (the beam "
    "CONVERGED at recall@10 0.6 at sf1/sf10 under every "
    "beam/entries/hops scaling tried); undirected, the same search "
    "constants reach recall 1.0 at both scales. "
    f"{_GA_ENTRIES} stride-spread entry points are scored by exact "
    "int7-quantized integer dot, then each of "
    f"{_GA_HOPS} hops expands the top-{_GA_BEAM} beam's out-edges, "
    "scores only never-visited neighbors, and re-ranks; the final "
    f"top-{_GA_K} of the visited set is the answer. Deterministic end "
    "to end (integer scores, (dot desc, id asc) ties), so the whole "
    "search hash-checks against an unrolled bounded-frontier CTE "
    "replay in DuckDB. Scale shape: the edge relation is the served "
    "index (distributed build, checkpointed, beam-filtered per hop); "
    "per-hop work is <= beam*k candidate rows + one IN-pushed scan of "
    "the quantized codes; all driver collects are bounded by the "
    "fixed search constants (entries + H*beam*k rows total), never by "
    "corpus size. Recall vs the exact quantized brute-force top-10 is "
    "property-tested beside the hash check.",
)
def graph_ann_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        quantize_q127,
    )
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import table_rows

    emb = load_table(spark, sf_dir, "embeddings")

    # The distributed form pays 20+ Spark jobs per run (the kNN index
    # build plus 2 bounded collects per hop): 5.0 s cold at sf0.001,
    # nearly all per-job floor. Its kernels are already numpy, so below
    # the footer gate the identical arithmetic runs driver-side on the
    # collected codes (1 job); the index build stays the large path.
    n_gate = table_rows(sf_dir, "embeddings")
    if at_most(n_gate, _GA_MAX_DRIVER_ROWS):
        return _graph_ann_driver(spark, emb, n_gate)

    qcodes = emb.select("vec_id", quantize_q127("embedding").alias("q"))

    probe_row = qcodes.where(F.col("vec_id") == 0).select("q").first()
    if probe_row is None or probe_row[0] is None:
        raise ValueError("probe vec_id=0 missing from embeddings")
    probe_lits = F.array(
        *[F.lit(int(v)).cast("long") for v in probe_row[0]]
    )
    dot = F.aggregate(
        F.zip_with(F.col("q"), probe_lits, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).alias("dot")

    n = table_rows(sf_dir, "embeddings")
    if n is None:  # unreadable footer: the scale-safe fallback is a count
        n = qcodes.count()
    stride = max(1, n // _GA_ENTRIES)

    def score_ids(pred) -> list:
        return (
            qcodes.where(pred).select("vec_id", dot).collect()
        )

    # visited: vec_id -> exact integer score. Entry set is ~_GA_ENTRIES
    # rows by construction of the stride; every later collect is
    # bounded by beam * k.
    visited: dict[int, int] = {
        int(r["vec_id"]): int(r["dot"])
        for r in score_ids(F.col("vec_id") % stride == 0)
    }

    # The index: slim (src, nbr) edge relation, SYMMETRIZED (HNSW's
    # bidirectional links — see the oracle comment: the directed graph
    # converged at recall 0.6; undirected reaches 1.0 at sf1/sf10 with
    # the same constants), materialized once — beam-filtered H times.
    dir_edges = (
        _knn_graph(spark, sf_dir)
        .where(F.col("rank") <= _KNN_K)
        .select("src", "nbr")
        # feeds BOTH union branches — materialize so the kNN build
        # (the expensive leg) runs once, not twice
        .localCheckpoint(eager=True)
    )
    edges = (
        dir_edges.unionByName(
            dir_edges.select(
                F.col("nbr").alias("src"), F.col("src").alias("nbr")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def beam() -> list[int]:
        return [
            v
            for v, _ in sorted(
                visited.items(), key=lambda kv: (-kv[1], kv[0])
            )[:_GA_BEAM]
        ]

    for _ in range(_GA_HOPS):
        nbrs = (
            edges.where(F.col("src").isin(beam()))
            .select("nbr")
            .distinct()
            .collect()
        )
        new_ids = [int(r["nbr"]) for r in nbrs if int(r["nbr"]) not in visited]
        if not new_ids:
            continue  # beam's whole neighborhood already visited
        for r in score_ids(F.col("vec_id").isin(new_ids)):
            visited[int(r["vec_id"])] = int(r["dot"])

    top = sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))[:_GA_K]
    return spark.createDataFrame(
        [(i + 1, v, d) for i, (v, d) in enumerate(top)],
        "rank long, vec_id long, qdot long",
    )


# Driver-path gate: 64 int64 codes/row -> ~100 MB numpy at the cap,
# and every per-bucket Gram matrix is LSH-bounded exactly as in the
# distributed build.
_GA_MAX_DRIVER_ROWS = 200_000


def _graph_ann_driver(
    spark: SparkSession, emb: DataFrame, n_rows: int
) -> DataFrame:
    """Beam search over a driver-built kNN index — the SAME arithmetic
    as the distributed path kernel for kernel: round(x*127) replicated
    as sign(x)*floor(|x*127|+0.5) (exact for float32 inputs), the
    qlsh_signs band signatures, the per-bucket int64 Gram top-k with
    the dot*2^32 - id composite key, cross-band max-dedup + per-src
    rank<=k, symmetrized edges, and the identical stride/beam/hop
    constants — so ranks, ids and dots are bit-identical."""
    import numpy as np

    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        qlsh_signs,
    )
    from healthcare_aihw_etl_pipeline_spark.plans.round13_queries import (
        _knn_planes,
    )

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    E = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    X = E * 127.0
    Q = (np.sign(X) * np.floor(np.abs(X) + 0.5)).astype(np.int64)
    probe_pos = np.nonzero(ids == 0)[0]
    if probe_pos.size == 0:
        raise ValueError("probe vec_id=0 missing from embeddings")
    pq = Q[probe_pos[0]]

    # Band signatures (== _knn_graph.build_sig).
    p = _knn_planes(n_rows)
    S = np.array(qlsh_signs(2 * p, 64), dtype=np.int64).T
    W = np.array([1 << (j % p) for j in range(2 * p)], dtype=np.int64)
    bits = ((Q @ S) > 0).astype(np.int64)
    sigs = [(bits[:, :p] * W[:p]).sum(axis=1),
            (bits[:, p:] * W[p:]).sum(axis=1)]

    # Per-bucket exact top-k (== _knn_graph.bucket_topk), max-deduped
    # across bands (== the merged MAX(qdot) aggregate).
    best: dict[tuple[int, int], int] = {}
    for sig in sigs:
        order = np.argsort(sig, kind="stable")
        ssig = sig[order]
        starts = np.flatnonzero(np.r_[True, ssig[1:] != ssig[:-1]])
        bounds = np.r_[starts, ssig.size]
        for b in range(starts.size):
            idxb = order[bounds[b]:bounds[b + 1]]
            nb = idxb.size
            if nb < 2:
                continue
            bids = ids[idxb]
            Qb = Q[idxb]
            G = Qb @ Qb.T
            key = G * (np.int64(1) << np.int64(32)) - bids[None, :]
            np.fill_diagonal(key, np.iinfo(np.int64).min)
            k = min(_KNN_K, nb - 1)
            top = np.argsort(key, axis=1)[:, ::-1][:, :k]
            for i in range(nb):
                s = int(bids[i])
                for j in top[i]:
                    e = (s, int(bids[j]))
                    d = int(G[i, j])
                    if best.get(e, -(1 << 62)) < d:
                        best[e] = d
    # Per-src rank <= k on (qdot desc, nbr asc) (== the rank window),
    # then symmetrize + dedup (== the UNION of reversed edges).
    by_src: dict[int, list[tuple[int, int]]] = {}
    for (s, nb), d in best.items():
        by_src.setdefault(s, []).append((-d, nb))
    adj: dict[int, set[int]] = {}
    for s, lst in by_src.items():
        lst.sort()
        for _, nb in lst[:_KNN_K]:
            adj.setdefault(s, set()).add(nb)
            adj.setdefault(nb, set()).add(s)

    # Entry points + beam search (== the distributed hop loop).
    dots = Q @ pq
    pos_of = {int(v): i for i, v in enumerate(ids)}
    stride = max(1, n_rows // _GA_ENTRIES)
    visited: dict[int, int] = {
        int(v): int(dots[i])
        for i, v in enumerate(ids)
        if int(v) % stride == 0
    }
    for _ in range(_GA_HOPS):
        beam = [
            v for v, _ in sorted(
                visited.items(), key=lambda kv: (-kv[1], kv[0])
            )[:_GA_BEAM]
        ]
        new_ids = {
            nb
            for s in beam
            for nb in adj.get(s, ())
            if nb not in visited
        }
        for nb in new_ids:
            visited[nb] = int(dots[pos_of[nb]])
    top10 = sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))[:_GA_K]
    return spark.createDataFrame(
        [(i + 1, v, d) for i, (v, d) in enumerate(top10)],
        "rank long, vec_id long, qdot long",
    )


# ---------------------------------------------------------------------------
# Served as-of attribution silver

# The oracle is the ORIGINAL's (DuckDB native ASOF LEFT JOIN replay
# from raw events), pulled from the registry at import time — the
# plans/__init__ import order guarantees llm_queries registered first.
from healthcare_aihw_etl_pipeline_spark.plans.registry import (  # noqa: E402
    REGISTRY as _REG,
)

_ASOF_ORACLE = _REG["asof_purchase_lag"].oracle


@register(
    "asof_purchase_lag_served",
    oracle=_ASOF_ORACLE,
    doc="asof_purchase_lag served from a materialized matched-pair "
    "silver table: the (user_id, click ts, prior purchase ts) as-of "
    "relation is horizon-independent, so it materializes once at "
    "ingest (operators/silver.serve_silver, the survival-span "
    "discipline) and the per-query cost drops from a fact scan + "
    "full window shuffle to one slim columnar scan + a user-grain "
    "aggregate. The round-14 curve pinned the from-scratch form's "
    "residue on exactly that shuffle (marginal 3.3x DuckDB's native "
    "ASOF at sf10, growing with data, while its floor-class siblings "
    "flattened) — the attribution family's scale answer is the same "
    "as survival's: compute the match once, serve it many times. "
    "Oracle replays the full raw-events ASOF join, so the hash match "
    "proves the silver faithful; the from-scratch form stays "
    "registered as the oracle path.",
)
def asof_purchase_lag_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.asof import (
        asof_self_join,
    )
    from healthcare_aihw_etl_pipeline_spark.operators.silver import (
        serve_silver,
    )

    def build() -> DataFrame:
        events = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type"
        )
        return asof_self_join(
            events,
            on=["user_id"],
            ts="ts",
            left_pred=F.col("event_type") == "click",
            right_pred=F.col("event_type") == "purchase",
            value_cols=["ts"],
        ).select("user_id", "ts", "ts_asof")

    matched = serve_silver(
        spark, sf_dir, "spark_graft_asof_pairs", "events", build
    )
    lag_us = F.expr("timestampdiff(MICROSECOND, ts_asof, ts)")
    return matched.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("ts_asof").alias("n_matched"),
        F.coalesce(F.sum(lag_us), F.lit(0)).cast("long").alias("total_lag_us"),
    )


# ---------------------------------------------------------------------------
# Wide (120-bit) verified SimHash dedup

@register(
    "simhash_wide_dup_clusters",
    # Full bit-replay: two 60-bit md5 halves per token, +/-1 counters,
    # sign-packed halves, 30-bit banding, bucket-min candidates, exact
    # Hamming<=3 verify (XOR + bit_count), verified-min clusters —
    # integer arithmetic end-to-end on both engines.
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents)
    ),
    tv AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS v0,
             CAST('0x' || substring(md5(tok), 16, 15) AS BIGINT) AS v1
      FROM toks
    ),
    cnt AS (
      SELECT doc_id, b.b AS b,
             SUM(((v0 >> (59 - b.b)) % 2) * 2 - 1) AS c0,
             SUM(((v1 >> (59 - b.b)) % 2) * 2 - 1) AS c1
      FROM tv, (SELECT UNNEST(range(60)) AS b) b
      GROUP BY doc_id, b.b
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c0 > 0
                           THEN CAST(pow(2, 59 - b) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS h0,
             CAST(SUM(CASE WHEN c1 > 0
                           THEN CAST(pow(2, 59 - b) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS h1
      FROM cnt GROUP BY doc_id
    ),
    reps AS (
      SELECT h0, h1, MIN(doc_id) AS rep FROM sig GROUP BY h0, h1
    ),
    bands AS (
      SELECT rep, h0, h1, c.c AS band,
             ((CASE WHEN c.c < 2 THEN h0 ELSE h1 END)
              >> (30 * (c.c % 2))) % 1073741824 AS band_val
      FROM reps, (SELECT UNNEST(range(4)) AS c) c
    ),
    dup_rep AS (
      SELECT a.rep, MIN(b.rep) AS dup_of
      FROM bands a JOIN bands b USING (band, band_val)
      WHERE bit_count(xor(a.h0, b.h0))
              + bit_count(xor(a.h1, b.h1)) <= 8
      GROUP BY a.rep
    ),
    dup AS (
      SELECT s.doc_id, d.dup_of
      FROM sig s
      JOIN reps r ON s.h0 = r.h0 AND s.h1 = r.h1
      JOIN dup_rep d ON d.rep = r.rep
    )
    SELECT dup_of AS cluster_rep,
           COUNT(*) AS n_members,
           CAST(SUM(CASE WHEN doc_id <> dup_of THEN 1 ELSE 0 END)
                AS BIGINT) AS n_duplicates
    FROM dup
    GROUP BY dup_of
    ORDER BY n_members DESC, cluster_rep
    LIMIT 20
    """,
    doc="Verified wide-SimHash near-dup clusters: 120-bit portable "
    "md5 signature (two 60-bit halves), signature-identical docs "
    "collapsed to min-id representatives first (hubs cost one "
    "aggregate, never a pairwise blowup), 4 bands of 30 bits over the "
    "DISTINCT signatures (Hamming<=3 pigeonhole preserved, 2^30 "
    "bucket space per band), in-bucket representative pairs VERIFIED "
    "by exact Hamming distance (<=8) over the full signature before "
    "clustering. This is the scale answer to the 60-bit form's "
    "15-bit bands, which saturate past ~1M docs (pair precision ~0 "
    "against 10M noise docs in the pairs rung of "
    "scripts/planted_truth.py), while wide bands + the "
    "candidate->verify discipline (the same shape as the composed "
    "semantic-dedup pipeline's cosine stage) hold "
    "precision 1.0 at the same scale; recall is guaranteed for "
    "Hamming<=3 and measured on the planted near-identical corpus "
    "above that. The verify is two XOR+bit_count integer expressions "
    "per candidate row; in-bucket pairing is quadratic only in "
    "distinct signatures per 30-bit bucket. Top-20 clusters under a "
    "total order; the whole pipeline replays bit-for-bit in DuckDB.",
)
def simhash_wide_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        simhash_wide_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    dup = simhash_wide_dedup(docs, "text", "doc_id")
    return top_dup_clusters(dup)
