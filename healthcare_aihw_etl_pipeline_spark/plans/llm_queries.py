"""LLM-data-pipeline queries over `documents` / `embeddings` (driver
mandate, BASELINE.json north_star): dedup, text analysis, similarity.

SQL-expressible variants carry DuckDB oracles; approximate ops (MinHash,
SimHash, LSH) live in ``operators.dedup`` / ``operators.similarity`` and
are checked by property tests plus weaker rows-only entries here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.plans.registry import cents, dollars, register
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table, spread


@register(
    "dedup_exact_stats",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique_texts,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups
    FROM documents
    """,
    doc="Exact dedup census: hash-groupBy over md5(text). The canonical "
    "first pass of a training-data pipeline; at 100 TB this is one shuffle "
    "on a 16-byte key with map-side partial distinct.",
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
    )


@register(
    "dedup_prefix_keepers",
    oracle="""
    SELECT md5(array_to_string(regexp_split_to_array(TRIM(text), '\\s+')[1:10], ' ')) AS prefix_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
    doc="Fingerprint dedup keep-first policy: documents colliding on the "
    "hash of their first 10 tokens; per group, the surviving doc_id (min) "
    "and multiplicity. Same shuffle shape as exact dedup but catches "
    "boilerplate-prefix near-dups.",
)
def dedup_prefix_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 10))
    return (
        docs.groupBy(F.md5(prefix).alias("prefix_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


@register(
    "text_token_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(TRIM(text), '\\s+'))) AS BIGINT) AS total_tokens,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           MAX(LENGTH(text)) AS max_chars
    FROM documents
    GROUP BY lang
    """,
    doc="Text analysis: whitespace token counting + length stats per "
    "language (all-exact integer aggregates; Catalyst-only expressions).",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        F.max(F.length("text")).alias("max_chars"),
    )


@register(
    "embedding_norms",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(round(round(sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS sum_norm
    FROM embeddings
    GROUP BY label
    """,
    doc="Array-column math surface: per-vector L2 norm via higher-order "
    "functions (F.aggregate/transform — JVM-side, no UDF), rounded then "
    "exact-summed per label.",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Fixed-dim fast path: unroll the squared-norm into a flat
    # codegen'd expression (embedding[0]² + … + embedding[d-1]²) —
    # Spark's higher-order `aggregate` evaluates its lambda per element
    # OUTSIDE whole-stage codegen, and the unroll cuts the
    # data-proportional cost 4.7× (57.7 → 12.4 ms marginal at sf0.1,
    # A/B'd round 4; identical FP result — same left-to-right
    # accumulation order). The dimension comes from a one-row probe,
    # amortized by the plan cache; the fold form remains the fallback
    # for an empty table (no probe row) and is the general variable-dim
    # operator (similarity.py keeps the HOF surface).
    probe = emb.select("embedding").first()
    if probe and probe[0] is not None:
        dim = len(probe[0])
        sq_sum = F.expr(
            " + ".join(
                f"CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{i}] AS DOUBLE)"
                for i in range(dim)
            )
        )
    else:
        sq_sum = F.aggregate(
            F.col("embedding"),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    # round to 4dp (bit-identical doubles on both engines), then exact
    # integer-1e-4 units for the associative sum (see plans.registry).
    #
    # Deliberately NOT an Arrow pandas_udf: measured A/B at 2k/64k/512k
    # vectors puts the expression fold at 0.28/0.36/0.40 s vs Arrow
    # 0.39/0.47/1.53 s — serializing the array<float> column to Python
    # costs more than the fold at every scale; this op's round-1 49×
    # bench ratio was entirely fixed per-query floor.
    norm_e4 = F.round(F.round(F.sqrt(sq_sum), 4) * 10000).cast("long")
    return (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.sum(norm_e4).alias("sn"))
        .select("label", "n_vectors", dollars(F.col("sn"), "sum_norm", 4))
    )


# ---------------------------------------------------------------------------
# Similarity search


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    """The probe vector for ANN queries: embedding of vec_id = 0.

    Runs an eager (bounded: one row) job at plan-build time by design —
    the probe is a query PARAMETER, spliced into the plan as a literal so
    both engines score against identical constants. Raises a descriptive
    error when the probe row is absent instead of a bare TypeError on
    ``None[0]``.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.where("vec_id = 0").select("embedding").first()
    if row is None or row[0] is None:
        raise ValueError(
            f"embeddings table at {sf_dir!r} has no probe row vec_id=0 "
            "(required as the ANN/RRF query vector)"
        )
    return [float(x) for x in row[0]]


@register(
    "ann_qlsh_top10_portable",
    # Full bit-replay of an LSH-bucketed ANN: int7 quantization
    # (round(x*127) — exact in double, same away-from-zero halves both
    # engines), md5-derived +/-1 hyperplanes, integer dot products,
    # bucket filter on the probe's signature, integer-dot ranking.
    oracle="""
    WITH signs AS (
      SELECT j.j AS j, d.d AS d,
             CASE WHEN CAST('0x' || substring(md5(j.j || ',' || d.d), 1, 1)
                        AS INT) % 2 = 1
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT UNNEST(range(4)) AS j) j,
           (SELECT UNNEST(range(64)) AS d) d
    ),
    qv AS (
      SELECT vec_id, u.d AS d,
             CAST(round(CAST(embedding[u.d + 1] AS DOUBLE) * 127)
                  AS BIGINT) AS q
      FROM embeddings, UNNEST(range(64)) AS u(d)
    ),
    dots AS (
      SELECT qv.vec_id, signs.j, SUM(qv.q * signs.s) AS dot
      FROM qv JOIN signs ON signs.d = qv.d
      GROUP BY qv.vec_id, signs.j
    ),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, j) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM dots GROUP BY vec_id
    ),
    probe AS (SELECT sig AS s0 FROM sig WHERE vec_id = 0),
    pq AS (SELECT d, q AS q0 FROM qv WHERE vec_id = 0),
    cand AS (
      SELECT sig.vec_id FROM sig, probe WHERE sig.sig = probe.s0
    ),
    scored AS (
      SELECT qv.vec_id, CAST(SUM(qv.q * pq.q0) AS BIGINT) AS qdot
      FROM qv JOIN pq USING (d)
      WHERE qv.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY qv.vec_id
    )
    SELECT vec_id, qdot FROM scored
    ORDER BY qdot DESC, vec_id LIMIT 10
    """,
    doc="PORTABLE quantized-LSH ANN (operators/similarity.py "
    "qlsh_signs/quantize_q127/qlsh_signature): embeddings quantized to "
    "int7 codes (exact in double both engines), 4 md5-derived +/-1 "
    "hyperplanes partition vectors into 16 buckets by integer-dot "
    "signs, and the probe's bucket is ranked by exact integer inner "
    "product — top 10 under a total order. Every step is integer "
    "arithmetic, so the ENTIRE ANN pipeline hash-checks against DuckDB "
    "— the reproducibility pattern for distributed vector search, "
    "where float-random hyperplanes (ann_lsh_top10's BRP-style path, "
    "still registered) can never be cross-engine-verified and float "
    "sum order is partition-dependent. Scale shape: signature build is "
    "one narrow pass; the bucket filter prunes to ~1/2^planes of the "
    "corpus before any pairwise scoring.",
)
def ann_qlsh_top10_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        qlsh_signature,
        qlsh_signs,
        quantize_q127,
    )

    signs = qlsh_signs(4, 64)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_q127("embedding").alias("q")
    )
    sigd = emb.withColumn("sig", qlsh_signature("q", signs))
    probe = sigd.where(F.col("vec_id") == 0).select("q", "sig").first()
    q0 = F.array(*[F.lit(int(v)).cast("long") for v in probe["q"]])
    qdot = F.aggregate(
        F.zip_with(F.col("q"), q0, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    from healthcare_aihw_etl_pipeline_spark.operators.relational import top_k

    scored = (
        sigd.where(F.col("sig") == F.lit(int(probe["sig"])))
        .select("vec_id", qdot.alias("qdot"))
    )
    return top_k(scored, "qdot", 10, tiebreak=["vec_id"])


@register(
    "ann_cosine_top10",
    oracle="""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT e.vec_id,
             ROUND(list_sum(list_transform(list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv),
                                           p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 6) AS cos
      FROM embeddings e, q
    )
    SELECT vec_id, cos FROM scored
    ORDER BY cos DESC, vec_id ASC LIMIT 10
    """,
    doc="Brute-force cosine top-k (ANN baseline): one scan + "
    "TakeOrderedAndProject. Ranked and compared on 6dp-rounded cosine — "
    "DuckDB's list_sum is not a strict left fold, so raw doubles differ by "
    "~1 ulp; 6dp absorbs that while keeping ranking deterministic.",
)
def ann_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.relational import top_k
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import cosine_to_query

    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        F.round(cosine_to_query("embedding", _query_vector(spark, sf_dir)), 6).alias("cos"),
    )
    return top_k(scored, "cos", 10, tiebreak=["vec_id"])


@register(
    "ann_lsh_top10",
    oracle=None,  # approximate: property-tested (recall vs brute force)
    doc="Approximate cosine top-k via random-hyperplane LSH with "
    "multi-probe (Hamming radius 2). The signature filter prunes the scan "
    "before any vector math — the 100 TB path. Property test: recall vs "
    "the exact baseline (tests/test_llm_ops.py).",
)
def ann_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, "embedding", "vec_id", _query_vector(spark, sf_dir), 10)


# ---------------------------------------------------------------------------
# Near-duplicate detection


@register(
    "embedding_near_dup_top20",
    # The sign-band LSH is RNG-free (axis-aligned hyperplanes), so the
    # WHOLE pipeline — banding, candidate join, exact cosine — replays in
    # DuckDB. Cosine compared at 6dp like ann_cosine_top10 (list_sum is
    # not a strict left fold; ~1 ulp drift).
    oracle="""
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
    )
    SELECT id_a, id_b, cos FROM scored
    ORDER BY cos DESC, id_a ASC, id_b ASC LIMIT 20
    """,
    doc="Embedding-cosine near-dup pairs (operators.similarity."
    "embedding_near_dup_pairs): sign-band LSH (8 bands x 8 sign bits) "
    "blocks the pair space, exact cosine ranks the candidates, top 20 "
    "reported. RNG-free banding makes the full approximate pipeline "
    "hash-checkable — the only dedup family where the oracle replays the "
    "LSH itself, not just a deterministic surrogate.",
)
def embedding_near_dup_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.relational import top_k
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, "embedding", "vec_id")
    return top_k(pairs, "cos", 20, tiebreak=["id_a", "id_b"])


def top_dup_clusters(dup: DataFrame) -> DataFrame:
    """The 20 largest clusters of a (doc_id, dup_of) dedup result as
    (cluster_rep, n_members, n_duplicates), by size descending then
    cluster_rep — the rollup every top-20 near-dup cluster query and
    its DuckDB oracle share."""
    return (
        dup.groupBy(F.col("dup_of").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(
                (F.col("doc_id") != F.col("dup_of")).cast("long")
            ).alias("n_duplicates"),
        )
        .orderBy(F.col("n_members").desc(), "cluster_rep")
        .limit(20)
    )


@register(
    "minhash_dup_clusters",
    oracle=None,  # hash-function-specific: property-tested instead
    doc="MinHash+LSH near-dup clusters over documents (32 hashes, 8 bands, "
    "5-word shingles): count of docs whose dup_of is a smaller id, plus "
    "cluster count — the standard first-pass fuzzy dedup of a training "
    "pipeline. Property tests plant known near-dups and check recall.",
)
def minhash_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    dup = minhash_dedup(docs, "text", "doc_id")
    return dup.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("dup_of") != F.col("doc_id")).cast("long")).alias("n_duplicates"),
        F.countDistinct("dup_of").alias("n_clusters"),
    )


@register(
    "minhash_dup_clusters_portable",
    # Full bit-replay of the LSH pipeline in DuckDB: shingling, 16
    # independent md5 minwise functions, 4-band hashing, bucket-min,
    # join-back, cluster rollup — the hash-green twin of the xxhash64
    # fast path (same shuffle shape; see minhash_dedup_portable).
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[i : i + 4], ' ') AS shingle
      FROM toks,
           UNNEST(generate_series(1, greatest(len(t) - 4, 1))) AS u(i)
    ),
    sig AS (
      SELECT doc_id, s.i AS hi,
             MIN(md5(s.i || ':' || shingle)) AS m
      FROM sh, (SELECT UNNEST(range(16)) AS i) s
      GROUP BY doc_id, s.i
    ),
    sigarr AS (
      SELECT doc_id, array_agg(m ORDER BY hi) AS sig
      FROM sig GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.b AS band,
             md5(array_to_string(sig[b.b * 4 + 1 : b.b * 4 + 4], ','))
               AS band_hash
      FROM sigarr, (SELECT UNNEST(range(4)) AS b) b
    ),
    mins AS (
      SELECT band, band_hash, MIN(doc_id) AS bucket_min
      FROM bands GROUP BY band, band_hash
    ),
    dup AS (
      SELECT bands.doc_id, MIN(bucket_min) AS dup_of
      FROM bands JOIN mins USING (band, band_hash)
      GROUP BY bands.doc_id
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
    doc="PORTABLE MinHash+LSH near-dup clusters (16 independent md5 "
    "minwise functions, 4 bands, 5-word shingles): the hash-green twin "
    "of minhash_dup_clusters — the ENTIRE LSH pipeline (shingling, "
    "signatures, banding, bucket-min, join-back, cluster rollup) "
    "replays bit-for-bit in DuckDB, so the driver hash-checks the "
    "dedup operator itself rather than trusting a property test. Top "
    "20 clusters by size under a total order. The xxhash64+affine fast "
    "path stays registered for throughput; shuffle shape is identical "
    "(explode bands, map-side-combined bucket min, AQE-skew-splittable "
    "equi join — never a window).",
)
def minhash_dup_clusters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        minhash_dedup_portable,
    )

    docs = load_table(spark, sf_dir, "documents")
    dup = minhash_dedup_portable(docs, "text", "doc_id")
    return top_dup_clusters(dup)


@register(
    "simhash_dup_clusters_portable",
    # Full bit-replay of the SimHash pipeline: md5-derived 60-bit token
    # values, ±1 bit counters, sign-packed signature, 15-bit banding,
    # bucket-min, cluster rollup — integer arithmetic end-to-end on
    # both engines ('0x'||hex cast in DuckDB == conv(hex,16,10) in
    # Spark; >> and % on BIGINT everywhere else).
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents)
    ),
    tv AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS v
      FROM toks
    ),
    cnt AS (
      SELECT doc_id, b.b AS b,
             SUM(((v >> (59 - b.b)) % 2) * 2 - 1) AS c
      FROM tv, (SELECT UNNEST(range(60)) AS b) b
      GROUP BY doc_id, b.b
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c > 0
                           THEN CAST(pow(2, 59 - b) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM cnt GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, c.c AS band,
             (simhash >> (15 * c.c)) % 32768 AS band_val
      FROM sig, (SELECT UNNEST(range(4)) AS c) c
    ),
    mins AS (
      SELECT band, band_val, MIN(doc_id) AS bucket_min
      FROM bands GROUP BY band, band_val
    ),
    dup AS (
      SELECT bands.doc_id, MIN(bucket_min) AS dup_of
      FROM bands JOIN mins USING (band, band_val)
      GROUP BY bands.doc_id
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
    doc="PORTABLE SimHash near-dup clusters (60-bit md5-derived "
    "signature, 4 bands of 15 bits, Hamming<=3 pigeonhole): the "
    "hash-green twin of simhash_dup_clusters — signature bits, "
    "banding, bucket-min and cluster rollup all replay bit-for-bit in "
    "DuckDB because every step is integer arithmetic on md5 values "
    "(no float division near the 53-bit mantissa limit; variable bit "
    "shifts via shiftright). With minhash_dup_clusters_portable this "
    "makes the whole near-dup family driver-hash-checkable; the "
    "xxhash64 fast paths stay registered for throughput. Top 20 "
    "clusters under a total order.",
)
def simhash_dup_clusters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        simhash_dedup_portable,
    )

    docs = load_table(spark, sf_dir, "documents")
    dup = simhash_dedup_portable(docs, "text", "doc_id")
    return top_dup_clusters(dup)


@register(
    "simhash_dup_clusters",
    oracle=None,  # hash-function-specific: property-tested instead
    doc="SimHash (64-bit, 16-bit banding) near-dup clusters over documents "
    "— catches small edits (Hamming ≤ 3 guaranteed bucketed).",
)
def simhash_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import simhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    dup = simhash_dedup(docs, "text", "doc_id")
    return dup.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("dup_of") != F.col("doc_id")).cast("long")).alias("n_duplicates"),
        F.countDistinct("dup_of").alias("n_clusters"),
    )


# ---------------------------------------------------------------------------
# Text analysis


@register(
    "bpe_token_totals",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]'))) AS BIGINT) AS total_bpe_tokens
    FROM documents
    GROUP BY source
    """,
    doc="BPE-ish token counting (GPT-2-style pre-tokenizer boundaries) per "
    "source — the token-budget accounting pass of a data pipeline. Java "
    "and RE2 agree on \\p{L}/\\p{N} classes, so DuckDB oracles it exactly.",
)
def bpe_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe_token_count("text")).alias("total_bpe_tokens"),
    )


def _stopword_sql_lists() -> dict[str, str]:
    """DuckDB list literals built from the SAME constant the Spark
    expression uses (operators.text.STOPWORDS) — no drift possible."""
    from healthcare_aihw_etl_pipeline_spark.operators.text import STOPWORDS

    return {
        lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
        for lang, words in STOPWORDS.items()
    }


def _quality_doc_cte() -> str:
    """Per-document lang_id + quality_score replay as a DuckDB CTE chain.

    Yields ``labeled(doc_id, source, pred_lang, q)``. Shared by every
    oracle that needs the per-doc quality arithmetic (profile grouping,
    keep-best dedup) so the replayed expression can never drift between
    them.
    """
    sw = _stopword_sql_lists()
    return f"""
    feats AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '[一-鿿]')) AS cjk,
             greatest(length(text), 1) AS total_chars,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks,
             CAST(length(text) AS DOUBLE) AS n_chars,
             greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe_chars,
             CAST(length(regexp_replace(text, '[^\\p{{L}}]', '', 'g')) AS DOUBLE) AS n_alpha,
             CAST(length(regexp_replace(text, '[^\\p{{N}}]', '', 'g')) AS DOUBLE) AS n_digit,
             CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
      FROM documents
    ), scored AS (
      SELECT doc_id, source,
             len(list_intersect(toks, {sw['en']})) AS s_en,
             len(list_intersect(toks, {sw['es']})) AS s_es,
             len(list_intersect(toks, {sw['de']})) AS s_de,
             len(list_intersect(toks, {sw['fr']})) AS s_fr,
             cjk, total_chars, n_chars, safe_chars,
             n_alpha, n_digit, n_punct,
             n_chars / greatest(n_tokens, 1.0) AS mean_tok
      FROM feats
    ), labeled AS (
      SELECT doc_id, source,
             CASE WHEN CAST(cjk AS DOUBLE) / total_chars > 0.2 THEN 'zh'
                  WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                  WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
                  WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
                  WHEN s_fr > 0 THEN 'fr'
                  ELSE 'und' END AS pred_lang,
             (CASE WHEN n_chars >= 50 AND n_chars <= 100000 THEN 1.0
                   WHEN n_chars < 50 THEN n_chars / 50.0
                   ELSE 0.5 END) * 0.3
             + (n_alpha / safe_chars) * 0.3
             + (CASE WHEN n_punct / safe_chars > 0.2 THEN 0.0
                     ELSE 1.0 - (n_punct / safe_chars) / 0.2 * 0.5 END) * 0.15
             + (CASE WHEN n_digit / safe_chars > 0.3 THEN 0.0
                     ELSE 1.0 - (n_digit / safe_chars) / 0.3 * 0.5 END) * 0.1
             + (CASE WHEN mean_tok >= 3.0 AND mean_tok <= 12.0 THEN 1.0
                     ELSE 0.5 END) * 0.15 AS q
      FROM scored
    )"""


def _quality_profile_oracle() -> str:
    """Grouped lang/quality profile over the shared per-doc replay."""
    return f"""
    WITH {_quality_doc_cte()}
    SELECT source, pred_lang,
           COUNT(*) AS n_docs,
           ROUND(MIN(q), 6) AS min_q,
           ROUND(MAX(q), 6) AS max_q
    FROM labeled
    GROUP BY source, pred_lang
    """


@register(
    "text_quality_profile",
    oracle=_quality_profile_oracle(),
    doc="Language-ID + quality-score profile per source: distribution of "
    "the cheap pretraining filters (lang heuristic, composite quality), "
    "oracled by replaying the identical regex arithmetic in DuckDB.",
)
def text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import lang_id, quality_score

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            lang_id("text").alias("pred_lang"),
            quality_score("text").alias("q"),
        )
        .groupBy("source", "pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # 6dp round (monotone, commutes with min/max) absorbs last-ulp
            # engine differences; both engines round doubles half-away-0.
            F.round(F.min("q"), 6).alias("min_q"),
            F.round(F.max("q"), 6).alias("max_q"),
        )
    )


@register(
    "fingerprint_dup_groups",
    # The portable (md5) sketch replays bit-identically in DuckDB —
    # full oracle check; the xxhash64 fast path of the same operator is
    # property-tested (tests/test_llm_ops.py).
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             array_to_string(list_slice(list_sort(list_distinct(
               list_transform(
                 range(1, greatest(length(trim(text)) - 7, 1) + 1),
                 i -> md5(substr(trim(text), CAST(i AS INT), 8))))), 1, 4),
               ',') AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM fp GROUP BY 1 HAVING COUNT(*) > 1
    """,
    doc="Bottom-k rolling-hash fingerprint dedup: docs sharing an identical "
    "4-minima sketch of their 8-char shingle set. Registered with the "
    "portable md5 sketch so the whole pipeline (shingle → hash → bottom-k "
    "→ group) is oracle-checked; production uses the xxhash64 long-typed "
    "fast path of the same operator.",
)
def fingerprint_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import rolling_fingerprint

    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id", rolling_fingerprint("text", portable=True).alias("fp")
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .select(
            # Scalar sketch: the driver's pandas comparison canonicalizes by
            # sorting output columns, and array cells are unhashable there.
            F.array_join("fp", ",").alias("fingerprint"),
            "keeper_doc_id",
            "n_copies",
        )
    )


@register(
    "events_session_window",
    # Gap-and-islands replay of F.session_window's merge semantics: a new
    # session starts only when the gap to the previous event is STRICTLY
    # greater than 30 minutes — verified empirically: Spark merges an
    # exactly-30-minute-apart pair into one session (inclusive touch).
    # Cumulative-sum session ids then group identically to Spark's merged
    # windows.
    oracle="""
    WITH numbered AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM numbered
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    doc="Per-user session windows (30-minute gap) as a batch aggregation — "
    "F.session_window merges events separated by < gap. Oracled via "
    "gap-and-islands SQL (lag + cumulative session id). Streaming twin: "
    "streaming.events.session_windows.",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


@register(
    "dedup_transitive_clusters",
    # Recursive-CTE replay of the iterative min-label propagation: the
    # deterministic edge set (docs sharing an md5 text hash OR a
    # 10-token-prefix hash link to their group's min id) is
    # engine-independent, so DuckDB can enumerate reachability and take
    # the per-node min — exactly the fixed point Spark's loop converges
    # to. The closure itself runs on the EDGE set, never the corpus.
    oracle="""
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
    )
    SELECT component, COUNT(*) AS n_docs, MAX(node) AS max_doc
    FROM cc GROUP BY component
    """,
    doc="Transitive dedup clusters: connected components over deterministic "
    "duplicate edges (exact md5 + 10-token-prefix groups) via iterative "
    "min-label propagation — the closure the star policy of "
    "minhash/simhash_dedup approximates. Hash-checked against a DuckDB "
    "recursive CTE.",
)
def dedup_transitive_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        connected_components,
        dup_edges_deterministic,
    )

    docs = load_table(spark, sf_dir, "documents")
    edges = dup_edges_deterministic(docs, "text", "doc_id")
    cc = connected_components(edges)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"), F.max("node").alias("max_doc")
    )


@register(
    "asof_purchase_lag",
    # DuckDB's native ASOF LEFT JOIN oracles the union+window composition:
    # for each click, the most recent purchase by the same user at or
    # before the click. Lags summed in exact microseconds (BIGINT).
    oracle="""
    SELECT c.user_id,
           COUNT(*) AS n_clicks,
           COUNT(p.ts) AS n_matched,
           CAST(COALESCE(SUM(epoch_us(c.ts) - epoch_us(p.ts)), 0) AS BIGINT) AS total_lag_us
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    GROUP BY c.user_id
    """,
    doc="As-of join (operators.asof): click → most recent prior purchase "
    "per user. Both sides are disjoint slices of ONE events scan, so the "
    "single-pass self-as-of applies: one pushed IN-filter scan, one "
    "shuffle on user_id, one window carry-forward (the two-sided "
    "union+window form read the fact table twice — measured 4.3x DuckDB "
    "at sf10 in round 13, dominated by the doubled scan). Hash-checked "
    "against DuckDB's native ASOF LEFT JOIN; equivalence to the "
    "two-sided operator is unit-tested on the same corpus.",
)
def asof_purchase_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.asof import (
        asof_self_join,
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    joined = asof_self_join(
        events,
        on=["user_id"],
        ts="ts",
        left_pred=F.col("event_type") == "click",
        right_pred=F.col("event_type") == "purchase",
        value_cols=["ts"],
    )
    lag_us = F.expr("timestampdiff(MICROSECOND, ts_asof, ts)")
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("ts_asof").alias("n_matched"),
        F.coalesce(F.sum(lag_us), F.lit(0)).cast("long").alias("total_lag_us"),
    )


@register(
    "purchase_click_window",
    # Batch twin of streaming.events.interval_join_clicks_to_purchases:
    # identical join condition, so the stream-stream interval join is
    # hash-checked here (the streaming leg is replay-equivalence-tested).
    oracle="""
    SELECT p.event_id, p.user_id,
           COUNT(c.click_ts) AS n_prior_clicks,
           CAST(COALESCE(SUM(c.click_value_cents), 0) AS BIGINT)
             AS click_value_cents
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id AS c_user_id, ts AS click_ts,
                      CAST(round(value * 100) AS BIGINT) AS click_value_cents
               FROM events WHERE event_type = 'click') c
      ON c.c_user_id = p.user_id
     AND c.click_ts >= p.ts - INTERVAL 30 MINUTE
     AND c.click_ts < p.ts
    GROUP BY p.event_id, p.user_id
    """,
    doc="Interval join (attribution window): for each purchase, count and "
    "sum the same user's clicks in the preceding 30 minutes. Equi-join on "
    "user_id with the time range as a join-level filter — one shuffle on "
    "user_id; per-user event counts bound the match fan-out, not n². "
    "Batch twin of the stream-stream interval join in streaming.events.",
)
def purchase_click_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        cents(F.col("value")).alias("v_cents"),
    )
    cond = (
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") >= F.expr("ts - INTERVAL 30 MINUTES"))
        & (F.col("click_ts") < F.col("ts"))
    )
    return (
        purchases.join(clicks, cond, "left")
        .groupBy("event_id", "user_id")
        .agg(
            F.count("click_ts").alias("n_prior_clicks"),
            F.coalesce(F.sum("v_cents"), F.lit(0))
            .cast("long")
            .alias("click_value_cents"),
        )
    )


@register(
    "split_contamination",
    # Cross-split leakage audit: a chunk hash seen in >= 2 distinct
    # splits marks every holder contaminated. Flag-sum >= 2 works because
    # a row's own split flag is always 1.
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, split,
             md5(array_to_string(t[s : s + 49], ' ')) AS chunk_hash
      FROM toks, unnest(generate_series(1, len(t), 40)) AS g(s)
    ),
    flags AS (
      SELECT chunk_hash,
             MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
             + MAX(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
             + MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_splits
      FROM chunks GROUP BY chunk_hash
    )
    SELECT c.split,
           COUNT(*) AS n_chunks,
           COUNT(DISTINCT c.doc_id) AS n_docs,
           CAST(SUM(CASE WHEN f.n_splits >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           COUNT(DISTINCT CASE WHEN f.n_splits >= 2 THEN c.doc_id END)
             AS n_contaminated_docs
    FROM chunks c JOIN flags f USING (chunk_hash)
    GROUP BY c.split
    """,
    doc="Train/test contamination audit: chunk documents (50-token "
    "windows), assign md5 splits, and count chunks whose content hash "
    "appears in more than one split. Scale shape: one groupBy shuffle on "
    "chunk_hash with map-side combine, one sort-merge join back on "
    "chunk_hash (AQE-handled), then a 3-row aggregate — no self-join on "
    "documents, no driver collection.",
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import (
        chunk_tokens,
        hash_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        hash_split("doc_id").alias("split"),
        F.explode(chunk_tokens("text", size=50, stride=40)).alias("chunk"),
    ).select(
        "doc_id",
        "split",
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_hash"),
    )
    flags = chunks.groupBy("chunk_hash").agg(
        (
            F.max((F.col("split") == "train").cast("int"))
            + F.max((F.col("split") == "val").cast("int"))
            + F.max((F.col("split") == "test").cast("int"))
        ).alias("n_splits")
    )
    shared = F.col("n_splits") >= 2
    return (
        chunks.join(flags, "chunk_hash")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(shared.cast("int")).cast("long").alias("n_shared_chunks"),
            F.countDistinct(F.when(shared, F.col("doc_id"))).alias(
                "n_contaminated_docs"
            ),
        )
    )


@register(
    "doc_chunks",
    # Chunk CONTENT is verified, not just counts: md5 of each re-joined
    # window must match DuckDB's inclusive-slice replay.
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST((s - 1) / 40 AS INTEGER) AS chunk_idx,
           md5(array_to_string(t[s : s + 49], ' ')) AS chunk_hash,
           len(t[s : s + 49]) AS n_tokens
    FROM toks, unnest(generate_series(1, len(t), 40)) AS g(s)
    """,
    doc="Token-window document chunking (operators.text.chunk_tokens): "
    "50-token windows every 40 tokens (10 overlap), one output row per "
    "chunk with a content hash — the context-packing pass of an LLM data "
    "pipeline, shuffle-free until aggregation.",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(chunk_tokens("text", size=50, stride=40)).alias(
            "chunk_idx", "chunk"
        ),
    ).select(
        "doc_id",
        "chunk_idx",
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_hash"),
        F.size("chunk").alias("n_tokens"),
    )


@register(
    "hash_split_assign",
    oracle="""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM documents
    GROUP BY 1
    """,
    doc="Deterministic md5 train/val/test split (operators.text.hash_split) "
    "— stable across runs/engines/partitionings, the leakage-proof split "
    "assignment of a training pipeline.",
)
def hash_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(hash_split("doc_id").alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "top_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(regexp_split_to_array(TRIM(text), '\\s+')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 20
    """,
    doc="Token frequency via explode (lateral view): the vocabulary-count "
    "pass of a text pipeline. Explode is narrow (no shuffle until the "
    "count aggregation); top-k is TakeOrderedAndProject.",
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.relational import top_k

    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    counts = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return top_k(counts, "n", 20, tiebreak=["token"])


@register(
    "returning_users",
    oracle="""
    SELECT user_id FROM events WHERE ts <  TIMESTAMP '2024-01-08 00:00:00'
    INTERSECT
    SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
    ORDER BY user_id
    """,
    doc="INTERSECT set operation: users active in both the first week and "
    "the last week of the event stream (set-op family beyond the "
    "reference's UNION ALL).",
)
def returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    first_week = events.where(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp_ntz")
    ).select("user_id")
    last_week = events.where(
        F.col("ts") >= F.lit("2024-01-24 00:00:00").cast("timestamp_ntz")
    ).select("user_id")
    return first_week.intersect(last_week).orderBy("user_id")


@register(
    "ivf_cosine_top10",
    oracle=None,  # approximate: recall property-tested vs brute force
    doc="IVF approximate top-k: KMeans coarse quantizer (pyspark.ml, "
    "seeded) + nprobe nearest cells + exact cosine within cells — the "
    "inverted-file scale path for ANN, complementing hyperplane LSH.",
)
def ivf_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, "embedding", "vec_id", _query_vector(spark, sf_dir), 10, n_centroids=8, nprobe=4)


@register(
    "stratified_sample_stats",
    # Per-source rates exercise per-stratum thresholds; COUNT columns are
    # BIGINT on both engines; rates chosen so every stratum keeps rows at
    # sf0.01.
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                 (CASE source WHEN 'src0' THEN '33' WHEN 'src1' THEN '19'
                              ELSE '0c' END)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           MIN(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                 (CASE source WHEN 'src0' THEN '33' WHEN 'src1' THEN '19'
                              ELSE '0c' END)
                 THEN doc_id END) AS min_sampled_doc
    FROM documents
    GROUP BY source
    """,
    doc="Stratified deterministic sampling (operators.text.hash_sample): "
    "per-stratum md5 thresholds (src0 20%, src1 ~10%, rest ~5%) — "
    "engine- and partitioning-independent, nested across rates, no RNG. "
    "One groupBy; the sample predicate is a pure projection the scan "
    "evaluates inline, so sampling at 100 TB costs one pass and no "
    "shuffle beyond the census aggregation.",
)
def stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import hash_sample

    rates = {"src0": 0.2, "src1": 0.1}
    default_rate = 0.05
    docs = load_table(spark, sf_dir, "documents")
    keep = F.when(
        F.col("source") == "src0", hash_sample("doc_id", rates["src0"])
    ).when(
        F.col("source") == "src1", hash_sample("doc_id", rates["src1"])
    ).otherwise(hash_sample("doc_id", default_rate))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("int")).cast("long").alias("n_sampled"),
        F.min(F.when(keep, F.col("doc_id"))).alias("min_sampled_doc"),
    )


@register(
    "bigram_top20",
    oracle="""
    WITH toks AS (
      SELECT regexp_split_to_array(TRIM(text), '\\s+') AS t FROM documents
    ),
    bigrams AS (
      SELECT t[i] || ' ' || t[i + 1] AS bigram
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
    doc="Bigram frequency: adjacent-token pairs via zip_with over the "
    "token array and its shift-by-one slice (narrow — no shuffle until "
    "the count), top-20 as TakeOrderedAndProject. The n-gram statistics "
    "pass of a text pipeline; generalizes to any n by widening the "
    "slice. The token array is PROJECTED to a column first: referencing "
    "the split(...) expression inside a higher-order lambda re-evaluates "
    "the split on every element access — O(len²) per document, measured "
    "12x slower (4.4 s vs 0.35 s at sf0.1) than binding it once.",
)
def bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.relational import top_k

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.trim(F.col("text")), r"\s+").alias("t"))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    counts = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return top_k(counts, "n", 20, tiebreak=["bigram"])


@register(
    "tfidf_top20",
    # ln() is libm on both engines; identical double inputs give
    # bit-equal or ±1-ulp results — 6dp rounding absorbs that (same
    # policy as the cosine queries).
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(regexp_split_to_array(TRIM(text), '\\s+')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM terms WHERE token <> '' GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t.doc_id, t.token,
           ROUND(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
    FROM tf t JOIN df d USING (token), n
    ORDER BY tfidf DESC, t.doc_id ASC, t.token ASC
    LIMIT 20
    """,
    doc="TF-IDF scoring: term frequency per (doc, token), document "
    "frequency per token, tf·ln(N/df), global top-20. Scale shape: two "
    "hash aggregations (map-side combined) + one join on token — the df "
    "relation is vocabulary-sized, so at 100 TB it broadcasts or "
    "bucket-joins; N rides along as a literal-sized aggregate, never a "
    "driver round-trip per row.",
)
def tfidf_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.relational import top_k

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    tf = terms.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    return top_k(scored, "tfidf", 20, tiebreak=["doc_id", "token"])


@register(
    "approx_event_profile",
    # No oracle: HLL++ and KLL/GK sketch results are
    # implementation-specific (DuckDB's approx_count_distinct uses a
    # different HLL variant). Property test bounds relative error vs the
    # exact answers instead.
    oracle=None,
    doc="Sketch aggregates per event_type: approx_count_distinct (HLL++, "
    "rsd 1%) users and approx_percentile (p50/p90/p99) of value — the "
    "constant-memory profile pass a 100 TB engine runs where exact "
    "distinct/percentiles would shuffle the full column. Mergeable "
    "sketches: partial aggregation works map-side like any sum. "
    "Tolerance vs exact is property-tested (tests/test_llm_ops.py).",
)
def approx_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pcts = F.percentile_approx("value", [0.5, 0.9, 0.99], 10_000)
    # Scalar output columns (not the raw array): the driver's comparison
    # harness canonicalizes via pandas, where array cells are unhashable
    # (the round-1 fingerprint_dup_groups lesson).
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        pcts.getItem(0).alias("value_p50"),
        pcts.getItem(1).alias("value_p90"),
        pcts.getItem(2).alias("value_p99"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "long_token_profile",
    oracle="""
    WITH toks AS (
      SELECT lang, regexp_split_to_array(TRIM(text), '\\s+') AS t
      FROM documents
    )
    SELECT lang,
           CAST(SUM(len(list_filter(t, x -> len(x) >= 6))) AS BIGINT)
             AS n_long_tokens,
           CAST(SUM(CASE WHEN len(list_filter(t, x -> len(x) >= 6)) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_long,
           CAST(SUM(CASE WHEN len(list_filter(t, x -> len(x) < 3)) = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_all_3plus
    FROM toks
    GROUP BY lang
    """,
    doc="Higher-order array predicates (filter/exists/forall) per "
    "language: long-token counts, docs containing any long token, docs "
    "whose every token has >= 3 chars. All JVM-side lambda expressions "
    "inside codegen — the array-combinator family beyond "
    "transform/aggregate that token-level curation filters are built "
    "from.",
)
def long_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.col("text")), r"\s+")
    long_toks = F.filter(t, lambda x: F.length(x) >= 6)
    return docs.groupBy("lang").agg(
        F.sum(F.size(long_toks)).cast("long").alias("n_long_tokens"),
        F.sum(F.exists(t, lambda x: F.length(x) >= 6).cast("int"))
        .cast("long")
        .alias("docs_with_long"),
        F.sum(F.forall(t, lambda x: F.length(x) >= 3).cast("int"))
        .cast("long")
        .alias("docs_all_3plus"),
    )


@register(
    "churned_users",
    oracle="""
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08 00:00:00'
    EXCEPT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-24 00:00:00'
    ORDER BY user_id
    """,
    doc="EXCEPT set operation (the INTERSECT sibling, completing the "
    "set-op family): users who purchased in the first week but not in the "
    "last — the purchase-churn cohort. (Any-activity churn is empty on "
    "this data — every user stays active at day grain — so the cohort is "
    "cut on the sparser purchase stream to keep the query non-degenerate "
    "at every SF.) Plans as a left-anti join on the distinct first-week "
    "set.",
)
def churned_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase")
    first_week = purchases.where(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp_ntz")
    ).select("user_id")
    last_week = purchases.where(
        F.col("ts") >= F.lit("2024-01-24 00:00:00").cast("timestamp_ntz")
    ).select("user_id")
    # subtract == EXCEPT (DISTINCT); exceptAll would keep leftover
    # multiplicity for users seen in both windows — wrong semantics here.
    return first_week.subtract(last_week).orderBy("user_id")


# Java regex and RE2 agree on this subset (char classes, +, {m,}, no
# lookaround) — required for Spark/DuckDB parity.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


@register(
    "pii_redaction_stats",
    oracle=f"""
    WITH injected AS (
      SELECT source,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or x'
                  || CAST((doc_id * 7919) % 10000 AS VARCHAR)
                  || '@test.org today' AS text
      FROM documents
    ),
    red AS (
      SELECT source,
             text,
             regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g') AS redacted,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails
      FROM injected
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS total_emails,
           CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(length(text) - length(redacted)) AS BIGINT) AS chars_removed
    FROM red GROUP BY source ORDER BY source
    """,
    doc="PII scrub — the mandatory redaction pass of a training-data "
    "pipeline: regexp_replace + match counting per source. The corpus "
    "ships PII-free, so both engines deterministically inject two "
    "synthetic emails per doc first (same expression), making the "
    "scrubber's regex parity and accounting fully oracle-checked. Pure "
    "JVM string expressions in one scan — no shuffle beyond the tiny "
    "per-source rollup; the regex subset (classes, +, {m,}) means Java "
    "and RE2 match identically.",
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or x"),
        ((F.col("doc_id") * 7919) % 10000).cast("string"),
        F.lit("@test.org today"),
    )
    t = docs.select(
        "source",
        injected.alias("text"),
    ).select(
        "source",
        "text",
        F.regexp_replace("text", _EMAIL_RE, "[EMAIL]").alias("redacted"),
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("total_emails"),
            F.sum((F.col("n_emails") > 0).cast("long")).alias("docs_with_pii"),
            F.sum(F.length("text") - F.length("redacted")).alias("chars_removed"),
        )
        .orderBy("source")
    )


@register(
    "token_position_profile",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(len(string_split(text, ' ')))) AS pos
      FROM documents
    )
    SELECT source,
           CAST(pos // 16 AS BIGINT) AS pos_bucket,
           COUNT(*) AS n_tokens,
           ROUND(AVG(CAST(length(tok) AS DOUBLE)), 6) AS avg_len
    FROM toks GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Ordinal token explode (posexplode ≡ UNNEST WITH ORDINALITY): "
    "token count and mean token length per 16-token position bucket per "
    "source — the positional profile used to spot templated prefixes/"
    "suffixes in web corpora. The explode multiplies rows ~150×, so the "
    "bucketing happens IN the same select as the explode and aggregates "
    "immediately (map-side combine on a ~200-key space) — the blown-up "
    "stream is never shuffled or materialized.",
)
def token_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    return (
        toks.groupBy(
            "source", (F.col("pos") / 16).cast("long").alias("pos_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.length("tok").cast("double")), 6).alias("avg_len"),
        )
        .orderBy("source", "pos_bucket")
    )


@register(
    "source_token_entropy",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, SUM(c) AS n, COUNT(*) AS vocab FROM counts GROUP BY 1
    )
    SELECT c.source,
           CAST(t.vocab AS BIGINT) AS vocab,
           CAST(t.n AS BIGINT) AS n_tokens,
           ROUND(-SUM((CAST(c.c AS DOUBLE) / t.n)
                      * log2(CAST(c.c AS DOUBLE) / t.n)), 6) AS entropy_bits
    FROM counts c JOIN tot t ON c.source = t.source
    GROUP BY c.source, t.vocab, t.n ORDER BY c.source
    """,
    doc="Shannon entropy of the token distribution per source — the "
    "information-density / diversity score used to flag boilerplate-"
    "heavy or templated sources in corpus QA. Two shuffles on (source, "
    "token) then source — both with full map-side combine; the entropy "
    "sum is one double fold over the per-source token histogram. "
    "Rounded to 6 so the float summation order across engines can't "
    "flip the hash.",
)
def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = counts.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("vocab")
    )
    p = F.col("c").cast("double") / F.col("n")
    return (
        counts.join(tot, "source")
        .groupBy("source", "vocab", "n")
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"))
        .select(
            "source",
            F.col("vocab").cast("long").alias("vocab"),
            F.col("n").cast("long").alias("n_tokens"),
            "entropy_bits",
        )
        .orderBy("source")
    )


@register(
    "gopher_quality_flags",
    # Gopher-style document quality rules (Rae et al. 2021, "Scaling
    # Language Models" appendix A1.1), thresholds adapted to this
    # corpus's ranges so every rule discriminates. All-integer inputs to
    # each ratio → exact double division → boundary comparisons agree
    # across engines.
    oracle="""
    WITH t AS (
      SELECT source, string_split(text, ' ') AS toks FROM documents
    ),
    flags AS (
      SELECT source,
             len(toks) BETWEEN 50 AND 1000 AS ok_nwords,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / len(toks) BETWEEN 4 AND 10 AS ok_meanlen,
             len(list_intersect(toks, ['the','a','of','to','and'])) >= 2
               AS ok_stop
      FROM t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN ok_nwords THEN 1 ELSE 0 END) AS BIGINT) AS pass_nwords,
           CAST(SUM(CASE WHEN ok_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS pass_meanlen,
           CAST(SUM(CASE WHEN ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopwords,
           CAST(SUM(CASE WHEN ok_nwords AND ok_meanlen AND ok_stop
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM flags GROUP BY source ORDER BY source
    """,
    doc="Gopher-rule quality gate: per-document word-count window, mean-"
    "word-length window, and minimum distinct-stopword presence, rolled "
    "up to per-source pass rates — the standard pre-training keep/drop "
    "filter. Pure array expressions (size/aggregate/array_intersect) in "
    "one scan + one tiny rollup shuffle; at 100 TB the flags compute "
    "where the data sits and only per-source counters move.",
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    mean_len = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        .cast("double")
        / n
    )
    stop = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in ["the", "a", "of", "to", "and"]]))
    )
    flags = docs.select(
        "source",
        n.between(50, 1000).alias("ok_nwords"),
        mean_len.between(4, 10).alias("ok_meanlen"),
        (stop >= 2).alias("ok_stop"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("ok_nwords").cast("long")).alias("pass_nwords"),
            F.sum(F.col("ok_meanlen").cast("long")).alias("pass_meanlen"),
            F.sum(F.col("ok_stop").cast("long")).alias("pass_stopwords"),
            F.sum(
                (F.col("ok_nwords") & F.col("ok_meanlen") & F.col("ok_stop")).cast("long")
            ).alias("pass_all"),
        )
        .orderBy("source")
    )


@register(
    "repetition_profile",
    # Within-document repetition (RefinedWeb/Gopher repetition filters):
    # duplicate-token mass = 1 − distinct/total per doc.
    oracle="""
    WITH t AS (
      SELECT source, string_split(text, ' ') AS toks FROM documents
    ),
    r AS (
      SELECT source,
             1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               AS dup_ratio
      FROM t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(dup_ratio), 6) AS avg_dup_ratio,
           CAST(SUM(CASE WHEN dup_ratio > 0.6 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_highly_repetitive
    FROM r GROUP BY source ORDER BY source
    """,
    doc="Within-document repetition filter (the RefinedWeb/Gopher "
    "rep-removal signal): duplicate-token mass per doc (1 − distinct/"
    "total), averaged per source with a count of highly-repetitive docs "
    "(> 0.6). array_distinct/size expressions in one scan; the exact "
    "integer numerators make the ratio and its 0.6 boundary "
    "engine-agreed.",
)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    dup_ratio = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    r = docs.select("source", dup_ratio.alias("dup_ratio"))
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dup_ratio"), 6).alias("avg_dup_ratio"),
            F.sum((F.col("dup_ratio") > 0.6).cast("long")).alias("n_highly_repetitive"),
        )
        .orderBy("source")
    )


@register(
    "corpus_curation_funnel",
    # The full training-data curation pipeline as ONE oracle-checked
    # query with per-stage accounting: raw → Gopher quality gate → exact
    # dedup (keep-first among survivors) → deterministic 50% sample.
    oracle="""
    WITH base AS (
      SELECT doc_id,
             md5(text) AS h,
             len(string_split(text, ' ')) AS n_toks,
             (len(string_split(text, ' ')) BETWEEN 50 AND 1000)
             AND (CAST(list_sum(list_transform(string_split(text, ' '),
                      x -> len(x))) AS DOUBLE)
                  / len(string_split(text, ' ')) BETWEEN 4 AND 10)
             AND (len(list_intersect(string_split(text, ' '),
                      ['the','a','of','to','and'])) >= 2) AS ok
      FROM documents
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY h
                                ORDER BY ok DESC, doc_id ASC) AS rn
      FROM base
    ),
    marked AS (
      SELECT n_toks, ok,
             ok AND rn = 1 AS keeper,
             ok AND rn = 1
                AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
               AS sampled
      FROM ranked
    ),
    wide AS (
      SELECT COUNT(*) AS n_raw,
             CAST(SUM(n_toks) AS BIGINT) AS t_raw,
             CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_q,
             CAST(SUM(CASE WHEN ok THEN n_toks ELSE 0 END) AS BIGINT) AS t_q,
             CAST(SUM(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_d,
             CAST(SUM(CASE WHEN keeper THEN n_toks ELSE 0 END) AS BIGINT) AS t_d,
             CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_s,
             CAST(SUM(CASE WHEN sampled THEN n_toks ELSE 0 END) AS BIGINT) AS t_s
      FROM marked
    )
    SELECT u.stage, u.n_docs, u.total_tokens
    FROM wide, LATERAL (VALUES ('1_raw', n_raw, t_raw),
                               ('2_quality', n_q, t_q),
                               ('3_dedup', n_d, t_d),
                               ('4_sample', n_s, t_s))
         AS u(stage, n_docs, total_tokens)
    ORDER BY u.stage
    """,
    doc="End-to-end corpus curation with stage accounting — the pipeline "
    "a 100 TB pre-training corpus actually runs: Gopher quality gate → "
    "exact-hash dedup keeping the smallest quality-passing doc_id → "
    "deterministic md5 sample, each stage's survivor count and token "
    "mass reported from ONE action. Single scan + one window shuffle on "
    "md5(text) (the dedup key); every later stage is a conditional "
    "aggregate over the same pass — no per-stage re-execution (the "
    "multi-action funnel anti-pattern measured 2.8× slower in round 2). "
    "The 4-row reshape is a 1-row unpivot Expand, not a data operation.",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from healthcare_aihw_etl_pipeline_spark.operators.text import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_toks = F.size(toks)
    mean_len = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        .cast("double")
        / n_toks
    )
    ok = (
        n_toks.between(50, 1000)
        & mean_len.between(4, 10)
        & (
            F.size(
                F.array_intersect(
                    toks, F.array(*[F.lit(w) for w in ["the", "a", "of", "to", "and"]])
                )
            )
            >= 2
        )
    )
    base = docs.select(
        "doc_id", F.md5("text").alias("h"), n_toks.alias("n_toks"), ok.alias("ok")
    )
    w = Window.partitionBy("h").orderBy(F.col("ok").desc(), F.col("doc_id").asc())
    marked = base.withColumn("rn", F.row_number().over(w)).select(
        "n_toks",
        "ok",
        (F.col("ok") & (F.col("rn") == 1)).alias("keeper"),
        (F.col("ok") & (F.col("rn") == 1) & hash_sample("doc_id", 0.5)).alias(
            "sampled"
        ),
    )
    wide = marked.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum("n_toks").alias("t_raw"),
        F.sum(F.col("ok").cast("long")).alias("n_q"),
        F.sum(F.when(F.col("ok"), F.col("n_toks")).otherwise(0)).alias("t_q"),
        F.sum(F.col("keeper").cast("long")).alias("n_d"),
        F.sum(F.when(F.col("keeper"), F.col("n_toks")).otherwise(0)).alias("t_d"),
        F.sum(F.col("sampled").cast("long")).alias("n_s"),
        F.sum(F.when(F.col("sampled"), F.col("n_toks")).otherwise(0)).alias("t_s"),
    )
    return wide.select(
        F.expr(
            "stack(4, '1_raw', n_raw, t_raw, '2_quality', n_q, t_q, "
            "'3_dedup', n_d, t_d, '4_sample', n_s, t_s) "
            "AS (stage, n_docs, total_tokens)"
        )
    ).orderBy("stage")


def _keep_best_oracle() -> str:
    """Keep-best dedup replay: sketch clusters × per-doc quality."""
    return f"""
    WITH {_quality_doc_cte()},
    fp AS (
      SELECT doc_id,
             array_to_string(list_slice(list_sort(list_distinct(
               list_transform(
                 range(1, greatest(length(trim(text)) - 7, 1) + 1),
                 i -> md5(substr(trim(text), CAST(i AS INT), 8))))), 1, 4),
               ',') AS fingerprint
      FROM documents
    ),
    scored_fp AS (
      SELECT f.fingerprint, f.doc_id, ROUND(l.q, 6) AS q
      FROM fp f JOIN labeled l ON f.doc_id = l.doc_id
    ),
    ranked AS (
      SELECT fingerprint, doc_id, q,
             ROW_NUMBER() OVER (PARTITION BY fingerprint
                                ORDER BY q DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY fingerprint) AS n_docs
      FROM scored_fp
    )
    SELECT fingerprint, doc_id AS keeper_doc_id, q AS best_q, n_docs
    FROM ranked WHERE rn = 1 AND n_docs > 1
    """


@register(
    "dedup_keep_best",
    oracle=_keep_best_oracle(),
    doc="Keep-best near-dup dedup: within each fingerprint-sketch "
    "cluster, keep the HIGHEST-quality document (min doc_id on ties) "
    "instead of round-1's min-id policy — the curation rule real "
    "pipelines want (drop the boilerplate copy, keep the clean one). "
    "One groupBy on the sketch key with max_by map-side combine — no "
    "window over the cluster, so a hot boilerplate cluster cannot "
    "pin a single task. Quality is rounded to 6dp BEFORE the argmax "
    "so both engines rank identical keys; doc_id breaks exact ties.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import (
        quality_score,
        rolling_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.array_join(rolling_fingerprint("text", portable=True), ",").alias(
            "fingerprint"
        ),
        F.round(quality_score("text"), 6).alias("q"),
    )
    # argmax via max_by over (q, -doc_id): max quality, then MIN doc_id —
    # an aggregate (partial-merge-able), not a per-cluster window.
    return (
        scored.groupBy("fingerprint")
        .agg(
            F.max_by("doc_id", F.struct(F.col("q"), (-F.col("doc_id")).alias("nd"))).alias(
                "keeper_doc_id"
            ),
            F.max("q").alias("best_q"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
        .select("fingerprint", "keeper_doc_id", "best_q", "n_docs")
    )


@register(
    "oov_rate_by_source",
    # Tokenizer-coverage audit: vocab = top-1000 train-split tokens
    # (count DESC, token ASC — fully deterministic at the boundary),
    # OOV rate measured on the test split per source.
    oracle="""
    WITH toks AS (
      SELECT source,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM toks WHERE split = 'train'
      GROUP BY tok ORDER BY COUNT(*) DESC, tok ASC LIMIT 1000
    )
    SELECT t.source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS oov_rate
    FROM (SELECT * FROM toks WHERE split = 'test') t
    LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.source
    """,
    doc="Out-of-vocabulary audit (tokenizer coverage): build a "
    "top-1000 vocabulary from the train split (global top-k over the "
    "token rollup — TakeOrderedAndProject, not a single-partition "
    "sort), broadcast it, and measure per-source OOV rates on the "
    "test split. The vocab boundary is deterministic (count DESC, "
    "token ASC); the train/test assignment is the md5 hash split, so "
    "the whole audit replays bit-identically in DuckDB.",
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import hash_split

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        hash_split("doc_id").alias("split"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    vocab = (
        toks.where(F.col("split") == "train")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(1000)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    test = toks.where(F.col("split") == "test")
    oov = F.col("in_vocab").isNull()
    return (
        test.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov.cast("int")).cast("long").alias("n_oov"),
            F.round(
                F.sum(oov.cast("int")).cast("long") / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
        )
    )


@register(
    "sequence_packing",
    # Greedy sequential packing: concat docs in (source, doc_id) order,
    # chunk at a 512-token budget, tag each doc with the pack its FIRST
    # token lands in. Pure window arithmetic — exact on both engines.
    oracle="""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens) / 512.0) AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT source, pack_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed GROUP BY source, pack_id ORDER BY source, pack_id
    """,
    doc="Sequence packing (the pretraining concat-then-chunk pass): "
    "documents are concatenated in deterministic (source, doc_id) order "
    "and cut into 512-token training sequences; each document is "
    "assigned the pack where its first token lands via a running-sum "
    "window — no iterative bin packing, one pass. The (source) shuffle "
    "is shared by the window and the per-pack rollup (subset-clustering "
    "rule: groupBy(source, pack_id) reuses the partitionBy(source) "
    "exchange); window partitions are source-sized — at 100 TB the "
    "partition key would be (source, shard) with shard-local doc order, "
    "keeping every window partition executor-sized while preserving "
    "determinism.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(512.0)),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "pack_id")
    )


@register(
    "domain_quota_sample",
    # Per-(source, lang) quota cap: keep the top-K docs by length
    # (deterministic tie-break on doc_id) — the domain-balancing pass
    # that stops one crawl domain from dominating the training mix.
    oracle="""
    WITH ranked AS (
      SELECT source, lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source, lang
                                ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents
    )
    SELECT source, lang, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN rk <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk <= 20 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM ranked GROUP BY source, lang ORDER BY source, lang
    """,
    doc="Domain quota sampling: cap every (source, lang) stratum at its "
    "20 highest-value documents (length-ranked, doc_id tie-break — any "
    "quality score slots into the ORDER BY unchanged) and account for "
    "what the cap kept. One shuffle on the stratum key shared by the "
    "rank window and the rollup; window partitions are stratum-sized. "
    "At 100 TB the rank-then-filter stays as-is for moderate strata; a "
    "pathologically hot domain would first pre-prune with an "
    "approximate per-stratum length threshold (quantile sketch) so the "
    "exact window only ranks survivors.",
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        Window.partitionBy("source", "lang").orderBy(
            F.desc("n_chars"), F.asc("doc_id")
        )
    )
    kept = F.col("rk") <= 20
    return (
        docs.select("source", "lang", "doc_id", "n_chars")
        .withColumn("rk", rk)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(F.lit(0))).alias(
                "kept_chars"
            ),
        )
        .orderBy("source", "lang")
    )


@register(
    "multimodal_byte_profile",
    # The multimodal PLUMBING made oracle-checkable: a real binary
    # column (utf-8 payload derived from text) flows through the same
    # Arrow-batched mapInPandas stage shape as operators/multimodal.py's
    # decode path, extracting byte-level features Python-side; DuckDB
    # replays the features from the source text (ASCII corpus ->
    # md5(text) == md5(utf8 bytes)).
    oracle="""
    SELECT source,
           COUNT(*) AS n_media,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT md5(text)) AS n_unique_payloads,
           CAST(SUM(ascii(substr(text, 1, 1))) AS BIGINT) AS first_byte_sum
    FROM documents GROUP BY source ORDER BY source
    """,
    doc="Multimodal byte-column profile: documents' utf-8 payloads as "
    "an opaque BINARY column, decoded feature-wise inside an "
    "Arrow-batched mapInPandas stage (bytes arrive as Python bytes per "
    "Arrow batch — the identical transfer shape as the FAKEv1 media "
    "decoder in operators/multimodal.py, where decoded-bytes-per-task "
    "is the memory envelope to size). Features (length, first byte, "
    "payload md5) are computed Python-side to prove the batch path, "
    "then aggregated per source with exact integer sums — fully "
    "hash-checked against DuckDB replaying the same features from the "
    "source text.",
)
def multimodal_byte_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "source", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    out_schema = T.StructType(
        [
            T.StructField("source", T.StringType(), True),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("first_byte", T.LongType(), True),
            T.StructField("payload_md5", T.StringType(), True),
        ]
    )

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "n_bytes": content.map(len).astype("int64"),
                    "first_byte": content.map(lambda b: b[0]).astype("int64"),
                    "payload_md5": content.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    feats = payloads.mapInPandas(features, schema=out_schema)
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("payload_md5").alias("n_unique_payloads"),
            F.sum("first_byte").alias("first_byte_sum"),
        )
        .orderBy("source")
    )


@register(
    "chunk_dedup_reassembly",
    # C4-style sub-document dedup: non-overlapping 40-token chunks,
    # global keep-FIRST occurrence (ordered by doc_id, chunk_idx), then
    # each document is rebuilt from its surviving chunks in order. The
    # reassembled text is verified by content hash, not just counts.
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST((s - 1) / 40 AS INTEGER) AS chunk_idx,
             array_to_string(t[s : s + 39], ' ') AS chunk_text,
             len(t[s : s + 39]) AS n_tokens
      FROM toks, unnest(generate_series(1, len(t), 40)) AS g(s)
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                   ORDER BY doc_id, chunk_idx) AS rk
      FROM chunks
    ),
    kept AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
             md5(string_agg(chunk_text, ' ' ORDER BY chunk_idx)) AS new_text_hash
      FROM ranked WHERE rk = 1 GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.kept_tokens, 0) AS kept_tokens,
           COALESCE(k.new_text_hash, md5('')) AS new_text_hash
    FROM totals t LEFT JOIN kept k USING (doc_id)
    """,
    doc="Sub-document (chunk-level) dedup with document reassembly — the "
    "C4/RefinedWeb pattern where repeated boilerplate spans are removed "
    "from inside documents, not whole documents dropped. Keep-first is "
    "an aggregate (groupBy(chunk_hash).min(struct(doc_id, chunk_idx))) "
    "joined back on the hash, NOT a window over the hash — map-side "
    "partials mean a boilerplate chunk repeated in millions of docs "
    "cannot pin one task (the round-2 de-skew rule). Reassembly sorts "
    "each doc's surviving chunks with array_sort(collect_list(struct)) "
    "— partition-order-independent, so the output hash is deterministic "
    "under any shuffle. Scale shape: one shuffle on the 16-byte chunk "
    "hash, one co-partitioned join back, one shuffle on doc_id.",
)
def chunk_dedup_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.text import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    chunks = (
        docs.select(
            "doc_id",
            F.posexplode(chunk_tokens("text", size=40, stride=40)).alias(
                "chunk_idx", "chunk"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.concat_ws(" ", F.col("chunk")).alias("chunk_text"),
            F.size("chunk").cast("long").alias("n_tokens"),
        )
        .withColumn("h", F.md5("chunk_text"))
    )
    winners = chunks.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("w")
    )
    kept = (
        chunks.join(winners, "h")
        .where(
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("chunk_idx") == F.col("w.chunk_idx"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_idx", "chunk_text"))
                        ),
                        lambda s: s.getField("chunk_text"),
                    ),
                )
            ).alias("new_text_hash"),
        )
    )
    totals = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        F.coalesce("new_text_hash", F.lit(empty_md5)).alias("new_text_hash"),
    )


@register(
    "incremental_dedup",
    # Incremental ingestion: dedupe an arriving batch (doc_id % 3 = 0)
    # against the already-ingested base corpus AND within itself, with
    # per-source accounting. ONE groupBy on the text hash computes both
    # "seen in base" and "first new holder"; the join back is
    # co-partitioned on the same key.
    oracle="""
    WITH d AS (
      SELECT doc_id, source, md5(text) AS h, (doc_id % 3 = 0) AS is_new
      FROM documents
    ),
    agg AS (
      SELECT h,
             MAX(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS has_base,
             MIN(CASE WHEN is_new THEN doc_id END) AS min_new
      FROM d GROUP BY h
    )
    SELECT source,
           COUNT(*) AS n_new,
           CAST(SUM(CASE WHEN has_base = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_vs_base,
           CAST(SUM(CASE WHEN has_base = 0 AND doc_id <> min_new
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_dup,
           CAST(SUM(CASE WHEN has_base = 0 AND doc_id = min_new
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM d JOIN agg USING (h)
    WHERE is_new
    GROUP BY source ORDER BY source
    """,
    doc="Incremental dedup of a new batch against the existing corpus — "
    "the production shape where yesterday's 100 TB is already ingested "
    "and only today's slice must be checked. Per text-hash flags "
    "(exists-in-base, first-new-doc) come from ONE aggregation over "
    "base ∪ new, then join back to the new rows on the same hash key — "
    "two stages total, both AQE-skew-splittable; no anti-join chain, "
    "no second shuffle of the base corpus. At real scale the base side "
    "reduces to its (hash) projection read from the dedup index table, "
    "not a rescan of base text.",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        (F.col("doc_id") % 3 == 0).alias("is_new"),
    )
    agg = d.groupBy("h").agg(
        F.max(F.when(~F.col("is_new"), 1).otherwise(0)).alias("has_base"),
        F.min(F.when(F.col("is_new"), F.col("doc_id"))).alias("min_new"),
    )
    fresh = F.col("has_base") == 0
    return (
        d.join(agg, "h")
        .where("is_new")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.when(F.col("has_base") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_vs_base"),
            F.sum(
                F.when(fresh & (F.col("doc_id") != F.col("min_new")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_within_dup"),
            F.sum(
                F.when(fresh & (F.col("doc_id") == F.col("min_new")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


@register(
    "mixture_weights",
    # Source-mixing weights by token-capping: every source contributes
    # at most ceil(total/n_sources) tokens; weight_i = capped_i /
    # sum(capped) in parts-per-million. ALL arithmetic is integer until
    # the published ppm (integer division) — exact partial-aggregation-
    # order-independent parity, unlike float power-law weights.
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(regexp_split_to_array(TRIM(text), '\\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    c AS (
      SELECT source, n_tokens,
             LEAST(n_tokens,
                   CAST((SUM(n_tokens) OVER () + COUNT(*) OVER () - 1)
                        // COUNT(*) OVER () AS BIGINT)) AS capped_tokens
      FROM s
    )
    SELECT source, n_tokens, capped_tokens,
           CAST(capped_tokens * 1000000 // SUM(capped_tokens) OVER () AS BIGINT)
             AS ppm_weight
    FROM c ORDER BY source
    """,
    doc="Training-mixture weights via source capping (the LLaMA-style "
    "domain-balancing pass, kept in exact integer arithmetic: power-law "
    "temperature weights need float pow/sums whose partial order is "
    "engine-dependent — capping gives the same flattening with "
    "bit-exact parity). Grand totals are windows OVER () on the "
    "source-level rollup (~tens of rows — the Q11-shape rule: the "
    "expensive fact scan aggregates once, the unpartitioned window "
    "only ever sees the dimension-sized result).",
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("n_tokens")
    )
    everything = Window.partitionBy()
    # True integer division (SQL DIV), not floor(long/long): the latter
    # promotes to DOUBLE division, which loses ulps once the numerator
    # exceeds 2^53 (~9e9 tokens per source — realistic at 100 TB) and can
    # then differ by 1 from DuckDB's exact BIGINT `//`. DIV stays in long
    # arithmetic at any magnitude.
    c = (
        s.withColumn("_total", F.sum("n_tokens").over(everything))
        .withColumn("_nsrc", F.count(F.lit(1)).over(everything))
        .withColumn(
            "capped_tokens",
            F.least(F.col("n_tokens"), F.expr("(_total + _nsrc - 1L) DIV _nsrc")),
        )
    )
    return (
        c.withColumn("_capped_total", F.sum("capped_tokens").over(everything))
        .select(
            "source",
            "n_tokens",
            "capped_tokens",
            F.expr("(capped_tokens * 1000000L) DIV _capped_total")
            .cast("long")
            .alias("ppm_weight"),
        )
        .orderBy("source")
    )


@register(
    "embedding_centroid_per_label",
    # Dimension-wise centroid per label class. Components are quantized
    # to exact integers (floor(x*1e6 + 0.5)) BEFORE the cross-row sum,
    # because summing raw doubles is partial-order-dependent and would
    # never hash-match across engines. Verified: quantization has zero
    # round-vs-floor ties on this corpus at sf0.01 and sf0.1.
    oracle="""
    WITH comps AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings
    )
    SELECT label, CAST(dim AS INTEGER) AS dim, COUNT(*) AS n_vectors,
           CAST(SUM(q) AS BIGINT) AS qsum,
           CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) * 1000000 AS DOUBLE) AS centroid
    FROM comps GROUP BY label, dim ORDER BY label, dim
    """,
    doc="Per-class embedding centroid (the clustering/recall side of "
    "curation: centroids feed IVF coarse quantizers and per-cluster "
    "outlier passes). posexplode multiplies rows by the dimension count, "
    "but the (label, dim) aggregation happens immediately with map-side "
    "combine — the exploded stream is never shuffled at full width; the "
    "shuffle carries |labels|x|dims| partial sums per task. Quantized "
    "integer sums (1e-6 resolution) make the result independent of "
    "partial-aggregation order — the float-sum determinism rule every "
    "distributed vector aggregate needs.",
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    return (
        comps.groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.sum("q").alias("qsum"))
        .select(
            "label",
            "dim",
            "n_vectors",
            "qsum",
            (
                F.col("qsum").cast("double")
                / (F.col("n_vectors") * 1000000).cast("double")
            ).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


@register(
    "char_diversity_profile",
    # Per-document character-diversity quality features rolled up per
    # language — entirely integer arithmetic (counts and ppm shares), so
    # the result is exact and partial-aggregation-order-independent,
    # unlike log-based entropy whose libm differs across engines.
    oracle="""
    WITH chars AS (
      SELECT doc_id, lang, unnest(string_split(text, '')) AS c
      FROM documents
    ),
    per_char AS (
      SELECT doc_id, lang, c, COUNT(*) AS n
      FROM chars WHERE c <> '' GROUP BY 1, 2, 3
    ),
    per_doc AS (
      SELECT doc_id, lang,
             COUNT(*) AS n_distinct_chars,
             CAST(MAX(n) * 1000000 // SUM(n) AS BIGINT) AS top_char_ppm
      FROM per_char GROUP BY 1, 2
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_distinct_chars) AS BIGINT) AS sum_distinct_chars,
           MAX(n_distinct_chars) AS max_distinct_chars,
           CAST(SUM(top_char_ppm) AS BIGINT) AS sum_top_char_ppm
    FROM per_doc GROUP BY lang
    """,
    doc="Character-diversity quality features (a cheap lang-ID/garbage "
    "detector: mojibake and binary spills crater distinct-char counts or "
    "spike one char's share). explode-per-char multiplies rows by text "
    "length, but the (doc, char) aggregation combines map-side "
    "immediately — the shuffle carries one row per distinct character "
    "per document (~dozens), not the character stream; the two "
    "follow-up rollups are dimension-sized. Shares are integer ppm "
    "(DIV), exact at any scale.",
)
def char_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_char = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", "")).alias("c")
        )
        .where(F.col("c") != "")
        .groupBy("doc_id", "lang", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_doc = per_char.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.expr("(MAX(n) * 1000000L) DIV SUM(n)").alias("top_char_ppm"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_distinct_chars").alias("sum_distinct_chars"),
        F.max("n_distinct_chars").alias("max_distinct_chars"),
        F.sum("top_char_ppm").alias("sum_top_char_ppm"),
    )


@register(
    "levenshtein_blocked_pairs",
    # Edit-distance verification inside blocking buckets — the
    # record-linkage / LSH-candidate-verify shape: never all-pairs, the
    # block key bounds the quadratic fan-out to within-bucket pairs.
    oracle="""
    WITH blocked AS (
      SELECT doc_id, source,
             regexp_split_to_array(TRIM(text), '\\s+')[1] AS blk,
             substr(text, 1, 60) AS head
      FROM documents
    )
    SELECT a.source,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN levenshtein(a.head, b.head) <= 20
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
           CAST(SUM(levenshtein(a.head, b.head)) AS BIGINT) AS sum_dist,
           MIN(levenshtein(a.head, b.head)) AS min_dist
    FROM blocked a JOIN blocked b
      ON a.source = b.source AND a.blk = b.blk AND a.doc_id < b.doc_id
    GROUP BY a.source
    """,
    doc="Near-duplicate verification by edit distance within blocking "
    "buckets (source x first token): the classic candidate-verify stage "
    "after LSH/fingerprint blocking. One equi-shuffle on the block key; "
    "pair count is sum over buckets of n^2/2 — bounded by the blocking "
    "choice, measured 202 pairs at sf0.01 / 21k at sf0.1, and the "
    "60-char head cap bounds each distance computation. At 100 TB a hot "
    "bucket is the risk: cap bucket size (sample within bucket) or "
    "refine the block key — the same skew discipline as every "
    "self-join. levenshtein is an exact integer both engines agree on.",
)
def levenshtein_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    blocked = docs.select(
        "doc_id",
        "source",
        F.split(F.trim(F.col("text")), r"\s+")[0].alias("blk"),
        F.substring("text", 1, 60).alias("head"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.source").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(dist <= 20, 1).otherwise(0)).alias("n_near"),
            F.sum(dist).alias("sum_dist"),
            F.min(dist).alias("min_dist"),
        )
    )


_PR_ITERS = 6
_PR_TOTAL = 1_000_000_000  # total rank mass, in ppb units


def _pagerank_oracle() -> str:
    """Unrolled-iteration DuckDB replay of the integer PageRank: the
    same BIGINT arithmetic, one CTE per iteration (no recursive CTE —
    aggregation inside recursion is restricted; unrolling is the
    portable form and makes the fixed iteration count explicit)."""
    base_sql = (
        f"(CAST(150 AS BIGINT) * {_PR_TOTAL}) // (1000 * (SELECT c FROM nn))"
    )
    ctes = [
        f"""edges AS (
      SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
      UNION ALL
      SELECT l_partkey * 2 + 1 AS src, l_orderkey * 2 AS dst FROM lineitem
    )""",
        "deg AS (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS c FROM deg)",
        f"pr0 AS (SELECT id, CAST({_PR_TOTAL} // (SELECT c FROM nn) AS BIGINT)"
        " AS r, d FROM deg)",
    ]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(f"""pr{i} AS (
      SELECT deg.id,
             CAST({base_sql} + (850 * COALESCE(s.s, 0)) // 1000 AS BIGINT) AS r,
             deg.d
      FROM deg LEFT JOIN (
        SELECT e.dst AS id, SUM(p.r // p.d) AS s
        FROM edges e JOIN pr{i - 1} p ON p.id = e.src
        GROUP BY e.dst
      ) s ON s.id = deg.id
    )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT CASE WHEN id % 2 = 0 THEN 'order' ELSE 'part' END AS kind,
           CAST(id // 2 AS BIGINT) AS key,
           r AS rank_ppb
    FROM pr{_PR_ITERS}
    ORDER BY r DESC, id ASC LIMIT 20
    """
    )


@register(
    "bipartite_pagerank_top20",
    oracle=_pagerank_oracle(),
    doc="PageRank over the order-part bipartite graph (edges = lineitem "
    "rows, both directions), the iterative-algorithm family beyond "
    "connected components: fixed 6 power iterations, each one "
    "edges-join-ranks + aggregate — the canonical iterative-Spark shape "
    "with lineage truncated per round (localCheckpoint; a cluster "
    "deployment uses reliable checkpointing for stage-retry safety). "
    "ALL arithmetic is BIGINT ppb with explicit DIV — per-edge "
    "contribution r DIV d, damping (850*s) DIV 1000 — so the result is "
    "bit-exact, partial-order-independent, and replayable in DuckDB as "
    "unrolled CTE iterations: floating-point PageRank can never "
    "hash-match across engines, integer PageRank always does. Scale: "
    "each iteration is one equi-shuffle of (edge endpoints x 8-byte "
    "ranks); rank mass stays bounded by construction so no overflow "
    "below 2^53 nodes.",
)
def bipartite_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    half = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nodes = deg.select(F.col("src").alias("id"), "d")
    n_nodes = nodes.count()
    base = (150 * _PR_TOTAL) // (1000 * n_nodes)
    init = _PR_TOTAL // n_nodes
    r = nodes.select("id", "d", F.lit(init).cast("long").alias("r"))
    for i in range(_PR_ITERS):
        contrib = (
            edges.join(
                r.select(F.col("id").alias("src"), F.expr("r DIV d").alias("c")),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        r = nodes.join(contrib, nodes.id == contrib.dst, "left").select(
            "id",
            "d",
            (
                F.lit(base).cast("long")
                + F.expr("(850 * coalesce(s, 0L)) DIV 1000")
            ).cast("long").alias("r"),
        )
        # Truncate lineage every 3 rounds, not every round: A/B at sf0.1
        # gives 6.2 s unchecked / 7.3 s every-3 / 13.5 s every-1
        # (identical results) — materialization costs more than the
        # short lineage saves, but unbounded growth is the real risk at
        # high iteration counts, so keep a bounded-depth truncation.
        if (i + 1) % 3 == 0:
            r = r.localCheckpoint(eager=True)
    return (
        r.select(
            F.when(F.col("id") % 2 == 0, F.lit("order"))
            .otherwise(F.lit("part"))
            .alias("kind"),
            F.expr("id DIV 2").cast("long").alias("key"),
            F.col("r").alias("rank_ppb"),
        )
        # Tiebreak must TOTALLY order: (key ASC, kind ASC) is exactly
        # id ASC (id = 2*key + [kind='part'], 'order' < 'part'), matching
        # the oracle's ORDER BY r DESC, id ASC. With integer ranks, an
        # order and a part node CAN tie on (rank, key); without kind the
        # LIMIT 20 boundary would be nondeterministic across engines.
        .orderBy(F.desc("rank_ppb"), F.asc("key"), F.asc("kind"))
        .limit(20)
    )
