"""Round-15 query families.

- t_closeness_audit_served: the privacy-audit family joins the
  served-silver discipline (the survival-span / as-of precedent). The
  round-14 floor decomposition pinned t_closeness_audit as the ONE
  committed flat whose data-proportional marginal exceeded 2x DuckDB
  (2.9x on a 0.245 s marginal at sf10): the cost is the customer-fact
  scan + groupBy to the (QI-group x sensitive) cell grain, re-paid on
  every audit even though the cell relation is domain-bounded
  (~|nations| x |balance bands| x |segments| ~ 1.5k rows at ANY scale
  factor). A release pipeline audits the same frame many times per
  release (k-anonymity, l-diversity, t-closeness, per-policy
  thresholds) — the cell histogram is the shared input, so it
  materializes once at ingest and every audit reads ~1.5k rows.

- minhash_verified_dup_clusters(+_portable): the candidate->VERIFY
  discipline (wide SimHash holds pair precision 1.0 at 10M docs)
  applied to MinHash dedup. The `pairs` rung of
  scripts/planted_truth.py measures the unverified banding's pair
  precision collapsing 0.96 -> 0.12 -> 0.0014 as noise grows 1k -> 1M
  -> 10M docs (recall 1.0): banding candidates are a superset of true
  near-dups, and at web scale the superset is almost all noise. Here
  candidates from LSH banding are VERIFIED by exact n-gram Jaccard
  (set intersection over the SAME shingle relation that fed the
  signatures) before clustering, so dup_of links only pairs actually
  >= the Jaccard threshold.

Reference lineage: the reference app re-derives its analytic frames
from the cleaned table on every render (/root/reference/main.py:158,
165 — whole-table replace, no incremental serving); the silvers here
are the 100 TB-shaped answer to the same re-read pattern. Same
contract as every plans module: idiomatic PySpark paired with DuckDB
oracles whose arithmetic is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_aihw_etl_pipeline_spark.plans.llm_queries import top_dup_clusters
from healthcare_aihw_etl_pipeline_spark.plans.registry import (
    REGISTRY as _REG,
)
from healthcare_aihw_etl_pipeline_spark.plans.registry import register
from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# t-closeness audit served from the QI-cell histogram silver

_TC_ORACLE = _REG["t_closeness_audit"].oracle


def _qi_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (QI-group x sensitive) cell histogram silver: one
    map-side-combined groupBy of the customer fact to the
    (nation, $1000 balance band, market segment, count) grain —
    domain-bounded (~1.5k rows at any scale factor), horizon-free,
    shared by the whole k/l/t privacy-audit family."""
    from healthcare_aihw_etl_pipeline_spark.operators.silver import (
        serve_silver,
    )

    def build() -> DataFrame:
        cust = load_table(spark, sf_dir, "customer")
        return cust.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("long")
            .alias("bal_band"),
            "c_mktsegment",
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))

    return serve_silver(
        spark, sf_dir, "spark_graft_qi_cells", "customer", build
    )


@register(
    "t_closeness_audit_served",
    oracle=_TC_ORACLE,
    doc="t_closeness_audit served from the materialized (QI-group x "
    "sensitive) cell histogram silver (operators/silver.serve_silver, "
    "the survival-span discipline): the cell relation is domain-"
    "bounded (~|nations| x |balance bands| x |segments| rows at ANY "
    "scale factor), so the per-audit cost drops from a customer-fact "
    "scan + groupBy to one ~1.5k-row columnar read — the round-14 "
    "floor decomposition pinned the from-scratch form as the one "
    "committed flat with a >2x data-proportional marginal, and a "
    "release pipeline re-audits the same frame per policy (k, l, t) "
    "per release. Oracle replays the full raw-customer pipeline, so "
    "the hash match proves the silver faithful; the from-scratch form "
    "stays registered as the oracle path.",
)
def t_closeness_audit_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators import privacy

    cells = _qi_cell_histogram(spark, sf_dir)
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
    banded = vd.select(
        privacy.band_of(F.col("k")).alias("band_lo"), "k", "vd_ppm"
    )
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
            F.expr("SUM(vd_ppm) div COUNT(*)")
            .cast("long")
            .alias("mean_vd_ppm"),
            F.sum(F.when(F.col("vd_ppm") > 200000, 1).otherwise(0))
            .cast("long")
            .alias("n_above_t"),
        )
        .select(
            "band_lo",
            band_name.alias("band"),
            "n_groups",
            "max_vd_ppm",
            "mean_vd_ppm",
            "n_above_t",
        )
        .orderBy("band_lo")
    )


# ---------------------------------------------------------------------------
# Verified MinHash near-dup clusters (candidate → exact-Jaccard verify)

# Verify threshold as an exact integer ratio (ni*10 >= 7*union ⟺
# jaccard >= 0.7): below the planted corpus's true-pair range
# (0.722–0.881), far above its decoys (0.25) — and bit-identical in
# both engines (no float compare anywhere in the decision).
_MV_NUM, _MV_DEN = 7, 10


@register(
    "minhash_verified_dup_clusters",
    oracle=None,  # xxhash64 family: planted-rung + property-tested
    doc="VERIFIED MinHash+LSH near-dup clusters (32 hashes, 8 bands, "
    "5-token shingles, exact-Jaccard verify at 0.7): the candidate→"
    "VERIFY discipline applied to the MinHash family, whose "
    "unverified banding's pair precision collapses to 0.0014 against "
    "10M noise docs (recall 1.0; the pairs rung of "
    "scripts/planted_truth.py). Byte-identical docs collapse to "
    "min-id reps first (the hub aggregate), candidate rep pairs come "
    "from shared LSH buckets, and dup_of links ONLY pairs whose exact "
    "int64-gram Jaccard clears the threshold — measured precision 1.0 "
    "on the planted corpus at 1k, 1M and 10M noise docs with recall "
    "equal to the unverified form's. Top-20 clusters under a total "
    "order. Scale shape: one row-local signature scan + slim "
    "checkpoint, bucket pairing quadratic only in DISTINCT in-bucket "
    "signatures, gram sets re-derived for the banding-bounded "
    "candidate id set via semi-join (never a corpus-wide gram "
    "materialization), Jaccard as a candidate-bounded gram-equality "
    "equi join.",
)
def minhash_verified_dup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        minhash_dedup_verified,
    )

    docs = load_table(spark, sf_dir, "documents")
    dup = minhash_dedup_verified(
        docs,
        "text",
        "doc_id",
        threshold_num=_MV_NUM,
        threshold_den=_MV_DEN,
    )
    return top_dup_clusters(dup)


@register(
    "minhash_verified_dup_clusters_portable",
    # Full bit-replay of the VERIFIED pipeline: md5 exact-collapse,
    # 16 md5 minwise functions over distinct 5-word shingles, 4-band
    # md5 banding of the min-id representatives, distinct in-bucket
    # candidate pairs, exact shingle-set Jaccard verify as an integer
    # cross-multiplication, min-verified-partner linking, member
    # inheritance, cluster rollup — identical arithmetic end to end.
    oracle=f"""
    WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
    reps AS (SELECT h, MIN(doc_id) AS rep FROM hx GROUP BY h),
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
      WHERE doc_id IN (SELECT rep FROM reps)
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
    cand AS (
      SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      FROM bands a JOIN bands b USING (band, band_hash)
      WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.ia, c.ib, CAST(COUNT(*) AS BIGINT) AS ni
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.ia
      JOIN sh sb ON sb.doc_id = c.ib AND sb.shingle = sa.shingle
      GROUP BY c.ia, c.ib
    ),
    verified AS (
      SELECT i.ia, i.ib
      FROM inter i
      JOIN sizes za ON za.doc_id = i.ia
      JOIN sizes zb ON zb.doc_id = i.ib
      WHERE i.ni * {_MV_DEN} >= {_MV_NUM} * (za.ns + zb.ns - i.ni)
    ),
    dup_rep AS (
      SELECT r.h, COALESCE(MIN(v.ia), r.rep) AS dup_of
      FROM reps r LEFT JOIN verified v ON v.ib = r.rep
      GROUP BY r.h, r.rep
    ),
    dup AS (
      SELECT hx.doc_id, d.dup_of FROM hx JOIN dup_rep d USING (h)
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
    doc="PORTABLE verified MinHash+LSH near-dup clusters: the "
    "hash-green twin of minhash_verified_dup_clusters — md5 "
    "exact-collapse, 16 independent md5 minwise functions, 4-band "
    "banding of the representatives, distinct in-bucket candidate "
    "pairs, exact shingle-set Jaccard verify (integer "
    "cross-multiplication at 0.7), min-verified-partner links, member "
    "inheritance and the cluster rollup ALL replay bit-for-bit in "
    "DuckDB, so the driver hash-checks the verify stage itself rather "
    "than trusting a property test. Same shuffle shape as the fast "
    "path (slim checkpoint, candidate-bounded gram join).",
)
def minhash_verified_dup_clusters_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        minhash_dedup_verified_portable,
    )

    docs = load_table(spark, sf_dir, "documents")
    dup = minhash_dedup_verified_portable(
        docs,
        "text",
        "doc_id",
        threshold_num=_MV_NUM,
        threshold_den=_MV_DEN,
    )
    return top_dup_clusters(dup)
