#!/usr/bin/env python
"""Recall/precision of the approximate operators against exact truth
(round-13 verdict item #5): the rows-only fast paths (minhash/simhash
dedup, LSH/IVF ANN) have property tests but had no committed
precision/recall numbers. This closes the exact-vs-approximate loop:

1. Pair-level dedup quality on the PLANTED jaccard corpus
   (scripts/planted_truth_r13.gen_jaccard): 25 planted near-dup pairs
   with exact known jaccard (0.722..0.881, all above the minhash
   banding's ~0.59 S-curve midpoint), 30 sub-threshold decoy pairs
   (j=0.25), and unique-token noise docs. For minhash_dedup and
   simhash_dedup: recall over the planted pairs (per-pair detection
   beside its exact jaccard, so the recall@threshold curve is
   visible), decoy hits, global false-pair mass
   (sum over clusters of C(n,2) minus detected planted pairs), and
   pair-level precision.

2. ANN recall@10 on the REAL corpus (sf0.1/sf1/sf10 replicated
   layouts): ann_lsh_top10 and ivf_cosine_top10 vs the exact
   brute-force 6dp-rounded cosine ranking (numpy float64, the
   ann_cosine_top10 contract), and graph_ann_top10 vs the exact
   quantized-dot ranking (its own metric space).

Usage:  python scripts/planted_truth_r14.py [--scale smoke|sf1|sf10]
Writes corpora under /tmp/planted14/ and appends per-scale sections to
PLANTED_TRUTH_r14.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from planted_truth_r13 import gen_jaccard  # noqa: E402

OUT = "/tmp/planted14"
ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PLANTED_TRUTH_r14.json",
)

# Real-corpus directories for the ANN recall section (the sf1/sf10
# replicated layouts are built on demand by scale_curve_ops._ensure_corpora).
REAL_DIRS = {
    "smoke": ["/root/testdata/sf0.1"],
    "sf1": ["/tmp/sfbench/sf1"],
    "sf10": ["/tmp/sfbench/sf10"],
}


def gen_near_identical(path: str, scale: str) -> dict:
    """Corpus at SIMHASH's operating point: 25 planted NEAR-IDENTICAL
    pairs (300 shared tokens, d in {1,2,3} substituted tail tokens per
    side — wide-signature Hamming stays single-digit) plus the same
    unique-token noise floor as gen_jaccard. The jaccard corpus grades
    minhash (pairs at j 0.72-0.88); this one grades simhash, whose
    banding recalls only near-identical docs by design."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    noise = {"sf10": 10_000_000, "sf1": 1_000_000}.get(scale, 1_000)
    os.makedirs(path, exist_ok=True)
    f = os.path.join(path, "documents.parquet")
    writer = pq.ParquetWriter(
        f, pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    )
    rows_id: list[int] = []
    rows_tx: list[str] = []
    pairs = []
    did = 0
    t0 = time.time()
    for pi in range(25):
        d = 1 + pi % 3
        shared = " ".join(f"q{pi}s{t}" for t in range(300))
        a = shared + " " + " ".join(f"q{pi}a{t}" for t in range(d))
        b = shared + " " + " ".join(f"q{pi}b{t}" for t in range(d))
        # 5-gram arithmetic: grams fully inside the shared prefix are
        # common (296); each side adds d boundary/tail grams.
        pairs.append(
            {
                "id_a": did,
                "id_b": did + 1,
                "d": d,
                "n_inter": 296,
                "n_union": 296 + 2 * d,
                "jaccard": round(296 / (296 + 2 * d), 6),
            }
        )
        rows_id += [did, did + 1]
        rows_tx += [a, b]
        did += 2
    writer.write_table(
        pa.table(
            {
                "doc_id": pa.array(rows_id, pa.int64()),
                "text": pa.array(rows_tx, pa.string()),
            }
        )
    )
    base = 1_000_000
    chunk = 1_000_000
    for s0 in range(0, noise, chunk):
        sn = min(chunk, noise - s0)
        ids = np.arange(base + s0, base + s0 + sn)
        u = ids.astype("U12")
        text = np.char.add("m", u)
        for suffix in (" ma", " mb", " mc", " md", " me"):
            text = np.char.add(text, np.char.add(suffix, u))
        writer.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(text.tolist(), pa.string()),
                }
            )
        )
    writer.close()
    return {
        "n_docs_total": did + noise,
        "gen_sec": round(time.time() - t0, 1),
        "truth": {"top20": pairs, "rest": []},
        "decoys": 0,
    }


def _pair_quality(spark, path: str, truth: dict, op_name: str) -> dict:
    """Pair-level recall/precision of a (id, dup_of) clustering op on
    the planted-jaccard corpus."""
    from pyspark.sql import functions as F

    from healthcare_aihw_etl_pipeline_spark.operators import dedup as D
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, path, "documents")
    t0 = time.time()
    if op_name == "minhash":
        clustered = D.minhash_dedup(docs, "text", "doc_id")
    elif op_name == "simhash_wide":
        clustered = D.simhash_wide_dedup(docs, "text", "doc_id")
    else:
        clustered = D.simhash_dedup(docs, "text", "doc_id")
    # Planted + decoy ids live below 1e6 (noise starts at 1_000_000):
    # 110 rows, bounded collect.
    small = {
        int(r["doc_id"]): int(r["dup_of"])
        for r in clustered.where(F.col("doc_id") < 1_000_000)
        .select("doc_id", "dup_of")
        .collect()
    }
    # Global pair mass: one aggregate over the cluster sizes.
    mass = clustered.groupBy("dup_of").agg(
        F.count(F.lit(1)).alias("n")
    ).agg(
        F.sum(F.expr("n * (n - 1) / 2")).cast("long").alias("pairs")
    ).collect()[0]["pairs"]
    wall = round(time.time() - t0, 1)

    per_pair = []
    detected = 0
    for p in truth["truth"]["top20"] + truth["truth"].get("rest", []):
        hit = small.get(p["id_a"]) == small.get(p["id_b"])
        detected += int(hit)
        per_pair.append({"jaccard": p["jaccard"], "detected": bool(hit)})
    n_planted = len(per_pair)
    n_decoys = truth.get("decoys", 30)
    decoy_hits = sum(
        1
        for a in range(50, 50 + 2 * n_decoys, 2)
        if small.get(a) is not None and small.get(a) == small.get(a + 1)
    )
    false_pairs = int(mass) - detected
    return {
        "op_sec": wall,
        "planted_pairs": n_planted,
        "detected": detected,
        "recall": round(detected / n_planted, 3) if n_planted else None,
        "per_pair": per_pair,
        "decoy_pairs": n_decoys,
        "decoy_hits": decoy_hits,
        "total_cluster_pairs": int(mass),
        "false_pairs": false_pairs,
        "pair_precision": round(detected / mass, 4) if mass else None,
    }


def _ann_recall(spark, d: str) -> dict:
    """recall@10 of each ANN op vs its exact brute-force ranking."""
    import duckdb
    import numpy as np

    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{d}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([r[1] for r in rows], dtype=np.float64)
    q = M[ids == 0][0]
    # exact 6dp-rounded cosine ranking (the ann_cosine_top10 contract)
    cos = np.round(
        (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q)), 6
    )
    brute_cos = set(ids[np.lexsort((ids, -cos))[:10]].tolist())
    # exact quantized-dot ranking (graph_ann_top10's metric)
    X = M * 127.0
    Q = (np.sign(X) * np.floor(np.abs(X) + 0.5)).astype(np.int64)
    qd = Q @ Q[ids == 0][0]
    brute_dot = set(ids[np.lexsort((ids, -qd))[:10]].tolist())

    out: dict = {"n_vectors": int(len(ids))}
    for op, brute in (
        ("ann_lsh_top10", brute_cos),
        ("ivf_cosine_top10", brute_cos),
        ("graph_ann_top10", brute_dot),
    ):
        t0 = time.time()
        got = {
            int(r["vec_id"])
            for r in REGISTRY[op].build(spark, d).collect()
        }
        out[op] = {
            "recall_at_10": round(len(got & brute) / 10, 2),
            "query_sec": round(time.time() - t0, 1),
        }
        print(f"  {op} @ {d}: {out[op]}", file=sys.stderr, flush=True)
    return out


def main() -> None:
    scale = "smoke"
    ops = ["minhash", "simhash", "simhash_wide"]
    run_ann = True
    for i, a in enumerate(sys.argv):
        if a == "--scale":
            scale = sys.argv[i + 1]
        if a == "--ops":  # comma list; also disables the ANN section
            ops = sys.argv[i + 1].split(",")
            run_ann = False

    from healthcare_aihw_etl_pipeline_spark import get_spark

    spark = get_spark()
    section: dict = {"scale": scale}

    # 1. planted-jaccard pair quality
    path = os.path.join(OUT, f"jaccard_{scale}")
    marker = os.path.join(path, "documents.parquet")
    tpath = os.path.join(path, "truth.json")
    if os.path.exists(marker) and os.path.exists(tpath):
        with open(tpath) as fh:
            truth = json.load(fh)
    else:
        truth = gen_jaccard(path, scale)
        # keep the full 25-pair truth for the recall curve
        all_pairs = truth["truth"]["top20"]
        truth["truth"]["rest"] = [
            p for p in _all_pairs_full() if p not in all_pairs
        ]
        with open(tpath, "w") as fh:
            json.dump(truth, fh)
    print(f"jaccard corpus: {truth['n_docs_total']} docs", file=sys.stderr)
    for op in ops:
        section[f"{op}_pair_quality"] = _pair_quality(spark, path, truth, op)
        print(
            f"{op}: recall={section[f'{op}_pair_quality']['recall']} "
            f"precision={section[f'{op}_pair_quality']['pair_precision']}",
            file=sys.stderr,
            flush=True,
        )

    # 1b. near-identical corpus (simhash's operating point)
    ni_path = os.path.join(OUT, f"nearid_{scale}")
    ni_tpath = os.path.join(ni_path, "truth.json")
    if os.path.exists(os.path.join(ni_path, "documents.parquet")) and (
        os.path.exists(ni_tpath)
    ):
        with open(ni_tpath) as fh:
            ni_truth = json.load(fh)
    else:
        ni_truth = gen_near_identical(ni_path, scale)
        with open(ni_tpath, "w") as fh:
            json.dump(ni_truth, fh)
    print(
        f"near-identical corpus: {ni_truth['n_docs_total']} docs",
        file=sys.stderr,
    )
    for op in ops:
        key = f"{op}_near_identical_quality"
        section[key] = _pair_quality(spark, ni_path, ni_truth, op)
        print(
            f"{op} near-identical: recall={section[key]['recall']} "
            f"precision={section[key]['pair_precision']}",
            file=sys.stderr,
            flush=True,
        )

    # 2. ANN recall on the real corpus layout for this scale
    if run_ann:
        section["ann_recall"] = {}
        for d in REAL_DIRS.get(scale, []):
            if os.path.isfile(f"{d}/embeddings.parquet"):
                section["ann_recall"][d] = _ann_recall(spark, d)

    art = {}
    if os.path.exists(ARTIFACT):
        with open(ARTIFACT) as fh:
            art = json.load(fh)
    # merge (an --ops rerun updates only its keys)
    art.setdefault(scale, {}).update(section)
    with open(ARTIFACT, "w") as fh:
        json.dump(art, fh, indent=1)
    print(json.dumps({k: v for k, v in section.items() if k != "scale"})[:2000])


def _all_pairs_full() -> list[dict]:
    """The full 25-pair planted truth (gen_jaccard returns only the
    top-20; the tail 5 pairs complete the recall curve)."""
    from planted_truth_r13 import _pair_params

    out = []
    did = 0
    for k, m in _pair_params():
        out.append(
            {
                "id_a": did,
                "id_b": did + 1,
                "n_inter": k - 4,
                "n_union": k + 2 * m - 4,
                "jaccard": round((k - 4) / (k + 2 * m - 4), 6),
            }
        )
        did += 2
    return out


if __name__ == "__main__":
    main()
