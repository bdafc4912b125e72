#!/usr/bin/env python
"""Planted-truth rungs: queries checked against corpora whose answer is
known by construction, at scales where their DuckDB oracles are
infeasible (quadratic CTEs, temp-disk exhaustion) or where the operator
is approximate and has no oracle at all.

    python scripts/planted_truth.py --scale smoke|sf1|sf10 --out FILE.json
        [--rungs triangles,golden,...] [--root DIR]

Exact rungs pass or fail on the query's rows:

- ``triangles``: copurchase_triangle_count over disjoint part-cliques,
  a star hub and singleton orders;
- ``golden``: golden_record_customers over seeded name-typo clusters;
- ``clusters``: dedup_transitive_clusters over prefix-keyed duplicate
  clusters whose closure needs 2-hop chains;
- ``jaccard``: jaccard_pair_similarity's top-20 over pairs with exact
  5-gram arithmetic, sub-threshold decoys and unique-token noise;
- ``keepbest``: embedding_cluster_keep_best over sign-pattern clusters
  that are candidate-disjoint in every band;
- ``dupspan``: dup_span_stats' top-20 over documents sharing two spans.

Measurement rungs record numbers and never fail:

- ``pairs``: pair-level recall and precision of the MinHash/SimHash dedup
  operators on the jaccard corpus and on a near-identical corpus;
- ``ann``: recall@10 of the three ANN queries against an exact
  brute-force ranking, on a planted-cluster corpus (smoke only) and on
  the real corpus layout of the scale (skipped when absent).

Corpora go under one root (default ``<tempdir>/planted_truth``), one
directory per corpus and scale with a ``truth.json`` written last; a
corpus whose ``truth.json`` exists is reused. The scale's section is
merged into an existing ``--out`` and the file is rewritten after every
rung. Exit status 1 when an exact rung fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_curve_ops import DIRS  # noqa: E402

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# Real-corpus layout per scale for the ANN rung.
REAL_DIRS = {"smoke": DIRS["sf0.1"][0], "sf1": DIRS["sf1"][0], "sf10": DIRS["sf10"][0]}

# Noise ids start here; every planted and decoy id sits below.
_NOISE_BASE = 1_000_000


def _noise_docs(writer, n: int, first: str, suffixes: tuple[str, ...]) -> None:
    """n noise documents of globally unique tokens, ids from _NOISE_BASE."""
    import numpy as np
    import pyarrow as pa

    for s0 in range(0, n, 1_000_000):
        ids = np.arange(_NOISE_BASE + s0, _NOISE_BASE + min(n, s0 + 1_000_000))
        u = ids.astype("U12")
        text = np.char.add(first, u)
        for sfx in suffixes:
            text = np.char.add(text, np.char.add(sfx, u))
        writer.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(text.tolist(), pa.string()),
                }
            )
        )


def _docs_writer(path: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    return pq.ParquetWriter(
        os.path.join(path, "documents.parquet"),
        pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
    )


# ---------------------------------------------------------------------------
# Generators: each writes its corpus under `path` and returns its truth.


def gen_triangles(path: str, scale: str) -> dict:
    """lineitem (l_orderkey, l_partkey) as a disjoint union of
    part-cliques: every order carries its clique's full part set, so the
    distinct copurchase edge set is the clique edge set. A star hub
    (pair orders: edges, no triangles) and singleton orders (no edges)
    ride along. triangles = sum C(k,3), edges = sum C(k,2) + |star|,
    nodes = sum k + |star| + 1."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if scale == "sf10":  # ~60M lineitem-grain rows
        families = [  # (clique_size, n_cliques, orders_per_clique)
            (3, 1_000_000, 2),
            (8, 200_000, 3),
            (20, 20_000, 10),
            (40, 2_000, 100),
        ]
        star_pairs = 2_000_000
        singletons = 33_000_000
    elif scale == "sf1":
        families = [(3, 100_000, 2), (8, 20_000, 3), (20, 2_000, 10), (40, 200, 100)]
        star_pairs = 200_000
        singletons = 3_300_000
    else:
        families = [(3, 50, 2), (8, 10, 3), (20, 4, 10), (40, 2, 5)]
        star_pairs = 30
        singletons = 500

    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64())])
    writer = pq.ParquetWriter(os.path.join(path, "lineitem.parquet"), schema)

    next_part = 1
    next_order = 1
    tri = edges = nodes = 0
    t0 = time.time()
    for k, n_cliques, m_orders in families:
        tri += n_cliques * math.comb(k, 3)
        edges += n_cliques * math.comb(k, 2)
        nodes += n_cliques * k
        # parts: clique c owns [base + c*k, base + (c+1)*k)
        base_part = next_part
        next_part += n_cliques * k
        # orders: m_orders per clique, each carrying all k parts
        chunk = max(1, 2_000_000 // (k * m_orders))
        for c0 in range(0, n_cliques, chunk):
            cn = min(chunk, n_cliques - c0)
            cl = np.arange(c0, c0 + cn, dtype=np.int64)
            parts = base_part + cl[:, None] * k + np.arange(k, dtype=np.int64)
            parts = np.tile(parts, (1, m_orders)).reshape(-1)
            orders = next_order + cl[:, None] * m_orders + np.arange(m_orders, dtype=np.int64)
            orders = np.repeat(orders.reshape(-1), k)
            writer.write_table(pa.table({"l_orderkey": orders, "l_partkey": parts}))
        next_order += n_cliques * m_orders

    # star hub: pair orders (hub, fresh part)
    hub = next_part
    next_part += 1
    fresh = np.arange(next_part, next_part + star_pairs, dtype=np.int64)
    next_part += star_pairs
    edges += star_pairs
    nodes += star_pairs + 1
    okeys = np.arange(next_order, next_order + star_pairs, dtype=np.int64)
    next_order += star_pairs
    for i in range(0, star_pairs, 2_000_000):
        j = min(i + 2_000_000, star_pairs)
        writer.write_table(
            pa.table(
                {
                    "l_orderkey": np.repeat(okeys[i:j], 2),
                    "l_partkey": np.column_stack(
                        [np.full(j - i, hub, dtype=np.int64), fresh[i:j]]
                    ).reshape(-1),
                }
            )
        )

    # singleton orders: one fresh part each. A node exists only if it
    # has an edge, so these add neither.
    for i in range(0, singletons, 4_000_000):
        j = min(i + 4_000_000, singletons)
        writer.write_table(
            pa.table(
                {
                    "l_orderkey": np.arange(next_order + i, next_order + j, dtype=np.int64),
                    "l_partkey": np.arange(next_part + i, next_part + j, dtype=np.int64),
                }
            )
        )
    writer.close()
    return {
        "rows": sum(k * n * m for k, n, m in families) + 2 * star_pairs + singletons,
        "gen_sec": round(time.time() - t0, 1),
        "truth": {"n_triangles": tri, "n_edges": edges, "n_nodes": nodes},
    }


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _base_name(idx: int, width: int = 7) -> str:
    quad = "".join(ch * 4 for ch in str(idx).zfill(width))
    return f"Customer#{quad}"


def gen_golden(path: str, scale: str) -> dict:
    """customer corpus of seeded name-typo clusters. Base names encode
    the cluster index with every digit quadrupled, so distinct bases are
    >= 4 edits apart; each member is the base, an exact duplicate, or one
    substitution at a member-distinct position (1 edit from its base,
    >= 2 from every other cluster). The lev<=1 match graph therefore
    recovers exactly the planted clusters, and every survivorship field
    is known at generation time. The top-20 are the 20 clusters of
    distinct sizes 30..11, above every filler cluster (<= 4)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if scale == "sf10":  # 1.5M customer rows
        n_small, n_single = 100_000, 1_089_590
    elif scale == "sf1":
        n_small, n_single = 10_000, 109_590
    else:
        n_small, n_single = 50, 300
    big_sizes = list(range(30, 10, -1))

    rng = random.Random(12)
    probe = [_base_name(rng.randrange(10**7)) for _ in range(40)]
    for i in range(len(probe)):
        for j in range(i + 1, len(probe)):
            if probe[i] != probe[j]:
                assert _lev(probe[i], probe[j]) >= 4, (probe[i], probe[j])

    keys, names, nations, bals, segs = [], [], [], [], []
    expected_top = []
    t0 = time.time()

    def emit_cluster(cidx: int, size: int) -> dict:
        base = _base_name(cidx)
        golden_id = len(keys) + 1
        seg_set = set()
        max_bal_c = -(10**9)
        off = len(base) - 28  # first quad-digit position
        for j in range(size):
            key = len(keys) + 1
            if j == 0 or j % 7 == 3:
                nm = base  # base + exact duplicates (pre-clustering path)
            else:
                pos = off + (j % 28)
                nm = base[:pos] + chr(ord("a") + j % 26) + base[pos + 1:]
            bal_c = (key * 37) % 1_000_000
            keys.append(key)
            names.append(nm)
            nations.append(cidx % 25)
            bals.append(bal_c / 100.0)
            segs.append(SEGMENTS[j % 5])
            seg_set.add(SEGMENTS[j % 5])
            max_bal_c = max(max_bal_c, bal_c)
        return {
            "golden_id": golden_id,
            "golden_name": base,
            "n_members": size,
            "best_acctbal_c": max_bal_c,
            "n_segments": len(seg_set),
        }

    sizes = big_sizes + [4] * n_small + [1] * n_single
    for cidx, size in enumerate(sizes):
        row = emit_cluster(cidx, size)
        if cidx < len(big_sizes):
            expected_top.append(row)

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(keys, pa.int64()),
                "c_name": pa.array(names, pa.string()),
                "c_nationkey": pa.array(nations, pa.int32()),
                "c_acctbal": pa.array(bals, pa.float64()),
                "c_mktsegment": pa.array(segs, pa.string()),
            }
        ),
        os.path.join(path, "customer.parquet"),
    )
    return {"rows": len(keys), "gen_sec": round(time.time() - t0, 1), "truth": expected_top}


def gen_clusters(path: str, scale: str) -> dict:
    """documents of planted duplicate clusters. Each cluster owns a
    distinct 10-token prefix (the e2 edge key), so the component
    partition is the prefix partition; within a cluster, members pair
    into exact-duplicate subgroups (e1 edges whose group min is not the
    prefix min), so min-label propagation must walk 2-hop chains.
    Singleton noise docs have no edges and must be absent. Truth: the
    cluster-size histogram plus component/max_doc checksums."""
    import numpy as np
    import pyarrow as pa

    if scale == "sf10":  # ~20M docs
        families = [(2, 4_000_000), (5, 800_000), (50, 20_000), (1000, 500)]
        singletons = 6_500_000
    elif scale == "sf1":
        families = [(2, 400_000), (5, 80_000), (50, 2_000), (1000, 50)]
        singletons = 650_000
    else:
        families = [(2, 40), (5, 8), (50, 2), (1000, 1)]
        singletons = 65

    writer = _docs_writer(path)
    t0 = time.time()
    next_id = 0
    hist: dict[int, int] = {}
    comp_sum = 0  # sum over clusters of component id (= min member id)
    maxdoc_sum = 0  # sum over clusters of max member id
    ndocs_sum = 0
    cluster_idx = 0
    for size, n_clusters in families:
        hist[size] = hist.get(size, 0) + n_clusters
        chunk = max(1, 2_000_000 // size)
        for c0 in range(0, n_clusters, chunk):
            cn = min(chunk, n_clusters - c0)
            cids = np.arange(cluster_idx + c0, cluster_idx + c0 + cn)
            ids = next_id + (cids[:, None] - (cluster_idx + c0)) * size + np.arange(size)[None, :]
            # 10 shared tokens: c<id> + 9 fixed; the tail pairs members
            # (i//2) into identical-text subgroups.
            prefix = np.char.add(np.char.add("c", cids.astype("U12")), " p1 p2 p3 p4 p5 p6 p7 p8 p9 tail")
            sub = np.arange(size)[None, :] // 2
            text = np.char.add(np.char.add(prefix[:, None], " s"), sub.astype("U8"))
            writer.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(ids.ravel(), pa.int64()),
                        "text": pa.array(text.ravel().tolist(), pa.string()),
                    }
                )
            )
            comp_sum += int(ids[:, 0].sum())
            maxdoc_sum += int(ids[:, -1].sum())
            ndocs_sum += int(ids.size)
            next_id = int(ids[-1, -1]) + 1
        cluster_idx += n_clusters
    # noise: unique prefix and unique text -> no edges
    for s0 in range(0, singletons, 2_000_000):
        sn = min(2_000_000, singletons - s0)
        ids = np.arange(next_id, next_id + sn)
        text = np.char.add(np.char.add("z", ids.astype("U12")), " q1 q2 q3 q4 q5 q6 q7 q8 q9 lone")
        writer.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(text.tolist(), pa.string()),
                }
            )
        )
        next_id += sn
    writer.close()
    return {
        "n_docs_total": next_id,
        "gen_sec": round(time.time() - t0, 1),
        "truth": {
            "size_histogram": {str(k): v for k, v in sorted(hist.items())},
            "n_components": sum(hist.values()),
            "n_docs_in_components": ndocs_sum,
            "component_sum": comp_sum,
            "max_doc_sum": maxdoc_sum,
        },
    }


def _pair_params() -> list[tuple[int, int]]:
    """25 (k, m) with strictly descending jaccard (k-4)/(k+2m-4), all
    >= 0.5: m = 20, k = 300 - 8r."""
    out = [(300 - 8 * r, 20) for r in range(25)]
    js = [(k - 4) / (k + 2 * m - 4) for k, m in out]
    assert all(2 * (k - 4) >= k + 2 * m - 4 for k, m in out)
    assert all(js[i] > js[i + 1] + 1e-9 for i in range(len(js) - 1))
    return out


def gen_jaccard(path: str, scale: str) -> dict:
    """documents where the similar pairs are planted with exact 5-gram
    arithmetic: pair docs share a k-token prefix and carry m distinct
    tail tokens each, so n_inter = k-4 and n_union = k+2m-4. 25 pairs
    with strictly descending jaccard (sorted, top-20 first) get ids
    0..49, 30 sub-threshold decoy pairs (j = 0.25) ids 50..109, and
    unique-token noise docs share no gram at all."""
    import pyarrow as pa

    noise = {"sf10": 10_000_000, "sf1": 1_000_000}.get(scale, 1_000)
    writer = _docs_writer(path)
    t0 = time.time()
    rows_id: list[int] = []
    rows_tx: list[str] = []
    pairs = []
    did = 0
    for pi, (k, m) in enumerate(_pair_params()):
        shared = " ".join(f"p{pi}s{t}" for t in range(k))
        rows_id += [did, did + 1]
        rows_tx += [
            shared + " " + " ".join(f"p{pi}a{t}" for t in range(m)),
            shared + " " + " ".join(f"p{pi}b{t}" for t in range(m)),
        ]
        pairs.append(
            {
                "id_a": did,
                "id_b": did + 1,
                "n_inter": k - 4,
                "n_union": k + 2 * m - 4,
                "jaccard": round((k - 4) / (k + 2 * m - 4), 6),
            }
        )
        did += 2
    n_decoys = 30
    for qi in range(n_decoys):
        k, m = 24, 30  # j = 20/80 = 0.25 < 0.5
        shared = " ".join(f"d{qi}s{t}" for t in range(k))
        rows_id += [did, did + 1]
        rows_tx += [
            shared + " " + " ".join(f"d{qi}a{t}" for t in range(m)),
            shared + " " + " ".join(f"d{qi}b{t}" for t in range(m)),
        ]
        did += 2
    writer.write_table(
        pa.table({"doc_id": pa.array(rows_id, pa.int64()), "text": pa.array(rows_tx, pa.string())})
    )
    _noise_docs(writer, noise, "n", (" na", " nb", " nc", " nd", " ne"))
    writer.close()
    pairs.sort(key=lambda p: (-p["jaccard"], p["id_a"]))
    return {
        "n_docs_total": did + noise,
        "gen_sec": round(time.time() - t0, 1),
        "pairs": pairs,
        "decoys": n_decoys,
    }


def gen_near_identical(path: str, scale: str) -> dict:
    """SimHash's operating point: 25 near-identical pairs (300 shared
    tokens, d in {1,2,3} distinct tail tokens per side) over the same
    unique-token noise floor as gen_jaccard, no decoys."""
    import pyarrow as pa

    noise = {"sf10": 10_000_000, "sf1": 1_000_000}.get(scale, 1_000)
    writer = _docs_writer(path)
    t0 = time.time()
    rows_id: list[int] = []
    rows_tx: list[str] = []
    pairs = []
    did = 0
    for pi in range(25):
        d = 1 + pi % 3
        shared = " ".join(f"q{pi}s{t}" for t in range(300))
        rows_id += [did, did + 1]
        rows_tx += [
            shared + " " + " ".join(f"q{pi}a{t}" for t in range(d)),
            shared + " " + " ".join(f"q{pi}b{t}" for t in range(d)),
        ]
        # 296 grams lie inside the shared prefix; each side adds d.
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
        did += 2
    writer.write_table(
        pa.table({"doc_id": pa.array(rows_id, pa.int64()), "text": pa.array(rows_tx, pa.string())})
    )
    _noise_docs(writer, noise, "m", (" ma", " mb", " mc", " md", " me"))
    writer.close()
    return {"n_docs_total": did + noise, "gen_sec": round(time.time() - t0, 1), "pairs": pairs, "decoys": 0}


def gen_keepbest(path: str, scale: str) -> dict:
    """embeddings of planted semantic clusters. embedding_cluster_keep_best
    bands on coordinate signs (8 bands x 8 bits), so up to 256 clusters
    are candidate-disjoint in every band when each owns an injective byte
    per band. Members share one sign pattern and differ by a positive
    scale (within-cluster cosine exactly 1), so the components are the
    planted clusters. The keeper, argmax floor(norm*1e6 + 0.5)*2^32 + id,
    is computed with the engine's left-to-right float64 accumulation."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if scale == "sf10":  # ~196k vectors, ~235M scored pairs
        sizes = [10] * 100 + [1000] * 50 + [2900] * 50
    elif scale == "sf1":
        sizes = [10] * 100 + [300] * 50 + [900] * 50
    else:
        sizes = [3] * 10 + [7] * 5
    n_clusters = len(sizes)
    assert n_clusters <= 200
    rng = np.random.default_rng(13)
    bytes_per_band = np.stack([rng.permutation(256)[:n_clusters] for _ in range(8)])
    signs = np.zeros((n_clusters, 64), dtype=np.float32)
    for b in range(8):
        for j in range(8):
            bit = (bytes_per_band[b] >> j) & 1
            signs[:, b * 8 + j] = np.where(bit == 1, 1.0, -1.0)

    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
    writer = pq.ParquetWriter(os.path.join(path, "embeddings.parquet"), schema)
    t0 = time.time()
    next_id = 0
    truth_rows = []  # (size, keeper)
    for c, size in enumerate(sizes):
        ids = np.arange(next_id, next_id + size, dtype=np.int64)
        next_id += size
        t = (0.8 + 0.4 * np.arange(size) / max(size - 1, 1)).astype(np.float64)
        vecs = (t[:, None] * (signs[c] * 0.12)[None, :]).astype(np.float32)
        v64 = vecs.astype(np.float64)
        acc = np.zeros(size, dtype=np.float64)
        for j in range(64):
            acc = acc + v64[:, j] * v64[:, j]
        scaled = np.sqrt(acc) * 1e6 + 0.5
        # The fold above is bit-identical to the engine's l2_norm; this
        # tripwire fires only if the operator's order ever drifts.
        frac = np.abs(scaled - np.round(scaled))
        assert frac.min() > 1e-9, (c, float(frac.min()))
        q = np.floor(scaled).astype(np.int64)
        truth_rows.append((size, int(ids[np.argmax(q * (1 << 32) + ids)])))
        writer.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                }
            )
        )
    writer.close()
    hist: dict[int, dict] = {}
    for size, keeper in truth_rows:
        h = hist.setdefault(size, {"n_clusters": 0, "min_keeper": keeper})
        h["n_clusters"] += 1
        h["min_keeper"] = min(h["min_keeper"], keeper)
    return {
        "n_vecs_total": next_id,
        "gen_sec": round(time.time() - t0, 1),
        "histogram": [
            {
                "size": s,
                "n_clusters": h["n_clusters"],
                "n_removed": (s - 1) * h["n_clusters"],
                "min_keeper": h["min_keeper"],
            }
            for s, h in sorted(hist.items())
        ],
    }


_L1, _L2 = 40, 24  # the two shared span lengths


def gen_dup_spans(path: str, scale: str) -> dict:
    """50 planted documents (25 A/B pairs). Pair pi shares exactly two
    spans, S1 (40 tokens) and S2 (24 tokens), from pair-private
    alphabets; every other token is globally unique, so each doc's
    duplicated 8-grams merge into exactly two islands covering 64
    tokens (a 1-token unique gap keeps them apart). Doc j has 100 + j
    tokens, so dup_ppm strictly decreases: the top-20 is docs 0..19.
    Noise docs of 10 unique tokens each feed the gram aggregate."""
    import pyarrow as pa

    noise = {"sf10": 10_000_000, "sf1": 1_000_000}.get(scale, 1_000)
    writer = _docs_writer(path)
    t0 = time.time()
    ids, txt, truth = [], [], []
    for j in range(50):
        pi = j // 2
        n_tokens = 100 + j
        s1 = " ".join(f"p{pi}x{t}" for t in range(_L1))
        s2 = " ".join(f"p{pi}y{t}" for t in range(_L2))
        pre = " ".join(f"u{j}a{t}" for t in range(n_tokens - _L1 - _L2 - 2))
        ids.append(j)
        txt.append(" ".join([pre, s1, f"u{j}m0", s2, f"u{j}z0"]))
        truth.append(
            {
                "doc_id": j,
                "n_tokens": n_tokens,
                "n_spans": 2,
                "dup_tokens": _L1 + _L2,
                "max_span": _L1,
                "dup_ppm": (_L1 + _L2) * 1_000_000 // n_tokens,
            }
        )
    writer.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(txt, pa.string())}))
    _noise_docs(writer, noise, "m", (" ma", " mb", " mc", " md", " me", " mf", " mg", " mh", " mi"))
    writer.close()
    return {"n_docs_total": 50 + noise, "gen_sec": round(time.time() - t0, 1), "top20": truth[:20]}


_ANN_DIM = 64
_ANN_N = 2000
_ANN_CLUSTER = 12  # query + 11 siblings: the top-10 sits inside the cluster


def gen_ann_clustered(path: str, scale: str) -> dict:
    """Planted-structure embeddings: vec_id 0 and 11 siblings around one
    unit center with noise of total norm ~0.1 (member cosines ~0.99 with
    distinct 6dp margins), over i.i.d. Gaussian unit background vectors
    (cosine ~N(0, 1/8), ~12 sigma below the cluster). Every method that
    buckets or beams by similarity must recover the cluster. Same schema
    as the bench embeddings table; `label` flags the cluster."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(1606)
    center = rng.standard_normal(_ANN_DIM)
    center /= np.linalg.norm(center)
    cluster = center[None, :] + (0.1 / _ANN_DIM**0.5) * rng.standard_normal((_ANN_CLUSTER, _ANN_DIM))
    cluster /= np.linalg.norm(cluster, axis=1, keepdims=True)
    noise = rng.standard_normal((_ANN_N - _ANN_CLUSTER, _ANN_DIM))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    M = np.vstack([cluster, noise]).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": np.arange(_ANN_N, dtype=np.int64),
            "embedding": pa.array([row.tolist() for row in M], type=pa.list_(pa.float32())),
            "label": np.array([1] * _ANN_CLUSTER + [0] * (_ANN_N - _ANN_CLUSTER), dtype=np.int32),
        }
    )
    pq.write_table(tbl, os.path.join(path, "embeddings.parquet"))
    return {"n_vectors": _ANN_N}


def _corpus(root: str, name: str, scale: str, gen) -> tuple[str, dict]:
    """(corpus dir, truth) for `name` at `scale`: reused when its
    truth.json exists, else generated and the truth written last."""
    path = os.path.join(root, f"{name}_{scale}")
    tpath = os.path.join(path, "truth.json")
    if os.path.exists(tpath):
        with open(tpath) as fh:
            return path, json.load(fh)
    truth = gen(path, scale)
    with open(tpath, "w") as fh:
        json.dump(truth, fh)
    return path, truth


# ---------------------------------------------------------------------------
# Rungs: each returns ({section key: record}, passed), passed None for
# measurement rungs.


def _collect(spark, name: str, path: str) -> tuple[list, float]:
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    t0 = time.time()
    rows = REGISTRY[name].build(spark, path).collect()
    return rows, round(time.time() - t0, 1)


def _pick(rows, cols: tuple[str, ...]) -> list[dict]:
    return [{c: r[c] for c in cols} for r in rows]


def rung_triangles(spark, root: str, scale: str):
    path, meta = _corpus(root, "tri", scale, gen_triangles)
    rows, sec = _collect(spark, "copurchase_triangle_count", path)
    [got] = _pick(rows, ("n_triangles", "n_edges", "n_nodes"))
    ok = got == meta["truth"]
    return {
        "triangles": {
            "corpus_rows": meta["rows"],
            "truth": meta["truth"],
            "spark": got,
            "match": ok,
            "spark_sec": sec,
        }
    }, ok


def rung_golden(spark, root: str, scale: str):
    path, meta = _corpus(root, "gr", scale, gen_golden)
    rows, sec = _collect(spark, "golden_record_customers", path)
    got = _pick(rows, ("golden_id", "golden_name", "n_members", "best_acctbal_c", "n_segments"))
    ok = got == meta["truth"]
    return {
        "golden_record": {
            "corpus_rows": meta["rows"],
            "expected_top20": meta["truth"],
            "spark_top20": got,
            "match": ok,
            "spark_sec": sec,
        }
    }, ok


def rung_clusters(spark, root: str, scale: str):
    from pyspark.sql import functions as F

    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    path, meta = _corpus(root, "clusters", scale, gen_clusters)
    t0 = time.time()
    df = REGISTRY["dedup_transitive_clusters"].build(spark, path)
    [sums] = df.agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("n_docs").cast("long").alias("n_docs_in_components"),
        F.sum("component").cast("long").alias("component_sum"),
        F.sum("max_doc").cast("long").alias("max_doc_sum"),
    ).collect()
    hist = {
        str(r["n_docs"]): r["n"]
        for r in df.groupBy("n_docs").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {**sums.asDict(), "size_histogram": hist}
    ok = got == meta["truth"]
    return {
        "dedup_transitive_clusters": {
            **meta,
            "ok": ok,
            "got": got,
            "query_sec": round(time.time() - t0, 1),
        }
    }, ok


def rung_jaccard(spark, root: str, scale: str):
    path, meta = _corpus(root, "jaccard", scale, gen_jaccard)
    rows, sec = _collect(spark, "jaccard_pair_similarity", path)
    got = _pick(rows, ("id_a", "id_b", "n_inter", "n_union", "jaccard"))
    ok = got == meta["pairs"][:20]
    return {
        "jaccard_pair_similarity": {
            "n_docs_total": meta["n_docs_total"],
            "gen_sec": meta["gen_sec"],
            "ok": ok,
            "query_sec": sec,
            "truth_top20": meta["pairs"][:20],
            "got": got,
        }
    }, ok


def rung_keepbest(spark, root: str, scale: str):
    path, meta = _corpus(root, "keepbest", scale, gen_keepbest)
    rows, sec = _collect(spark, "embedding_cluster_keep_best", path)
    got = _pick(rows, ("size", "n_clusters", "n_removed", "min_keeper"))
    ok = got == meta["histogram"]
    return {
        "embedding_cluster_keep_best": {
            "n_vecs_total": meta["n_vecs_total"],
            "gen_sec": meta["gen_sec"],
            "ok": ok,
            "query_sec": sec,
            "truth_histogram": meta["histogram"],
            "got": got,
        }
    }, ok


def rung_dupspan(spark, root: str, scale: str):
    path, meta = _corpus(root, "dupspan", scale, gen_dup_spans)
    rows, sec = _collect(spark, "dup_span_stats", path)
    got = _pick(rows, ("doc_id", "n_tokens", "n_spans", "dup_tokens", "max_span", "dup_ppm"))
    ok = got == meta["top20"]
    section = {
        "n_docs_total": meta["n_docs_total"],
        "gen_sec": meta["gen_sec"],
        "query_sec": sec,
        "exact_top20_match": ok,
        "top20": got,
    }
    if not ok:
        section["expected"] = meta["top20"]
    return {"dup_span": section}, ok


_DEDUP_OPS = {
    "minhash": "minhash_dedup",
    "minhash_verified": "minhash_dedup_verified",
    "simhash": "simhash_dedup",
    "simhash_wide": "simhash_wide_dedup",
}
# (corpus, generator, section-key suffix, ops graded on it)
_PAIR_CORPORA = (
    ("jaccard", gen_jaccard, "pair_quality", ("minhash", "minhash_verified", "simhash", "simhash_wide")),
    ("nearid", gen_near_identical, "near_identical_quality", ("minhash", "simhash", "simhash_wide")),
)


def _pair_quality(spark, path: str, meta: dict, op: str) -> dict:
    """Pair-level recall/precision of an (id, dup_of) clustering op
    against the planted pairs and decoys of `meta`."""
    from pyspark.sql import functions as F

    from healthcare_aihw_etl_pipeline_spark.operators import dedup
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, path, "documents")
    t0 = time.time()
    clustered = getattr(dedup, _DEDUP_OPS[op])(docs, "text", "doc_id")
    # Planted and decoy rows only: a bounded collect.
    small = {
        int(r["doc_id"]): int(r["dup_of"])
        for r in clustered.where(F.col("doc_id") < _NOISE_BASE).select("doc_id", "dup_of").collect()
    }
    mass = (
        clustered.groupBy("dup_of")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).cast("long").alias("pairs"))
        .collect()[0]["pairs"]
    )
    wall = round(time.time() - t0, 1)

    per_pair = [
        {"jaccard": p["jaccard"], "detected": small.get(p["id_a"]) == small.get(p["id_b"])}
        for p in meta["pairs"]
    ]
    detected = sum(p["detected"] for p in per_pair)
    n_planted = len(per_pair)
    n_decoys = meta["decoys"]
    decoy_hits = sum(
        1
        for a in range(2 * n_planted, 2 * (n_planted + n_decoys), 2)
        if small.get(a) is not None and small.get(a) == small.get(a + 1)
    )
    return {
        "op_sec": wall,
        "planted_pairs": n_planted,
        "detected": detected,
        "recall": round(detected / n_planted, 3) if n_planted else None,
        "per_pair": per_pair,
        "decoy_pairs": n_decoys,
        "decoy_hits": decoy_hits,
        "total_cluster_pairs": int(mass),
        "false_pairs": int(mass) - detected,
        "pair_precision": round(detected / mass, 4) if mass else None,
    }


def rung_pairs(spark, root: str, scale: str):
    out = {}
    for name, gen, suffix, ops in _PAIR_CORPORA:
        path, meta = _corpus(root, name, scale, gen)
        for op in ops:
            q = out[f"{op}_{suffix}"] = _pair_quality(spark, path, meta, op)
            print(f"  {op} on {name}: recall={q['recall']} precision={q['pair_precision']}", file=sys.stderr, flush=True)
    return out, None


def _ann_recall(spark, d: str) -> dict:
    """recall@10 of each ANN query against its exact brute-force ranking
    for the probe vec_id 0."""
    import duckdb
    import numpy as np

    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    rows = duckdb.sql(f"SELECT vec_id, embedding FROM '{d}/embeddings.parquet' ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([r[1] for r in rows], dtype=np.float64)
    q = M[ids == 0][0]
    # 6dp-rounded cosine (the ann_cosine_top10 contract)
    cos = np.round((M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q)), 6)
    brute_cos = set(ids[np.lexsort((ids, -cos))[:10]].tolist())
    # int7-quantized dot (graph_ann_top10's metric)
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
        got = {int(r["vec_id"]) for r in REGISTRY[op].build(spark, d).collect()}
        out[op] = {
            "recall_at_10": round(len(got & brute) / 10, 2),
            "query_sec": round(time.time() - t0, 1),
        }
        print(f"  {op} @ {d}: {out[op]}", file=sys.stderr, flush=True)
    return out


def rung_ann(spark, root: str, scale: str):
    dirs = [REAL_DIRS[scale]]
    if scale == "smoke":
        dirs.insert(0, _corpus(root, "ann_clustered", scale, gen_ann_clustered)[0])
    out = {}
    for d in dirs:
        if os.path.isfile(f"{d}/embeddings.parquet"):
            out[d] = _ann_recall(spark, d)
        else:
            print(f"  ann: no corpus at {d}", file=sys.stderr)
    return {"ann_recall": out}, None


RUNGS = {
    "triangles": rung_triangles,
    "golden": rung_golden,
    "clusters": rung_clusters,
    "jaccard": rung_jaccard,
    "keepbest": rung_keepbest,
    "dupspan": rung_dupspan,
    "pairs": rung_pairs,
    "ann": rung_ann,
}


def main(argv: list[str] | None = None, spark=None) -> int:
    """Run the rungs; `spark` lets an in-process caller pass its own
    session. Returns the exit status."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scale", choices=("smoke", "sf1", "sf10"), default="smoke")
    ap.add_argument("--rungs", default=",".join(RUNGS), help="comma list (default: all)")
    ap.add_argument("--root", default=os.path.join(tempfile.gettempdir(), "planted_truth"), help="corpus root")
    ap.add_argument("--out", required=True, help="JSON artifact (its other sections are kept)")
    args = ap.parse_args(argv)
    rungs = args.rungs.split(",")
    unknown = [r for r in rungs if r not in RUNGS]
    if unknown:
        ap.error(f"unknown rungs: {unknown}")

    if spark is None:
        from healthcare_aihw_etl_pipeline_spark import get_spark

        spark = get_spark(app_name=f"planted-truth-{args.scale}")
    art: dict = {}
    if os.path.exists(args.out):
        with open(args.out) as fh:
            art = json.load(fh)
    section = art.setdefault(args.scale, {})
    section["scale"] = args.scale
    failed = []
    for name in rungs:
        records, ok = RUNGS[name](spark, args.root, args.scale)
        section.update(records)
        if ok is False:
            failed.append(name)
        print(f"[{name}] {'measured' if ok is None else ('ok' if ok else 'FAIL')}", file=sys.stderr, flush=True)
        with open(args.out, "w") as fh:
            json.dump(art, fh, indent=1)
    print(json.dumps({"scale": args.scale, "rungs": rungs, "failed": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
