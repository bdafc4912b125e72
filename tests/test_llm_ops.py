"""Property tests for the approximate LLM-data operators (SURVEY §7.3
hard part 3: no SQL oracle — plant known duplicates/neighbors and check
recall, self-similarity, and determinism instead)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    minhash_dedup,
    simhash_dedup,
    simhash64,
    word_shingles,
)
from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from healthcare_aihw_etl_pipeline_spark.operators.text import (
    bpe_token_count,
    lang_id,
    quality_score,
    rolling_fingerprint,
    ws_token_count,
)


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees"
)
NEAR = BASE.replace("warm", "cold")  # one-token edit
FAR = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution and shuffles"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_catches_identical(spark, planted):
    dup = {r.doc_id: r.dup_of for r in exact_dedup(planted, "text", "doc_id").collect()}
    assert dup[1] == 0  # identical text → keeper is min id
    assert dup[0] == 0 and dup[2] == 2 and dup[3] == 3


def test_minhash_catches_near_dup(spark, planted):
    dup = {r.doc_id: r.dup_of for r in minhash_dedup(planted, "text", "doc_id").collect()}
    assert dup[1] == 0  # identical always collides
    assert dup[2] == 0  # one-token edit shares most shingles → banded together
    assert dup[3] == 3  # unrelated text stays its own cluster


def test_simhash_identical_and_near(spark, planted):
    res = {r.doc_id: (r.simhash, r.dup_of) for r in simhash_dedup(planted, "text", "doc_id").collect()}
    assert res[0][0] == res[1][0]  # identical text → identical simhash
    assert res[1][1] == 0
    assert res[2][1] == 0  # small edit → shares a 16-bit band
    assert res[3][1] == 3


def test_simhash_deterministic(spark, planted):
    a = planted.select(simhash64("text").alias("h")).collect()
    b = planted.select(simhash64("text").alias("h")).collect()
    assert [r.h for r in a] == [r.h for r in b]


def test_jaccard_verify_exact_values(spark, planted):
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], ["left_id", "right_id"])
    out = {
        (r.left_id, r.right_id): r.jaccard
        for r in jaccard_verify(pairs, planted, "doc_id", "text", threshold=0.0).collect()
    }
    assert out[(0, 1)] == 1.0  # identical sets
    assert 0.5 < out[(0, 2)] < 1.0  # one-token edit
    assert out[(0, 3)] < 0.05  # disjoint content


def test_word_shingles_shape(spark):
    df = spark.createDataFrame([("a b c d e f",)], ["t"])
    sh = df.select(word_shingles(F.col("t"), 5).alias("s")).first()[0]
    assert sh == ["a b c d e", "b c d e f"]


def test_brute_force_self_similarity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    top = brute_force_topk(emb, "embedding", "vec_id", q, 5).collect()
    assert top[0]["vec_id"] == 0
    assert top[0]["cos"] == pytest.approx(1.0, abs=1e-9)
    cos_vals = [r["cos"] for r in top]
    assert cos_vals == sorted(cos_vals, reverse=True)


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"] for r in brute_force_topk(emb, "embedding", "vec_id", q, 10).collect()}
    approx = {r["vec_id"] for r in lsh_topk(emb, "embedding", "vec_id", q, 10).collect()}
    assert 0 in approx  # the query vector's own bucket is always probed
    recall = len(exact & approx) / 10
    assert recall >= 0.3, f"LSH recall {recall} too low"


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! 42 tokens?",)], ["t"])
    r = df.select(
        ws_token_count("t").alias("ws"), bpe_token_count("t").alias("bpe")
    ).first()
    assert r.ws == 4
    # hello , world ! 42 tokens ? → 7
    assert r.bpe == 7


def test_lang_id_heuristic(spark):
    rows = [
        ("the cat is in the house and it is warm", "en"),
        ("el gato está en la casa de los abuelos", "es"),
        ("der hund ist nicht in das haus von ihm", "de"),
        ("le chat est dans la maison pour les enfants", "fr"),
        ("你好世界这是一个测试文档内容很长", "zh"),
        ("zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame(rows, ["t", "expected"])
    out = df.select("expected", lang_id("t").alias("got")).collect()
    for r in out:
        assert r.got == r.expected, f"{r.expected} misidentified as {r.got}"


def test_quality_score_ordering(spark):
    rows = [
        ("good", BASE),
        ("too_short", "hi"),
        ("punct_soup", "!!! ??? ;;; ### $$$ %%% &&& *** ((( )))"),
        ("digit_soup", "1 2 3 4 5 6 7 8 9 0 11 22 33 44 55 66 77 88 99 00"),
    ]
    df = spark.createDataFrame(rows, ["name", "t"])
    q = {r.name: r.q for r in df.select("name", quality_score("t").alias("q")).collect()}
    assert q["good"] > q["too_short"]
    assert q["good"] > q["punct_soup"]
    assert q["good"] > q["digit_soup"]
    assert all(0.0 <= v <= 1.0 for v in q.values())


def test_rolling_fingerprint_properties(spark, planted):
    fp = {r.doc_id: tuple(r.fp) for r in planted.select(
        "doc_id", rolling_fingerprint("text").alias("fp")
    ).collect()}
    assert fp[0] == fp[1]  # identical text → identical sketch
    assert fp[0] != fp[3]  # different text → different sketch
    assert len(fp[0]) == 4


def test_lsh_signature_vectorized_matches_expression(spark, sf_dir):
    from pyspark.sql import functions as F

    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        hyperplanes,
        lsh_signature,
        lsh_signature_vectorized,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = hyperplanes(64, 8)
    expr = emb.select("vec_id", lsh_signature("embedding", planes).alias("s"))
    fast = emb.select(
        "vec_id", lsh_signature_vectorized(planes)(F.col("embedding")).alias("s")
    )
    a = {r.vec_id: r.s for r in expr.collect()}
    b = {r.vec_id: r.s for r in fast.collect()}
    assert a == b


def test_minhash_signature_vectorized_matches_expression(spark, planted, sf_dir):
    """The Arrow-batched permutation-minima path must be BIT-identical to
    the expression fold — both run min((a·h+b) mod P) over the same
    JVM-computed shingle hashes."""
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_vectorized,
        token_shingle_hashes,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    sh = token_shingle_hashes(F.col("text"), 5)
    expr = docs.select("doc_id", minhash_signature(sh, 32, 42).alias("s"))
    fast = docs.select(
        "doc_id", minhash_signature_vectorized(sh, 32, 42).alias("s")
    )
    a = {r.doc_id: list(r.s) for r in expr.collect()}
    b = {r.doc_id: list(r.s) for r in fast.collect()}
    assert a == b


def test_minhash_hot_bucket_no_straggler(spark):
    """A deliberately hot bucket (many identical docs) must still resolve:
    the groupBy+join bucket-min shape gives every copy dup_of = min id."""
    hot = [(i, "identical boilerplate text repeated across the corpus aa bb cc dd ee")
           for i in range(500)]
    cold = [(10_000 + i, f"unique document number {i} with distinct content tail {i * 17}")
            for i in range(20)]
    df = spark.createDataFrame(hot + cold, ["doc_id", "text"]).repartition(16)
    dup = {r.doc_id: r.dup_of for r in minhash_dedup(df, "text", "doc_id").collect()}
    assert all(dup[i] == 0 for i in range(500))
    assert all(dup[10_000 + i] == 10_000 + i for i in range(20))


def test_ivf_topk_recall(spark, sf_dir):
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"] for r in brute_force_topk(emb, "embedding", "vec_id", q, 10).collect()}
    approx_rows = ivf_topk(emb, "embedding", "vec_id", q, 10, n_centroids=8, nprobe=4).collect()
    approx = {r["vec_id"] for r in approx_rows}
    assert 0 in approx  # the query's own cell is always probed
    assert len(approx_rows) == 10
    recall = len(exact & approx) / 10
    assert recall >= 0.4, f"IVF recall {recall} too low"


def test_connected_components_chain_and_islands(spark):
    """Transitive closure must link chains the star policy cannot:
    1-2, 2-3 ⇒ 3's component is 1 even though (1,3) share no edge."""
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 6)], ["src", "dst"]
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6}


def test_connected_components_long_chain_converges(spark, monkeypatch):
    """A 12-node path graph needs multiple propagation rounds — the loop
    must reach the fixed point, not stop early. A cap of 0 forces the
    DISTRIBUTED pointer-jumping path (the default would take the
    bounded driver union-find fast path on a graph this small), so this
    test keeps the at-scale loop itself covered."""
    from healthcare_aihw_etl_pipeline_spark.operators import dedup

    monkeypatch.setattr(dedup, "_CC_SMALL_EDGE_CAP", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11, 0, -1)], ["src", "dst"]
    )
    comp = {
        r.node: r.component
        for r in dedup.connected_components(edges).collect()
    }
    assert set(comp.values()) == {1}
    assert len(comp) == 12


def test_connected_components_paths_agree_at_cap_boundary(
    spark, monkeypatch, jobs_run
):
    """Driver union-find and the distributed loop must return identical
    labelings on the same graph — including exactly at the cap boundary
    (symmetric edge count == cap takes the fast path, cap-1 forces the
    loop). Mixed topology: chain + triangle + isolated edge. The fast
    path runs 4 Spark jobs: its one bounded probe collect is the edge
    list, with no separate count."""
    from healthcare_aihw_etl_pipeline_spark.operators import dedup

    raw = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    n_sym = 2 * len(raw)  # no duplicate/self edges → symmetric count

    def closure(cap):
        monkeypatch.setattr(dedup, "_CC_SMALL_EDGE_CAP", cap)
        return {
            r.node: r.component
            for r in dedup.connected_components(edges).collect()
        }

    fast, jobs = jobs_run(lambda: closure(n_sym))
    assert jobs == 4
    dist = closure(n_sym - 1)
    assert fast == dist
    assert fast[4] == 1 and fast[12] == 10 and fast[21] == 20


def test_dup_edges_deterministic_links_prefix_and_exact(spark):
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        dup_edges_deterministic,
    )

    rows = [
        (0, BASE),
        (1, BASE),                      # exact dup of 0
        (2, BASE + " trailing extra"),  # same 10-token prefix as 0
        (3, FAR),                       # unrelated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    edges = {(r.src, r.dst) for r in dup_edges_deterministic(df, "text", "doc_id").collect()}
    assert (0, 1) in edges and (0, 2) in edges
    assert not any(3 in e for e in edges)


def test_minhash_ml_finds_planted_pairs(spark, planted):
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import minhash_dedup_ml

    pairs = {
        (r.left_id, r.right_id): r.jaccard_distance
        for r in minhash_dedup_ml(planted, "text", "doc_id").collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0.0  # identical docs
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup pair surfaces
    assert (0, 3) not in pairs  # unrelated pair filtered by distance


def test_asof_join_tie_and_no_match(spark):
    """Inclusive at equal ts; NULL when no prior right row; latest prior
    row wins."""
    from healthcare_aihw_etl_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 50, "c")], ["k", "t", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 100, "r1"), (1, 150, "r2"), (2, 60, "r3")], ["k", "t", "v"]
    )
    out = {
        r.tag: r.v_asof
        for r in asof_join(left, right, on=["k"], ts="t", value_cols=["v"]).collect()
    }
    assert out["a"] == "r1"   # equal ts matches (inclusive)
    assert out["b"] == "r2"   # latest prior, not first
    assert out["c"] is None   # right row is later → no match


def test_asof_join_null_value_and_null_ts(spark):
    """DuckDB ASOF LEFT JOIN parity on NULLs: the MATCHED row's NULL value
    column is carried as NULL (not skipped for an older non-NULL row),
    and a right row with NULL ts never matches anything."""
    from healthcare_aihw_etl_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 200, "a"), (2, 100, "b")], ["k", "t", "tag"])
    right = spark.createDataFrame(
        [
            (1, 100, "old"),
            (1, 150, None),   # matched row for "a" carries NULL v
            (2, None, "leak"),  # NULL ts: must match nothing
        ],
        "k int, t int, v string",
    )
    out = {
        r.tag: r.v_asof
        for r in asof_join(left, right, on=["k"], ts="t", value_cols=["v"]).collect()
    }
    assert out["a"] is None   # NOT "old" — matched row's NULL preserved
    assert out["b"] is None   # NULL-ts right row dropped, no leak


def test_asof_join_forward_direction(spark):
    """Forward mode: smallest right ts >= left ts (inclusive), NULL when
    nothing follows."""
    from healthcare_aihw_etl_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 160, "b"), (1, 300, "c"), (2, 50, "d")],
        ["k", "t", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 100, "r1"), (1, 150, "r2"), (1, 250, "r3"), (2, 40, "r4")],
        ["k", "t", "v"],
    )
    native = {
        r.tag: r.v_asof
        for r in asof_join(
            left, right, on=["k"], ts="t", value_cols=["v"], direction="forward"
        ).collect()
    }
    assert native == {
        "a": "r1",  # equal ts matches (inclusive)
        "b": "r3",  # next upcoming, skipping the earlier r2
        "c": None,  # nothing follows
        "d": None,  # right row is earlier → no forward match
    }


def test_chunk_tokens_boundaries(spark):
    from healthcare_aihw_etl_pipeline_spark.operators.text import chunk_tokens

    rows = [
        (0, " ".join(str(i) for i in range(5))),    # shorter than one window
        (1, " ".join(str(i) for i in range(10))),   # exactly one window
        (2, " ".join(str(i) for i in range(17))),   # remainder chunk
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: [list(c) for c in r.ch]
        for r in df.select(
            "doc_id", chunk_tokens("text", size=10, stride=8).alias("ch")
        ).collect()
    }
    assert out[0] == [[str(i) for i in range(5)]]
    assert out[1] == [[str(i) for i in range(10)], ["8", "9"]]
    assert out[2] == [
        [str(i) for i in range(10)],
        [str(i) for i in range(8, 17)],
        ["16"],
    ]


def test_hash_split_deterministic_and_partition_invariant(spark):
    from healthcare_aihw_etl_pipeline_spark.operators.text import hash_split

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.s for r in df.select("doc_id", hash_split("doc_id").alias("s")).collect()}
    b = {
        r.doc_id: r.s
        for r in df.repartition(13)
        .select("doc_id", hash_split("doc_id").alias("s"))
        .collect()
    }
    assert a == b
    frac_train = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.75 < frac_train < 0.85


def test_embedding_near_dup_planted_pair(spark):
    """A near-identical vector pair shares every sign bit → candidate in
    all 8 bands; an anti-correlated pair shares none. Exact cosine on the
    surviving pairs confirms the planted pair ranks first."""
    import random

    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    near = [x + 0.001 for x in base]
    anti = [-x for x in base]
    rows = [(0, base), (1, near), (2, anti)] + [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dup_pairs(df, "embedding", "vec_id").collect()
    by_pair = {(r.id_a, r.id_b): r.cos for r in pairs}
    assert (0, 1) in by_pair and by_pair[(0, 1)] > 0.999
    assert (0, 2) not in by_pair and (2, 0) not in by_pair
    assert all(a < b for a, b in by_pair), "pairs must be ordered id_a < id_b"
    assert len(by_pair) == len(pairs), "pair keys must be deduplicated"


def test_hash_sample_nested_and_deterministic(spark):
    """Samples at increasing rates are nested; rate 0 and 1 are exact;
    the predicate is partition-layout-independent."""
    from healthcare_aihw_etl_pipeline_spark.operators.text import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    n = df.count()
    kept = {
        r: set(
            x.doc_id
            for x in df.where(hash_sample("doc_id", r)).collect()
        )
        for r in (0.0, 0.05, 0.2, 1.0)
    }
    assert kept[0.0] == set()
    assert len(kept[1.0]) == n
    assert kept[0.05] <= kept[0.2] <= kept[1.0]
    # ~rate n within the 1/256 threshold granularity (floor(0.2*256)=51)
    assert abs(len(kept[0.2]) / n - 51 / 256) < 0.05
    repart = set(
        x.doc_id
        for x in df.repartition(13).where(hash_sample("doc_id", 0.2)).collect()
    )
    assert repart == kept[0.2]


def test_approx_event_profile_tolerance(spark, sf_dir):
    """Sketch answers must land within tight relative error of exact:
    HLL++ at rsd=1% (allow 3%), percentile_approx at 10k accuracy
    (allow 2% relative on the value scale)."""
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

    got = {
        r.event_type: r
        for r in REGISTRY["approx_event_profile"].fn(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
        .collect()
    }
    values = {
        et: sorted(
            r.value
            for r in events.where(F.col("event_type") == et).select("value").collect()
        )
        for et in exact
    }
    assert set(got) == set(exact)
    for et, e in exact.items():
        g = got[et]
        assert abs(g.approx_users - e.users) <= max(3, 0.03 * e.users), et
        # GK-sketch guarantee is on RANK, not value: the returned element's
        # empirical rank must be within ±eps of the target quantile (±one
        # element for ties/rounding at small n).
        vs = values[et]
        n = len(vs)
        for a, p in zip(
            (g.value_p50, g.value_p90, g.value_p99), (0.5, 0.9, 0.99)
        ):
            rank = sum(1 for v in vs if v <= a) / n
            assert p - 0.02 - 1.5 / n <= rank <= p + 0.02 + 1.5 / n, (et, a, p, rank)


def test_cluster_outlier_scores_finds_planted_outlier(spark):
    """Batch applyInPandas custom op: a far-away vector planted in a
    tight cluster must receive the group's top outlier score; scores are
    per-row and group-complete."""
    import random

    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        cluster_outlier_scores,
    )

    rng = random.Random(11)
    rows = []
    for g in (0, 1):
        center = [rng.uniform(-1, 1) for _ in range(8)]
        for i in range(40):
            rows.append(
                (g * 100 + i, g, [c + rng.gauss(0, 0.05) for c in center])
            )
        rows.append((g * 100 + 99, g, [c + 5.0 for c in center]))  # outlier
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<double>")
    out = cluster_outlier_scores(df, "embedding", "vec_id", "label").collect()
    assert len(out) == len(rows)
    for g in (0, 1):
        grp = [r for r in out if r.group == g]
        top = max(grp, key=lambda r: r.outlier_score)
        assert top.vec_id == g * 100 + 99, (g, top)


def test_asof_self_join_matches_two_sided(spark, sf_dir):
    """The single-scan self-as-of (disjoint predicates over one
    relation) must produce exactly the two-sided union+window form's
    rows on the events corpus — plus the NULL-ts / tie / NULL-value
    edge cases on a synthetic frame."""
    from healthcare_aihw_etl_pipeline_spark.operators.asof import (
        asof_join,
        asof_self_join,
    )
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    clicks = events.where(F.col("event_type") == "click").select("user_id", "ts")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    two_sided = {
        (r.user_id, r.ts, r.ts_asof)
        for r in asof_join(
            clicks, purchases, on=["user_id"], ts="ts", value_cols=["ts"]
        ).collect()
    }
    one_scan = {
        (r.user_id, r.ts, r.ts_asof)
        for r in asof_self_join(
            events,
            on=["user_id"],
            ts="ts",
            left_pred=F.col("event_type") == "click",
            right_pred=F.col("event_type") == "purchase",
            value_cols=["ts"],
        ).collect()
    }
    assert one_scan == two_sided
    assert any(t[2] is not None for t in one_scan)

    # Edge cases: equal-ts tie matches inclusively (right sorts first);
    # right row with NULL ts never matches; carried NULL value survives.
    rows = [
        (1, 10, "L", None),  # tie with the right row at ts=10
        (1, 10, "R", 7),
        (1, 5, "L", None),  # before any right row -> NULL match
        (2, 9, "L", None),  # right NULL ts must not match
        (2, None, "R", 3),
        (3, 8, "L", None),  # matched right row carries NULL value
        (3, 6, "R", None),
    ]
    df = spark.createDataFrame(rows, "k int, t int, side string, v int")
    got = {
        (r.k, r.t): (r.t_asof, r.v_asof)
        for r in asof_self_join(
            df,
            on=["k"],
            ts="t",
            left_pred=F.col("side") == "L",
            right_pred=F.col("side") == "R",
            value_cols=["t", "v"],
        ).collect()
    }
    assert got == {
        (1, 10): (10, 7),
        (1, 5): (None, None),
        (2, 9): (None, None),
        (3, 8): (6, None),
    }


def test_hll_rollup_mergeability_law(spark, sf_dir, duck):
    """The sketch-rollup pattern is only valid if union-of-partials
    equals the direct global sketch EXACTLY (register-wise MAX is
    lossless and order-insensitive), the estimate stays within the
    error envelope of the exact count — and, because the registers are
    PORTABLE (md5 + integer arithmetic), the whole result replays
    bit-for-bit in DuckDB."""
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    q = REGISTRY["hll_rollup_distinct_users"]
    row = q.fn(spark, sf_dir).first()
    assert row.rollup_estimate == row.direct_estimate  # mergeability
    assert row.n_daily_sketches > 1  # the rollup actually unioned
    assert row.rel_error <= 0.05  # lgK=12: ~1.6% typical, LC exact-ish
    assert tuple(duck.execute(q.oracle).fetchone()) == tuple(row)


def test_theta_sketch_set_algebra_replays_and_bounds(spark, sf_dir, duck):
    """Fixed-threshold theta: the sampled-set algebra must replay
    bit-for-bit in DuckDB (the sketch is md5 + integer arithmetic),
    estimates are even multiples of 1/p, bounded by the p-scaled
    universe, and the exact columns are true set-operation counts."""
    from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
        THETA_INV_P,
    )
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    q = REGISTRY["theta_sketch_audience_overlap"]
    row = q.fn(spark, sf_dir).first()
    assert tuple(duck.execute(q.oracle).fetchone()) == tuple(row)
    assert row.exact_either >= row.exact_both > 0
    for est in (row.est_both, row.est_click_only, row.est_either):
        assert est % THETA_INV_P == 0 and est >= 0
    # subset laws survive sampling: the sampled sets are genuine sets
    assert row.est_both <= row.est_either
    assert row.est_click_only <= row.est_either
    # estimator is unbiased; at bench scale bound it loosely
    assert row.est_either <= THETA_INV_P * row.exact_either


def test_theta_retention_replays_and_bounds(spark, sf_dir, duck):
    from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
        THETA_INV_P,
    )
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    q = REGISTRY["theta_retention_day7"]
    rows = q.fn(spark, sf_dir).collect()
    assert rows, "no day pairs found"
    got = [tuple(r) for r in rows]
    assert got == [tuple(r) for r in duck.execute(q.oracle).fetchall()]
    assert any(r.exact_retained > 0 for r in rows)
    for r in rows:
        # a sampled intersection cannot exceed the p-scaled exact one
        assert 0 <= r.est_retained <= THETA_INV_P * r.exact_retained


def test_minhash_portable_catches_near_dup_and_replays(spark, planted, duck, sf_dir):
    """Portable md5-minwise MinHash: same dedup behavior as the
    xxhash64 fast path on planted docs, and the registered cluster
    query replays bit-for-bit in DuckDB (full LSH pipeline oracle)."""
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        minhash_dedup_portable,
    )
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    dup = {
        r.doc_id: r.dup_of
        for r in minhash_dedup_portable(planted, "text", "doc_id").collect()
    }
    assert dup[1] == 0  # identical always collides
    assert dup[2] == 0  # one-token edit shares most shingles
    assert dup[3] == 3  # unrelated text stays its own cluster

    q = REGISTRY["minhash_dup_clusters_portable"]
    sp = [tuple(r) for r in q.fn(spark, sf_dir).collect()]
    du = [tuple(r) for r in duck.execute(q.oracle).fetchall()]
    assert sp == du


def test_minhash_ragged_banding_rejected(spark, planted):
    """num_hashes not divisible by bands must raise, not silently drop
    trailing minhash functions (which would weaken the LSH guarantee
    and diverge from the fixed-parameter DuckDB oracle)."""
    import pytest

    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        minhash_dedup,
        minhash_dedup_portable,
        minhash_dedup_verified,
        minhash_dedup_verified_portable,
    )

    for op, num_hashes, bands in (
        (minhash_dedup_portable, 10, 4),
        (minhash_dedup, 30, 8),
        (minhash_dedup_verified_portable, 10, 4),
        (minhash_dedup_verified, 30, 8),
    ):
        with pytest.raises(ValueError, match="divisible"):
            op(planted, "text", "doc_id", num_hashes=num_hashes, bands=bands)


def _plan_shape(df) -> tuple[int, int, int, int]:
    """(shuffle Exchange, BroadcastExchange, SortMergeJoin,
    BroadcastHashJoin) node counts of the planned physical plan."""
    import re
    from collections import Counter

    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = Counter(
        re.match(r"[\s+\-:|]*(?:\*\(\d+\) )?(\w+)", line).group(1)
        for line in plan.splitlines()
        if line.strip()
    )
    return tuple(
        nodes[k]
        for k in ("Exchange", "BroadcastExchange", "SortMergeJoin", "BroadcastHashJoin")
    )


@pytest.mark.parametrize(
    "fast,portable,shape",
    [
        ("minhash_dedup", "minhash_dedup_portable", (2, 1, 0, 1)),
        ("simhash_dedup", "simhash_dedup_portable", (2, 1, 0, 1)),
        ("minhash_dedup_verified", "minhash_dedup_verified_portable", (18, 5, 5, 5)),
    ],
)
def test_dedup_twins_plan_same_shape(spark, sf_dir, fast, portable, shape):
    """Each xxhash64 operator and its md5 twin share their banding,
    bucket-min and verify code, so over the same documents they plan
    the same exchanges and joins."""
    from healthcare_aihw_etl_pipeline_spark.operators import dedup
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert _plan_shape(getattr(dedup, fast)(docs, "text", "doc_id")) == shape
    assert _plan_shape(getattr(dedup, portable)(docs, "text", "doc_id")) == shape


def test_rep_sig_source_gate_sides_agree(spark, monkeypatch):
    """The portable verified dedup signs only the exact-hash reps
    (broadcast semi-join) when at least half the docs are exact
    duplicates; forcing the all-docs side by a zero ceiling gives the
    same (doc_id, dup_of) rows."""
    from healthcare_aihw_etl_pipeline_spark.operators import dedup

    texts = [BASE, BASE, NEAR, FAR]
    docs = spark.createDataFrame(
        [(i, texts[i % 4]) for i in range(12)], ["doc_id", "text"]
    )
    taken = []

    def spy(*args):
        src = real(*args)
        taken.append(src._jdf.queryExecution().optimizedPlan().toString())
        return src

    real = dedup._rep_sig_source
    monkeypatch.setattr(dedup, "_rep_sig_source", spy)
    semi = sorted(dedup.minhash_dedup_verified_portable(docs, "text", "doc_id").collect())
    monkeypatch.setattr(dedup, "_REP_SEMIJOIN_MAX_REPS", 0)
    all_docs = sorted(dedup.minhash_dedup_verified_portable(docs, "text", "doc_id").collect())
    assert "LeftSemi" in taken[0]
    assert "LeftSemi" not in taken[1]
    assert semi == all_docs
    dup = {r.doc_id: r.dup_of for r in semi}
    assert dup[5] == 0 and dup[7] == 3  # BASE and FAR copies


def test_simhash_portable_catches_near_dup_and_replays(spark, planted, duck, sf_dir):
    """Portable md5 SimHash: identical docs share a signature, a
    one-token edit lands within banding distance, and the registered
    cluster query replays bit-for-bit in DuckDB."""
    from healthcare_aihw_etl_pipeline_spark.operators.dedup import (
        simhash_dedup_portable,
        simhash_portable,
    )
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    res = {
        r.doc_id: (r.simhash, r.dup_of)
        for r in simhash_dedup_portable(planted, "text", "doc_id").collect()
    }
    assert res[0][0] == res[1][0]  # identical text -> identical simhash
    assert res[1][1] == 0
    assert res[2][1] == 0  # small edit -> shares a 15-bit band
    assert res[3][1] == 3
    assert all(0 <= h < (1 << 60) for h, _ in res.values())

    # deterministic across plan instances
    a = planted.select(simhash_portable("text").alias("h")).collect()
    b = planted.select(simhash_portable("text").alias("h")).collect()
    assert [r.h for r in a] == [r.h for r in b]

    q = REGISTRY["simhash_dup_clusters_portable"]
    sp = [tuple(r) for r in q.fn(spark, sf_dir).collect()]
    assert sp == [tuple(r) for r in duck.execute(q.oracle).fetchall()]


def test_qlsh_portable_ann_properties_and_replay(spark, sf_dir, duck):
    """Portable quantized-LSH ANN: the probe's own bucket contains the
    probe, ranking is a total order on exact integer dots, signs are
    genuinely mixed (the md5 parity isn't degenerate), and the full
    pipeline replays bit-for-bit in DuckDB."""
    from healthcare_aihw_etl_pipeline_spark.operators.similarity import (
        qlsh_signs,
    )
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    signs = qlsh_signs(4, 64)
    flat = [v for row in signs for v in row]
    assert set(flat) == {1, -1}
    assert 0.2 < flat.count(1) / len(flat) < 0.8  # not degenerate

    q = REGISTRY["ann_qlsh_top10_portable"]
    rows = q.fn(spark, sf_dir).collect()
    assert any(r.vec_id == 0 for r in rows)  # probe is in its bucket
    dots = [r.qdot for r in rows]
    assert dots == sorted(dots, reverse=True)
    assert [tuple(r) for r in rows] == [
        tuple(r) for r in duck.execute(q.oracle).fetchall()
    ]


def test_hashed_count_vector_matches_python_and_conserves_mass(spark):
    """The feature-hashing featurizer (higher-order JVM expressions)
    agrees with a driver-side Python recomputation bucket-for-bucket in
    portable mode, conserves token mass in both hash modes, and the
    whole vector stays map-side (no exchange before an action)."""
    import hashlib

    from healthcare_aihw_etl_pipeline_spark.operators.text import (
        hashed_count_vector,
    )

    texts = [
        "the quick brown fox  jumps over the lazy dog",
        "  spark  spark spark catalyst tungsten ",
        "",
        "one",
        "a b c d e f g h a b a",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    dim = 16

    def py_vec(text):
        out = [0] * dim
        for tok in text.strip().lower().split():
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim
            out[b] += 1
        return out

    got = {
        r.i: r.v
        for r in df.select(
            "i", hashed_count_vector("t", dim).alias("v")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_vec(t), (i, t)
    # fast path: same mass per row, same fixed dim
    fast = {
        r.i: r.v
        for r in df.select(
            "i", hashed_count_vector("t", dim, portable=False).alias("v")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert len(fast[i]) == dim
        assert sum(fast[i]) == len(t.split())
    # the featurizer itself introduces no exchange
    plan = df.select(
        hashed_count_vector("t", dim).alias("v")
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
