"""Deduplication operators for training-data pipelines (driver mandate,
BASELINE.json north_star: exact, MinHash+LSH, SimHash, n-gram Jaccard).

Signatures and banding are Catalyst higher-order-function expressions
over token/shingle arrays, except the xxhash64 MinHash forms' permutation
minima, which run in one Arrow-batched pandas UDF (`_perm_min_udf`). Dedup
scales as ordinary shuffles:

- exact:    one shuffle on a 16-byte hash key, map-side partial agg.
- MinHash:  per-row signature (narrow) → explode bands (narrow, ×B) →
            one shuffle on (band, band_key) → per-bucket min-id.
- SimHash:  per-row 64-bit signature (narrow) → band on 16-bit chunks →
            same shuffle shape.
- Jaccard:  exact verification on candidate pairs only (the LSH bucket
            join bounds the pair count; never all-pairs).

Each xxhash64 operator has an md5 "portable" twin whose every step
replays in DuckDB. A twin pair differs only in its head — signature and
band-key expressions — and shares the rest: `_rows_per_band` (band-count
check), `_explode_bands`, `_star_dup_of` (bucket-min join-back) and
`_verified_dup_of` (candidate pairs, exact-Jaccard verify, linking).

Keep-policy: "star" dedup — a row is a duplicate if it shares any bucket
with a smaller id. This is the standard single-pass approximation of
connected components (full transitive closure needs iterative joins;
at 100 TB the star policy is what production pipelines run first).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.operators.gates import at_most, collect_at_most

# Mersenne prime 2^31 - 1: modulus for the universal-hash permutations.
# Chosen so a*h + b stays below 2^62 (a, h < 2^31) — no long overflow even
# under ANSI mode (the driver's default session in Spark 4 has ANSI on,
# where wrapping multiplication raises ARITHMETIC_OVERFLOW). A 31-bit
# minhash space is ample: collision probability per hash ≈ n_shingles/2^31.
_P = (1 << 31) - 1


def word_shingles(text_col: Column | str, k: int = 5) -> Column:
    """k-word shingles as strings (distinct), from whitespace tokens.

    The token array is let-bound so the split runs once per row — a
    slice inside the per-position lambda would otherwise re-split per
    shingle, O(len²) (functions.scalar.bind documents the trap)."""
    from healthcare_aihw_etl_pipeline_spark.functions.scalar import bind

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return bind(
        F.split(F.trim(c), r"\s+"),
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(t) - F.lit(k - 1), F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            )
        ),
    )


def _permutation_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)]


def token_shingle_hashes(text_col: Column | str, k: int = 5) -> Column:
    """k-token shingle hashes as array<long> (distinct), WITHOUT building
    shingle strings: each token is xxhash64'd once, then consecutive
    token-hash windows combine via a rolling polynomial mod P.

    Hashing tokens once and doing integer window math is ~2-3× cheaper
    than concat_ws-ing k-token strings and hashing each (string building
    dominated the minhash profile). Any good hash family works for
    MinHash — this one is deterministic and overflow-safe under ANSI
    (all operands < 2^31, products < 2^62).
    """
    from healthcare_aihw_etl_pipeline_spark.functions.scalar import bind

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.split(F.trim(c), r"\s+")
    th = F.transform(tokens, lambda t: F.pmod(F.xxhash64(t), F.lit(_P)))
    base = 1_000_003  # small odd multiplier, coprime with P

    # Combine k SHIFTED copies of the hash array with zip_with: each
    # slice evaluates the (let-bound) token-hash array handle, O(n·k)
    # total. Per-position element_at(th, i+j) would re-evaluate the whole
    # array per element — O(n²·k), measured 4× slower end-to-end; and
    # without the bind, each of the k slices would re-run split+hash.
    def rolled(v: Column) -> Column:
        n = F.greatest(F.size(v) - F.lit(k - 1), F.lit(1))
        acc = F.slice(v, 1, n)
        for j in range(1, k):
            acc = F.zip_with(
                acc,
                F.slice(v, 1 + j, n),
                lambda a, b: F.pmod(
                    a * F.lit(base) + F.coalesce(b, F.lit(0).cast("long")),
                    F.lit(_P),
                ),
            )
        return F.array_distinct(acc)

    return bind(th, rolled)


def minhash_signature(
    shingle_col: Column, num_hashes: int = 32, seed: int = 42
) -> Column:
    """MinHash signature as array<long>.

    Base hashes come from xxhash64 reduced mod P (one pass over the
    shingles); each of the `num_hashes` permutations is
    `min((a*h + b) mod P)` — universal hashing over the Mersenne prime
    2^31-1, overflow-free on longs even under ANSI mode.

    Implemented as ONE left-fold that keeps a `num_hashes`-element running
    minimum — `num_hashes` separate `array_min(transform(...))` columns
    would each re-embed the whole shingle subtree and blow up the Catalyst
    expression tree (observed: planning/codegen hangs at 32 copies).
    """
    params = _permutation_params(num_hashes, seed)
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in params])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in params])
    base = F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))
    init = F.array_repeat(F.lit(_P - 1).cast("long"), num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: F.pmod(a * h + b, F.lit(_P))),
            lambda x, y: F.least(x, y),
        ),
    )


def _perm_min_udf(num_hashes: int, seed: int):
    """Arrow-batched permutation minima over base-hash arrays: per doc,
    min((a·h + b) mod P) for each seeded (a, b) — one numpy broadcast."""
    params = _permutation_params(num_hashes, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)[:, None]  # (H,1)
    b_vec = np.array([b for _, b in params], dtype=np.int64)[:, None]
    empty = np.full(num_hashes, _P - 1, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sig(base_hashes: pd.Series) -> pd.Series:
        out = []
        for arr in base_hashes:
            h = np.asarray(arr, dtype=np.int64)[None, :]  # (1, n)
            # (H, n): a*h + b < 2^31 * 2^31 + 2^31 < 2^62 — exact in int64.
            out.append(((a_vec * h + b_vec) % _P).min(axis=1) if h.size else empty)
        return pd.Series(out)

    return sig


def minhash_signature_vectorized(
    shingle_col: Column, num_hashes: int = 32, seed: int = 42
) -> Column:
    """Arrow-batched twin of :func:`minhash_signature` — same contract,
    BIT-IDENTICAL output (asserted by tests).

    The base hash (xxhash64 mod P per shingle) stays a JVM-side
    element-wise transform inside codegen; only the permutation minima —
    the measured hot spot (~12 ms/doc as an interpreted fold) — move to
    an Arrow batch, where a (num_hashes × n_shingles) numpy broadcast
    replaces the nested zip_with fold. All intermediates < 2^62, so int64
    never overflows (matching the ANSI-safe expression form).
    """
    base = F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))
    return _perm_min_udf(num_hashes, seed)(base)


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Signature entries per LSH band; a ragged split is refused."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}): a ragged split would silently drop the "
            "trailing minhash functions and weaken the LSH guarantee"
        )
    return num_hashes // bands


def _xxhash_band_keys(sig: Column, bands: int, rows_per_band: int) -> list[Column]:
    """One key per band of a long signature: xxhash64 of the band's
    comma-joined entries."""
    return [
        F.xxhash64(
            F.concat_ws(
                ",",
                *[
                    F.element_at(sig, b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )
        for b in range(bands)
    ]


def _md5_minwise_signature(shingles: Column, num_hashes: int) -> Column:
    """num_hashes independent md5 minwise functions over a shingle
    array: sig_i = lexicographic min over shingles of
    md5(i || ':' || shingle) — the textbook minwise family, identical in
    any engine with md5. The array is let-bound, so it is built once
    per row, not once per function."""
    from healthcare_aihw_etl_pipeline_spark.functions.scalar import bind

    def _minwise(prefix: Column):
        # MUST be a one-parameter lambda: F.transform binds a second
        # parameter to the ELEMENT INDEX, so a `lambda s, p=prefix`
        # default would be silently overwritten by the index column.
        return lambda s: F.md5(F.concat(prefix, s))

    return bind(
        shingles,
        lambda sh: F.array(
            *[
                F.array_min(F.transform(sh, _minwise(F.lit(f"{i}:"))))
                for i in range(num_hashes)
            ]
        ),
    )


def _md5_band_keys(sig: Column, bands: int, rows_per_band: int) -> list[Column]:
    """One key per band of a hex-string signature: md5 of the band's
    comma-joined slice (DuckDB replays it as ``md5(array_to_string(
    sig[lo : hi], ','))``)."""
    return [
        F.md5(F.array_join(F.slice(sig, b * rows_per_band + 1, rows_per_band), ","))
        for b in range(bands)
    ]


def _bit_band_keys(sig: str, width: int, n: int) -> list[Column]:
    """``n`` consecutive ``width``-bit chunks of a long signature column,
    low bits first: the SimHash bands."""
    mask = F.lit((1 << width) - 1).cast("long")
    return [
        F.shiftrightunsigned(F.col(sig), width * b).bitwiseAND(mask)
        for b in range(n)
    ]


def _explode_bands(df: DataFrame, keep: list[str], keys: list[Column]) -> DataFrame:
    """One row per (row of ``df``, band): the ``keep`` columns plus
    ``band`` (the band index) and ``band_key`` (that band's key)."""
    return df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), k.alias("band_key"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("bb"),
    ).select(*keep, "bb.band", "bb.band_key")


def _star_dup_of(banded: DataFrame, id_col: str, *carry: str) -> DataFrame:
    """Star keep-policy over a banded relation: dup_of = the smallest id
    sharing any (band, band_key) bucket. Returns (id_col, *carry,
    dup_of), each carried column taken from any of the row's bands.

    Per-bucket min via groupBy + join-back, NOT a window: a hot bucket
    (thousands of identical boilerplate docs — the common case in web
    data) would land whole on ONE window task with no partial
    aggregation. groupBy(min) combines map-side, and the join back is an
    equi join AQE can skew-split. `banded` feeds both branches, so
    materialize it once (integer or hash columns only — the cheapest
    point; re-deriving it would run the signature twice).
    localCheckpoint rather than persist: checkpoint blocks are
    reference-tracked and freed when the result goes out of scope, so
    repeated calls in a long-lived session don't accumulate cached
    blocks (persist entries live in the CacheManager until an explicit
    unpersist, which this lazy API can't issue)."""
    banded = banded.localCheckpoint(eager=True)
    bucket_mins = banded.groupBy("band", "band_key").agg(
        F.min(id_col).alias("bucket_min")
    )
    return (
        banded.join(bucket_mins, ["band", "band_key"])
        .groupBy(id_col)
        .agg(
            *[F.first(c).alias(c) for c in carry],
            F.min("bucket_min").alias("dup_of"),
        )
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-dup detection.

    Returns (id_col, dup_of): one row per input, where dup_of is the
    smallest id sharing any LSH band bucket (dup_of = id for uniques /
    cluster representatives). Shuffle cost: bands × |df| rows of
    (band, band_key, id) — integers only, no text moves.
    """
    rows_per_band = _rows_per_band(num_hashes, bands)
    # token_shingle_hashes: integer rolling-window shingles — no string
    # construction, xxhash64 stays JVM-side. The permutation minima run in
    # the Arrow-batched twin (bit-identical to the expression fold).
    shingles = token_shingle_hashes(F.col(text_col), shingle_k)
    sig = minhash_signature_vectorized(shingles, num_hashes, seed)
    # Materialize the signature as a named column FIRST: the band keys
    # reference it 32× via element_at, and handing them the raw
    # expression would re-embed (and re-evaluate) it per reference.
    with_sig = df.select(F.col(id_col), sig.alias("_sig"))
    keys = _xxhash_band_keys(F.col("_sig"), bands, rows_per_band)
    return _star_dup_of(_explode_bands(with_sig, [id_col], keys), id_col)


def minhash_dedup_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash+LSH with ENGINE-PORTABLE hash functions: DuckDB-replayable
    bit-for-bit, the same design call as the portable sketches
    (operators/portable_sketch.py) and rolling_fingerprint(portable=True).

    Instead of xxhash64 + affine permutations (minhash_dedup — the
    faster JVM path), each of the ``num_hashes`` minwise functions is an
    INDEPENDENT md5 (:func:`_md5_minwise_signature`). Bands hash the
    concatenated signature slice with md5 again. ~2x the hash cost of
    the xxhash64 path for full cross-engine verifiability; the banding
    and bucket-min code is the fast path's own (:func:`_explode_bands`,
    :func:`_star_dup_of`), so the shuffle shape is the same.

    Returns (id_col, dup_of) like :func:`minhash_dedup`.
    """
    rows_per_band = _rows_per_band(num_hashes, bands)
    shingles = word_shingles(F.col(text_col), shingle_k)
    with_sig = df.select(
        F.col(id_col), _md5_minwise_signature(shingles, num_hashes).alias("_sig")
    )
    keys = _md5_band_keys(F.col("_sig"), bands, rows_per_band)
    return _star_dup_of(_explode_bands(with_sig, [id_col], keys), id_col)


# Semi-join the corpus down to its exact-hash representatives before the
# md5 signature pass only while the broadcast rep-id set stays this small.
_REP_SEMIJOIN_MAX_REPS = 4_000_000


def _rep_sig_source(
    src: DataFrame,
    ids: DataFrame,
    reps: DataFrame,
    id_col: str,
) -> DataFrame:
    """The documents whose (expensive) LSH signature is actually
    needed: the exact-hash group REPRESENTATIVES. When at least half
    the corpus is exact duplicates and the rep set is broadcastable,
    filter `src` down by a broadcast semi-join BEFORE the signature
    pass — on the 10x/100x-replicated bench layouts (and real web
    corpora, which run 30-60% exact dups) this skips the signature work
    for every member, the dominant cost (measured 37.5 s -> ~5 s at the
    5M-doc layout for the portable form, whose DuckDB oracle collapses
    first for the same reason). Otherwise signatures compute for all
    docs (row-local, zero shuffle) and the non-rep rows simply drop in
    the rep join — the right trade when most docs ARE reps, where a
    semi-join would shuffle the text corpus to save nothing. Both
    paths produce identical output (a member's signature equals its
    rep's)."""
    n_docs = ids.count()
    n_reps = reps.count()
    if at_most(n_reps * 2, n_docs) and at_most(n_reps, _REP_SEMIJOIN_MAX_REPS):
        return src.join(
            F.broadcast(reps.select(F.col("rep").alias(id_col))),
            id_col,
            "left_semi",
        )
    return src


def _verified_dup_of(
    df: DataFrame,
    ids: DataFrame,
    reps: DataFrame,
    rep_sig: DataFrame,
    keys: list[Column],
    grams: Column,
    id_col: str,
    *,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Shared band→pair→VERIFY→link tail of the verified MinHash forms.

    ids     : (id_col, _hx, ...)  — every doc with its exact hash,
              checkpointed
    reps    : (_hx, rep, ...)     — exact-hash group representative
    rep_sig : (rep, _sig, ...)    — each representative's signature;
              ``keys`` are its band keys over ``_sig``
    grams   : the gram-array expression over ``df``'s text column

    1. BAND the representatives (checkpointed: the band relation feeds
       both sides of the pairing self-join);
    2. pair DISTINCT in-bucket representatives (ia < ib, deduped across
       bands — one verify per unordered pair), checkpointed once: both
       the candidate-id set and the verify read it, so the quadratic
       in-bucket pairing runs once;
    3. re-derive grams only for candidate ids, by semi-joining the
       corpus against the banding-bounded candidate set (AQE broadcasts
       it when small) — never a corpus-wide gram materialization;
    4. VERIFY each pair by exact set Jaccard over the gram relation
       (inter via a candidate-bounded equi join, union by
       inclusion-exclusion, the threshold as an exact integer
       cross-multiplication — no floats, so the decision replays
       bit-for-bit in any engine);
    5. dup_of(rep) = the smallest VERIFIED partner (self when none);
       members inherit their rep's dup_of.
    Returns (id_col, dup_of)."""
    from healthcare_aihw_etl_pipeline_spark.operators.layout import (
        ensure_min_splits,
    )

    rep_bands = _explode_bands(rep_sig, ["rep"], keys).localCheckpoint(eager=True)
    other = rep_bands.select("band", "band_key", F.col("rep").alias("rep2"))
    cand = (
        rep_bands.join(other, ["band", "band_key"])
        .where(F.col("rep") < F.col("rep2"))
        .select(F.col("rep").alias("ia"), F.col("rep2").alias("ib"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand_ids = (
        cand.select(F.col("ia").alias(id_col))
        .unionByName(cand.select(F.col("ib").alias(id_col)))
        .distinct()
    )
    cand_grams = (
        ensure_min_splits(df)
        .join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), F.explode(grams).alias("gram"))
    )
    ga = cand_grams.select(F.col(id_col).alias("ia"), "gram")
    gb = cand_grams.select(F.col(id_col).alias("ib"), "gram")
    sizes = cand_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    inter = (
        cand.join(ga, "ia")
        .join(gb, ["ib", "gram"])
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("ni"))
    )
    za = sizes.select(F.col(id_col).alias("ia"), F.col("ns").alias("na"))
    zb = sizes.select(F.col(id_col).alias("ib"), F.col("ns").alias("nb"))
    verified = (
        inter.join(za, "ia")
        .join(zb, "ib")
        .where(
            F.col("ni") * F.lit(threshold_den)
            >= F.lit(threshold_num) * (F.col("na") + F.col("nb") - F.col("ni"))
        )
        .select("ia", "ib")
    )
    linked = verified.groupBy(F.col("ib").alias("rep")).agg(
        F.min("ia").alias("dup_min")
    )
    dup_rep = (
        reps.select("_hx", "rep")
        .join(linked, "rep", "left")
        .select("_hx", F.coalesce(F.col("dup_min"), F.col("rep")).alias("dup_of"))
    )
    return ids.select(id_col, "_hx").join(dup_rep, "_hx").select(id_col, "dup_of")


def minhash_dedup_verified(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
    threshold_num: int = 7,
    threshold_den: int = 10,
) -> DataFrame:
    """MinHash+LSH near-dup detection with the candidate→VERIFY
    discipline (the wide-SimHash lesson, simhash_wide_dedup): banding
    proposes, exact n-gram Jaccard disposes.

    The `pairs` rung of `scripts/planted_truth.py` measured the
    unverified banding's pair precision on its planted Jaccard corpus
    falling 0.96 → 0.12 → 0.0014 as unique-token noise grows 1k → 1M →
    10M docs (recall 1.0), against 1.0 at every scale for this form:
    "shared an LSH bucket" is a superset of "actually similar", and the
    superset is almost all noise at web scale. Here dup_of
    links only pairs whose exact shingle-set Jaccard >=
    threshold_num/threshold_den.

    This head COLLAPSES byte-identical docs to their min-id
    representative (one groupBy on xxhash64(text)) — the hub case costs
    one aggregate, never a pairwise blowup, and exact dups skip the
    verify entirely (Jaccard 1.0 by construction). ONE corpus pass
    computes the exact hash and the signature together (integer
    rolling shingles, Arrow-batched permutation minima): collapsing
    first (the portable form's :func:`_rep_sig_source`) does NOT pay
    here — the extra scan + rep join measured SLOWER than the wasted
    member signatures at the 10x-replicated layout. Banding, pairing,
    verify and linking are :func:`_verified_dup_of`, over the int64
    gram sets. Returns (id_col, dup_of) like :func:`minhash_dedup`."""
    from healthcare_aihw_etl_pipeline_spark.operators.layout import (
        ensure_min_splits,
    )

    rows_per_band = _rows_per_band(num_hashes, bands)
    src = ensure_min_splits(df).select(id_col, text_col)
    shingles = token_shingle_hashes(F.col(text_col), shingle_k)
    sig = minhash_signature_vectorized(shingles, num_hashes, seed)
    ids = src.select(
        F.col(id_col),
        F.xxhash64(F.col(text_col)).alias("_hx"),
        sig.alias("_sig"),
    ).localCheckpoint(eager=True)
    reps = ids.groupBy("_hx").agg(
        F.min(id_col).alias("rep"),
        # identical text ⇒ identical signature; min_by keeps the
        # choice deterministic anyway
        F.min_by("_sig", F.col(id_col)).alias("_sig"),
    )
    return _verified_dup_of(
        df,
        ids,
        reps,
        reps,
        _xxhash_band_keys(F.col("_sig"), bands, rows_per_band),
        shingles,
        id_col,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
    )


def minhash_dedup_verified_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold_num: int = 7,
    threshold_den: int = 10,
) -> DataFrame:
    """ENGINE-PORTABLE verified MinHash dedup: the
    :func:`minhash_dedup_verified` pipeline with every hash an md5 and
    every gram the shingle STRING, so collapse, signatures, banding,
    candidate pairing, the exact-Jaccard verify (integer
    cross-multiplication) and the member inheritance ALL replay
    bit-for-bit in DuckDB — the driver hash-checks the verified
    operator itself. The head collapses first and signs only what
    :func:`_rep_sig_source` keeps; the tail is the fast path's own
    :func:`_verified_dup_of`. ~2x its hash cost (the portable-sketch
    trade). Returns (id_col, dup_of)."""
    from healthcare_aihw_etl_pipeline_spark.operators.layout import (
        ensure_min_splits,
    )

    rows_per_band = _rows_per_band(num_hashes, bands)
    src = ensure_min_splits(df).select(id_col, text_col)
    shingles = word_shingles(F.col(text_col), shingle_k)
    ids = src.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("_hx")
    ).localCheckpoint(eager=True)
    reps = ids.groupBy("_hx").agg(F.min(id_col).alias("rep"))
    # Signatures for the rep set only when duplicate-heavy (the
    # oracle's WHERE doc_id IN (SELECT rep ...) shape — DuckDB
    # collapses first for the same reason).
    sigs = _rep_sig_source(src, ids, reps, id_col).select(
        F.col(id_col).alias("rep"),
        _md5_minwise_signature(shingles, num_hashes).alias("_sig"),
    )
    return _verified_dup_of(
        df,
        ids,
        reps,
        reps.join(sigs, "rep"),
        _md5_band_keys(F.col("_sig"), bands, rows_per_band),
        shingles,
        id_col,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
    )


def simhash_portable(text_col: Column | str) -> Column:
    """60-bit SimHash whose bits replay in any engine with md5.

    Per distinct token: v = first 15 hex chars of md5 as a 60-bit
    integer (Spark: conv(hex,16,10); DuckDB: CAST('0x'||hex AS
    BIGINT) — same value, engine-native syntax). Bit b (MSB-first)
    contributes sign(2*bit-1) to counter b; the signature packs
    (counter > 0) bits by a doubling fold. All arithmetic is INTEGER
    (DIV + pow-of-two cast to BIGINT — no float division whose 53-bit
    mantissa would corrupt a 60-bit value), so Spark and DuckDB agree
    bit-for-bit. ~2x the cost of :func:`simhash64` (md5 + conv vs
    xxhash64 + getbit) — the price of cross-engine verifiability."""
    return _md5_sign_fold(text_col, 1)


def simhash_wide_portable(text_col: Column | str) -> Column:
    """120-bit portable SimHash as a struct of two 60-bit halves
    (`h0` = bits 0..59 from md5 hex chars 1-15 per token, `h1` = bits
    60..119 from hex chars 16-30 — one md5 per token feeds both).

    Why 120 bits: the 60-bit signature's 15-bit bands saturate past ~1M
    docs (every band bucket holds ~n/32768 docs, so band-collision
    false pairs grow quadratically; the `pairs` rung of
    `scripts/planted_truth.py` measured its pair precision at ~0
    against 10M noise docs).
    120 bits buy 30-bit bands (4.3e9 bucket space) AND enough
    signature width for an exact Hamming verify step — see
    :func:`simhash_wide_dedup`. Same integer-only discipline as
    :func:`simhash_portable`, so both halves replay in DuckDB."""
    return F.struct(
        _md5_sign_fold(text_col, 1).alias("h0"),
        _md5_sign_fold(text_col, 16).alias("h1"),
    )


def _md5_sign_fold(text_col: Column | str, hex_start: int) -> Column:
    """60-bit SimHash fold over md5 hex chars [hex_start, hex_start+15)
    of each distinct whitespace token — the shared kernel of
    :func:`simhash_portable` (hex_start=1) and the 120-bit wide variant
    (halves at hex_start 1 and 16)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.array_distinct(F.split(F.trim(c), r"\s+"))
    vals = F.transform(
        tokens,
        lambda t: F.conv(
            F.substring(F.md5(t), hex_start, 15), 16, 10
        ).cast("long"),
    )
    zeros = F.array_repeat(F.lit(0).cast("long"), 60)
    counters = F.aggregate(
        vals,
        zeros,
        lambda acc, v: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(59)),
                # MSB-first bit b: (v >> (59-b)) & 1, as ±1. Variable
                # shift via call_function (the F.shiftright wrapper only
                # takes a Python-int count) — stays integer end-to-end.
                lambda b: (
                    F.call_function(
                        "shiftright", v, (F.lit(59) - b).cast("int")
                    )
                    % F.lit(2).cast("long")
                )
                * F.lit(2)
                - F.lit(1),
            ),
            lambda a, x: a + x,
        ),
    )
    bits_msb_first = F.transform(counters, lambda cnt: (cnt > 0).cast("long"))
    return F.aggregate(
        bits_msb_first,
        F.lit(0).cast("long"),
        lambda acc, b: acc * F.lit(2).cast("long") + b,
    )


def simhash64(text_col: Column | str) -> Column:
    """63-bit SimHash over whitespace tokens, as a non-negative long.

    Per token: xxhash64 → contribute ±1 to each of 63 bit-counters
    (via getbit); final bit = counter > 0. Packed by a doubling fold
    (acc*2 + bit, MSB first) whose maximum is 2^63-1 == Long.MAX — no
    overflow even under ANSI mode (the 64th bit is dropped deliberately;
    shiftleft can't be used here anyway: the PySpark wrapper requires a
    Python-int shift count).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.array_distinct(F.split(F.trim(c), r"\s+"))
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    zeros = F.array_repeat(F.lit(0).cast("long"), 63)
    counters = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(62)),
                lambda b: F.getbit(h, b) * F.lit(2) - F.lit(1),
            ),
            lambda a, x: a + x,
        ),
    )
    bits_msb_first = F.reverse(
        F.transform(counters, lambda cnt: (cnt > 0).cast("long"))
    )
    return F.aggregate(
        bits_msb_first,
        F.lit(0).cast("long"),
        lambda acc, b: acc * F.lit(2).cast("long") + b,
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """SimHash near-dup via 16-bit banding (4 bands of the 64-bit hash):
    two docs within Hamming distance 3 share at least one intact band
    (pigeonhole). Bucket mins use the groupBy/join-back shape of
    :func:`_star_dup_of` (map-side combine, AQE-skew-splittable join).
    Returns (id_col, simhash, dup_of)."""
    with_sig = df.select(F.col(id_col), simhash64(text_col).alias("simhash"))
    banded = _explode_bands(
        with_sig, [id_col, "simhash"], _bit_band_keys("simhash", 16, 4)
    )
    return _star_dup_of(banded, id_col, "simhash")


def simhash_dedup_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """SimHash near-dup on the PORTABLE 60-bit signature
    (:func:`simhash_portable`): 4 bands of 15 bits — two docs within
    Hamming distance 3 share an intact band (pigeonhole) — through the
    same banding and bucket-min code as :func:`simhash_dedup`.
    Every step is integer arithmetic on md5-derived values, so the
    full pipeline replays bit-for-bit in DuckDB (the registered query
    carries the oracle). Returns (id_col, simhash, dup_of)."""
    with_sig = df.select(F.col(id_col), simhash_portable(text_col).alias("simhash"))
    banded = _explode_bands(
        with_sig, [id_col, "simhash"], _bit_band_keys("simhash", 15, 4)
    )
    return _star_dup_of(banded, id_col, "simhash")


def simhash_wide_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup on the 120-bit portable signature
    (:func:`simhash_wide_portable`), with the candidate→VERIFY
    discipline the 60-bit form lacks:

    1. COLLAPSE signature-identical docs to their min-id
       representative first (one groupBy on (h0, h1)): the hub case —
       thousands of byte-identical docs landing in one bucket — costs
       one aggregate, never a pairwise blowup;
    2. BAND the distinct signatures: 4 bands of 30 bits (2^30 bucket
       space per band, so band collisions against noise stop growing
       quadratically with corpus size — 15-bit bands saturate past
       ~1M docs, see :func:`simhash_wide_portable`);
    3. VERIFY in-bucket representative pairs by exact Hamming distance
       over the full 120 bits (two XOR + bit_count integer exprs —
       replays in DuckDB); each representative's dup_of is the
       smallest VERIFIED partner across its bands, and members inherit
       their representative's dup_of.

    This makes the op honor its contract — dup_of links only pairs
    actually within `max_hamming` — instead of "shared a band", the
    superset that over-clusters (the 60-bit form measured pair
    precision ~0 against 1M+ noise docs; this form holds 1.0). Recall:
    Hamming <= 3 is GUARANTEED by the 4-band pigeonhole; 4..8 is
    probabilistic banding recall, measured by the `pairs` rung of
    `scripts/planted_truth.py` on its near-identical corpus. In-bucket
    pairing is quadratic only in DISTINCT signatures per 30-bit bucket
    (tiny by construction; identical docs collapsed in step 1). Returns
    (id_col, h0, h1, dup_of)."""
    from healthcare_aihw_etl_pipeline_spark.operators.layout import (
        ensure_min_splits,
    )

    sig = simhash_wide_portable(text_col)
    # Round-robin before the row-local signature pass ONLY when the
    # scan arrives under-split (the winnowing lesson): small-SF
    # document files scan as 1-2 splits, which would serialize the
    # 120-bit md5 fold on 2 of 32 cores — measured 14.5 s -> 1.5 s for
    # the signature leg at sf1. On a well-split real-cluster scan
    # ensure_min_splits inserts NO exchange, keeping this pass
    # zero-shuffle.
    with_sig = (
        ensure_min_splits(df)
        .select(F.col(id_col), sig.alias("s"))
        .select(id_col, F.col("s.h0").alias("h0"), F.col("s.h1").alias("h1"))
    )
    with_sig = with_sig.localCheckpoint(eager=True)
    reps = with_sig.groupBy("h0", "h1").agg(F.min(id_col).alias("rep"))
    bands = _explode_bands(
        reps,
        ["rep", "h0", "h1"],
        _bit_band_keys("h0", 30, 2) + _bit_band_keys("h1", 30, 2),
    )
    other = bands.select(
        "band",
        "band_key",
        F.col("rep").alias("rep2"),
        F.col("h0").alias("oh0"),
        F.col("h1").alias("oh1"),
    )
    hamming = F.bit_count(
        F.col("h0").bitwiseXOR(F.col("oh0"))
    ) + F.bit_count(F.col("h1").bitwiseXOR(F.col("oh1")))
    dup_rep = (
        bands.join(other, ["band", "band_key"])
        .where(hamming <= F.lit(max_hamming))
        .groupBy("rep")
        .agg(F.min("rep2").alias("dup_of"))
    )
    return (
        with_sig.join(reps, ["h0", "h1"])
        .join(dup_rep, ["rep"])
        .select(id_col, "h0", "h1", "dup_of")
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs.

    `pairs` has columns (left_id, right_id); shingle sets are joined in
    (two broadcast-or-shuffle hash joins on the id), then
    |A ∩ B| / |A ∪ B| filters at `threshold`. Only candidate pairs pay
    the set math — the LSH stage bounds this, never all-pairs.
    """
    sh = docs.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("sh")
    )
    left = sh.select(F.col(id_col).alias("left_id"), F.col("sh").alias("sh_l"))
    right = sh.select(F.col(id_col).alias("right_id"), F.col("sh").alias("sh_r"))
    joined = pairs.join(left, "left_id").join(right, "right_id")
    inter = F.size(F.array_intersect("sh_l", "sh_r"))
    union = F.size(F.array_union("sh_l", "sh_r"))
    jac = (inter.cast("double") / union.cast("double")).alias("jaccard")
    return joined.select("left_id", "right_id", jac).where(
        F.col("jaccard") >= threshold
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup keep-first: returns (id_col, dup_of) via md5 grouping.
    No registered query calls it; its only coverage is
    `tests/test_llm_ops.py::test_exact_dedup_catches_identical`."""
    h = F.md5(F.col(text_col))
    keepers = df.groupBy(h.alias("h")).agg(F.min(id_col).alias("dup_of"))
    return (
        df.select(F.col(id_col), h.alias("h"))
        .join(keepers, "h")
        .select(id_col, "dup_of")
    )


# Driver union-find fast path: at most this many symmetric edges (Rows
# of two longs) are collected to the driver; past it, distributed rounds.
_CC_SMALL_EDGE_CAP = 65536
# Round budget of the distributed loop; near-star duplicate clusters
# converge in 2-3 rounds (O(log diameter) with pointer jumping).
_CC_MAX_ITERATIONS = 20


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Transitive closure of duplicate edges: per node, the minimum id
    reachable through any chain — true dedup CLUSTERS, where the star
    policy of minhash/simhash_dedup only links through shared buckets.

    Iterative min-label propagation with pointer jumping (the
    large-star/small-star family — Kiveris et al., "Connected Components
    in MapReduce and Beyond"): each round (1) takes the min over each
    node's neighborhood labels, then (2) jumps every label to its label's
    label, halving chain length — so convergence is O(log d) rounds for
    diameter d (duplicate-cluster graphs are near-star-shaped: 2-3 rounds
    in practice). Each round is two shuffle joins + one groupBy on
    integer keys — at 100 TB this runs on the (small) edge set produced
    by LSH banding, never on the corpus.

    Every round ends in localCheckpoint(eager): iterative Spark MUST
    truncate lineage — chaining 10+ rounds of joins into one plan blows
    up optimizer memory (observed: OOM on a 12-node path graph without
    it). The convergence probe is fused into the round itself: each
    round carries a `_chg` flag (new label != old label) INTO the
    checkpoint, so detecting the fixed point is a LIMIT-1 scan of the
    already-materialized partitions — no extra join, no extra shuffle,
    no second pass over the round's plan (the prior form re-joined
    new-vs-old labels per round, roughly doubling per-round action
    cost; measured 9.1 s → 5.9 s warm on the composed
    embedding_cluster_keep_best at sf0.001). Iteration stops exactly at
    the fixed point. Returns (node, component) with component = min
    reachable id.

    Small-graph fast path: every distributed round costs a fixed
    scheduler floor (~1-2 s of job launch + AQE stage materialization on
    local[32], regardless of data size), so a closure over a few hundred
    LSH edges pays seconds for milliseconds of work. When the symmetric
    edge set is at most ``_CC_SMALL_EDGE_CAP`` rows, the one bounded
    probe collect (≤ cap + 1 rows of two longs) IS the edge list, and
    union-find by min root runs on the driver. Edge sets above the cap
    — the 100 TB case — take the distributed loop (at most
    ``_CC_MAX_ITERATIONS`` rounds); results are identical (min
    reachable id) on either path.
    """
    # Undirected symmetric edge list, self-loops dropped.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.persist()
    rows = collect_at_most(sym, _CC_SMALL_EDGE_CAP)
    if rows is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in rows:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id so the root IS the component label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(n, find(n)) for n in parent]
        sym.unpersist()
        dt = sym.schema["a"].dataType.simpleString()
        return edges.sparkSession.createDataFrame(
            out, schema=f"node {dt}, component {dt}"
        )
    # labels: every node starts as its own component.
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_CC_MAX_ITERATIONS):
        # (1) candidate label: min over own label and neighbors' labels.
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .select(F.col("a").alias("node"), F.col("component"))
            .groupBy("node")
            .agg(F.min("component").alias("neighbor_component"))
        )
        cand = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component").alias("old"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("neighbor_component"), F.col("component")),
            ).alias("component"),
        )
        # (2) pointer jump: component := label(component). Every component
        # value is a node id present in `cand`, so the inner lookup hits.
        lookup = cand.select(
            F.col("node").alias("cnode"), F.col("component").alias("ccomp")
        )
        new_labels = (
            cand.join(lookup, cand["component"] == lookup["cnode"], "left")
            .select(
                "node",
                F.coalesce(F.col("ccomp"), F.col("component")).alias("component"),
                (
                    F.coalesce(F.col("ccomp"), F.col("component"))
                    != F.col("old")
                ).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("_chg")).limit(1).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    sym.unpersist()
    return labels.select("node", "component")


def dup_edges_deterministic(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic duplicate edges for the closure: docs sharing an md5
    text hash OR a 10-token-prefix hash link to their group's min id.
    Both keys are engine-independent, so the resulting components are
    SQL-oracle-checkable (unlike MinHash buckets)."""
    prefix = F.concat_ws(" ", F.slice(F.split(F.trim(F.col(text_col)), r"\s+"), 1, 10))
    out = []
    for key in (F.md5(F.col(text_col)), F.md5(prefix)):
        grouped = df.select(F.col(id_col), key.alias("k"))
        mins = grouped.groupBy("k").agg(F.min(id_col).alias("src"))
        out.append(
            grouped.join(mins, "k").select("src", F.col(id_col).alias("dst"))
        )
    return out[0].unionByName(out[1]).where(F.col("src") != F.col("dst")).distinct()


def minhash_dedup_ml(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hash_tables: int = 5,
    num_features: int = 1 << 18,
    max_distance: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash near-dup candidate pairs via pyspark.ml.feature.MinHashLSH
    (the built-in alternative to the expression-based minhash_dedup):
    tokens → HashingTF set-vectors → MinHashLSH.approxSimilarityJoin.

    Returns (left_id, right_id, jaccard_distance) with left_id < right_id.
    The ml path shuffles ml vectors (heavier than the integer signatures
    of minhash_dedup) but gets distance filtering for free.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    tokens = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_tokens")
    )
    tf = HashingTF(
        inputCol="_tokens", outputCol="_features", numFeatures=num_features, binary=True
    )
    vecs = tf.transform(tokens)
    lsh = MinHashLSH(
        inputCol="_features", outputCol="_hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(vecs)
    pairs = model.approxSimilarityJoin(vecs, vecs, max_distance, distCol="jaccard_distance")
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("left_id"),
            F.col(f"datasetB.{id_col}").alias("right_id"),
            "jaccard_distance",
        )
        .where(F.col("left_id") < F.col("right_id"))
    )
