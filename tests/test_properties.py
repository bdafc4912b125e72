"""Hypothesis property tests: Spark scalar expressions vs independent
Python reference implementations of the reference's cleaning semantics
(/root/reference/main.py:42-68 — the three tuple-artifact regexes, state
normalization, coerce-cast). Each property runs one Spark job over a
generated batch of strings."""

from __future__ import annotations

import re

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.functions.scalar import (
    STATE_CODES,
    clean_text,
    norm_state,
    try_double,
)
from healthcare_aihw_etl_pipeline_spark.operators.relational import salted_agg

# Independent Python models of the documented semantics (SURVEY §2.9).
_RX1 = re.compile(r'^\("?\s*')
_RX2 = re.compile(r'"?\)$')
_RX3 = re.compile(r",\s*[-+]?[0-9]*\.?[0-9]+$")


def clean_text_model(s: str) -> str:
    s = _RX1.sub("", s)
    s = _RX2.sub("", s)
    s = _RX3.sub("", s)
    return s.strip().strip('"')


def norm_state_model(s: str) -> str | None:
    t = re.sub(r"[^A-Z]", "", s.upper())
    return t if t in STATE_CODES else None


# Printable-ish text, biased toward the artifacts the cleaners target.
# Non-ASCII whitespace (NBSP, U+2003, U+3000, NEL, FS) is where Java's
# \s, trim and `$` differ from Python's.
artifact_text = st.one_of(
    st.text(
        alphabet=st.one_of(
            st.characters(codec="ascii", exclude_categories=["Cc"]),
            st.sampled_from("\xa0\u2003\u3000\x85\x1c"),
        ),
        max_size=40,
    ),
    st.builds(lambda a, b: f'("{a}", {b})', st.text(max_size=20), st.integers(0, 999)),
    st.builds(lambda a, b: f"{a}, {b}.5", st.text(max_size=20), st.integers(0, 99)),
    st.sampled_from(["nsw", "N.S.W.", " vic ", "total", "", '"x"', "(y)", "AUST"]),
)


@settings(max_examples=5, deadline=None)
@given(st.lists(artifact_text, min_size=20, max_size=60))
@example(["a,\xa05", "a, 5\x85", "abc)\x85", "abc)\r", "abc)\u2028", "(\xa0abc", "x\x1c"])
def test_clean_and_norm_match_model(spark, strings):
    df = spark.createDataFrame([(s,) for s in strings], ["t"])
    rows = df.select(
        "t", clean_text("t").alias("c"), norm_state("t").alias("n")
    ).collect()
    from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import clean_text_py

    for r in rows:
        assert r.c == clean_text_model(r.t), repr(r.t)
        assert r.n == norm_state_model(r.t), repr(r.t)
        # the executor-side ingest twin must match the Catalyst chain too
        assert clean_text_py(r.t) == r.c, repr(r.t)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(allow_nan=False, allow_infinity=False, width=32).map(str),
            st.integers(-(10**9), 10**9).map(str),
            st.text(alphabet="0123456789.xyz,- ", max_size=12),
        ),
        min_size=20,
        max_size=60,
    )
)
def test_try_double_null_on_junk(spark, strings):
    from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import _try_double_py

    df = spark.createDataFrame([(s,) for s in strings], ["t"])
    rows = df.select("t", try_double("t").alias("d")).collect()
    for r in rows:
        # the ingest parse core's twin must return exactly the cast's value
        assert _try_double_py(r.t) == r.d, repr(r.t)
        try:
            want = float(r.t.strip())
            if want in (float("inf"), float("-inf")):
                want = None
        except (ValueError, OverflowError):
            want = None
        if want is None:
            assert r.d is None, repr(r.t)
        else:
            assert r.d is not None and abs(r.d - want) <= abs(want) * 1e-12, repr(r.t)


# Cells where Python's float() and Catalyst's cast disagree: `_`
# separators, non-ASCII whitespace and digits, f/d suffixes, hex floats,
# special literals and ASCII control whitespace.
TRY_DOUBLE_CELLS = [
    "1_000", "\xa012", "12\u2003", "１２", "1d", "1f", "0x1p3", "inf", "NaN",
    "\t7\n", "12\u3000", "\x85 3", "\x1c5", "-nan", "+Infinity", "1e5F", ".5",
    ".", "0x10", "1e400",
]


def test_try_double_twin_matches_catalyst(spark):
    import math

    from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import _try_double_py

    df = spark.createDataFrame([(s,) for s in TRY_DOUBLE_CELLS], "t string")
    rows = df.select("t", try_double("t").alias("d")).collect()
    assert [r.t for r in rows] == TRY_DOUBLE_CELLS
    for r in rows:
        got = _try_double_py(r.t)
        if r.d is not None and math.isnan(r.d):
            assert got is not None and math.isnan(got), repr(r.t)
        else:
            assert got == r.d, repr(r.t)


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "hot", "hot", "hot"]), st.integers(0, 10**6)),
        min_size=30,
        max_size=80,
    )
)
def test_salted_agg_equals_plain_groupby(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {r.k: r.v for r in df.groupBy("k").agg(F.sum("v").alias("v")).collect()}
    salted = {r.k: r.v for r in salted_agg(df, ["k"], "v", salt_buckets=4).collect()}
    assert plain == salted


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),     # key
            st.integers(min_value=0, max_value=40),    # minute offset
            st.sampled_from(["a", "b", "c"]),          # attr
        ),
        min_size=1,
        max_size=40,
    )
)
def test_scd2_history_interval_laws(spark, events):
    """SCD2 interval laws over random event logs: per key the intervals
    (1) start at the key's first event, (2) chain exactly — each
    valid_to equals the next valid_from, (3) end with exactly one open
    current row, (4) never hold two consecutive runs with equal
    attributes, and (5) reconstruct the attribute at ANY event time —
    the interval covering ts carries the attr of the latest event <= ts
    under the (ts, tiebreak) order."""
    import datetime as dt

    from healthcare_aihw_etl_pipeline_spark.operators.scd import scd2_history

    base = dt.datetime(2024, 1, 1)
    rows = [
        (k, base + dt.timedelta(minutes=m), i, attr)
        for i, (k, m, attr) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "k int, ts timestamp_ntz, eid int, attr string"
    )
    hist = scd2_history(df, "k", "attr", "ts", "eid").collect()
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    model: dict[int, list] = {}
    for k, ts, eid, attr in rows:
        model.setdefault(k, []).append((ts, eid, attr))
    for k, runs in by_key.items():
        runs.sort(key=lambda r: r.valid_from)
        evs = sorted(model[k])
        assert runs[0].valid_from == evs[0][0]                       # (1)
        for a, b in zip(runs, runs[1:]):
            assert a.valid_to == b.valid_from                         # (2)
            assert not a.is_current
            assert a.attr != b.attr                                   # (4)
        assert runs[-1].is_current and runs[-1].valid_to is None      # (3)
        for ts, eid, attr_expected in evs:
            # latest event at or before ts under (ts, eid) total order
            latest = max(e for e in evs if e[0] <= ts)
            covering = [
                r for r in runs
                if r.valid_from <= ts
                and (r.valid_to is None or ts < r.valid_to)
            ]
            # an event AT a boundary belongs to the newer interval
            assert len(covering) == 1                                 # (5)
            assert covering[0].attr == latest[2]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=80),
    st.integers(min_value=1, max_value=600),
)
def test_shard_by_budget_matches_local_prefix_sum(spark, costs, budget):
    """shard_by_budget == the sequential definition for ANY cost list
    and budget: cum is the inclusive running sum in id order, shard is
    (cum - cost) // budget."""
    from healthcare_aihw_etl_pipeline_spark.operators.layout import (
        shard_by_budget,
    )

    df = spark.createDataFrame(
        list(enumerate(costs)), "id long, cost long"
    ).repartition(7)
    got = {
        r["id"]: (r["cum"], r["shard"])
        for r in shard_by_budget(df, "id", "cost", budget).collect()
    }
    acc = 0
    want = {}
    for i, c in enumerate(costs):
        acc += c
        want[i] = (acc, (acc - c) // budget)
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=9),   # width (exercises all pad widths)
    st.integers(min_value=1, max_value=7),   # height
    st.integers(min_value=1, max_value=5),   # frames
    st.integers(min_value=1, max_value=60),  # fps
    st.randoms(use_true_random=False),
)
def test_avi_codec_roundtrip_property(w, h, nf, fps, rnd):
    """Every (width, height, frames, fps) combination round-trips
    bit-for-bit through the RIFF/AVI encoder and the independent RIFF
    walker — including all four stride-padding classes (w*3 mod 4) and
    single-pixel/single-frame degenerates. Pure-Python property: no
    Spark session, so hypothesis can afford real coverage."""
    from healthcare_aihw_etl_pipeline_spark.operators.multimodal import (
        decode_avi_rgb24,
        encode_avi_rgb24,
    )

    frames = [
        bytes(rnd.randrange(256) for _ in range(w * h * 3))
        for _ in range(nf)
    ]
    gw, gh, gfps, gn, got = decode_avi_rgb24(
        encode_avi_rgb24(frames, w, h, fps)
    )
    assert (gw, gh, gfps, gn) == (w, h, fps, nf)
    assert got == frames


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767),
             min_size=1, max_size=200),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_codec_roundtrip_property(samples, rate):
    """Arbitrary int16 PCM round-trips through the struct RIFF/WAVE
    encoder and the stdlib `wave` decoder with exact integer moments."""
    from healthcare_aihw_etl_pipeline_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    sr, ch, n, peak, sumsq = decode_wav_pcm16(
        encode_wav_pcm16(samples, rate)
    )
    assert (sr, ch, n) == (rate, 1, len(samples))
    assert peak == max(abs(s) for s in samples)
    assert sumsq == sum(s * s for s in samples)


# ---------------------------------------------------------------------------
# Isotonic max-min formula == PAVA (the identity round-12's
# isotonic_calibration_by_age relies on), on random weighted sequences
# with the engine's exact quantized integer arithmetic.

@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),   # weight (count)
            st.integers(min_value=0, max_value=20),   # successes <= w
        ).map(lambda t: (t[0], min(t[1], t[0]))),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=200, deadline=None)
def test_isotonic_maxmin_equals_pava_quantized(seq):
    """fit(i) = max_{j<=i} min_{k>=i} wmean(j..k), with every windowed
    mean truncated to integer millionths, must equal floor(Q * PAVA
    block mean) — truncation is monotone, so it commutes with the
    min/max lattice (the exactness argument in the registered query's
    doc)."""
    from fractions import Fraction

    Q = 1_000_000
    n = len(seq)
    cw = [0] * (n + 1)
    cs = [0] * (n + 1)
    for i, (w, s) in enumerate(seq):
        cw[i + 1] = cw[i] + w
        cs[i + 1] = cs[i] + s

    def bq(j, k):  # quantized mean over [j, k] inclusive, 0-based
        return ((cs[k + 1] - cs[j]) * Q) // (cw[k + 1] - cw[j])

    maxmin = [
        max(min(bq(j, k) for k in range(i, n)) for j in range(i + 1))
        for i in range(n)
    ]

    blocks = []  # [w, s]
    for w, s in seq:
        blocks.append([w, s])
        while len(blocks) > 1 and Fraction(
            blocks[-2][1], blocks[-2][0]
        ) >= Fraction(blocks[-1][1], blocks[-1][0]):
            w2, s2 = blocks.pop()
            blocks[-1][0] += w2
            blocks[-1][1] += s2
    pava = []
    idx = 0
    for w, s in blocks:
        acc = 0
        while acc < w:
            pava.append((s * Q) // w)
            acc += seq[idx][0]
            idx += 1
    assert maxmin == pava
    assert all(a <= b for a, b in zip(maxmin, maxmin[1:]))


# ---------------------------------------------------------------------------
# Streaming FIFO resolver == the sequential FIFO law on random
# inventories (the third implementation of the allocation semantics,
# beside the batch interval algebra and the reference loop — all three
# must agree; pure Python, no Spark in the loop).

_DAY_US = 86_400_000_000


@given(
    st.lists(
        st.tuples(
            st.sampled_from([0, 1]),      # supply / return
            st.integers(1, 9),            # quantity
            st.integers(0, 20),           # ship-day offset
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=200, deadline=None)
def test_streaming_fifo_resolver_equals_sequential_law(rows):
    from healthcare_aihw_etl_pipeline_spark.streaming.fifo import (
        _resolve_fifo,
    )

    state_rows = [
        (d * _DAY_US, i, 1, q, ret)  # (sus, okey, lnum, qty, ret)
        for i, (ret, q, d) in enumerate(rows)
    ]
    got = _resolve_fifo(state_rows)

    ordered = sorted(
        ((ret, q, d, i) for i, (ret, q, d) in enumerate(rows)),
        key=lambda r: (r[2], r[3]),
    )
    supply = [[q, d] for ret, q, d, _ in ordered if ret == 0]
    demand = [(q, d) for ret, q, d, _ in ordered if ret == 1]
    if not supply or not demand:
        assert got is None
        return
    si = matched = wage = 0
    dtot = sum(q for q, _ in demand)
    for dq, dd in demand:
        while dq > 0 and si < len(supply):
            take = min(dq, supply[si][0])
            matched += take
            wage += take * (dd - supply[si][1])
            supply[si][0] -= take
            dq -= take
            if supply[si][0] == 0:
                si += 1
    assert got == (len(rows), matched, dtot - matched, wage), rows
    # order-insensitivity: any permutation of the state rows resolves
    # identically (the streaming contract)
    assert _resolve_fifo(list(reversed(state_rows))) == got
