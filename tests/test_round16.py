"""Round-16 tests: the r15 ADVICE fixes (streaming as-of watermark
knife edge, pre-epoch carry sentinel), the sf10-capable alternative
oracles, and the adaptive one-pass/pipelined storage paths of
dup_span_stats and assoc_rules_top20.

The alternative-oracle test pins the property the sf10 window replay
relies on: for every registered alt_oracle, BOTH DuckDB formulations
produce identical relations on the same parquet — so a hash match
against the alternative at sf10 carries the same evidence as one
against the (single-node-infeasible) primary.
"""

from __future__ import annotations

import duckdb
import pytest

from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY



# ---------------------------------------------------------------------------
# alternative oracles: equal to the primary wherever both can run


def _alt_queries():
    return [q for q in REGISTRY.values() if q.alt_oracle is not None]


def test_alt_oracle_registry_is_expected():
    names = sorted(q.name for q in _alt_queries())
    assert names == [
        "copurchase_triangle_count",
        "embedding_cluster_keep_best",
    ]


@pytest.mark.parametrize(
    "name", ["copurchase_triangle_count", "embedding_cluster_keep_best"]
)
def test_alt_oracle_matches_primary(name, sf_dir):
    q = REGISTRY[name]
    con = duckdb.connect()
    for t in ("lineitem", "embeddings"):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    prim = con.execute(q.oracle)
    pcols = [d[0] for d in prim.description]
    prows = prim.fetchall()
    alt = con.execute(q.alt_oracle)
    acols = [d[0] for d in alt.description]
    arows = alt.fetchall()
    con.close()
    assert acols == pcols
    assert arows == prows


# ---------------------------------------------------------------------------
# streaming as-of: the two r15 ADVICE boundary fixes


def test_split_at_watermark_knife_edge():
    """Unit-level pin of the strictly-below boundary (the scenario is
    unreachable end-to-end on this Spark version — its late filter
    drops input with ts <= watermark, probed with an offset ladder —
    but a version admitting ts == wm would reach it, and the kernel
    must then hold the inclusive right.ts <= left.ts match):

    - a click AT the watermark stays pending (an equal-ts purchase
      may still be admissible),
    - a purchase AT the watermark stays buffered (not folded),
    - once the watermark strictly passes, the equal-ts pair matches.
    """
    from healthcare_aihw_etl_pipeline_spark.streaming.asof import (
        split_at_watermark,
    )

    t = 1_000_000
    out, (carry, clicks, purchases) = split_at_watermark(
        None, [t], [t], wm_us=t
    )
    assert out == [] and carry is None
    assert clicks == [t] and purchases == [t]
    out, (carry, clicks, purchases) = split_at_watermark(
        carry, clicks, purchases, wm_us=t + 1
    )
    assert out == [(t, t)]  # the inclusive equal-instant match
    assert (carry, clicks, purchases) == (t, [], [])


def test_split_at_watermark_pre_epoch_carry():
    """Unit twin of the -1-sentinel fix: a pre-epoch purchase folds
    into the carry and matches a later click; with no purchase at all
    the emission is None (not a phantom -1)."""
    from healthcare_aihw_etl_pipeline_spark.streaming.asof import (
        split_at_watermark,
    )

    neg = -604_800_000_000  # 1969-12-25, genuinely negative
    click = 1_700_000_000_000
    out, state = split_at_watermark(None, [click], [neg], wm_us=click + 1)
    assert out == [(click, neg)]
    assert state == (neg, [], [])
    out, _ = split_at_watermark(None, [click], [], wm_us=click + 1)
    assert out == [(click, None)]


# NOTE (measured, this Spark version): BOTH r15 ADVICE scenarios are
# unreachable end-to-end — the late filter drops input with
# ts <= watermark (strictly-newer only, probed with an offset ladder
# around an exact watermark), and the INITIAL watermark is 0 (epoch),
# so pre-epoch events are late-dropped at the source before any state
# handler runs. The kernel-level tests above pin the fixed semantics
# anyway: they hold under either filter convention and cost nothing,
# and the full-corpus replay test (tests/test_round15.py) pins the
# end-to-end batch parity on reachable inputs.


# ---------------------------------------------------------------------------
# adaptive storage paths: small and large branches agree


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _both_sides(spark, sf_dir, monkeypatch, name):
    """Build ``name`` on its scale-safe side (footer unreadable) and then
    on its small side; return each side's rows and whether its physical
    plan reads an in-memory persisted relation. The cache is cleared
    first: a relation the small side persisted earlier in the session
    would otherwise serve the scale-safe side's equal subplan too."""
    from healthcare_aihw_etl_pipeline_spark.sources import catalog

    def side():
        df = REGISTRY[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return _rows(df), "InMemoryTableScan" in plan

    spark.catalog.clearCache()
    with monkeypatch.context() as m:
        m.setattr(catalog, "table_rows", lambda *_a, **_k: None)
        large = side()
    return side(), large


def test_dup_span_small_path_equals_recompute_path(
    spark, sf_dir, monkeypatch
):
    """dup_span_stats keys its one-pass persist on the documents
    footer row count; forcing the footer unreadable (None) must take
    the recompute-both-branches path, with no in-memory relation in its
    plan, and produce the identical relation."""
    (small, small_cached), (large, large_cached) = _both_sides(
        spark, sf_dir, monkeypatch, "dup_span_stats"
    )
    assert small == large
    assert small_cached and not large_cached


def test_assoc_rules_small_path_equals_checkpoint_path(
    spark, sf_dir, monkeypatch
):
    """assoc_rules_top20 keys its lazy in-memory persist vs eager
    DISK_ONLY checkpoint on the lineitem footer row count; both
    storage strategies must produce the identical relation, and only
    the small side reads an in-memory relation."""
    (small, small_cached), (large, large_cached) = _both_sides(
        spark, sf_dir, monkeypatch, "assoc_rules_top20"
    )
    assert small == large
    assert small_cached and not large_cached
