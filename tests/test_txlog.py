"""Log-based transactional table tests: snapshot isolation, copy-on-write
MERGE (untouched partitions' files carried by reference, not rewritten),
exactly-once streaming via the txn map, and optimistic-commit conflicts."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
    CommitConflict,
    TxLogTable,
    write_stream_txlog_merge,
)

COLS = ["event_id", "event_type", "value"]


def _rows(df):
    return sorted((r.event_id, r.event_type, r.value) for r in df.collect())


def test_append_and_snapshot(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    assert t.snapshot(spark) is None
    v0 = t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    v1 = t.append(spark.createDataFrame([(3, "click", 3.0)], COLS))
    assert (v0, v1) == (0, 1)
    assert _rows(t.snapshot(spark)) == [
        (1, "click", 1.0), (2, "view", 2.0), (3, "click", 3.0)
    ]
    # time travel: version 0 still readable, untouched
    assert _rows(t.snapshot(spark, version=0)) == [(1, "click", 1.0), (2, "view", 2.0)]


def test_merge_copy_on_write(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(
        spark.createDataFrame(
            [(1, "click", 1.0), (2, "view", 2.0), (3, "view", 3.0)], COLS
        )
    )
    files_before = set(t.head()[1]["files"])
    view_files_before = {f for f in files_before if "event_type=view" in f}

    # batch touches ONLY the click partition: update key 1, insert key 4
    t.merge(
        spark.createDataFrame([(1, "click", 9.0), (4, "click", 4.0)], COLS),
        key_cols=["event_id"],
    )
    got = _rows(t.snapshot(spark))
    assert got == [(1, "click", 9.0), (2, "view", 2.0), (3, "view", 3.0), (4, "click", 4.0)]

    files_after = set(t.head()[1]["files"])
    view_files_after = {f for f in files_after if "event_type=view" in f}
    # copy-on-write: view partition files carried BY REFERENCE
    assert view_files_after == view_files_before
    # click partition rewritten: none of its old files survive
    click_files_before = files_before - view_files_before
    assert not (click_files_before & files_after)


def test_merge_partition_spanning_batches(spark, tmp_path):
    """The shape directory-level partition replace cannot do: one
    partition's rows arriving across two batches both survive."""
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.merge(spark.createDataFrame([(1, "click", 1.0)], COLS), key_cols=["event_id"])
    t.merge(spark.createDataFrame([(2, "click", 2.0)], COLS), key_cols=["event_id"])
    assert _rows(t.snapshot(spark)) == [(1, "click", 1.0), (2, "click", 2.0)]


def test_txn_replay_is_noop(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    b = spark.createDataFrame([(1, "click", 1.0)], COLS)
    v1 = t.merge(b, key_cols=["event_id"], writer_id="s", batch_id=7)
    v2 = t.merge(b, key_cols=["event_id"], writer_id="s", batch_id=7)  # replay
    assert v2 == v1  # no new commit
    assert _rows(t.snapshot(spark)) == [(1, "click", 1.0)]


def test_commit_conflict_retry_and_raise(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    # a concurrent APPEND between head() and commit: retried transparently
    # (simulate by pre-creating the next version with the same file list)
    head_v, manifest = t.head()
    path = os.path.join(t.log_dir, f"{head_v + 1:020d}.json")
    with open(path, "w") as f:
        json.dump(manifest, f)
    v = t.append(spark.createDataFrame([(2, "view", 2.0)], COLS))
    assert v == head_v + 2  # landed after the interloper
    assert _rows(t.snapshot(spark)) == [(1, "click", 1.0), (2, "view", 2.0)]

    # a concurrent commit that REWRITES the files this merge read: conflict
    head_v, manifest = t.head()
    conflicting = dict(manifest)
    conflicting["files"] = [f for f in manifest["files"] if "view" not in f]

    class Racer(TxLogTable):
        def _try_commit(self, version, m):
            # interloper wins the race right before every attempt
            with open(
                os.path.join(self.log_dir, f"{version:020d}.json"), "w"
            ) as f:
                json.dump(conflicting, f)
            return False

    r = Racer(str(tmp_path / "t"), ["event_type"])
    with pytest.raises(CommitConflict):
        r.merge(
            spark.createDataFrame([(3, "view", 3.0)], COLS), key_cols=["event_id"]
        )


def test_streaming_txlog_merge_exactly_once(spark, tmp_path):
    """foreachBatch into the log table: partition-spanning micro-batches
    merge correctly and a checkpointed restart is a fixed point."""
    src = tmp_path / "src"
    src.mkdir()
    batch1 = [(1, "click", 1.0), (4, "click", 4.0), (2, "view", 2.0)]
    batch2 = [(3, "click", 3.0), (1, "click", 9.9)]
    for i, rows in enumerate([batch1, batch2]):
        f = str(src / f"b{i}")
        spark.createDataFrame(rows, COLS).coalesce(1).write.parquet(f)
        for name in os.listdir(f):
            os.utime(os.path.join(f, name), (1_000_000 + i, 1_000_000 + i))

    root = str(tmp_path / "tx")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        return write_stream_txlog_merge(
            stream, root, ckpt, ["event_type"], ["event_id"]
        )

    start().awaitTermination(120)
    want = [(1, "click", 9.9), (2, "view", 2.0), (3, "click", 3.0), (4, "click", 4.0)]
    t = TxLogTable(root, ["event_type"])
    assert _rows(t.snapshot(spark)) == want
    v = t.head()[0]
    start().awaitTermination(120)  # restart, no new input
    assert t.head()[0] == v
    assert _rows(t.snapshot(spark)) == want


def test_compact_and_vacuum_lifecycle(spark, tmp_path):
    """Two appends leave two files in one partition; compact rewrites
    them into one (old files retained for snapshot readers); vacuum then
    reclaims unreferenced files and ends time travel past the horizon."""
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    t.append(spark.createDataFrame([(3, "click", 3.0)], COLS))
    click_before = [f for f in t.head()[1]["files"] if "event_type=click" in f]
    assert len(click_before) == 2

    t.compact(spark)
    head_v, manifest = t.head()
    click_after = [f for f in manifest["files"] if "event_type=click" in f]
    assert len(click_after) == 1
    want = [(1, "click", 1.0), (2, "view", 2.0), (3, "click", 3.0)]
    assert _rows(t.snapshot(spark)) == want
    # old files still on disk: pre-compaction snapshot remains readable
    assert _rows(t.snapshot(spark, version=1)) == want
    for f in click_before:
        assert os.path.exists(os.path.join(t.data_dir, f))

    # default retention horizon: young unreferenced files are NOT deleted
    # (they may belong to an in-flight commit that has staged but not yet
    # committed) — only the manifests past the horizon are dropped.
    assert t.vacuum(retain_versions=1) == []
    for f in click_before:
        assert os.path.exists(os.path.join(t.data_dir, f))

    deleted = t.vacuum(retain_versions=1, retention_seconds=0.0)
    assert set(click_before) <= set(deleted)
    # head snapshot unaffected; dropped manifests gone
    assert _rows(t.snapshot(spark)) == want
    assert t._versions() == [head_v]


def test_staged_file_names_unique_across_racing_writers(spark, tmp_path):
    """Two writers racing from the same head stage files with the same
    version hint; UUID-scoped names keep their paths disjoint, so the
    race loser cannot silently overwrite the winner's committed bytes."""
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    a = t._stage_files(spark.createDataFrame([(1, "click", 1.0)], COLS), 1)
    b = t._stage_files(spark.createDataFrame([(2, "click", 2.0)], COLS), 1)
    assert not (set(a) & set(b))
    for rel in a + b:
        assert os.path.exists(os.path.join(t.data_dir, rel))


def test_compact_zorder_clusters_rows(spark, tmp_path):
    """OPTIMIZE ZORDER: the rewritten file's row order follows the
    Morton curve of (x, y) — parquet preserves write order, so reading
    the compacted snapshot back must show non-decreasing z-values."""
    from healthcare_aihw_etl_pipeline_spark.operators.layout import (
        bucketize,
        zvalue,
    )

    t = TxLogTable(str(tmp_path / "t"), [])
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), F.expr("id DIV 64").alias("y")
    )
    # two appends in anti-z (plain row-id) order -> two unclustered files
    t.append(grid.where("id % 2 = 0").coalesce(1))
    t.append(grid.where("id % 2 = 1").coalesce(1))
    assert len(t.head()[1]["files"]) == 2

    t.compact_zorder(spark, "x", "y", bits=6)
    _, manifest = t.head()
    assert len(manifest["files"]) == 1
    snap = t.snapshot(spark)
    assert snap.count() == 4096
    zs = [
        r.z
        for r in snap.select(
            zvalue(
                bucketize(F.col("x"), 0, 63, 6),
                bucketize(F.col("y"), 0, 63, 6),
                6,
            ).alias("z")
        ).collect()
    ]
    assert zs == sorted(zs), "compacted file is not z-ordered"


def test_snapshot_partition_pruning(spark, tmp_path):
    """A partition-column filter on a snapshot read must prune at the
    FILE level (PartitionFilters in the scan), not post-filter rows —
    at 100 TB this is the difference between scanning one partition and
    scanning the table. snapshot() passes the manifest's file list with
    basePath, so Spark still derives the hive partition columns."""
    import io
    from contextlib import redirect_stdout

    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(
        spark.createDataFrame(
            [(1, "click", 1.0), (2, "view", 2.0), (3, "scroll", 3.0)], COLS
        )
    )
    snap = t.snapshot(spark).where(F.col("event_type") == "click")
    buf = io.StringIO()
    with redirect_stdout(buf):
        snap.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan, plan
    assert "isnotnull(event_type" in plan or "event_type" in plan.split(
        "PartitionFilters"
    )[1].splitlines()[0], plan
    # only the click partition's rows survive, and the scan's selected
    # partition count is 1 of 3
    assert _rows(snap) == [(1, "click", 1.0)]


def test_schema_evolution_additive(spark, tmp_path):
    """Additive evolution: a merge batch carrying a NEW column commits;
    snapshot() reads the manifest-recorded union schema, so pre-evolution
    files yield NULL for the new column (no mergeSchema footer walk).
    A later NARROWER append must not drop the evolved column either.
    Time travel keeps the old schema at the old version."""
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))

    wide = spark.createDataFrame(
        [(3, "click", 3.0, "mobile")], COLS + ["device"]
    )
    t.merge(wide, key_cols=["event_id"])
    snap = t.snapshot(spark)
    assert "device" in snap.columns
    got = sorted(
        (r.event_id, r.event_type, r.value, r.device) for r in snap.collect()
    )
    assert got == [
        (1, "click", 1.0, None),
        (2, "view", 2.0, None),
        (3, "click", 3.0, "mobile"),
    ]
    # narrower append keeps the evolved column in the union schema
    t.append(spark.createDataFrame([(4, "scroll", 4.0)], COLS))
    snap2 = t.snapshot(spark)
    assert "device" in snap2.columns
    assert snap2.where("event_id = 4").first().device is None
    assert snap2.count() == 4
    # pre-evolution snapshot: original schema
    assert "device" not in t.snapshot(spark, version=0).columns


def test_snapshot_where_file_skipping(spark, tmp_path):
    """snapshot_where prunes FILES via manifest min/max stats before
    Spark lists them: two appends with disjoint value ranges, a bounded
    read touches only the intersecting file, and the result still equals
    the full snapshot filtered row-wise."""
    t = TxLogTable(str(tmp_path / "t"), [])
    t.append(
        spark.createDataFrame(
            [(1, "click", 10.0), (2, "view", 20.0)], COLS
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(3, "click", 900.0), (4, "view", 950.0)], COLS
        ).coalesce(1)
    )
    manifest = t.head()[1]
    assert all(manifest["stats"][p].get("value") for p in manifest["files"])

    pruned = t.snapshot_where(spark, "value", lo=800.0)
    assert len(pruned.inputFiles()) == 1  # low-range file skipped
    want = sorted(
        (r.event_id, r.value)
        for r in t.snapshot(spark).where("value >= 800.0").collect()
    )
    assert sorted((r.event_id, r.value) for r in pruned.collect()) == want

    # integer-column stats prune too
    assert len(t.snapshot_where(spark, "event_id", hi=2).inputFiles()) == 1

    # files with NO recorded stats are conservatively kept: strip the
    # stats from the committed manifest and re-read
    head_v, manifest = t.head()
    manifest["stats"] = {}
    with open(os.path.join(t.log_dir, f"{head_v:020d}.json"), "w") as f:
        json.dump(manifest, f)
    assert len(t.snapshot_where(spark, "value", lo=800.0).inputFiles()) == 2


def test_change_data_feed(spark, tmp_path):
    """Opt-in CDF: append records inserts; a merge records updates vs
    inserts against the pre-merge snapshot; the feed is version-stamped,
    range-filterable, and a replayed batch adds nothing."""
    t = TxLogTable(str(tmp_path / "t"), ["event_type"], track_changes=True)
    v0 = t.append(
        spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS)
    )
    v1 = t.merge(
        spark.createDataFrame([(1, "click", 9.0), (3, "click", 3.0)], COLS),
        key_cols=["event_id"],
        writer_id="s",
        batch_id=1,
    )
    feed = t.changes(spark)
    got = sorted(
        (r.event_id, r._change_type, r._commit_version) for r in feed.collect()
    )
    assert got == [
        (1, "insert", v0),
        (1, "update", v1),
        (1, "update_preimage", v1),  # the replaced row rides along (Delta CDF)
        (2, "insert", v0),
        (3, "insert", v1),
    ]
    # range filter: only the merge commit
    assert {r.event_id for r in t.changes(spark, since=v1).collect()} == {1, 3}
    # replay: no-op commit, no new feed entries
    t.merge(
        spark.createDataFrame([(1, "click", 9.0), (3, "click", 3.0)], COLS),
        key_cols=["event_id"],
        writer_id="s",
        batch_id=1,
    )
    assert t.changes(spark).count() == feed.count()


def test_schema_incompatible_type_change_rejected(spark, tmp_path):
    """A commit whose frame flips an existing column's type (double ->
    string) must ABORT — Delta rejects non-additive type changes at
    commit time, because the alternative is a successful commit that
    bricks every later snapshot() ('Parquet column cannot be
    converted'). The table stays readable and the aborted commit leaves
    no staged files behind."""
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        SchemaIncompatible,
    )

    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    head_before = t.head()

    bad = spark.createDataFrame([(3, "click", "oops")], COLS)  # value: str
    with pytest.raises(SchemaIncompatible):
        t.append(bad)
    with pytest.raises(SchemaIncompatible):
        t.merge(bad, key_cols=["event_id"])

    # nothing committed, nothing staged, table still reads
    assert t.head()[0] == head_before[0]
    on_disk = {
        os.path.relpath(os.path.join(d, f), t.data_dir)
        for d, _, fs in os.walk(t.data_dir)
        for f in fs
    }
    assert on_disk == set(head_before[1]["files"])
    assert _rows(t.snapshot(spark)) == [(1, "click", 1.0), (2, "view", 2.0)]


def test_schema_safe_widening_accepted(spark, tmp_path):
    """int -> long is a safe widening (parquet INT32 pages upcast): the
    commit succeeds and the manifest records the WIDER type, in both
    directions of arrival order."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    narrow_schema = StructType(
        [
            StructField("event_id", IntegerType()),
            StructField("event_type", StringType()),
        ]
    )
    t = TxLogTable(str(tmp_path / "t"), [])
    t.append(spark.createDataFrame([(1, "click")], narrow_schema))
    # wider frame arrives: commit succeeds, manifest type widens to long
    t.append(spark.createDataFrame([(2**40, "view")], ["event_id", "event_type"]))
    recorded = {
        f["name"]: f["type"] for f in t.head()[1]["schema"]["fields"]
    }
    assert recorded["event_id"] == "long"
    # narrower frame AFTER widening: commit succeeds, wide type kept
    t.append(spark.createDataFrame([(3, "scroll")], narrow_schema))
    recorded = {
        f["name"]: f["type"] for f in t.head()[1]["schema"]["fields"]
    }
    assert recorded["event_id"] == "long"
    got = sorted(r.event_id for r in t.snapshot(spark).collect())
    assert got == [1, 3, 2**40]


def test_change_feed_recorded_in_manifest(spark, tmp_path):
    """The feed dir is written BEFORE the manifest that references it
    (Delta writes cdc files before the commit JSON): every committed
    manifest with a feed names an existing dir, and a LOST feed entry
    surfaces as an error from changes(), never a silent gap."""
    t = TxLogTable(str(tmp_path / "t"), ["event_type"], track_changes=True)
    t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    v1 = t.merge(
        spark.createDataFrame([(1, "click", 9.0), (2, "view", 2.0)], COLS),
        key_cols=["event_id"],
    )
    # each commit's manifest names its feed dir, and the dir exists
    for v in (0, v1):
        rel = t._read_manifest(v).get("changes")
        assert rel is not None
        assert os.path.isdir(os.path.join(t.changes_dir, rel))
    # simulate a lost feed: remove the merge commit's dir
    import shutil as _sh

    _sh.rmtree(os.path.join(t.changes_dir, t._read_manifest(v1)["changes"]))
    with pytest.raises(ValueError, match="change feed .* missing"):
        t.changes(spark).collect()
    # ranges that exclude the lost version still read
    assert t.changes(spark, until=0).count() == 1


def test_vacuum_reclaims_unreferenced_change_dirs(spark, tmp_path):
    """vacuum drops feed dirs referenced only by dropped manifests (and
    orphaned staged dirs), but never a kept manifest's feed."""
    t = TxLogTable(str(tmp_path / "t"), ["event_type"], track_changes=True)
    t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    t.merge(
        spark.createDataFrame([(2, "view", 2.0)], COLS), key_cols=["event_id"]
    )
    # orphan staged dir (an aborted commit's leftovers)
    orphan = os.path.join(t.changes_dir, "staged-deadbeef")
    os.makedirs(orphan)
    kept_rel = t.head()[1]["changes"]
    deleted = t.vacuum(retain_versions=1, retention_seconds=0)
    assert os.path.join("_changes", "staged-deadbeef") in deleted
    assert not os.path.isdir(orphan)
    assert os.path.isdir(os.path.join(t.changes_dir, kept_rel))
    # the surviving head version's feed still reads cleanly
    assert {r.event_id for r in t.changes(spark).collect()} == {2}


def test_snapshot_where_timestamp_and_datetime_bounds(spark, tmp_path):
    """Timestamp stats are recorded as isoformat strings ('T'
    separator); bounds given as datetime objects or space-separated
    strings must normalize instead of raising TypeError / silently
    mispruning."""
    import datetime as dt

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
        ]
    )
    t = TxLogTable(str(tmp_path / "t"), [])
    t.append(
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 2, 1))],
            schema,
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(3, dt.datetime(2024, 8, 1)), (4, dt.datetime(2024, 9, 1))],
            schema,
        ).coalesce(1)
    )
    manifest = t.head()[1]
    recorded = [manifest["stats"][p]["ts"][0] for p in manifest["files"]]
    assert all("T" in s for s in recorded)  # isoformat form on disk

    # datetime bound
    pruned = t.snapshot_where(spark, "ts", lo=dt.datetime(2024, 6, 1))
    assert len(pruned.inputFiles()) == 1
    assert {r.event_id for r in pruned.collect()} == {3, 4}
    # space-separated string bound (SQL literal form)
    pruned2 = t.snapshot_where(spark, "ts", lo="2024-06-01 00:00:00")
    assert len(pruned2.inputFiles()) == 1
    assert {r.event_id for r in pruned2.collect()} == {3, 4}
    # upper bound, date object
    pruned3 = t.snapshot_where(spark, "ts", hi=dt.date(2024, 6, 1))
    assert len(pruned3.inputFiles()) == 1
    assert {r.event_id for r in pruned3.collect()} == {1, 2}


def test_delete_where_copy_on_write(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(
        spark.createDataFrame(
            [(1, "click", 1.0), (2, "view", 2.0), (3, "view", 3.0)], COLS
        )
    )
    files_before = set(t.head()[1]["files"])
    click_before = {f for f in files_before if "event_type=click" in f}

    v = t.delete_where(spark, "event_type = 'view' AND value > 2.5")
    assert v == 1
    assert _rows(t.snapshot(spark)) == [(1, "click", 1.0), (2, "view", 2.0)]
    # time travel: pre-delete snapshot intact
    assert len(_rows(t.snapshot(spark, version=0))) == 3

    files_after = set(t.head()[1]["files"])
    # copy-on-write is FILE-level: every file without a matching row —
    # including view files that only hold non-matching rows — is carried
    # by reference; only the file(s) containing value=3.0 are dropped.
    assert click_before <= files_after
    rewritten = files_before - files_after
    assert rewritten and all("event_type=view" in f for f in rewritten)


def test_delete_where_no_match_is_noop_commit(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    v0 = t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    v = t.delete_where(spark, F.col("value") > 100)
    assert v == v0  # no empty commit published
    assert t.head()[0] == v0


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    # SQL DELETE removes rows where the predicate is TRUE; a NULL
    # predicate is NOT a match and the row must survive.
    t = TxLogTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "click", None), (2, "click", 5.0), (3, "click", 1.0)], COLS
        )
    )
    t.delete_where(spark, "value > 2.0")
    assert _rows(t.snapshot(spark)) == [(1, "click", None), (3, "click", 1.0)]


def test_delete_where_all_rows_in_file(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    t.delete_where(spark, "event_type = 'view'")
    got = _rows(t.snapshot(spark))
    assert got == [(1, "click", 1.0)]
    # the emptied partition's files are gone from the manifest entirely
    assert not any("event_type=view" in f for f in t.head()[1]["files"])


def test_delete_where_change_feed(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), track_changes=True)
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    v = t.delete_where(spark, "event_type = 'view'")
    feed = t.changes(spark, since=v, until=v)
    rows = [(r.event_id, r._change_type) for r in feed.collect()]
    assert rows == [(2, "delete")]


def test_update_where_copy_on_write(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(
        spark.createDataFrame(
            [(1, "click", 1.0), (2, "view", 2.0), (3, "view", 3.0)], COLS
        )
    )
    files_before = set(t.head()[1]["files"])
    click_before = {f for f in files_before if "event_type=click" in f}

    t.update_where(spark, "event_type = 'view'", {"value": F.col("value") * 10})
    assert _rows(t.snapshot(spark)) == [
        (1, "click", 1.0), (2, "view", 20.0), (3, "view", 30.0)
    ]
    # untouched click partition carried by reference
    assert click_before <= set(t.head()[1]["files"])


def test_update_where_change_feed_postimage(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), track_changes=True)
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    v = t.update_where(spark, "event_id = 2", {"value": "value + 0.5"})
    feed = t.changes(spark, since=v, until=v)
    rows = sorted((r.event_id, r.value, r._change_type) for r in feed.collect())
    assert rows == [(2, 2.0, "update_preimage"), (2, 2.5, "update")]


def test_update_where_new_column_evolves_schema(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    t.update_where(spark, "event_id = 2", {"flagged": F.lit(True)})
    snap = t.snapshot(spark)
    assert "flagged" in snap.columns
    got = sorted((r.event_id, r.flagged) for r in snap.collect())
    assert got == [(1, None), (2, True)]


def test_delete_concurrent_writer_conflict(spark, tmp_path):
    """A delete whose read set is invalidated by a concurrent commit must
    raise CommitConflict, never publish survivors computed from a stale
    file list."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))

    t2 = TxLogTable(str(tmp_path / "t"))
    orig_try = t._try_commit
    raced = {"done": False}

    def race_then_commit(version, manifest):
        if not raced["done"]:
            raced["done"] = True
            # concurrent writer rewrites the SAME files (merge on key 2)
            t2.merge(
                spark.createDataFrame([(2, "view", 99.0)], COLS),
                key_cols=["event_id"],
            )
        return orig_try(version, manifest)

    t._try_commit = race_then_commit
    with pytest.raises(CommitConflict):
        t.delete_where(spark, "event_type = 'view'")
    # the concurrent merge's row is intact — the stale delete never landed
    assert (2, "view", 99.0) in _rows(t2.snapshot(spark))


def test_change_feed_replays_to_snapshot(spark, tmp_path):
    """End-to-end CDC contract: a downstream replica maintained ONLY from
    changes() — applying inserts/updates as upserts and deletes as
    removals in commit order — must equal the head snapshot after a
    history of append, merge, update and delete commits."""
    t = TxLogTable(str(tmp_path / "t"), track_changes=True)
    t.append(spark.createDataFrame(
        [(1, "click", 1.0), (2, "view", 2.0), (3, "view", 3.0)], COLS))
    t.merge(spark.createDataFrame(
        [(2, "view", 20.0), (4, "click", 4.0)], COLS), key_cols=["event_id"])
    t.update_where(spark, "event_id = 1", {"value": "value + 100.0"})
    t.delete_where(spark, "event_id = 3")

    feed = t.changes(spark).collect()
    replica: dict[int, tuple] = {}
    # preimages describe the REPLACED row — a replica consumer applies
    # postimages only (delta consumers feed them to incremental_agg_delta)
    feed = [r for r in feed if r._change_type != "update_preimage"]
    for r in sorted(feed, key=lambda r: r._commit_version):
        if r._change_type == "delete":
            replica.pop(r.event_id, None)
        else:  # insert / update: upsert by key
            replica[r.event_id] = (r.event_id, r.event_type, r.value)
    assert sorted(replica.values()) == _rows(t.snapshot(spark))


def test_check_constraint_blocks_bad_commit(spark, tmp_path):
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        ConstraintViolation,
    )

    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    t.add_constraint(spark, "value_nonneg", "value >= 0.0")

    # a violating append aborts BEFORE any manifest lands
    v_before = t.head()[0]
    with pytest.raises(ConstraintViolation, match="value_nonneg"):
        t.append(spark.createDataFrame([(2, "view", -5.0)], COLS))
    assert t.head()[0] == v_before
    assert _rows(t.snapshot(spark)) == [(1, "click", 1.0)]

    # NULL passes (SQL CHECK three-valued semantics); valid rows commit
    t.append(spark.createDataFrame([(3, "view", None), (4, "view", 2.0)], COLS))
    assert len(_rows(t.snapshot(spark))) == 3

    # a violating UPDATE is also blocked
    with pytest.raises(ConstraintViolation):
        t.update_where(spark, "event_id = 4", {"value": F.lit(-1.0)})

    # dropping the constraint re-opens the gate
    t.drop_constraint("value_nonneg")
    t.append(spark.createDataFrame([(5, "view", -9.0)], COLS))
    assert (5, "view", -9.0) in _rows(t.snapshot(spark))


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        ConstraintViolation,
    )

    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "click", -1.0)], COLS))
    with pytest.raises(ConstraintViolation):
        t.add_constraint(spark, "value_nonneg", "value >= 0.0")
    # the failed add left no metadata commit behind
    assert "constraints" not in t.head()[1]


def test_restore_to_version(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), track_changes=True)
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    t.delete_where(spark, "event_id = 2")
    t.append(spark.createDataFrame([(3, "click", 3.0)], COLS))
    assert _rows(t.snapshot(spark)) == [(1, "click", 1.0), (3, "click", 3.0)]

    v = t.restore(0)
    # restore is a NEW commit reproducing version 0's content
    assert v == t.head()[0]
    assert t.head()[1]["restored_from"] == 0
    assert _rows(t.snapshot(spark)) == [(1, "click", 1.0), (2, "view", 2.0)]
    # history intact: the pre-restore head is still readable
    assert _rows(t.snapshot(spark, version=v - 1)) == [
        (1, "click", 1.0), (3, "click", 3.0)
    ]


def test_restore_after_vacuum_refuses(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    t.compact(spark)  # no-op (1 file) or rewrite; make version 1 distinct
    t.delete_where(spark, "event_id = 1")
    t.append(spark.createDataFrame([(2, "view", 2.0)], COLS))
    t.vacuum(retain_versions=1, retention_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(0)


def test_snapshot_as_of_timestamp(spark, tmp_path):
    import time as _time

    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    between = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(2, "view", 2.0)], COLS))

    assert _rows(t.snapshot_as_of(spark, between)) == [(1, "click", 1.0)]
    assert len(_rows(t.snapshot_as_of(spark, _time.time()))) == 2
    # before the table existed
    assert t.snapshot_as_of(spark, between - 3600) is None


def test_merge_when_matched_delete(spark, tmp_path):
    """MERGE with a delete clause: flagged batch rows remove their key,
    unflagged rows upsert, all in ONE commit; CDF classifies all three."""
    t = TxLogTable(str(tmp_path / "t"), ["event_type"], track_changes=True)
    t.append(spark.createDataFrame(
        [(1, "click", 1.0), (2, "click", 2.0), (3, "view", 3.0)], COLS))

    batch = spark.createDataFrame(
        [(1, "click", 9.0, False),   # matched → update
         (2, "click", 0.0, True),    # matched → DELETE
         (4, "click", 4.0, False)],  # unmatched → insert
        COLS + ["is_del"],
    )
    v = t.merge(batch, ["event_id"], delete_predicate="is_del",
                drop_after=["is_del"])
    assert _rows(t.snapshot(spark)) == [
        (1, "click", 9.0), (3, "view", 3.0), (4, "click", 4.0)
    ]
    # the control column never evolved into the table schema
    assert "is_del" not in t.snapshot(spark).columns
    feed = {(r.event_id, r._change_type)
            for r in t.changes(spark, since=v, until=v).collect()}
    assert feed == {
        (1, "update"), (1, "update_preimage"), (2, "delete"), (4, "insert")
    }


def test_history_records_operations(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    t.merge(spark.createDataFrame([(2, "view", 9.0)], COLS), ["event_id"])
    t.delete_where(spark, "event_id = 1")
    t.add_constraint(spark, "v_nonneg", "value >= 0.0")
    t.restore(0)
    ops = [h["operation"] for h in t.history()]
    assert ops == ["restore", "add_constraint", "delete", "merge", "append"]
    assert t.history()[0]["restored_from"] == 0
    # commit times are monotone non-decreasing oldest→newest
    ts = [h["committed_at"] for h in reversed(t.history())]
    assert ts == sorted(ts)


def test_change_feed_consumer_incremental_sync(spark, tmp_path):
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        ChangeFeedConsumer,
    )

    src = TxLogTable(str(tmp_path / "src"), track_changes=True)
    dst = TxLogTable(str(tmp_path / "dst"))
    c = ChangeFeedConsumer(src, str(tmp_path / "offset.json"))

    # window 1: inserts
    src.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    c.sync_to(spark, dst, ["event_id"])
    assert _rows(dst.snapshot(spark)) == _rows(src.snapshot(spark))

    # window 2: update + delete + insert, netted across commits
    src.merge(spark.createDataFrame([(2, "view", 20.0)], COLS), ["event_id"])
    src.delete_where(spark, "event_id = 1")
    src.append(spark.createDataFrame([(3, "click", 3.0)], COLS))
    c.sync_to(spark, dst, ["event_id"])
    assert _rows(dst.snapshot(spark)) == _rows(src.snapshot(spark))
    assert _rows(dst.snapshot(spark)) == [(2, "view", 20.0), (3, "click", 3.0)]

    # net effect: a key inserted then deleted in ONE window never lands
    src.append(spark.createDataFrame([(9, "view", 9.0)], COLS))
    src.delete_where(spark, "event_id = 9")
    c.sync_to(spark, dst, ["event_id"])
    assert _rows(dst.snapshot(spark)) == _rows(src.snapshot(spark))
    assert all(r[0] != 9 for r in _rows(dst.snapshot(spark)))

    # idempotent replay: nothing pending → no new target commit
    v = dst.head()[0]
    assert c.sync_to(spark, dst, ["event_id"]) is None
    assert dst.head()[0] == v

    # crash replay: offset lost AFTER a target commit — the txn map
    # makes the re-applied window a no-op commit-wise
    import os as _os
    _os.remove(str(tmp_path / "offset.json"))
    c.sync_to(spark, dst, ["event_id"])
    assert _rows(dst.snapshot(spark)) == _rows(src.snapshot(spark))


def test_delete_where_prune_bounds_shrink_discovery(spark, tmp_path):
    """A prune bound makes the match-discovery scan read ONLY the files
    whose stats intersect it — and the result is identical to the
    unpruned delete."""
    t = TxLogTable(str(tmp_path / "t"))
    # three appends → three single-file commits with disjoint value ranges
    t.append(spark.createDataFrame(
        [(1, "click", 1.0), (2, "click", 2.0)], COLS).coalesce(1))
    t.append(spark.createDataFrame(
        [(3, "click", 10.0), (4, "click", 11.0)], COLS).coalesce(1))
    t.append(spark.createDataFrame(
        [(5, "click", 20.0), (6, "click", 21.0)], COLS).coalesce(1))
    manifest = t.head()[1]
    assert len(manifest["files"]) == 3

    # the bound (10..11) intersects exactly one file's stats
    cand = t._stats_prune(manifest, "value", 10.0, 11.0)
    assert len(cand) == 1

    t.delete_where(
        spark, "value >= 10.0 AND value <= 11.0", prune=("value", 10.0, 11.0)
    )
    assert _rows(t.snapshot(spark)) == [
        (1, "click", 1.0), (2, "click", 2.0),
        (5, "click", 20.0), (6, "click", 21.0),
    ]
    # only the matched file was rewritten (here: fully deleted)
    assert len(t.head()[1]["files"]) == 2


def test_update_where_prune_bounds(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    t.append(spark.createDataFrame([(2, "click", 10.0)], COLS))
    t.update_where(
        spark, "value >= 10.0", {"value": "value + 1.0"},
        prune=("value", 10.0, None),
    )
    assert _rows(t.snapshot(spark)) == [(1, "click", 1.0), (2, "click", 11.0)]


def test_incremental_aggregate_maintenance(spark, tmp_path):
    """A materialized (event_type -> count, sum) aggregate maintained
    ONLY from the change feed's signed deltas (+insert/+postimage,
    -delete/-preimage) equals the direct aggregate of the snapshot at
    every sync point — across appends, merges, updates and deletes —
    and groups whose count hits zero disappear."""
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        apply_incremental_agg,
    )

    src = TxLogTable(str(tmp_path / "src"), track_changes=True)
    agg = TxLogTable(str(tmp_path / "agg"))
    off = str(tmp_path / "ivm-offset.json")

    def check():
        apply_incremental_agg(
            spark, agg, src, ["event_type"], "value", off
        )
        got = sorted(
            (r.event_type, r.n_rows, round(r.sum_value, 6))
            for r in agg.snapshot(spark).collect()
        ) if agg.snapshot(spark) is not None else []
        want = sorted(
            (r.event_type, r.n, round(r.s, 6))
            for r in src.snapshot(spark)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        )
        assert got == want, (got, want)

    src.append(spark.createDataFrame(
        [(1, "click", 1.0), (2, "view", 2.0), (3, "view", 3.0)], COLS))
    check()
    # update moves value mass within a group
    src.update_where(spark, "event_id = 2", {"value": "value + 10.0"})
    check()
    # merge updates one key and inserts another
    src.merge(spark.createDataFrame(
        [(3, "view", 30.0), (4, "click", 4.0)], COLS), ["event_id"])
    check()
    # delete the whole 'click' group -> its aggregate row must vanish
    src.delete_where(spark, "event_type = 'click'")
    check()
    assert all(
        r.event_type != "click" for r in agg.snapshot(spark).collect()
    )


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_txlog_randomized_dml_against_model(spark, tmp_path, seed):
    """Model-based check: a seeded random sequence of append / merge /
    merge-with-delete / update_where / delete_where commits must keep
    the table equal to a plain in-memory dict model after EVERY commit;
    afterwards, every historical version must still time-travel to the
    model state recorded when it was committed, and a CDC replica built
    from the full change feed must equal the final state."""
    import random

    rng = random.Random(seed)
    t = TxLogTable(str(tmp_path / f"t{seed}"), track_changes=True)
    model: dict[int, tuple] = {}
    history: list[tuple[int, dict]] = []
    next_id = 1
    types = ["click", "view", "purchase"]

    def mk_rows(n, ids=None):
        nonlocal next_id
        rows = []
        for _ in range(n):
            if ids:
                eid = rng.choice(ids)
            else:
                eid = next_id
                next_id += 1
            rows.append((eid, rng.choice(types), round(rng.uniform(0, 100), 2)))
        return rows

    for _ in range(8):
        op = rng.choice(["append", "merge", "merge_del", "update", "delete"])
        if op == "append" or not model:
            rows = mk_rows(rng.randint(1, 4))
            v = t.append(spark.createDataFrame(rows, COLS))
            for r in rows:
                model[r[0]] = r
        elif op == "merge":
            rows = {r[0]: r for r in mk_rows(
                rng.randint(1, 3), ids=list(model) + [next_id]
            )}
            next_id += 1
            v = t.merge(
                spark.createDataFrame(list(rows.values()), COLS), ["event_id"]
            )
            model.update(rows)
        elif op == "merge_del":
            victims = rng.sample(list(model), k=min(2, len(model)))
            batch = [(eid, "view", 0.0, True) for eid in victims]
            ins = mk_rows(1)
            batch += [r + (False,) for r in ins]
            v = t.merge(
                spark.createDataFrame(batch, COLS + ["is_del"]),
                ["event_id"],
                delete_predicate="is_del",
                drop_after=["is_del"],
            )
            for eid in victims:
                model.pop(eid, None)
            for r in ins:
                model[r[0]] = r
        elif op == "update":
            cut = round(rng.uniform(0, 100), 2)
            v = t.update_where(
                spark, f"value < {cut}", {"value": F.col("value") + 1000.0}
            )
            model = {
                k: (k, et, round(val + 1000.0, 2) if val < cut else val)
                for k, (_, et, val) in model.items()
            }
        else:  # delete
            et = rng.choice(types)
            v = t.delete_where(spark, f"event_type = '{et}'")
            model = {k: r for k, r in model.items() if r[1] != et}
        got = [
            (r.event_id, r.event_type, round(r.value, 2))
            for r in t.snapshot(spark).collect()
        ] if t.head() else []
        assert sorted(got) == sorted(model.values()), (op, seed)
        history.append((v, dict(model)))

    # whole-history time travel
    for v, m in history:
        got = sorted(
            (r.event_id, r.event_type, round(r.value, 2))
            for r in t.snapshot(spark, version=v).collect()
        )
        assert got == sorted(m.values()), (v, seed)

    # CDC replica from the full feed equals the final state
    feed = [
        r for r in t.changes(spark).collect()
        if r._change_type != "update_preimage"
    ]
    replica: dict[int, tuple] = {}
    for r in sorted(feed, key=lambda r: r._commit_version):
        if r._change_type == "delete":
            replica.pop(r.event_id, None)
        else:
            replica[r.event_id] = (r.event_id, r.event_type, round(r.value, 2))
    assert sorted(replica.values()) == sorted(model.values()), seed


def test_stream_to_ivm_aggregate_chain(spark, tmp_path):
    """End-to-end bronze->silver->gold: a file stream MERGEs into a
    change-tracked txlog table (exactly-once), and a materialized
    aggregate is maintained from that table's feed alone — after each
    sync the gold aggregate equals the direct GROUP BY of the silver
    snapshot."""
    import os as _os

    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        apply_incremental_agg,
    )

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    agg = TxLogTable(str(tmp_path / "gold"))
    off = str(tmp_path / "gold-offset.json")

    def land(rows, i):
        f = str(src / f"b{i}")
        spark.createDataFrame(rows, COLS).coalesce(1).write.parquet(f)

    def run_stream():
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        write_stream_txlog_merge(
            stream, root, ckpt, ["event_type"], ["event_id"],
            track_changes=True,
        ).awaitTermination(120)

    def check():
        t = TxLogTable(root, ["event_type"], track_changes=True)
        apply_incremental_agg(spark, agg, t, ["event_type"], "value", off)
        got = sorted(
            (r.event_type, r.n_rows, round(r.sum_value, 2))
            for r in agg.snapshot(spark).collect()
        )
        want = sorted(
            (r.event_type, r.n, round(r.s, 2))
            for r in t.snapshot(spark)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        )
        assert got == want, (got, want)

    land([(1, "click", 1.0), (2, "view", 2.0)], 0)
    run_stream()
    check()
    # second wave: an update to key 1 and a new key, new micro-batch
    land([(1, "click", 9.0), (3, "view", 3.0)], 1)
    run_stream()
    check()
    assert _os.path.exists(off)


# -- round-7 regression tests (defects found in review) ----------------


def test_constraint_commit_does_not_replay_change_feed(spark, tmp_path):
    """A metadata-only commit (add/drop constraint) must not carry the
    previous commit's per-commit keys forward: on a track_changes table
    the head's "changes" feed dir would be re-referenced under the new
    version and changes() would emit that window's rows TWICE — every
    incremental-agg consumer downstream double-counts."""
    t = TxLogTable(str(tmp_path / "t"), track_changes=True)
    t.append(spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)], COLS))
    v = t.add_constraint(spark, "value_nonneg", "value >= 0.0")

    m = t._read_manifest(v)
    for k in ("changes", "removed", "restored_from"):
        assert k not in m, f"constraint commit leaked per-commit key {k!r}"
    # feed window of ONLY the constraint commit: no rows re-emitted
    assert t.changes(spark, since=v) is None
    # full feed still sees the original insert exactly once per row
    feed = t.changes(spark).collect()
    assert sorted(r.event_id for r in feed) == [1, 2]

    v2 = t.drop_constraint("value_nonneg")
    assert "changes" not in t._read_manifest(v2)
    assert sorted(r.event_id for r in t.changes(spark).collect()) == [1, 2]


def test_partition_prune_numeric_values_not_lexicographic(spark, tmp_path):
    """Hive path values are strings; pruning against a NUMERIC bound
    must parse them, not compare lexicographically ("10" < "2" is True
    as strings — the old compare silently dropped matching files)."""
    t = TxLogTable(str(tmp_path / "t"), ["event_id"])
    t.append(spark.createDataFrame(
        [(2, "click", 1.0), (10, "view", 2.0), (30, "view", 3.0)], COLS))
    manifest = t.head()[1]

    kept = set(t._stats_prune(manifest, "event_id", 3, None))
    assert all("event_id=2" not in p for p in kept)
    assert any("event_id=10" in p for p in kept), \
        "event_id=10 lexicographically pruned by lo=3"
    assert any("event_id=30" in p for p in kept)

    # end-to-end: a pruned snapshot read equals the plain filter
    got = _rows(t.snapshot_where(spark, "event_id", 3, None))
    assert got == [(10, "view", 2.0), (30, "view", 3.0)]
    # and a pruned DELETE does not skip the matching file
    t.delete_where(spark, "event_id >= 3", prune=("event_id", 3, None))
    assert _rows(t.snapshot(spark)) == [(2, "click", 1.0)]


def test_partition_prune_unparseable_value_kept(spark, tmp_path):
    """A partition value that won't parse to the bound's type keeps the
    file (conservative, like missing footer stats)."""
    t = TxLogTable(str(tmp_path / "t"), ["event_type"])
    t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    manifest = t.head()[1]
    # numeric bound over a string-valued partition column: keep all
    assert set(t._stats_prune(manifest, "event_type", 5, None)) == set(
        manifest["files"]
    )


def test_update_where_set_reads_old_row_swap(spark, tmp_path):
    """SQL/Delta UPDATE: all SET expressions evaluate against the
    PRE-update row, so {"a": "b", "b": "a"} swaps. Chained withColumn
    would make the second assignment read the first one's NEW value."""
    t = TxLogTable(str(tmp_path / "t"), track_changes=True)
    df = spark.createDataFrame([(1, 10.0, 20.0), (2, 3.0, 4.0)],
                               ["k", "a", "b"])
    t.append(df)
    t.update_where(spark, "k = 1", {"a": "b", "b": "a"})
    got = sorted((r.k, r.a, r.b) for r in t.snapshot(spark).collect())
    assert got == [(1, 20.0, 10.0), (2, 3.0, 4.0)]
    # change-feed postimage reflects the same old-row semantics
    post = [
        r for r in t.changes(spark, since=1).collect()
        if r._change_type == "update"
    ]
    assert [(r.k, r.a, r.b) for r in post] == [(1, 20.0, 10.0)]


def test_incremental_agg_crash_retry_does_not_double_apply(spark, tmp_path):
    """Crash window: the agg MERGE commits (txn map advanced) but the
    offset file write is lost, then NEW source commits land before the
    retry. The retry must resume from the TARGET's last applied window
    end, not the stale offset — else the first window's deltas are
    applied twice on top of a snapshot that already includes them."""
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        apply_incremental_agg,
    )

    src = TxLogTable(str(tmp_path / "src"), track_changes=True)
    agg = TxLogTable(str(tmp_path / "agg"))
    off = str(tmp_path / "off.json")

    src.append(spark.createDataFrame(
        [(1, "click", 1.0), (2, "view", 2.0)], COLS))
    apply_incremental_agg(spark, agg, src, ["event_type"], "value", off)

    # simulate the lost offset write
    with open(off, "w") as f:
        json.dump({"version": -1}, f)
    # new source commits land before the retry
    src.append(spark.createDataFrame([(3, "view", 30.0)], COLS))

    apply_incremental_agg(spark, agg, src, ["event_type"], "value", off)
    got = sorted(
        (r.event_type, r.n_rows, round(r.sum_value, 6))
        for r in agg.snapshot(spark).collect()
    )
    assert got == [("click", 1, 1.0), ("view", 2, 32.0)], got

    # idempotent replay with a healed offset: no state change
    v_before = agg.head()[0]
    apply_incremental_agg(spark, agg, src, ["event_type"], "value", off)
    assert agg.head()[0] == v_before


def test_incremental_agg_untouched_groups_not_rewritten(spark, tmp_path):
    """Sync batches contain ONLY groups present in the delta window —
    a partition-per-group agg table keeps untouched groups' files by
    reference instead of re-upserting the whole aggregate each sync."""
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        apply_incremental_agg,
    )

    src = TxLogTable(str(tmp_path / "src"), track_changes=True)
    agg = TxLogTable(str(tmp_path / "agg"), ["event_type"])
    off = str(tmp_path / "off.json")

    src.append(spark.createDataFrame(
        [(1, "click", 1.0), (2, "view", 2.0)], COLS))
    apply_incremental_agg(spark, agg, src, ["event_type"], "value", off)
    click_files = {
        f for f in agg.head()[1]["files"] if "event_type=click" in f
    }
    # second window touches ONLY the view group
    src.append(spark.createDataFrame([(3, "view", 30.0)], COLS))
    apply_incremental_agg(spark, agg, src, ["event_type"], "value", off)
    after = {f for f in agg.head()[1]["files"] if "event_type=click" in f}
    assert after == click_files, "untouched group's files were rewritten"
    got = sorted(
        (r.event_type, r.n_rows, round(r.sum_value, 6))
        for r in agg.snapshot(spark).collect()
    )
    assert got == [("click", 1, 1.0), ("view", 2, 32.0)]


def test_snapshot_as_of_naive_inputs_are_utc(spark, tmp_path):
    """committed_at is a UTC epoch; a naive ISO string / datetime must
    be interpreted as UTC so the same query string resolves to the same
    version on every host TZ. tz-aware inputs convert exactly."""
    import datetime as _dt
    import time as _time

    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "click", 1.0)], COLS))
    _time.sleep(0.05)
    between = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(2, "view", 2.0)], COLS))

    aware = _dt.datetime.fromtimestamp(between, _dt.timezone.utc)
    naive_utc_str = aware.replace(tzinfo=None).isoformat()
    assert _rows(t.snapshot_as_of(spark, naive_utc_str)) == [(1, "click", 1.0)]
    assert _rows(t.snapshot_as_of(spark, aware.replace(tzinfo=None))) == [
        (1, "click", 1.0)
    ]
    # tz-aware input in another zone: same instant, same version
    plus5 = aware.astimezone(_dt.timezone(_dt.timedelta(hours=5)))
    assert _rows(t.snapshot_as_of(spark, plus5)) == [(1, "click", 1.0)]


@pytest.mark.parametrize(
    "name",
    ["txlog_delete_update_snapshot", "ivm_join_snapshot", "ivm_full_outer_snapshot"],
)
def test_txlog_dml_query_result_cache_matches_fresh_run(
    spark, monkeypatch, jobs_run, name
):
    """Each registered DML query persists its few result rows keyed on
    sf_dir's mtime token (each registry sweep is a fresh process, so the
    in-process plan cache can't amortize the DML round-trip). A cache hit
    runs no Spark job and equals a forced fresh DML run bit-for-bit, and
    SPARK_GRAFT_FORCE_DML=1 bypasses the cache."""
    from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    q = REGISTRY[name]

    monkeypatch.setenv("SPARK_GRAFT_FORCE_DML", "1")
    fresh_df, fresh_jobs = jobs_run(lambda: q.build(spark, sf_dir))
    assert fresh_jobs > 0
    fresh = sorted((tuple(r) for r in fresh_df.collect()), key=repr)

    monkeypatch.delenv("SPARK_GRAFT_FORCE_DML")
    cached_df, hit_jobs = jobs_run(lambda: q.build(spark, sf_dir))
    assert hit_jobs == 0
    assert sorted((tuple(r) for r in cached_df.collect()), key=repr) == fresh
    assert len(fresh) >= 1
    assert cached_df.schema == fresh_df.schema

    # The cache lives in a 0700 per-user directory (no cross-user
    # pre-planting) and its key is salted with the code version.
    import stat
    import tempfile

    cache_dir = os.path.join(
        tempfile.gettempdir(), f"spark-graft-cache-{os.getuid()}"
    )
    assert os.path.isdir(cache_dir)
    assert stat.S_IMODE(os.stat(cache_dir).st_mode) == 0o700
    assert os.stat(cache_dir).st_uid == os.getuid()


def test_try_commit_two_process_race_single_winner(tmp_path):
    """The optimistic-commit primitive raced by TWO OS PROCESSES (no
    shared interpreter state, genuine kernel-level exclusive-link contention):
    both hammer the same version sequence; every version must have
    EXACTLY ONE winner and the union of winners covers the range."""
    import multiprocessing as mp

    root = str(tmp_path / "race")

    def worker(writer: str, wins):
        # fresh object per process: no shared fd/cache state
        t = TxLogTable(root)
        won = []
        for v in range(20):
            if t._try_commit(v, {"files": [], "txn": {}, "writer": writer}):
                won.append(v)
        wins.put((writer, won))

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    ps = [
        ctx.Process(target=worker, args=(w, q)) for w in ("a", "b")
    ]
    for p in ps:
        p.start()
    results = dict(q.get() for _ in ps)
    for p in ps:
        p.join(30)
    t = TxLogTable(root)
    assert t._versions() == list(range(20))
    # single winner per version: the two processes' win sets partition
    # the range (disjoint + complete), and each manifest records the
    # writer that actually created it
    assert sorted(results["a"] + results["b"]) == list(range(20))
    assert not (set(results["a"]) & set(results["b"]))
    for w, won in results.items():
        for v in won:
            assert t._read_manifest(v)["writer"] == w


def test_concurrent_writers_optimistic_retry_no_lost_commits(spark, tmp_path):
    """Two writers (threads over one shared local-mode session — the
    commit race itself is the kernel's exclusive link, identical to two drivers on a
    shared filesystem) interleave appends on one track_changes table.
    Every commit must land under a unique version via the retry loop
    (txlog.py _commit_loop), the final snapshot holds every row from
    both writers, and the change feed holds each inserted row exactly
    once — no lost or duplicated CDF entries."""
    import threading

    root = str(tmp_path / "t")
    n_each = 4
    errors: list[Exception] = []

    def writer(base: int):
        try:
            t = TxLogTable(root, track_changes=True)
            for i in range(n_each):
                eid = base + i
                t.append(
                    spark.createDataFrame(
                        [(eid, f"w{base}", float(eid))], COLS
                    )
                )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    th = [
        threading.Thread(target=writer, args=(base,))
        for base in (100, 200)
    ]
    for x in th:
        x.start()
    for x in th:
        x.join(300)
    assert not errors, errors

    t = TxLogTable(root, track_changes=True)
    versions = t._versions()
    assert versions == list(range(2 * n_each)), versions
    got = sorted(r.event_id for r in t.snapshot(spark).collect())
    assert got == sorted(
        [100 + i for i in range(n_each)] + [200 + i for i in range(n_each)]
    )
    feed = t.changes(spark).collect()
    assert sorted(r.event_id for r in feed) == got  # exactly once each
    assert all(r._change_type == "insert" for r in feed)
    # each commit's manifest names exactly one feed dir and one op
    for v in versions:
        m = t._read_manifest(v)
        assert m["operation"] == "append"
        assert m.get("changes")


def test_incremental_inverted_index_maintenance(spark, tmp_path):
    """Incremental INDEX maintenance via feed_transform: a maintained
    (token -> doc_freq, total_tf) table driven only by the document
    table's change feed (each changed doc exploded into its (token, tf)
    rows, preserving _change_type) equals the directly-built inverted
    index of the snapshot at every sync point — across appends, a
    content UPDATE (preimage tokens retract, postimage tokens assert)
    and a DELETE. The 100 TB point: re-indexing cost per sync is
    proportional to the CHANGED documents, never the corpus."""
    from healthcare_aihw_etl_pipeline_spark.operators.search import tokens
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_agg,
    )

    src = TxLogTable(str(tmp_path / "docs"), track_changes=True)
    idx = TxLogTable(str(tmp_path / "idx"))
    off = str(tmp_path / "idx-offset.json")
    DOCS = "doc_id long, text string"

    def explode_tokens(feed):
        # Keep the DOC grain: one output row per (change, doc, token) so
        # the token-level d_count aggregates to a document-frequency
        # delta (one sign per containing doc), while tf carries the
        # term-frequency mass.
        return (
            feed.select(
                "_change_type",
                "doc_id",
                F.explode(tokens("text")).alias("token"),
            )
            .groupBy("_change_type", "doc_id", "token")
            .agg(F.count(F.lit(1)).alias("tf"))
        )

    def direct_index():
        snap = src.snapshot(spark)
        if snap is None:
            return []
        return sorted(
            (r.token, r.df, float(r.tf))
            for r in snap.select(
                "doc_id", F.explode(tokens("text")).alias("token")
            )
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).alias("tf"))
            .groupBy("token")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.sum("tf").cast("double").alias("tf"),
            )
            .collect()
        )

    def check():
        apply_incremental_agg(
            spark, idx, src, ["token"], "tf", off,
            feed_transform=explode_tokens,
        )
        snap = idx.snapshot(spark)
        got = (
            sorted(
                (r.token, r.n_rows, r.sum_value)
                for r in snap.collect()
            )
            if snap is not None
            else []
        )
        assert got == direct_index(), (got, direct_index())

    src.append(
        spark.createDataFrame(
            [(1, "spark merge window"), (2, "merge merge batch")], DOCS
        )
    )
    check()
    # content update: old tokens must retract, new tokens assert
    src.update_where(spark, "doc_id = 2", {"text": F.lit("scan filter")})
    check()
    # delete removes doc 1's tokens entirely; 'spark'/'window' vanish
    src.delete_where(spark, "doc_id = 1")
    check()
    toks = {r.token for r in idx.snapshot(spark).collect()}
    assert toks == {"scan", "filter"}


def test_incremental_cms_maintenance(spark, tmp_path):
    """Incremental COUNT-MIN maintenance via feed_transform: the
    maintained (r, b -> sum_value) cell grid driven only by the
    document table's change feed equals the batch-built grid of the
    snapshot at every sync point — across appends, a content UPDATE
    (preimage observations retract, postimage assert) and a DELETE.
    The signed-delta algebra applies because the CMS is linear in its
    input counts (the same property that makes grids mergeable);
    per-sync cost is proportional to the CHANGED documents' tokens,
    never the corpus."""
    from healthcare_aihw_etl_pipeline_spark.operators.portable_sketch import (
        CMS_DEPTH,
        cms_bucket,
        cms_build,
    )
    from healthcare_aihw_etl_pipeline_spark.operators.search import tokens
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_agg,
    )

    src = TxLogTable(str(tmp_path / "docs"), track_changes=True)
    grid = TxLogTable(str(tmp_path / "grid"))
    off = str(tmp_path / "grid-offset.json")
    DOCS = "doc_id long, text string"

    def observe(feed):
        tok = feed.select(
            "_change_type", "doc_id", F.explode(tokens("text")).alias("token")
        )
        obs = tok.select(
            "_change_type",
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("r"),
                            cms_bucket("token", i).alias("b"),
                        )
                        for i in range(CMS_DEPTH)
                    ]
                )
            ).alias("o"),
        )
        return (
            obs.select(
                "_change_type", "doc_id",
                F.col("o.r").alias("r"), F.col("o.b").alias("b"),
            )
            .groupBy("_change_type", "doc_id", "r", "b")
            .agg(F.count(F.lit(1)).alias("w"))
        )

    def direct_grid():
        snap = src.snapshot(spark)
        if snap is None:
            return []
        counts = (
            snap.select(F.explode(tokens("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return sorted(
            (r.r, r.b, float(r.total))
            for r in cms_build(counts, "token", "cnt").collect()
        )

    def check():
        apply_incremental_agg(
            spark, grid, src, ["r", "b"], "w", off, feed_transform=observe
        )
        snap = grid.snapshot(spark)
        got = (
            sorted((r.r, r.b, r.sum_value) for r in snap.collect())
            if snap is not None
            else []
        )
        assert got == direct_grid(), (got[:5], direct_grid()[:5])

    src.append(
        spark.createDataFrame(
            [(1, "spark merge window"), (2, "merge merge batch")], DOCS
        )
    )
    check()
    src.append(spark.createDataFrame([(3, "window dedup spark")], DOCS))
    check()
    src.merge(
        spark.createDataFrame([(2, "batch only now")], DOCS),
        key_cols=["doc_id"],
    )
    check()
    src.delete_where(spark, F.col("doc_id") == 1)
    check()


def test_incremental_join_maintenance(spark, tmp_path):
    """Incremental JOIN maintenance: a materialized orders⋈users table
    driven only by the two sources' change feeds equals the direct
    join of their snapshots at every sync point — across appends on
    either side, a dimension UPDATE (all of a user's pairs rewrite),
    a fact DELETE and a dimension DELETE (all its pairs vanish). The
    delta algebra is dA⋈B0 + A1⋈dB (pre-window right snapshot via
    time travel), so no sync rescans both bases."""
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    orders = TxLogTable(str(tmp_path / "orders"), track_changes=True)
    users = TxLogTable(str(tmp_path / "users"), track_changes=True)
    out = TxLogTable(str(tmp_path / "joined"))
    off = str(tmp_path / "join-offset.json")
    ORDERS = "order_id long, user_id long, amount long"
    USERS = "user_id long, tier string"

    def direct():
        a = orders.snapshot(spark)
        b = users.snapshot(spark)
        if a is None or b is None:
            return []
        return sorted(
            (r.order_id, r.user_id, r.amount, r.tier)
            for r in a.join(b, "user_id").collect()
        )

    def check():
        apply_incremental_join(
            spark, out, orders, users,
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off,
        )
        snap = out.snapshot(spark)
        got = (
            sorted(
                (r.order_id, r.user_id, r.amount, r.tier)
                for r in snap.collect()
            )
            if snap is not None
            else []
        )
        assert got == direct(), (got, direct())

    users.append(
        spark.createDataFrame([(1, "gold"), (2, "basic")], USERS)
    )
    orders.append(
        spark.createDataFrame([(10, 1, 100), (11, 2, 250)], ORDERS)
    )
    check()
    # fact-side append, including an order for a not-yet-known user
    orders.append(
        spark.createDataFrame([(12, 1, 75), (13, 9, 10)], ORDERS)
    )
    check()
    # late-arriving dimension row joins the dangling fact in
    users.append(spark.createDataFrame([(9, "trial")], USERS))
    check()
    # dimension UPDATE: every pair of user 1 must carry the new tier
    users.merge(
        spark.createDataFrame([(1, "platinum")], USERS), key_cols=["user_id"]
    )
    check()
    # fact delete
    orders.delete_where(spark, F.col("order_id") == 11)
    check()
    # dimension delete: user 9's pairs vanish
    users.delete_where(spark, F.col("user_id") == 9)
    check()
    # no-op sync is a clean no-op
    check()


def test_incremental_join_crash_replay_heals_offsets(spark, tmp_path):
    """Crash contract: offsets lost after a merge (crash between commit
    and advance) + NEW upstream commits landing before the retry must
    not re-apply the old window — the window start heals from the
    target's txn map (encoded version pair)."""
    import os

    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    orders = TxLogTable(str(tmp_path / "o"), track_changes=True)
    users = TxLogTable(str(tmp_path / "u"), track_changes=True)
    out = TxLogTable(str(tmp_path / "j"))
    off = str(tmp_path / "off.json")
    ORDERS = "order_id long, user_id long, amount long"
    USERS = "user_id long, tier string"

    def sync():
        apply_incremental_join(
            spark, out, orders, users,
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off,
        )

    users.append(spark.createDataFrame([(1, "gold")], USERS))
    orders.append(spark.createDataFrame([(10, 1, 100)], ORDERS))
    sync()
    # crash: durable offsets vanish, but the target's txn map remembers
    os.remove(off + ".left")
    os.remove(off + ".right")
    # new commits land before the retry
    orders.append(spark.createDataFrame([(11, 1, 50)], ORDERS))
    sync()
    got = sorted(
        (r.order_id, r.user_id, r.amount, r.tier)
        for r in out.snapshot(spark).collect()
    )
    assert got == [(10, 1, 100, "gold"), (11, 1, 50, "gold")]


def test_clone_zero_copy_independent(spark, tmp_path):
    """CLONE: the branch equals the source head snapshot, shares data
    inodes (zero-copy hard links), and the two tables evolve fully
    independently — including source VACUUM, which cannot break the
    clone because the linked inodes survive."""
    import os

    from healthcare_aihw_etl_pipeline_spark.sources.txlog import TxLogTable

    src = TxLogTable(str(tmp_path / "src"), ["p"])
    src.append(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id long, p string, v long")
    )
    src.append(spark.createDataFrame([(3, "a", 30)], "id long, p string, v long"))
    before = sorted(tuple(r) for r in src.snapshot(spark).collect())

    cl = src.clone(str(tmp_path / "branch"))
    assert sorted(tuple(r) for r in cl.snapshot(spark).collect()) == before
    # zero-copy: every clone file shares its inode with the source copy
    _, man = cl.head()
    for rel in man["files"]:
        s_st = os.stat(os.path.join(src.data_dir, rel))
        c_st = os.stat(os.path.join(cl.data_dir, rel))
        assert (s_st.st_dev, s_st.st_ino) == (c_st.st_dev, c_st.st_ino)
    # independent evolution both ways
    cl.delete_where(spark, F.col("id") == 1)
    src.append(spark.createDataFrame([(4, "b", 40)], "id long, p string, v long"))
    assert sorted(r.id for r in src.snapshot(spark).collect()) == [1, 2, 3, 4]
    assert sorted(r.id for r in cl.snapshot(spark).collect()) == [2, 3]
    # source vacuum past all history; clone still reads its snapshot
    src.delete_where(spark, F.col("id") <= 3)
    src.vacuum(retain_versions=1, retention_seconds=0.0)
    assert sorted(r.id for r in cl.snapshot(spark).collect()) == [2, 3]
    # cloning onto an existing log refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already has"):
        src.clone(str(tmp_path / "branch"))


def test_incremental_join_randomized_model_check(spark, tmp_path):
    """Randomized DML model check for the maintained join: a seeded
    sequence of appends / keyed merges / deletes on BOTH sources with
    syncs interleaved at random points must keep the maintained table
    equal to the direct snapshot join at every sync. Catches delta-
    algebra edge cases scripted tests miss (same-window churn on both
    sides, update+delete of the same key, dangling then resolved
    facts)."""
    import random

    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    rng = random.Random(80861)
    orders = TxLogTable(str(tmp_path / "o"), track_changes=True)
    users = TxLogTable(str(tmp_path / "u"), track_changes=True)
    out = TxLogTable(str(tmp_path / "j"))
    off = str(tmp_path / "off.json")
    ORDERS = "order_id long, user_id long, amount long"
    USERS = "user_id long, tier string"
    next_order = [100]
    live_orders: dict[int, tuple[int, int]] = {}
    live_users: dict[int, str] = {}
    TIERS = ["basic", "gold", "platinum"]

    def direct():
        return sorted(
            (oid, uid, amt, live_users[uid])
            for oid, (uid, amt) in live_orders.items()
            if uid in live_users
        )

    def sync_and_check():
        apply_incremental_join(
            spark, out, orders, users,
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off,
        )
        snap = out.snapshot(spark)
        got = (
            sorted(
                (r.order_id, r.user_id, r.amount, r.tier)
                for r in snap.collect()
            )
            if snap is not None
            else []
        )
        assert got == direct(), (got, direct())

    for step in range(14):
        op = rng.choice(
            ["add_orders", "add_user", "retier", "del_order", "del_user"]
        )
        if op == "add_orders":
            rows = []
            for _ in range(rng.randint(1, 3)):
                oid = next_order[0]
                next_order[0] += 1
                uid = rng.randint(1, 6)
                amt = rng.randint(10, 500)
                rows.append((oid, uid, amt))
                live_orders[oid] = (uid, amt)
            orders.append(spark.createDataFrame(rows, ORDERS))
        elif op == "add_user":
            uid = rng.randint(1, 6)
            tier = rng.choice(TIERS)
            users.merge(
                spark.createDataFrame([(uid, tier)], USERS),
                key_cols=["user_id"],
            )
            live_users[uid] = tier
        elif op == "retier" and live_users:
            uid = rng.choice(list(live_users))
            tier = rng.choice(TIERS)
            users.merge(
                spark.createDataFrame([(uid, tier)], USERS),
                key_cols=["user_id"],
            )
            live_users[uid] = tier
        elif op == "del_order" and live_orders:
            oid = rng.choice(list(live_orders))
            orders.delete_where(spark, F.col("order_id") == oid)
            del live_orders[oid]
        elif op == "del_user" and live_users:
            uid = rng.choice(list(live_users))
            users.delete_where(spark, F.col("user_id") == uid)
            del live_users[uid]
        if rng.random() < 0.5 or step == 13:
            sync_and_check()


def test_incremental_join_rejects_unknown_how(spark, tmp_path):
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    t = TxLogTable(str(tmp_path / "x"), track_changes=True)
    with pytest.raises(ValueError, match="inner or left-outer"):
        apply_incremental_join(
            spark, t, t, t, on=["k"], left_id="a", right_id="b",
            offset_path=str(tmp_path / "o.json"), how="cross",
        )


def test_incremental_join_left_outer_null_extension_churn(spark, tmp_path):
    """The hard left-outer IVM case, scripted: a dim-delete removing a
    key's LAST match must flip that key's fact rows from joined form to
    NULL-extended form in one sync (and a re-insert flips them back).
    Every step compares against the directly recomputed left join."""
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    orders = TxLogTable(str(tmp_path / "o"), track_changes=True)
    users = TxLogTable(str(tmp_path / "u"), track_changes=True)
    out = TxLogTable(str(tmp_path / "j"))
    off = str(tmp_path / "off.json")
    ORDERS = "order_id long, user_id long, amount long"
    USERS = "user_id long, tier string"

    def check():
        apply_incremental_join(
            spark, out, orders, users,
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off, how="left",
        )
        a, b = orders.snapshot(spark), users.snapshot(spark)
        if a is None:
            want = []
        elif b is None:  # emptied right table: every left row NULL-extends
            want = sorted(
                (r.order_id, r.user_id, r.amount, None) for r in a.collect()
            )
        else:
            want = sorted(
                (r.order_id, r.user_id, r.amount, r.tier)
                for r in a.join(b.select("user_id", "tier"), "user_id", "left")
                .collect()
            )
        snap = out.snapshot(spark)
        got = (
            sorted(
                (r.order_id, r.user_id, r.amount, r.tier)
                for r in snap.drop("_rkey").collect()
            )
            if snap is not None
            else []
        )
        assert got == want, (got, want)

    # sync before the right table exists: no-op, offsets NOT advanced
    orders.append(spark.createDataFrame([(10, 1, 100)], ORDERS))
    assert (
        apply_incremental_join(
            spark, out, orders, users,
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off, how="left",
        )
        is None
    )
    assert out.head() is None
    # right table lands (user 1 matched, order 11's user 2 dangling)
    users.append(spark.createDataFrame([(1, "gold")], USERS))
    orders.append(spark.createDataFrame([(11, 2, 250)], ORDERS))
    check()
    # NULL-extension flip DOWN: delete user 1 (last match for key 1) —
    # order 10 must flip joined -> NULL-extended
    users.delete_where(spark, F.col("user_id") == 1)
    check()
    # flip UP: user 2 arrives — order 11 flips NULL-extended -> joined
    users.append(spark.createDataFrame([(2, "basic")], USERS))
    check()
    # fact delete removes its NULL-extended row
    orders.append(spark.createDataFrame([(12, 7, 5)], ORDERS))
    check()
    orders.delete_where(spark, F.col("order_id") == 12)
    check()
    # dim update on a matched key keeps exactly one joined row
    users.merge(
        spark.createDataFrame([(2, "platinum")], USERS), key_cols=["user_id"]
    )
    check()
    # same-window churn: new fact + its dim arriving together, another
    # dim deleted in the same sync window
    orders.append(spark.createDataFrame([(13, 3, 42)], ORDERS))
    users.append(spark.createDataFrame([(3, "gold")], USERS))
    users.delete_where(spark, F.col("user_id") == 2)
    check()
    # no-op sync is a clean no-op
    check()


def test_incremental_join_left_outer_randomized_model(spark, tmp_path):
    """Randomized delete/merge/append sequences on BOTH sides with syncs
    interleaved: the left-outer maintained table must equal the direct
    left join at every sync (the r8 verdict's IVM-completeness ask)."""
    import random

    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    rng = random.Random(424242)
    orders = TxLogTable(str(tmp_path / "o"), track_changes=True)
    users = TxLogTable(str(tmp_path / "u"), track_changes=True)
    out = TxLogTable(str(tmp_path / "j"))
    off = str(tmp_path / "off.json")
    ORDERS = "order_id long, user_id long, amount long"
    USERS = "user_id long, tier string"
    next_order = [100]
    live_orders: dict[int, tuple[int, int]] = {}
    live_users: dict[int, str] = {}
    TIERS = ["basic", "gold", "platinum"]

    def direct():
        return sorted(
            (oid, uid, amt, live_users.get(uid))
            for oid, (uid, amt) in live_orders.items()
        )

    def sync_and_check():
        apply_incremental_join(
            spark, out, orders, users,
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off, how="left",
        )
        snap = out.snapshot(spark)
        got = (
            sorted(
                (r.order_id, r.user_id, r.amount, r.tier)
                for r in snap.drop("_rkey").collect()
            )
            if snap is not None
            else []
        )
        assert got == direct(), (got, direct())

    users.append(spark.createDataFrame([(1, "basic")], USERS))
    for step in range(12):
        op = rng.choice(
            ["add_orders", "add_user", "retier", "del_order", "del_user"]
        )
        if op == "add_orders":
            rows = []
            for _ in range(rng.randint(1, 3)):
                oid = next_order[0]
                next_order[0] += 1
                uid = rng.randint(1, 5)
                amt = rng.randint(10, 500)
                rows.append((oid, uid, amt))
                live_orders[oid] = (uid, amt)
            orders.append(spark.createDataFrame(rows, ORDERS))
        elif op == "add_user":
            uid = rng.randint(1, 5)
            tier = rng.choice(TIERS)
            users.merge(
                spark.createDataFrame([(uid, tier)], USERS),
                key_cols=["user_id"],
            )
            live_users[uid] = tier
        elif op == "retier" and live_users:
            uid = rng.choice(list(live_users))
            tier = rng.choice(TIERS)
            users.merge(
                spark.createDataFrame([(uid, tier)], USERS),
                key_cols=["user_id"],
            )
            live_users[uid] = tier
        elif op == "del_order" and live_orders:
            oid = rng.choice(list(live_orders))
            orders.delete_where(spark, F.col("order_id") == oid)
            del live_orders[oid]
        elif op == "del_user" and live_users:
            uid = rng.choice(list(live_users))
            users.delete_where(spark, F.col("user_id") == uid)
            del live_users[uid]
        if rng.random() < 0.5 or step == 11:
            sync_and_check()


def test_incremental_join_survives_left_side_emptied_in_window(
    spark, tmp_path
):
    """Regression: a sync window that fully empties the LEFT table used
    to crash (delta columns were derived from the None post-snapshot
    instead of the manifest schema). Both inner and left-outer must
    process the emptying window and land on the correct (empty /
    all-gone) state."""
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    for how in ("inner", "left"):
        orders = TxLogTable(str(tmp_path / f"o_{how}"), track_changes=True)
        users = TxLogTable(str(tmp_path / f"u_{how}"), track_changes=True)
        out = TxLogTable(str(tmp_path / f"j_{how}"))
        off = str(tmp_path / f"off_{how}.json")
        orders.append(
            spark.createDataFrame(
                [(10, 1, 100), (11, 2, 250)],
                "order_id long, user_id long, amount long",
            )
        )
        users.append(
            spark.createDataFrame([(1, "gold")], "user_id long, tier string")
        )
        kw = dict(
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off, how=how,
        )
        apply_incremental_join(spark, out, orders, users, **kw)
        assert out.snapshot(spark).count() == (1 if how == "inner" else 2)
        # empty the left table completely in one window
        orders.delete_where(spark, F.lit(True))
        apply_incremental_join(spark, out, orders, users, **kw)
        snap = out.snapshot(spark)
        assert snap is None or snap.count() == 0, how


def test_incremental_join_full_outer_null_extension_churn(spark, tmp_path):
    """Full-outer IVM: NULL-extension must flip correctly on BOTH sides
    — a dim row with no facts shows as a right-extended row, a fact with
    no dim as a left-extended row, and arrivals/deletes on either side
    flip rows between joined and extended forms. Every step compares
    against the directly recomputed full join."""
    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    orders = TxLogTable(str(tmp_path / "o"), track_changes=True)
    users = TxLogTable(str(tmp_path / "u"), track_changes=True)
    out = TxLogTable(str(tmp_path / "j"))
    off = str(tmp_path / "off.json")
    ORDERS = "order_id long, user_id long, amount long"
    USERS = "user_id long, tier string"

    def check():
        apply_incremental_join(
            spark, out, orders, users,
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off, how="full",
        )
        a, b = orders.snapshot(spark), users.snapshot(spark)
        la = [(r.order_id, r.user_id, r.amount) for r in a.collect()] if a is not None else []
        lb = [(r.user_id, r.tier) for r in b.collect()] if b is not None else []
        want = []
        matched_users = set()
        for oid, uid, amt in la:
            tiers = [t for u, t in lb if u == uid]
            if tiers:
                matched_users.add(uid)
                want.extend((oid, uid, amt, t) for t in tiers)
            else:
                want.append((oid, uid, amt, None))
        want.extend(
            (None, uid, None, t) for uid, t in lb if uid not in matched_users
        )
        want.sort(key=repr)
        snap = out.snapshot(spark)
        got = (
            sorted(
                (
                    (r.order_id, r.user_id, r.amount, r.tier)
                    for r in snap.drop("_lkey", "_rkey").collect()
                ),
                key=repr,
            )
            if snap is not None
            else []
        )
        assert got == want, (got, want)

    # right-only world first: sync before the LEFT table exists is a
    # no-op that does NOT advance offsets (left schema unknown), same
    # contract as the left-outer form with the sides swapped
    users.append(spark.createDataFrame([(1, "gold"), (5, "basic")], USERS))
    assert (
        apply_incremental_join(
            spark, out, orders, users,
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off, how="full",
        )
        is None
    )
    assert out.head() is None
    # facts arrive: the deferred window replays — user 1 joins, user 5
    # right-extends, order 11 dangles left-extended
    orders.append(spark.createDataFrame([(10, 1, 100), (11, 2, 250)], ORDERS))
    check()
    # delete user 1: order 10 flips joined -> left-extended AND no
    # right-extended resurrection for user 1
    users.delete_where(spark, F.col("user_id") == 1)
    check()
    # user 2 arrives: order 11 flips left-extended -> joined
    users.append(spark.createDataFrame([(2, "basic")], USERS))
    check()
    # delete order 11: user 2 must flip joined -> right-extended
    orders.delete_where(spark, F.col("order_id") == 11)
    check()
    # same-window churn on both sides
    orders.append(spark.createDataFrame([(12, 5, 7)], ORDERS))
    users.merge(
        spark.createDataFrame([(5, "platinum")], USERS), key_cols=["user_id"]
    )
    users.delete_where(spark, F.col("user_id") == 2)
    check()
    # no-op sync
    check()


@pytest.mark.slow  # ~42 s; default siblings: the left/full-outer
# null-extension churn tests + exactly-once merge (same IVM kernel).
def test_incremental_join_full_outer_randomized_model(spark, tmp_path):
    """Randomized delete/merge/append on both sides with interleaved
    syncs: the full-outer maintained table must equal the direct full
    join at every sync (mirrors the left-outer model check on both
    sides)."""
    import random

    from healthcare_aihw_etl_pipeline_spark.sources.txlog import (
        TxLogTable,
        apply_incremental_join,
    )

    rng = random.Random(171717)
    orders = TxLogTable(str(tmp_path / "o"), track_changes=True)
    users = TxLogTable(str(tmp_path / "u"), track_changes=True)
    out = TxLogTable(str(tmp_path / "j"))
    off = str(tmp_path / "off.json")
    ORDERS = "order_id long, user_id long, amount long"
    USERS = "user_id long, tier string"
    next_order = [100]
    live_orders: dict[int, tuple[int, int]] = {}
    live_users: dict[int, str] = {}
    TIERS = ["basic", "gold", "platinum"]

    def direct():
        want = [
            (oid, uid, amt, live_users.get(uid))
            for oid, (uid, amt) in live_orders.items()
        ]
        matched = {uid for _, (uid, _) in live_orders.items()}
        want.extend(
            (None, uid, None, t)
            for uid, t in live_users.items()
            if uid not in matched
        )
        return sorted(want, key=repr)

    def sync_and_check():
        apply_incremental_join(
            spark, out, orders, users,
            on=["user_id"], left_id="order_id", right_id="user_id",
            offset_path=off, how="full",
        )
        snap = out.snapshot(spark)
        got = (
            sorted(
                (
                    (r.order_id, r.user_id, r.amount, r.tier)
                    for r in snap.drop("_lkey", "_rkey").collect()
                ),
                key=repr,
            )
            if snap is not None
            else []
        )
        assert got == direct(), (got, direct())

    users.append(spark.createDataFrame([(1, "basic")], USERS))
    live_users[1] = "basic"
    # seed one fact so both schemas exist (sync before the left table's
    # first commit is a documented no-op the model doesn't track)
    orders.append(spark.createDataFrame([(99, 4, 11)], ORDERS))
    live_orders[99] = (4, 11)
    for step in range(12):
        op = rng.choice(
            ["add_orders", "add_user", "retier", "del_order", "del_user"]
        )
        if op == "add_orders":
            rows = []
            for _ in range(rng.randint(1, 3)):
                oid = next_order[0]
                next_order[0] += 1
                uid = rng.randint(1, 5)
                amt = rng.randint(10, 500)
                rows.append((oid, uid, amt))
                live_orders[oid] = (uid, amt)
            orders.append(spark.createDataFrame(rows, ORDERS))
        elif op == "add_user":
            uid = rng.randint(1, 5)
            tier = rng.choice(TIERS)
            users.merge(
                spark.createDataFrame([(uid, tier)], USERS),
                key_cols=["user_id"],
            )
            live_users[uid] = tier
        elif op == "retier" and live_users:
            uid = rng.choice(list(live_users))
            tier = rng.choice(TIERS)
            users.merge(
                spark.createDataFrame([(uid, tier)], USERS),
                key_cols=["user_id"],
            )
            live_users[uid] = tier
        elif op == "del_order" and live_orders:
            oid = rng.choice(list(live_orders))
            orders.delete_where(spark, F.col("order_id") == oid)
            del live_orders[oid]
        elif op == "del_user" and live_users:
            uid = rng.choice(list(live_users))
            users.delete_where(spark, F.col("user_id") == uid)
            del live_users[uid]
        if rng.random() < 0.5 or step == 11:
            sync_and_check()


def test_two_process_concurrent_writers_one_winner_per_version(spark, tmp_path):
    """CROSS-PROCESS optimistic concurrency: a second Python process
    (own JVM, own SparkSession) races this one appending to the SAME
    table. File-lock semantics differ from thread semantics, so this
    exercises the exclusive-link manifest claim across process
    boundaries: exactly one winner per version, a contiguous version
    chain, no lost rows, and a complete change feed."""
    import subprocess
    import sys
    import textwrap
    import time as _time

    from healthcare_aihw_etl_pipeline_spark.sources.txlog import TxLogTable

    root = str(tmp_path / "shared")
    ready = str(tmp_path / "child_ready")
    go = str(tmp_path / "go")
    child_src = textwrap.dedent(f"""
        import os, sys, time
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession
        from healthcare_aihw_etl_pipeline_spark.sources.txlog import TxLogTable
        spark = (SparkSession.builder.master("local[2]")
                 .appName("race-child")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "2")
                 .getOrCreate())
        t = TxLogTable({root!r}, track_changes=True)
        open({ready!r}, "w").write("1")
        while not os.path.exists({go!r}):
            time.sleep(0.05)
        for i in range(3):
            t.append(spark.createDataFrame(
                [(1000 + i, "child", float(i))],
                ["event_id", "event_type", "value"]))
        spark.stop()
    """)
    child = subprocess.Popen(
        [sys.executable, "-c", child_src],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    try:
        t = TxLogTable(root, track_changes=True)
        deadline = _time.time() + 120
        while not (tmp_path / "child_ready").exists():
            assert child.poll() is None, "child died before ready"
            assert _time.time() < deadline, "child never became ready"
            _time.sleep(0.1)
        (tmp_path / "go").write_text("1")
        for i in range(3):
            t.append(spark.createDataFrame(
                [(2000 + i, "parent", float(i))], COLS))
        assert child.wait(timeout=120) == 0
    finally:
        if child.poll() is None:
            child.kill()

    # one winner per version: contiguous chain 0..5, each manifest
    # parseable (no torn writes across the process boundary)
    versions = t._versions()
    assert versions == list(range(6)), versions
    for v in versions:
        assert isinstance(t._read_manifest(v), dict)
    # no lost rows from either process
    rows = sorted(
        (r.event_id, r.event_type) for r in t.snapshot(spark).collect()
    )
    assert rows == sorted(
        [(1000 + i, "child") for i in range(3)]
        + [(2000 + i, "parent") for i in range(3)]
    )
    # change feed is complete: one insert entry per appended row,
    # each stamped with the committing version
    feed = t.changes(spark).collect()
    ins = sorted(r.event_id for r in feed if r._change_type == "insert")
    assert ins == sorted(r[0] for r in rows)
    assert len({r._commit_version for r in feed}) == 6


def test_manifest_write_crash_leaves_head_and_version_intact(tmp_path, monkeypatch):
    """A writer that dies while writing its manifest must publish
    nothing: head() still returns the previous snapshot, no stray file
    is left in the log, and the same version commits on retry."""
    import healthcare_aihw_etl_pipeline_spark.sources.txlog as txlog

    t = TxLogTable(str(tmp_path / "t"))
    assert t._try_commit(0, {"files": ["a.parquet"], "txn": {}})

    def torn_dump(obj, fp, *args, **kwargs):
        fp.write('{"files": [')
        fp.flush()
        raise OSError("writer killed mid-manifest")

    monkeypatch.setattr(txlog.json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-manifest"):
        t._try_commit(1, {"files": ["a.parquet", "b.parquet"], "txn": {}})
    monkeypatch.undo()

    assert t.head() == (0, {"files": ["a.parquet"], "txn": {}})
    assert sorted(os.listdir(t.log_dir)) == [f"{0:020d}.json"]
    assert t._try_commit(1, {"files": ["a.parquet", "b.parquet"], "txn": {}})
    assert t.head() == (1, {"files": ["a.parquet", "b.parquet"], "txn": {}})
    assert not t._try_commit(1, {"files": [], "txn": {}})
