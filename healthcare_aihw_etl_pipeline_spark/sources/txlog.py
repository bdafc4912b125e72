"""Minimal log-based transactional table over parquet — the Delta/Iceberg
commit pattern without the library (container has no table-format lib;
the protocol is public: an ordered log of manifest files, each listing
the data files of one snapshot, committed by an atomic create).

Why the reference's replace-the-directory load (/root/reference/main.py:158,
`if_exists="replace"`) and this repo's directory-overwrite MERGE
(`sources/sinks.py::upsert_partitions`) are not enough at 100 TB:

* **Atomicity/isolation**: a reader that lists a directory mid-overwrite
  sees a torn table. Here a snapshot is exactly the file list of one
  committed manifest — readers pin it and never see a partial commit.
* **Copy-on-write MERGE**: only the files of TOUCHED partitions are
  rewritten; every other file is carried by reference into the next
  manifest. Directory overwrite rewrites (or at best re-lists) the world.
* **Exactly-once streaming**: each commit can record (writer_id,
  batch_id); a replayed foreachBatch sees its id already committed and
  skips — Delta's `txn` action.
* **Optimistic concurrency**: the commit is an exclusive hard link of
  the fully written next numbered manifest. A losing writer re-resolves
  the head and retries if its read set is untouched, else raises —
  serializable commits without a lock service. (On S3-class stores the
  same protocol needs a conditional PUT or a DynamoDB-style log, as
  Delta documents.)

Layout:
    <root>/data/<partition=k>/c<version>-<n>.parquet   data files
    <root>/_txlog/<%020d version>.json                 manifests

A manifest is the FULL file list of its snapshot (no log replay needed to
read — fine at this scale; Delta adds checkpoints for long logs) plus the
`txn` map for streaming idempotency.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(Exception):
    """Another writer invalidated this transaction's read set."""


class ConstraintViolation(ValueError):
    """A commit's rows violate a registered CHECK constraint."""


class SchemaIncompatible(ValueError):
    """A commit tried to change an existing column's type in a way older
    data files cannot be read under (Delta rejects the same at commit)."""


# Type changes a manifest may record for an EXISTING column: the new
# (wider) logical type still reads every already-committed parquet file
# correctly (parquet INT32 pages upcast to long, FLOAT to double). Any
# other same-named type change would brick the table on a *successful*
# commit — snapshot() would later fail with "Parquet column cannot be
# converted" or silently misread old files — so it is rejected here,
# exactly where Delta rejects non-additive evolution.
_SAFE_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def _merge_schema(prev: dict | None, new: dict) -> dict:
    """Additive schema union (by field name): previous fields keep their
    position, new fields append. A same-named field must keep its
    recorded type (or widen it along _SAFE_WIDENINGS, in which case the
    wider type is recorded); any other type change raises
    SchemaIncompatible BEFORE the manifest is written — Delta-style
    mergeSchema evolution with Delta's commit-time compatibility gate."""
    if prev is None:
        return new
    new_by_name = {f["name"]: f for f in new.get("fields", [])}
    prev_names = {f["name"] for f in prev.get("fields", [])}
    fields = []
    for pf in prev.get("fields", []):
        nf = new_by_name.get(pf["name"])
        if nf is None or nf["type"] == pf["type"]:
            fields.append(nf or pf)
        elif (pf["type"], nf["type"]) in _SAFE_WIDENINGS:
            fields.append(nf)  # record the widened type
        elif (nf["type"], pf["type"]) in _SAFE_WIDENINGS:
            fields.append(pf)  # narrower frame: keep the wide type
        else:
            raise SchemaIncompatible(
                f"column {pf['name']!r}: committed type {pf['type']!r} "
                f"cannot change to {nf['type']!r} (only additive columns "
                "and safe numeric widenings evolve; rewrite the table to "
                "change a column's type)"
            )
    fields += [f for f in new.get("fields", []) if f["name"] not in prev_names]
    return {**new, "fields": fields}


class TxLogTable:
    def __init__(
        self,
        root: str,
        partition_by: list[str] | None = None,
        *,
        track_changes: bool = False,
    ):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.log_dir = os.path.join(root, "_txlog")
        self.changes_dir = os.path.join(root, "_changes")
        self.partition_by = partition_by or []
        # Change data feed (Delta CDF pattern): when enabled, each
        # append/merge also writes a per-commit parquet of the rows it
        # inserted/updated, keyed by version — downstream incremental
        # consumers read changes(), never diff snapshots. Opt-in: the
        # classification costs one extra semi-join job per merge.
        self.track_changes = track_changes

    # -- log primitives ----------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f[:-5])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def _read_manifest(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, f"{version:020d}.json")) as f:
            return json.load(f)

    def head(self) -> tuple[int, dict] | None:
        """(version, manifest) of the latest committed snapshot."""
        vs = self._versions()
        if not vs:
            return None
        return vs[-1], self._read_manifest(vs[-1])

    def _try_commit(self, version: int, manifest: dict) -> bool:
        """Atomically publish manifest `version`; False if it exists
        (another writer won the race).

        The manifest is written and fsynced under a temp name that
        _versions() ignores, then hard-linked to its version name: the
        link is atomic and fails if the name exists, so a reader or a
        crash never sees a half-written manifest, and a failed write
        leaves the version free for a retry."""
        os.makedirs(self.log_dir, exist_ok=True)
        path = os.path.join(self.log_dir, f"{version:020d}.json")
        tmp = os.path.join(self.log_dir, f".{version:020d}.{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "w") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        return True

    # -- data-file plumbing ------------------------------------------

    def _stage_files(self, df: DataFrame, version_hint: int) -> list[str]:
        """Write df's rows as data files, return repo-relative paths.

        One Spark job writes into a staging dir (partitionBy when the
        table is partitioned); files are then MOVED (metadata-only
        rename) into the shared data dir under commit-scoped names —
        the manifest, not the directory listing, defines the table.

        Data-file names carry a per-transaction UUID: two writers racing
        from the same head both compute version_hint = head+1 and the
        same sequential n, so names built from (version_hint, n) alone
        COLLIDE — the second os.rename silently replaces the first
        writer's bytes while the first writer's manifest still references
        the path, i.e. silent corruption in exactly the optimistic-
        concurrency scenario this module exists for. Delta avoids the
        same race by embedding a UUID in every data-file name.
        """
        staging = os.path.join(self.root, f"_staging-{uuid.uuid4().hex}")
        tx_uid = uuid.uuid4().hex[:12]
        self._last_stats: dict[str, dict] = {}
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(staging)
        rels: list[str] = []
        n = 0
        for dirpath, _dirs, files in os.walk(staging):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(dirpath, staging)
                rel_dir = "" if rel_dir == "." else rel_dir
                dest_dir = os.path.join(self.data_dir, rel_dir)
                os.makedirs(dest_dir, exist_ok=True)
                src_path = os.path.join(dirpath, fn)
                if self._row_count(src_path) == 0:
                    continue  # never commit empty part-files (Delta too)
                dest_name = f"c{version_hint}-{tx_uid}-{n}.parquet"
                n += 1
                dest = os.path.join(dest_dir, dest_name)
                os.rename(src_path, dest)
                rel = os.path.join(rel_dir, dest_name) if rel_dir else dest_name
                rels.append(rel)
                self._last_stats[rel] = self._file_stats(dest)
        shutil.rmtree(staging)
        return rels

    @staticmethod
    def _row_count(path: str) -> int:
        try:
            import pyarrow.parquet as pq

            return pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return -1  # unknown: keep the file

    @staticmethod
    def _file_stats(path: str) -> dict:
        """Per-file column min/max from the parquet footer — the
        data-skipping statistics Delta/Iceberg keep in their logs. Read
        once at commit time (the footer is already hot from the write);
        numeric/string/timestamp columns only, None when a column has no
        usable stats."""
        out: dict[str, list] = {}
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes) or isinstance(hi, bytes):
                        continue  # undecoded binary stats: skip
                    name = col.path_in_schema
                    if hasattr(lo, "isoformat"):
                        lo, hi = lo.isoformat(), hi.isoformat()
                    if name in out:
                        out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
                    else:
                        out[name] = [lo, hi]
        except Exception:
            return {}
        return out

    @staticmethod
    def _partition_values(rel_path: str) -> dict[str, str]:
        """Hive-style partition values encoded in a file's directory path."""
        out: dict[str, str] = {}
        for seg in rel_path.split(os.sep)[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                out[k] = v
        return out

    # -- public API ---------------------------------------------------

    def snapshot(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """The table as of `version` (default: head) — time travel for
        free, since old manifests and their files are never mutated
        (a vacuum that respects a retention horizon would prune them).

        The read uses the SCHEMA RECORDED IN THE MANIFEST (when present),
        not footer sampling: after an additive schema evolution, files
        written before the new column existed are read with NULLs for it
        — and at 100 TB, reading the schema from the log costs nothing
        while `mergeSchema` would stat every file's footer."""
        if version is None:
            h = self.head()
            if h is None:
                return None
            _, manifest = h
        else:
            manifest = self._read_manifest(version)
        return self._read_files(spark, manifest, manifest["files"])

    def _read_files(
        self, spark: SparkSession, manifest: dict, rels: list[str]
    ) -> DataFrame | None:
        files = [os.path.join(self.data_dir, p) for p in rels]
        if not files:
            return None
        reader = spark.read
        if manifest.get("schema") is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(manifest["schema"]))
        return reader.option("basePath", self.data_dir).parquet(*files)

    def snapshot_where(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
    ) -> DataFrame | None:
        """Head snapshot restricted to `lo <= col <= hi`, pruned at the
        FILE level by the manifest's per-file min/max statistics before
        Spark ever lists them — Delta/Iceberg data skipping. A file with
        no recorded stats for `col` is conservatively kept; the residual
        row filter is applied on top, so the result equals
        snapshot().where(...) exactly, just over fewer files.

        Timestamp/date stats are recorded as isoformat STRINGS ('T'
        separator), so bounds are normalized before the string compare:
        datetime/date bounds via .isoformat(), and a space-separated
        timestamp string ('2024-01-01 00:00:00') to the 'T' form. A bound
        that still isn't comparable to a file's recorded stats keeps the
        file (correctness over pruning)."""
        h = self.head()
        if h is None:
            return None
        _, manifest = h
        df = self._read_files(
            spark, manifest, self._stats_prune(manifest, col, lo, hi)
        )
        if df is None:
            return None
        from pyspark.sql import functions as F

        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
        return df

    def _stats_prune(self, manifest: dict, col: str, lo, hi) -> list[str]:
        """Manifest files whose recorded [min, max] for `col` can
        intersect [lo, hi] — the data-skipping primitive shared by
        snapshot_where and the DML candidate selection. A file with no
        recorded stats, or stats incomparable to the bound, is
        conservatively KEPT (correctness over pruning). A PARTITION
        column has no footer stats (Hive layout strips it from the data
        files); its single value comes from the directory path instead —
        partition pruning and stats skipping through one bound API."""
        stats = manifest.get("stats", {})
        if col in self.partition_by:
            # Hive path values are ALWAYS strings, so a raw compare
            # against a numeric bound would be lexicographic ("10" < "2")
            # and silently drop matching files. Parse the path value to
            # the BOUND's type first; a value that won't parse keeps the
            # file (conservative, like missing footer stats).
            def _typed(v: str, ref):
                try:
                    if isinstance(ref, bool):  # before int: bool is int
                        return v.lower() in ("true", "1")
                    if isinstance(ref, int):
                        return int(v)
                    if isinstance(ref, float):
                        return float(v)
                    if hasattr(ref, "isoformat"):  # date / datetime
                        import datetime as _dt

                        if isinstance(ref, _dt.datetime):
                            return _dt.datetime.fromisoformat(
                                v.replace(" ", "T", 1)
                            )
                        return _dt.date.fromisoformat(v)
                except (ValueError, TypeError):
                    return None
                return v  # string bound: plain string compare is correct

            def pkeep(rel: str) -> bool:
                v = self._partition_values(rel).get(col)
                if v is None:
                    return True
                try:
                    if lo is not None:
                        tv = _typed(v, lo)
                        if tv is not None and tv < lo:
                            return False
                    if hi is not None:
                        tv = _typed(v, hi)
                        if tv is not None and tv > hi:
                            return False
                except TypeError:
                    return True
                return True

            return [p for p in manifest["files"] if pkeep(p)]

        def norm(bound, ref):
            if hasattr(bound, "isoformat"):  # datetime.date / datetime
                bound = bound.isoformat()
            if (
                isinstance(bound, str)
                and isinstance(ref, str)
                and "T" in ref
                and " " in bound
                and "T" not in bound
            ):
                bound = bound.replace(" ", "T", 1)
            return bound

        def keep(rel: str) -> bool:
            s = stats.get(rel, {}).get(col)
            if not s:
                return True
            flo, fhi = s
            try:
                if lo is not None and fhi < norm(lo, fhi):
                    return False
                if hi is not None and flo > norm(hi, flo):
                    return False
            except TypeError:
                return True  # incomparable bound/stat types: never prune
            return True

        return [p for p in manifest["files"] if keep(p)]

    def append(self, df: DataFrame, *, writer_id: str | None = None,
               batch_id: int | None = None) -> int:
        """Blind append: stage files, commit head+1 with them added."""
        import pyspark.sql.functions as F

        changes_rel = None
        if self.track_changes:
            changes_rel = self._stage_changes(
                df.withColumn("_change_type", F.lit("insert"))
            )
        return self._commit_loop(
            df, remove_pred=lambda rel: False, writer_id=writer_id,
            batch_id=batch_id, changes_rel=changes_rel, operation="append",
        )

    def merge(self, batch_df: DataFrame, key_cols: list[str], *,
              delete_predicate=None, drop_after: list[str] | None = None,
              writer_id: str | None = None, batch_id: int | None = None) -> int:
        """Copy-on-write keyed MERGE (upsert): rewrite ONLY the files of
        partitions the batch touches; carry every other file by
        reference. Existing rows in touched partitions whose key is
        absent from the batch survive; matching keys take the batch row.

        `delete_predicate` (Column or SQL string over the BATCH row) is
        the `WHEN MATCHED ... THEN DELETE` clause: a batch row where it
        is TRUE claims its key — removing any existing row — but is not
        re-inserted. This is how a change-data-feed consumer applies
        upstream deletes in the same single commit as its upserts.
        `drop_after` names batch columns that exist only to drive the
        predicate (e.g. `_change_type`): they are dropped from the
        upserted rows AFTER filtering, so control columns never evolve
        into the target schema.

        At 100 TB this file-level pruning is the entire point: a daily
        batch touching 1/1000th of the partitions rewrites 1/1000th of
        the files, and the commit is one atomic manifest create."""
        import pyspark.sql.functions as F

        del_pred = (
            F.expr(delete_predicate)
            if isinstance(delete_predicate, str)
            else delete_predicate
        )
        upserts = (
            batch_df.where(~F.coalesce(del_pred, F.lit(False)))
            if del_pred is not None
            else batch_df
        )
        if drop_after:
            upserts = upserts.drop(*drop_after)
        spark = batch_df.sparkSession
        h = self.head()
        if h is None:
            return self.append(upserts, writer_id=writer_id, batch_id=batch_id)
        version, manifest = h
        if self._already_committed(manifest, writer_id, batch_id):
            return version
        # Schema gate BEFORE building the union: unionByName would
        # otherwise coerce an incompatible batch column (e.g. string
        # into double) and fail deep inside the staging job — or worse,
        # succeed and commit a flipped type.
        _merge_schema(manifest.get("schema"), json.loads(upserts.schema.json()))

        touched = {
            tuple(str(r[c]) for c in self.partition_by)
            for r in batch_df.select(*self.partition_by).distinct().collect()
        }

        def in_touched(rel: str) -> bool:
            pv = self._partition_values(rel)
            return tuple(pv.get(c) for c in self.partition_by) in touched

        old_files = [
            os.path.join(self.data_dir, p)
            for p in manifest["files"]
            if in_touched(p)
        ]
        change_df = None
        if old_files:
            existing = spark.read.option("basePath", self.data_dir).parquet(*old_files)
            survivors = existing.join(
                batch_df.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            # allowMissingColumns = additive schema evolution: a batch
            # with a new column NULL-fills it for surviving old rows (and
            # vice versa); the committed manifest records the union
            # schema, which snapshot() then applies to every file.
            out = survivors.unionByName(upserts, allowMissingColumns=True)
            if self.track_changes:
                old_keys = existing.select(*key_cols).distinct()
                # Preimages (the replaced rows) ride along with the
                # postimages — Delta's update_preimage. Without them a
                # consumer can only REPLACE state; with them it can apply
                # SIGNED DELTAS (-old +new), which is what incremental
                # aggregate maintenance needs (incremental_agg_delta).
                preimages = existing.join(
                    upserts.select(*key_cols).distinct(), key_cols, "left_semi"
                ).withColumn("_change_type", F.lit("update_preimage"))
                change_df = (
                    upserts.join(old_keys, key_cols, "left_semi")
                    .withColumn("_change_type", F.lit("update"))
                    .unionByName(
                        upserts.join(old_keys, key_cols, "left_anti")
                        .withColumn("_change_type", F.lit("insert"))
                    )
                    .unionByName(preimages, allowMissingColumns=True)
                )
                if del_pred is not None:
                    deleted = (
                        existing.join(
                            batch_df.where(F.coalesce(del_pred, F.lit(False)))
                            .select(*key_cols)
                            .distinct(),
                            key_cols,
                            "left_semi",
                        ).withColumn("_change_type", F.lit("delete"))
                    )
                    change_df = change_df.unionByName(
                        deleted, allowMissingColumns=True
                    )
        else:
            out = upserts
            if self.track_changes:
                change_df = upserts.withColumn(
                    "_change_type", F.lit("insert")
                )
        # Stage the change feed BEFORE the commit (Delta writes its cdc
        # files before the commit JSON for the same reason): a committed
        # version must never exist without its feed. The pre-merge files
        # the classification reads are still on disk here.
        changes_rel = self._stage_changes(change_df)
        # Cut lineage before staging: the staged write must not re-read
        # files this commit is about to drop from the manifest.
        out = out.localCheckpoint(eager=True)
        return self._commit_loop(
            out, remove_pred=in_touched, writer_id=writer_id,
            batch_id=batch_id, changes_rel=changes_rel, operation="merge",
        )

    def _rel_from_uri(self, uri: str) -> str:
        """Map an input_file_name() URI back to its manifest-relative path."""
        from urllib.parse import unquote, urlparse

        p = urlparse(uri)
        path = unquote(p.path) if p.scheme else uri
        return os.path.relpath(path, self.data_dir)

    def _matching_files(self, spark: SparkSession, manifest: dict, pred,
                        candidates: list[str] | None = None) -> list[str]:
        """Relative paths of current files containing >=1 row matching
        `pred` (searched within `candidates`, default all files). One
        aggregation job over the candidate scan grouped by
        input_file_name() — file-level metadata (bounded by file count,
        not row count), the same cardinality class as the manifest
        itself, so the collect is scale-safe."""
        import pyspark.sql.functions as F

        df = self._read_files(
            spark, manifest,
            manifest["files"] if candidates is None else candidates,
        )
        if df is None:
            return []
        hits = (
            df.where(pred)
            .select(F.input_file_name().alias("_f"))
            .distinct()
            .collect()
        )
        return [self._rel_from_uri(r["_f"]) for r in hits]

    def delete_where(self, spark: SparkSession, predicate, *,
                     prune: tuple | None = None,
                     writer_id: str | None = None,
                     batch_id: int | None = None) -> int | None:
        """Copy-on-write row-level DELETE (Delta `DELETE FROM t WHERE p`):
        rewrite ONLY the files that contain a matching row — survivors of
        those files are restaged, every untouched file is carried by
        reference — and publish one atomic manifest. With track_changes
        on, the deleted rows are recorded in the change feed with
        `_change_type='delete'` BEFORE the manifest lands (crash-safe,
        same ordering as merge).

        `predicate` is a Column or a SQL expression string. `prune` is an
        optional (col, lo, hi) bound IMPLIED by the predicate (caller's
        contract — e.g. a retention DELETE on a date column): the
        match-discovery scan then reads only the files whose recorded
        min/max stats intersect the bound, so a DELETE of one day out of
        a year scans ~1/365th of the files instead of all of them. At
        100 TB the file-level pruning is the entire point: a DELETE
        touching 0.1% of files rewrites — and with a prune bound, even
        scans — 0.1% of the bytes. Returns the new version, the
        unchanged head version when nothing matches (no empty commits),
        or None on an empty table."""
        import pyspark.sql.functions as F

        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        h = self.head()
        if h is None:
            return None
        version, manifest = h
        if self._already_committed(manifest, writer_id, batch_id):
            return version
        candidates = (
            self._stats_prune(manifest, *prune) if prune else None
        )
        touched = set(self._matching_files(spark, manifest, pred, candidates))
        if not touched:
            return version
        touched_df = self._read_files(
            spark, manifest, [p for p in manifest["files"] if p in touched]
        )
        # Rows where the predicate is NULL are NOT matches and must
        # survive — `where(~pred)` would silently drop them (three-valued
        # logic), so the keep-filter coalesces NULL to "keep".
        survivors = touched_df.where(~F.coalesce(pred, F.lit(False)))
        changes_rel = None
        if self.track_changes:
            changes_rel = self._stage_changes(
                touched_df.where(pred).withColumn(
                    "_change_type", F.lit("delete")
                )
            )
        # Cut lineage before staging (same contract as merge): the staged
        # write must not lazily re-read files this commit drops from the
        # manifest under a concurrent vacuum.
        survivors = survivors.localCheckpoint(eager=True)
        return self._commit_loop(
            survivors, remove_pred=lambda rel: rel in touched,
            writer_id=writer_id, batch_id=batch_id, changes_rel=changes_rel,
            operation="delete",
        )

    def update_where(self, spark: SparkSession, predicate,
                     assignments: dict, *,
                     prune: tuple | None = None,
                     writer_id: str | None = None,
                     batch_id: int | None = None) -> int | None:
        """Copy-on-write row-level UPDATE (Delta `UPDATE t SET ... WHERE
        p`): rewrite only the files containing a matching row; within
        them, matching rows take the assigned expressions and
        non-matching rows pass through byte-identical. `assignments`
        maps column name -> Column or SQL expression string; assigning a
        NEW column evolves the schema additively (old files read it as
        NULL), while an incompatible type change aborts at the
        _merge_schema gate exactly like append/merge. Change feed rows
        carry `_change_type='update'` (postimage, consistent with
        merge's classification)."""
        import pyspark.sql.functions as F

        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        assigns = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }
        h = self.head()
        if h is None:
            return None
        version, manifest = h
        if self._already_committed(manifest, writer_id, batch_id):
            return version
        candidates = (
            self._stats_prune(manifest, *prune) if prune else None
        )
        touched = set(self._matching_files(spark, manifest, pred, candidates))
        if not touched:
            return version
        touched_df = self._read_files(
            spark, manifest, [p for p in manifest["files"] if p in touched]
        )
        # SQL/Delta UPDATE semantics: every SET expression evaluates
        # against the PRE-update row, so {"a": "b", "b": "a"} swaps.
        # One select computing all new columns simultaneously from the
        # original frame — NOT chained withColumn, where a later
        # assignment would read an earlier assignment's NEW value.
        def _assigned(src: DataFrame) -> DataFrame:
            kept = [
                (
                    F.when(pred, assigns[c])
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in assigns
                    else F.col(c)
                )
                for c in src.columns
            ]
            new = [
                F.when(pred, assigns[c]).otherwise(F.lit(None)).alias(c)
                for c in assigns
                if c not in src.columns
            ]
            return src.select(*kept, *new)

        out = _assigned(touched_df)
        changes_rel = None
        if self.track_changes:
            matched = touched_df.where(pred)
            updated = matched.select(
                *[
                    (assigns[c].alias(c) if c in assigns else F.col(c))
                    for c in matched.columns
                ],
                *[
                    assigns[c].alias(c)
                    for c in assigns
                    if c not in matched.columns
                ],
            )
            changes_rel = self._stage_changes(
                updated.withColumn("_change_type", F.lit("update"))
                .unionByName(
                    matched.withColumn(
                        "_change_type", F.lit("update_preimage")
                    ),
                    allowMissingColumns=True,
                )
            )
        out = out.localCheckpoint(eager=True)
        return self._commit_loop(
            out, remove_pred=lambda rel: rel in touched,
            writer_id=writer_id, batch_id=batch_id, changes_rel=changes_rel,
            operation="update",
        )

    def clone(
        self,
        dst_root: str,
        *,
        track_changes: bool = False,
    ) -> "TxLogTable":
        """Zero-copy snapshot CLONE (Delta `CREATE TABLE ... CLONE`):
        materialize the head snapshot as an independent table whose
        version-0 manifest lists the SAME data files, hard-linked into
        the clone's data dir (copy fallback across filesystems). Data
        bytes are never duplicated on the common same-volume path, yet
        the clone is FULLY independent — stronger than Delta's shallow
        clone: because links share inodes, vacuuming or deleting the
        source cannot break the clone (the inode survives until its
        last name goes), and copy-on-write on either side only ever
        writes NEW files, never mutates a shared one. Schema, stats
        and constraints carry over; the txn map and change feed do not
        (a clone is a fresh writer-state domain, matching Delta).

        The experimentation workflow this enables at 100 TB: branch a
        production table in O(files) metadata+link operations, run
        destructive DML/compaction experiments on the branch, drop it —
        zero interference and zero storage amplification beyond the
        experiment's own writes."""
        import shutil as _shutil

        dst = TxLogTable(
            dst_root, list(self.partition_by), track_changes=track_changes
        )
        h = self.head()
        if h is None:
            return dst
        _, manifest = h
        os.makedirs(dst.data_dir, exist_ok=True)
        for rel in manifest["files"]:
            srcp = os.path.join(self.data_dir, rel)
            dstp = os.path.join(dst.data_dir, rel)
            os.makedirs(os.path.dirname(dstp), exist_ok=True)
            try:
                os.link(srcp, dstp)
            except OSError:
                _shutil.copy2(srcp, dstp)
        new_manifest = {
            "files": list(manifest["files"]),
            "txn": {},
            "operation": "clone",
        }
        for k in ("schema", "stats", "constraints"):
            if manifest.get(k) is not None:
                new_manifest[k] = manifest[k]
        if not dst._try_commit(0, new_manifest):
            raise ValueError(
                f"clone destination {dst_root} already has a transaction log"
            )
        return dst

    # -- constraints / restore / time travel ---------------------------

    @staticmethod
    def _validate_constraints(df: DataFrame, constraints: dict) -> None:
        """Raise ConstraintViolation if any row of `df` violates any
        registered CHECK expression. SQL CHECK semantics: a row passes
        when the expression is TRUE **or NULL** — only FALSE violates.
        All constraints are counted in ONE aggregation job (map-side
        combined), so commit-time validation costs a single scan of the
        commit's rows regardless of how many checks exist."""
        import pyspark.sql.functions as F

        if not constraints:
            return
        aggs = [
            F.sum(
                F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
            ).alias(n)
            for n, e in constraints.items()
        ]
        row = df.agg(*aggs).first()
        bad = {n: row[n] for n in constraints if row[n]}
        if bad:
            raise ConstraintViolation(
                f"CHECK constraint(s) violated: "
                + ", ".join(f"{n} ({bad[n]} rows)" for n in sorted(bad))
            )

    # Manifest keys that describe ONE commit (its change feed, its removed
    # set, its restore provenance, its verb/time) and must NOT leak into
    # the next version. _commit_loop builds each manifest from an explicit
    # whitelist so it can't leak; metadata-only commits start from a copy
    # of the head, so they strip these first — otherwise an add_constraint
    # on a track_changes table would re-reference the PREVIOUS commit's
    # "changes" feed dir and changes() would emit that window's rows twice
    # (double-counting every incremental-agg consumer downstream).
    _PER_COMMIT_KEYS = ("changes", "removed", "restored_from", "operation",
                        "committed_at")

    def _commit_manifest_change(self, mutate, max_retries: int = 5) -> int:
        """Commit a metadata-only change (no data staging): `mutate`
        receives a copy of the head manifest — with per-commit keys
        (change feed, removed list, restore tag) stripped, so a
        constraint commit never replays the previous commit's feed —
        and returns the next one. Same optimistic exclusive-link protocol
        as data commits."""
        for _ in range(max_retries):
            h = self.head()
            version = (h[0] if h else -1) + 1
            prev = dict(h[1]) if h else {"files": [], "txn": {}}
            for k in self._PER_COMMIT_KEYS:
                prev.pop(k, None)
            manifest = mutate(prev)
            manifest["committed_at"] = time.time()
            if self._try_commit(version, manifest):
                return version
        raise CommitConflict(f"lost the commit race {max_retries} times")

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """Register a CHECK constraint (Delta `ADD CONSTRAINT`): the
        FULL current snapshot is validated first (one aggregation job),
        then a metadata-only commit records it; every subsequent
        append/merge/update commit validates its rows against the check
        before staging, and a concurrent commit in flight during the add
        re-validates against the delta inside its retry loop."""
        snap = self.snapshot(spark)
        if snap is not None:
            self._validate_constraints(snap, {name: expr})

        def mutate(prev: dict) -> dict:
            prev["constraints"] = {**prev.get("constraints", {}), name: expr}
            prev["operation"] = "add_constraint"
            return prev

        return self._commit_manifest_change(mutate)

    def drop_constraint(self, name: str) -> int:
        def mutate(prev: dict) -> dict:
            cs = dict(prev.get("constraints", {}))
            cs.pop(name, None)
            if cs:
                prev["constraints"] = cs
            else:
                prev.pop("constraints", None)
            prev["operation"] = "drop_constraint"
            return prev

        return self._commit_manifest_change(mutate)

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION AS OF `version` (Delta): commit a
        NEW version whose file list, schema and stats are the target
        snapshot's — history is never rewritten, the restore itself is
        an auditable commit, and the exactly-once `txn` map of the
        CURRENT head carries forward (a restore must not resurrect
        already-processed streaming batch ids). Fails if the target's
        manifest or data files were vacuumed."""
        try:
            target = self._read_manifest(version)
        except FileNotFoundError:
            raise ValueError(
                f"cannot restore to version {version}: its manifest was "
                "vacuumed past the retention horizon"
            ) from None
        missing = [
            p
            for p in target["files"]
            if not os.path.exists(os.path.join(self.data_dir, p))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: {len(missing)} data "
                f"file(s) were vacuumed (first: {missing[0]})"
            )

        def mutate(prev: dict) -> dict:
            out = {
                "files": list(target["files"]),
                "txn": {**prev.get("txn", {})},
                "removed": [p for p in prev["files"] if p not in set(target["files"])],
                "schema": target.get("schema"),
                "stats": dict(target.get("stats", {})),
                "restored_from": version,
                "operation": "restore",
            }
            if prev.get("constraints"):
                out["constraints"] = prev["constraints"]
            return out

        return self._commit_manifest_change(mutate)

    def _commit_time(self, version: int, manifest: dict) -> float:
        ts = manifest.get("committed_at")
        if ts is not None:
            return ts
        # pre-round-6 manifests: fall back to the log file's mtime
        return os.path.getmtime(
            os.path.join(self.log_dir, f"{version:020d}.json")
        )

    def snapshot_as_of(self, spark: SparkSession, ts) -> DataFrame | None:
        """Timestamp time travel (Delta `timestampAsOf`): the snapshot of
        the LATEST commit at or before `ts` (epoch seconds, datetime, or
        ISO string). None when the table did not exist yet.

        `committed_at` is a UTC epoch (time.time()), so a NAIVE datetime
        or ISO string is interpreted as UTC — `.timestamp()` on a naive
        value would use the host's LOCAL timezone and resolve the same
        query string to different versions on different hosts. Pass a
        tz-aware datetime (or epoch seconds) for any other zone."""
        import datetime as _dt

        if hasattr(ts, "timestamp"):  # datetime.datetime
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            ts = ts.timestamp()
        elif isinstance(ts, str):
            dt = _dt.datetime.fromisoformat(ts)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            ts = dt.timestamp()
        best = None
        for v in self._versions():
            if self._commit_time(v, self._read_manifest(v)) <= ts:
                best = v
        if best is None:
            return None
        return self.snapshot(spark, version=best)

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one dict per retained commit, newest first —
        version, operation verb, commit time, file/row deltas, and the
        audit fields individual operations record (restored_from, txn).
        Pure log metadata; no data files are opened."""
        out = []
        for v in self._versions():
            m = self._read_manifest(v)
            entry = {
                "version": v,
                "operation": m.get("operation", "write"),
                "committed_at": self._commit_time(v, m),
                "n_files": len(m.get("files", [])),
                "n_removed": len(m.get("removed", [])),
            }
            for k in ("restored_from", "constraints"):
                if m.get(k) is not None:
                    entry[k] = m[k]
            if m.get("txn"):
                entry["txn"] = m["txn"]
            out.append(entry)
        out.reverse()
        return out

    def _stage_changes(self, change_df: DataFrame | None) -> str | None:
        """Materialize a commit's change rows under a transaction-unique
        `_changes/staged-<uuid>` dir and return that name. The winning
        manifest records it (`"changes"`), which is what makes the feed
        crash-safe: the dir exists before the manifest that references it
        is published, so a committed version either has its feed or the
        commit itself never happened."""
        if change_df is None:
            return None
        rel = f"staged-{uuid.uuid4().hex}"
        tmp = os.path.join(self.changes_dir, f"{rel}.tmp")
        change_df.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, os.path.join(self.changes_dir, rel))
        return rel

    def _drop_staged_changes(self, changes_rel: str | None) -> None:
        if changes_rel:
            shutil.rmtree(
                os.path.join(self.changes_dir, changes_rel),
                ignore_errors=True,
            )

    def changes(
        self,
        spark: SparkSession,
        since: int = 0,
        until: int | None = None,
    ) -> DataFrame | None:
        """The change data feed for commits `since <= version <= until`:
        each row is an inserted/updated row as of its commit, with
        `_change_type` and `_commit_version` columns — the incremental-
        consumer API (read the feed, never diff snapshots).

        Feed discovery is MANIFEST-driven, not a directory listing: each
        committed manifest that carried a feed names its change dir. A
        manifest that names a dir which is missing on disk raises — an
        incremental consumer must hear about a lost feed entry, never
        silently skip a version's rows."""
        import pyspark.sql.functions as F

        parts = []
        for v in self._versions():
            if v < since or (until is not None and v > until):
                continue
            manifest = self._read_manifest(v)
            rel = manifest.get("changes")
            if rel is None:
                continue  # commit recorded no feed (tracking off / no-op)
            path = os.path.join(self.changes_dir, rel)
            if not os.path.isdir(path):
                raise ValueError(
                    f"change feed for committed version {v} is missing "
                    f"({path}): the feed was vacuumed or lost; incremental "
                    "consumers must re-sync from a snapshot"
                )
            df = spark.read.parquet(path)
            parts.append(df.withColumn("_commit_version", F.lit(v)))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _already_committed(self, manifest: dict, writer_id: str | None,
                           batch_id: int | None) -> bool:
        return (
            writer_id is not None
            and batch_id is not None
            and manifest.get("txn", {}).get(writer_id, -1) >= batch_id
        )

    def _commit_loop(self, df: DataFrame, *, remove_pred, writer_id,
                     batch_id, changes_rel: str | None = None,
                     operation: str = "write", max_retries: int = 5) -> int:
        h = self.head()
        base_version = h[0] if h else -1
        if h and self._already_committed(h[1], writer_id, batch_id):
            self._drop_staged_changes(changes_rel)
            return base_version
        schema_json = json.loads(df.schema.json())
        # Fail-fast schema gate: reject an incompatible type change
        # BEFORE the (expensive) staging write. Re-checked inside the
        # retry loop against whichever head actually wins.
        if h:
            try:
                _merge_schema(h[1].get("schema"), schema_json)
            except SchemaIncompatible:
                self._drop_staged_changes(changes_rel)
                raise
        entry_constraints = (h[1].get("constraints") if h else None) or {}
        if entry_constraints:
            try:
                self._validate_constraints(df, entry_constraints)
            except ConstraintViolation:
                self._drop_staged_changes(changes_rel)
                raise
        added = self._stage_files(df, base_version + 1)
        removed_now = None
        for _ in range(max_retries):
            h = self.head()
            version = (h[0] if h else -1) + 1
            prev = h[1] if h else {"files": [], "txn": {}}
            if self._already_committed(prev, writer_id, batch_id):
                # replay lost a race to its own retry — clean up staged
                for rel in added:
                    os.unlink(os.path.join(self.data_dir, rel))
                self._drop_staged_changes(changes_rel)
                return version - 1
            # A concurrent commit may have ADDED a constraint between our
            # entry gate and this head resolution: validate the delta so
            # no commit ever lands rows that bypass a registered check.
            drift = {
                n: e
                for n, e in (prev.get("constraints") or {}).items()
                if entry_constraints.get(n) != e
            }
            if drift:
                try:
                    self._validate_constraints(df, drift)
                    entry_constraints = {**entry_constraints, **drift}
                except ConstraintViolation:
                    for rel in added:
                        os.unlink(os.path.join(self.data_dir, rel))
                    self._drop_staged_changes(changes_rel)
                    raise
            removed = [p for p in prev["files"] if remove_pred(p)]
            if removed_now is not None and removed != removed_now:
                self._drop_staged_changes(changes_rel)
                raise CommitConflict(
                    "read set changed under this transaction: the files it "
                    "meant to replace were modified by a concurrent commit"
                )
            removed_now = removed
            # added paths are UUID-unique per transaction, so they cannot
            # appear in prev["files"]; the set guard keeps the invariant
            # (no duplicate manifest entries) even if that ever changes.
            drop = set(removed) | set(added)
            try:
                # Snapshot schema: the previous schema merged additively
                # with this commit's — a new column joins the table, an
                # append of a NARROWER frame cannot silently drop columns
                # other files still carry, and an incompatible type change
                # aborts the commit (cleaning up its staged files).
                merged_schema = _merge_schema(prev.get("schema"), schema_json)
            except SchemaIncompatible:
                for rel in added:
                    os.unlink(os.path.join(self.data_dir, rel))
                self._drop_staged_changes(changes_rel)
                raise
            manifest = {
                "files": [p for p in prev["files"] if p not in drop] + added,
                "txn": {**prev.get("txn", {})},
                "removed": removed,
                "schema": merged_schema,
                # Wall-clock commit time: what timestamp-based time travel
                # (snapshot_as_of) resolves against, like Delta's
                # timestampAsOf over commit-file times.
                "committed_at": time.time(),
                # Operation tag for history() — DESCRIBE HISTORY's verb.
                "operation": operation,
                # CHECK constraints carry forward unchanged; commits are
                # validated against them in _commit_loop's entry gate.
                **(
                    {"constraints": prev["constraints"]}
                    if prev.get("constraints")
                    else {}
                ),
                # Per-file min/max data-skipping stats: carried files keep
                # their recorded stats, staged files bring footer-derived
                # ones (snapshot_where prunes on these).
                "stats": {
                    **{
                        p: s
                        for p, s in prev.get("stats", {}).items()
                        if p not in drop
                    },
                    **{p: self._last_stats.get(p, {}) for p in added},
                },
            }
            if changes_rel is not None:
                # The staged feed dir already exists on disk (written
                # before this point), so referencing it here is safe:
                # a reader of THIS manifest always finds the feed.
                manifest["changes"] = changes_rel
            if writer_id is not None and batch_id is not None:
                manifest["txn"][writer_id] = batch_id
            if self._try_commit(version, manifest):
                return version
        self._drop_staged_changes(changes_rel)
        raise CommitConflict(f"lost the commit race {max_retries} times")


    def compact(self, spark: SparkSession, *, min_files: int = 2) -> int | None:
        """OPTIMIZE: rewrite any partition holding >= `min_files` data
        files into one file per partition, committed like any other
        transaction (old files stay on disk for snapshot readers until
        `vacuum`). Streaming MERGE commits accrete small files — at
        scale, periodic compaction is what keeps scan task counts and
        parquet footer overhead proportional to data, not to commit
        history. Conflicts with concurrent writers resolve through the
        same optimistic retry; a competing rewrite of the same files
        raises CommitConflict."""
        from collections import defaultdict

        h = self.head()
        if h is None:
            return None
        version, manifest = h
        groups: dict[tuple, list[str]] = defaultdict(list)
        for p in manifest["files"]:
            pv = tuple(sorted(self._partition_values(p).items()))
            groups[pv].append(p)
        to_rewrite = {
            p for fs in groups.values() if len(fs) >= min_files for p in fs
        }
        if not to_rewrite:
            return version
        files = [os.path.join(self.data_dir, p) for p in sorted(to_rewrite)]
        df = spark.read.option("basePath", self.data_dir).parquet(*files)
        df = (
            df.repartition(*self.partition_by)
            if self.partition_by
            else df.coalesce(1)
        )
        return self._commit_loop(
            df,
            remove_pred=lambda rel: rel in to_rewrite,
            writer_id=None,
            batch_id=None,
            operation="compact",
        )

    def compact_zorder(
        self,
        spark: SparkSession,
        x: str,
        y: str,
        *,
        bits: int = 8,
        min_files: int = 1,
    ) -> int | None:
        """OPTIMIZE ZORDER BY (x, y): compaction that also clusters each
        rewritten partition's rows along the Morton curve of (x, y), so
        parquet row-group min/max stats bound BOTH columns tightly and
        post-compaction scans skip row groups for filters on either
        (operators.layout has the standalone write path and the measured
        span numbers). Bounds come from one aggregate over the files
        being rewritten; the commit is an ordinary transaction."""
        from collections import defaultdict

        import pyspark.sql.functions as F

        from healthcare_aihw_etl_pipeline_spark.operators.layout import (
            bucketize,
            zvalue,
        )

        h = self.head()
        if h is None:
            return None
        version, manifest = h
        groups: dict[tuple, list[str]] = defaultdict(list)
        for p in manifest["files"]:
            pv = tuple(sorted(self._partition_values(p).items()))
            groups[pv].append(p)
        to_rewrite = {
            p for fs in groups.values() if len(fs) >= min_files for p in fs
        }
        if not to_rewrite:
            return version
        files = [os.path.join(self.data_dir, p) for p in sorted(to_rewrite)]
        df = spark.read.option("basePath", self.data_dir).parquet(*files)
        b = df.agg(
            F.min(x).alias("xlo"), F.max(x).alias("xhi"),
            F.min(y).alias("ylo"), F.max(y).alias("yhi"),
        ).first()
        if any(v is None for v in (b.xlo, b.xhi, b.ylo, b.yhi)):
            return version
        z = zvalue(
            bucketize(F.col(x), int(b.xlo), int(b.xhi), bits),
            bucketize(F.col(y), int(b.ylo), int(b.yhi), bits),
            bits,
        )
        if self.partition_by:
            clustered = df.repartition(*self.partition_by).sortWithinPartitions(
                *self.partition_by, z
            )
        else:
            clustered = df.coalesce(1).sortWithinPartitions(z)
        return self._commit_loop(
            clustered,
            remove_pred=lambda rel: rel in to_rewrite,
            writer_id=None,
            batch_id=None,
            operation="compact_zorder",
        )

    def vacuum(
        self,
        *,
        retain_versions: int = 1,
        retention_seconds: float = 7 * 24 * 3600.0,
    ) -> list[str]:
        """Delete data files referenced ONLY by manifests older than the
        last `retain_versions`, then drop those manifests. This is the
        step that finally reclaims space from copy-on-write — and the
        step that ends time travel past the horizon, which is why it is
        a separate, explicitly-invoked operation (Delta's VACUUM has the
        same contract). Returns the deleted relative paths.

        `retention_seconds` is the age guard that makes vacuum safe
        against IN-FLIGHT commits: a concurrent transaction moves its
        staged files into the data dir BEFORE its manifest exists, so
        "present on disk but unreferenced" does not imply garbage — it
        may be the next commit's data. Files younger (by mtime) than the
        horizon are skipped, mirroring Delta's
        deletedFileRetentionDuration contract; pass 0 only when no
        writer can be active (tests, single-writer maintenance)."""
        import time as _time

        vs = self._versions()
        if not vs:
            return []
        retain_versions = max(retain_versions, 1)
        kept, dropped = vs[-retain_versions:], vs[:-retain_versions]
        referenced: set[str] = set()
        for v in kept:
            referenced.update(self._read_manifest(v)["files"])
        horizon = _time.time() - max(retention_seconds, 0.0)
        deleted: list[str] = []
        for dirpath, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.data_dir)
                if rel in referenced:
                    continue
                try:
                    if os.path.getmtime(full) > horizon:
                        continue  # possibly an in-flight commit's file
                except OSError:
                    continue  # raced with its own cleanup
                os.unlink(full)
                deleted.append(rel)
        # Change-feed dirs referenced by a KEPT manifest must survive
        # (changes() raises on a committed version with a missing feed);
        # dirs referenced only by dropped manifests, and staged dirs
        # orphaned by aborted commits, reclaim under the same mtime
        # horizon as data files.
        kept_changes = {
            self._read_manifest(v).get("changes") for v in kept
        } - {None}
        if os.path.isdir(self.changes_dir):
            for name in os.listdir(self.changes_dir):
                if name in kept_changes:
                    continue
                full = os.path.join(self.changes_dir, name)
                try:
                    if os.path.getmtime(full) > horizon:
                        continue  # possibly an in-flight commit's feed
                except OSError:
                    continue
                shutil.rmtree(full, ignore_errors=True)
                deleted.append(os.path.join("_changes", name))
        for v in dropped:
            os.unlink(os.path.join(self.log_dir, f"{v:020d}.json"))
        return sorted(deleted)


def write_stream_txlog_merge(
    df: DataFrame,
    root: str,
    checkpoint: str,
    partition_by: list[str],
    key_cols: list[str],
    *,
    available_now: bool = True,
    track_changes: bool = False,
):
    """Streaming incremental load into a TxLogTable: exactly-once keyed
    MERGE per micro-batch. Safe under partition-spanning batches (COW
    merge keeps earlier rows) AND replay (the txn map makes a replayed
    batch_id a no-op) — the log-based form of
    `streaming.events.write_stream_upsert_partitions`. With
    track_changes on, every micro-batch commit also lands in the change
    feed, so downstream incremental consumers (ChangeFeedConsumer,
    apply_incremental_agg) chain off the streamed table."""
    table = TxLogTable(root, partition_by, track_changes=track_changes)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.merge(
            batch_df, key_cols, writer_id="stream", batch_id=batch_id
        )

    writer = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class ChangeFeedConsumer:
    """Incremental CDC consumer with a durable offset: each sync() pulls
    the source table's change feed SINCE the last consumed version and
    applies the NET effect per key to a target table in one MERGE commit
    (upserts + WHEN-MATCHED-DELETE), then atomically advances the offset.

    Net-effect semantics: for each key, only its LATEST change in the
    pending window matters — an insert later deleted applies as a
    delete; a delete later re-inserted applies as an upsert. The
    reduction is a per-key argmax on (_commit_version, change-order)
    computed engine-side (aggregate, not a window over the full feed).

    Crash safety: the offset advances AFTER the target commit. A crash
    between commit and offset write replays the window — idempotent,
    because the target MERGE keys on the same columns and the net effect
    of a replayed window is unchanged (at-least-once pull, exactly-once
    effect). The offset file is written tmp+rename (atomic on POSIX).
    """

    def __init__(self, source: TxLogTable, offset_path: str):
        self.source = source
        self.offset_path = offset_path

    def last_consumed(self) -> int:
        try:
            with open(self.offset_path) as f:
                return json.load(f)["version"]
        except (OSError, ValueError, KeyError):
            return -1

    def _advance(self, version: int) -> None:
        tmp = f"{self.offset_path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"version": version, "advanced_at": time.time()}, f)
        os.replace(tmp, self.offset_path)

    def sync_to(self, spark: SparkSession, target: TxLogTable,
                key_cols: list[str]) -> int | None:
        """Apply all pending changes to `target`; returns the target's
        new version (None when nothing is pending)."""
        import pyspark.sql.functions as F

        h = self.source.head()
        if h is None:
            return None
        head_v = h[0]
        since = self.last_consumed() + 1
        if since > head_v:
            return None
        feed = self.source.changes(spark, since=since, until=head_v)
        if feed is None:  # only no-feed commits in the window
            self._advance(head_v)
            return None
        # update PREIMAGES describe the replaced row, not new state —
        # a replica consumer applies postimages only (delta consumers
        # use incremental_agg_delta instead).
        feed = feed.where(F.col("_change_type") != "update_preimage")
        # Net effect per key: keep the row of the highest
        # (_commit_version, is_delete) — within one commit a key appears
        # at most once per change type, and a delete+reinsert inside one
        # MERGE commit surfaces as update/insert only, so version order
        # is sufficient; the encoded argmax is one aggregation, no
        # full-feed window sort.
        data_cols = [
            c for c in feed.columns
            if c not in ("_change_type", "_commit_version")
        ]
        latest = (
            feed.withColumn(
                "_k",
                F.struct(
                    F.col("_commit_version"),
                    F.struct(
                        F.col("_change_type"),
                        *[F.col(c) for c in data_cols],
                    ).alias("row"),
                ),
            )
            .groupBy(*key_cols)
            .agg(F.max("_k").alias("_k"))
            .select(
                *key_cols,
                F.col("_k.row._change_type").alias("_change_type"),
                *[
                    F.col(f"_k.row.{c}").alias(c)
                    for c in data_cols
                    if c not in key_cols
                ],
            )
        )
        new_v = target.merge(
            latest,
            key_cols,
            delete_predicate=F.col("_change_type") == F.lit("delete"),
            drop_after=["_change_type"],
            writer_id=f"cdc:{self.offset_path}",
            batch_id=head_v,
        )
        self._advance(head_v)
        return new_v


def incremental_agg_delta(
    feed: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Signed per-group (count, sum) deltas from a change-feed window —
    the heart of incremental materialized-view maintenance: inserts and
    update postimages contribute +1/+value, deletes and update
    PREIMAGES contribute -1/-value, so summing the signs replays the
    window's net effect on any distributive aggregate without touching
    the base table. One map-side-combined aggregation over the feed;
    at 100 TB the feed window is the day's changes, not the table."""
    import pyspark.sql.functions as F

    sign = (
        F.when(F.col("_change_type").isin("insert", "update"), F.lit(1))
        .when(
            F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1)
        )
        .otherwise(F.lit(0))
    )
    return (
        feed.withColumn("_sign", sign)
        .groupBy(*group_cols)
        .agg(
            F.sum("_sign").cast("long").alias("d_count"),
            F.sum(F.col("_sign") * F.col(value_col)).alias("d_sum"),
        )
        .where((F.col("d_count") != 0) | (F.col("d_sum") != 0))
    )


def apply_incremental_agg(
    spark: SparkSession,
    agg_table: TxLogTable,
    source: TxLogTable,
    group_cols: list[str],
    value_col: str,
    offset_path: str,
    feed_transform=None,
) -> int | None:
    """Maintain a materialized (group -> n_rows, sum_value) aggregate
    table from `source`'s change feed: pull the pending window (durable
    offset, same crash contract as ChangeFeedConsumer), compute signed
    deltas, and MERGE old+delta into the aggregate — groups whose count
    reaches zero are deleted. The aggregate stays equal to
    `SELECT group, COUNT(*), SUM(value) FROM snapshot GROUP BY group`
    at every sync point without ever rescanning the base table.

    `feed_transform` (optional, DataFrame -> DataFrame) maps each feed
    window row-wise BEFORE delta computation while PRESERVING the
    `_change_type` column — this generalizes maintenance to aggregates
    over a derived grain. The canonical use is incremental inverted-
    index maintenance: explode each changed document into (token, tf)
    rows, so the maintained table is (token -> doc_freq, total_tf) and
    an insert/delete of a document adjusts exactly its own tokens. The
    transform must be deterministic and linear (one output multiset per
    input row independent of the rest of the window) — the signed-delta
    algebra only distributes over such maps."""
    import pyspark.sql.functions as F

    h = source.head()
    if h is None:
        return None
    head_v = h[0]
    consumer = ChangeFeedConsumer(source, offset_path)
    writer_id = f"ivm:{offset_path}"
    # Crash contract: the merge below records batch_id = the window's END
    # version in the TARGET's txn map, so the target itself remembers the
    # last window actually applied. The durable offset file alone is not
    # enough: if we crash after the merge but before _advance, and NEW
    # source commits land before the retry, the retry's window would start
    # at the stale offset while its batch_id is the new head — the
    # `txn >= batch_id` dedupe misses and the already-applied deltas land
    # a second time on top of a snapshot that includes them. The window
    # start is therefore max(offset, last-applied-in-target) + 1.
    agg_h = agg_table.head()
    applied = (
        agg_h[1].get("txn", {}).get(writer_id, -1) if agg_h else -1
    )
    since = max(consumer.last_consumed(), applied) + 1
    if since > head_v:
        if consumer.last_consumed() < applied:
            consumer._advance(applied)  # heal the stale offset file
        return None
    feed = source.changes(spark, since=since, until=head_v)
    if feed is None:
        consumer._advance(head_v)
        return None
    if feed_transform is not None:
        feed = feed_transform(feed)
    delta = incremental_agg_delta(feed, group_cols, value_col)
    snap = agg_table.snapshot(spark)
    if snap is None:
        # Cast to double HERE, not just in the else-branch: with an
        # integer value column the first sync would otherwise commit
        # sum_value as LONG and the second sync's coalesce(+0.0)
        # arithmetic would try to evolve it to DOUBLE — a rejected
        # (non-widening-safe) schema change.
        merged = delta.select(
            *group_cols,
            F.col("d_count").alias("n_rows"),
            F.col("d_sum").cast("double").alias("sum_value"),
        )
    else:
        # Incremental by construction: only groups PRESENT IN THE DELTA
        # are merged (a left join from delta pulls their prior totals);
        # untouched groups survive through merge()'s copy-on-write
        # without being re-upserted. A full_outer join here would rewrite
        # the whole aggregate table every sync — at 100 TB the day's
        # changed groups are the work, not the group universe.
        merged = (
            delta.join(snap, group_cols, "left")
            .select(
                *group_cols,
                (
                    F.coalesce(F.col("n_rows"), F.lit(0))
                    + F.col("d_count")
                ).cast("long").alias("n_rows"),
                (
                    F.coalesce(F.col("sum_value"), F.lit(0.0))
                    + F.coalesce(F.col("d_sum"), F.lit(0.0))
                ).alias("sum_value"),
            )
        )
    batch = merged.withColumn("_dead", F.col("n_rows") <= 0)
    v = agg_table.merge(
        batch,
        group_cols,
        delete_predicate=F.col("_dead"),
        drop_after=["_dead"],
        writer_id=writer_id,
        batch_id=head_v,
    )
    consumer._advance(head_v)
    return v


def signed_window(feed: DataFrame, cols: list[str]) -> DataFrame | None:
    """Collapse a change-feed window to the signed multiset dX = X1 − X0:
    inserts/update-postimages count +1, deletes/update-preimages −1,
    summed per FULL row so intermediate images cancel (a row updated
    p0→p1→p2 inside one window nets to {−p0, +p2}). Rows with net 0
    vanish. With unique row ids (this module's IVM contract) every
    surviving row carries net ±1."""
    import pyspark.sql.functions as F

    if feed is None:
        return None
    sign = (
        F.when(F.col("_change_type").isin("insert", "update"), F.lit(1))
        .when(
            F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1)
        )
        .otherwise(F.lit(0))
    )
    return (
        feed.select(*cols, sign.alias("_s"))
        .groupBy(*cols)
        .agg(F.sum("_s").cast("long").alias("_s"))
        .where(F.col("_s") != 0)
    )


# Version-pair encoding for the maintained-join txn map: supports
# source tables up to ~2M commits each, far past any test or daily-
# batch horizon.
_IVM_ENC = 1 << 21


def _enc_pair(a: int, b: int) -> int:
    return (a + 1) * _IVM_ENC + (b + 1)


def _dec_pair(x: int) -> tuple[int, int]:
    return x // _IVM_ENC - 1, x % _IVM_ENC - 1


def apply_incremental_join(
    spark: SparkSession,
    out_table: TxLogTable,
    left: TxLogTable,
    right: TxLogTable,
    *,
    on: list[str],
    left_id: str,
    right_id: str,
    offset_path: str,
    how: str = "inner",
) -> int | None:
    """Maintain a materialized equi-join `out = left ⋈_on right`
    (`how="inner"`) or `left ⟕_on right` (`how="left"`) from the two
    sources' change feeds — the JOIN leg of incremental view
    maintenance (apply_incremental_agg is the aggregate leg).

    LEFT-OUTER form (`how="left"`): the inner component is maintained
    with the same bilinear delta as below; the NULL-extended component
    (left rows with no match) is RECONCILED rather than differenced —
    the affected set is delta-bounded (left ids touched by dA, plus
    left rows whose join key's matched-ness flipped, detectable only at
    keys present in dB), and for each affected left row the post-state
    presence test is one lookup against the right side's post-window
    key counts. This handles the hard case directly: a dim-delete that
    removes a key's LAST match flips every left row of that key from
    joined form to NULL-extended form in the same commit that deletes
    the joined pairs. Physical key: NULL can't be a MERGE key, so the
    stored table carries `_rkey` = right_id for joined rows and the
    sentinel -1 for NULL-extended rows (contract: right ids are
    non-negative), and the merge key is (left_id, _rkey); right-side
    payload columns (including right_id itself) are NULL on
    NULL-extended rows, so `snapshot().drop("_rkey")` IS the left-outer
    join. A left-outer sync before the right table's first commit is a
    no-op that does NOT advance offsets (the right schema is unknown
    until then); any other `how` raises ValueError.

    Delta algebra (signed multisets, ⋈ bilinear):
        A1⋈B1 − A0⋈B0 = dA⋈B0 + A1⋈dB
    i.e. ONE join of the left delta against the right's PRE-window
    snapshot (time travel) plus one join of the left's POST-window
    snapshot against the right delta — never a rescan of both bases,
    and the third dA⋈dB term is absorbed by using B0 on one side and
    A1 on the other. Per output pair (left_id, right_id) the summed
    variant nets are ±1 by row-id uniqueness (caller contract: the id
    columns are unique per side), so application is a single keyed
    MERGE: pairs with a positive variant upsert that payload, pairs
    with only a negative variant delete.

    Crash contract matches apply_incremental_agg: the MERGE records the
    (left, right) head-version pair in the target's txn map (encoded);
    window starts are max(durable offset, last-applied-in-target) + 1
    per source, so a crash between merge and offset-advance — even with
    new upstream commits landing before the retry — can never re-apply
    a window. At 100 TB the sync cost is (changed-left ⋈ right-prestate
    pruned by the join key) + (left-poststate ⋈ changed-right): both
    sides are delta-bounded equi-joins, and merge()'s copy-on-write
    touches only the files holding affected pairs."""
    import pyspark.sql.functions as F

    if how not in ("inner", "left", "right", "full"):
        raise ValueError(
            f"apply_incremental_join maintains inner or left-outer or "
            f"right/full-outer equi-joins only, got how={how!r}"
        )
    ha, hb = left.head(), right.head()
    a1 = ha[0] if ha else -1
    b1 = hb[0] if hb else -1
    if a1 < 0 and b1 < 0:
        return None
    if how in ("left", "full") and b1 < 0:
        # Right schema unknown until its first commit; do NOT advance
        # offsets — the left window replays once the right side exists.
        return None
    if how in ("right", "full") and a1 < 0:
        # Symmetric: left schema unknown until its first commit.
        return None
    ca = ChangeFeedConsumer(left, offset_path + ".left")
    cb = ChangeFeedConsumer(right, offset_path + ".right")
    writer_id = (
        f"ivm-join:{offset_path}" if how == "inner"
        else f"ivm-join:{offset_path}:{how}"
    )
    oh = out_table.head()
    applied = oh[1].get("txn", {}).get(writer_id, None) if oh else None
    ap_a, ap_b = _dec_pair(applied) if applied is not None else (-1, -1)
    since_a = max(ca.last_consumed(), ap_a) + 1
    since_b = max(cb.last_consumed(), ap_b) + 1
    if since_a > a1 and since_b > b1:
        if ca.last_consumed() < ap_a:
            ca._advance(ap_a)
        if cb.last_consumed() < ap_b:
            cb._advance(ap_b)
        return None

    # Column names/types come from the MANIFEST schemas, never from a
    # snapshot: a side fully emptied inside the sync window has a None
    # snapshot but its delta still needs full-width columns (and its
    # NULL-extended rows correctly-typed NULL columns).
    from pyspark.sql.types import StructType as _ST

    la_f = _ST.fromJson(ha[1]["schema"]).fields if ha else []
    rb_f = _ST.fromJson(hb[1]["schema"]).fields if hb else []
    left_cols = [f.name for f in la_f]
    right_cols = [f.name for f in rb_f]
    ltypes = {f.name: f.dataType.simpleString() for f in la_f}
    rtypes = {f.name: f.dataType.simpleString() for f in rb_f}

    A1 = left.snapshot(spark, version=a1) if a1 >= 0 else None
    B0 = right.snapshot(spark, version=since_b - 1) if since_b > 0 else None
    dA = (
        signed_window(
            left.changes(spark, since=since_a, until=a1), left_cols
        )
        if a1 >= since_a
        else None
    )
    dB = (
        signed_window(
            right.changes(spark, since=since_b, until=b1), right_cols
        )
        if b1 >= since_b
        else None
    )
    if dA is None and dB is None:
        ca._advance(a1 if a1 >= 0 else ap_a)
        cb._advance(b1 if b1 >= 0 else ap_b)
        return None

    shared = set(left_cols) & set(right_cols)
    if shared - set(on):
        raise ValueError(
            f"non-join columns shared between sides: {sorted(shared - set(on))}"
        )
    out_cols = left_cols + [c for c in right_cols if c not in on]

    terms = []
    if dA is not None and B0 is not None:
        terms.append(
            dA.join(B0, on).select(*out_cols, F.col("_s"))
        )
    if dB is not None and A1 is not None:
        terms.append(
            A1.join(dB, on).select(
                *out_cols, F.col("_s")
            )
        )
    if not terms and how == "inner":
        ca._advance(a1)
        cb._advance(b1)
        return None
    if terms:
        delta = terms[0]
        for t in terms[1:]:
            delta = delta.unionByName(t)
        variants = (
            delta.groupBy(*out_cols)
            .agg(F.sum("_s").cast("long").alias("_net"))
            .where(F.col("_net") != 0)
        )
        payload = [c for c in out_cols if c not in (left_id, right_id)]
        pairs = variants.groupBy(left_id, right_id).agg(
            F.max(
                F.when(F.col("_net") > 0, F.struct(*payload))
            ).alias("_pos")
        )
        batch = pairs.select(
            left_id,
            right_id,
            *[F.col(f"_pos.{c}").alias(c) for c in payload],
            F.col("_pos").isNull().alias("_dead"),
        )
    else:
        # No joined-pair delta, but an outer form may still need its
        # NULL-extension reconciled (e.g. right-only churn against an
        # empty left side).
        batch = None
    if how == "inner":
        v = out_table.merge(
            batch,
            [left_id, right_id],
            delete_predicate=F.col("_dead"),
            drop_after=["_dead"],
            writer_id=writer_id,
            batch_id=_enc_pair(a1, b1),
        )
        ca._advance(a1)
        cb._advance(b1)
        return v

    # -- outer forms: reconcile the NULL-extended component(s) --------
    # Everything here is delta-bounded: only keys present in the OTHER
    # side's delta can flip a row's matched-ness, so the count scans are
    # semi-joined down to the (small) delta key sets before grouping —
    # at scale they are stats-pruned probes, not full-snapshot
    # aggregates. `how="full"` runs the SAME reconciliation on both
    # sides (the symmetric match-count maintenance); the physical key
    # generalizes to (_lkey, _rkey) with sentinel -1 on the NULL side,
    # so `snapshot().drop("_lkey","_rkey")` IS the outer join.
    ext_left = how in ("left", "full")
    ext_right = how in ("right", "full")
    B1 = right.snapshot(spark, version=b1) if b1 >= 0 else None
    right_only = [c for c in right_cols if c not in on]

    def _key_counts(snap, keys, alias):
        if snap is None:
            return None
        return (
            snap.join(F.broadcast(keys), on, "left_semi")
            .groupBy(*on)
            .agg(F.count(F.lit(1)).alias(alias))
        )

    def _flip_keys(d_other, o_pre, o_post):
        """Join keys whose matched-ness (other-side match count > 0)
        flipped inside the window — only keys in the other side's delta
        can flip."""
        if d_other is None:
            return None
        dk = d_other.select(*on).distinct()
        c0 = _key_counts(o_pre, dk, "_c0")
        c1 = _key_counts(o_post, dk, "_c1")
        j = dk
        j = j.join(c0, on, "left") if c0 is not None else j.withColumn(
            "_c0", F.lit(None).cast("long")
        )
        j = j.join(c1, on, "left") if c1 is not None else j.withColumn(
            "_c1", F.lit(None).cast("long")
        )
        return j.where(
            (F.coalesce(F.col("_c0"), F.lit(0)) > 0)
            != (F.coalesce(F.col("_c1"), F.lit(0)) > 0)
        ).select(*on)

    # Extra physical-key columns each row variant must carry so every
    # union member is same-width: _rkey when the left side extends,
    # _lkey when the right side does.
    def _keys_for(lcol, rcol):
        out = []
        if ext_right:
            out.append(lcol.cast("long").alias("_lkey"))
        if ext_left:
            out.append(rcol.cast("long").alias("_rkey"))
        return out

    recon_rows = []
    if ext_left:
        # Affected left rows: ids touched by dA + rows on flipped keys.
        flips = _flip_keys(dB, B0, B1)
        aff_parts = []
        da_ids = dA.select(left_id).distinct() if dA is not None else None
        if da_ids is not None and A1 is not None:
            aff_parts.append(
                A1.join(F.broadcast(da_ids), left_id, "left_semi")
            )
        if flips is not None and A1 is not None:
            aff_parts.append(A1.join(F.broadcast(flips), on, "left_semi"))
        if aff_parts:
            affected = aff_parts[0]
            for p in aff_parts[1:]:
                affected = affected.unionByName(p)
            affected = affected.dropDuplicates([left_id]).localCheckpoint(
                eager=True
            )
            cnt1a = _key_counts(B1, affected.select(*on).distinct(), "_c1")
            probe = (
                affected.join(cnt1a, on, "left")
                if cnt1a is not None
                else affected.withColumn("_c1", F.lit(None).cast("long"))
            )
            # unmatched now -> upsert the NULL-extended row; matched now
            # -> delete any stale NULL-extended row (no-op when absent).
            recon_rows.append(
                probe.select(
                    *left_cols,
                    *[
                        F.lit(None).cast(rtypes[c]).alias(c)
                        for c in right_only
                    ],
                    *_keys_for(F.col(left_id), F.lit(-1)),
                    (F.coalesce(F.col("_c1"), F.lit(0)) > 0).alias("_dead"),
                )
            )
        if da_ids is not None:
            # left rows deleted outright: their NULL-extended row (if
            # any) must go too. Ids in dA but absent from A1.
            gone = da_ids.join(
                A1.select(left_id), left_id, "left_anti"
            ) if A1 is not None else da_ids
            recon_rows.append(
                gone.select(
                    F.col(left_id),
                    *[
                        F.lit(None).cast(ltypes[c]).alias(c)
                        for c in left_cols
                        if c != left_id
                    ],
                    *[
                        F.lit(None).cast(rtypes[c]).alias(c)
                        for c in right_only
                    ],
                    *_keys_for(F.col(left_id), F.lit(-1)),
                    F.lit(True).alias("_dead"),
                )
            )
    if ext_right:
        # Mirror image: affected right rows are ids touched by dB +
        # rows on keys whose LEFT match count flipped (keys in dA).
        A0 = (
            left.snapshot(spark, version=since_a - 1)
            if since_a > 0 else None
        )
        flips = _flip_keys(dA, A0, A1)
        aff_parts = []
        db_ids = dB.select(right_id).distinct() if dB is not None else None
        if db_ids is not None and B1 is not None:
            aff_parts.append(
                B1.join(F.broadcast(db_ids), right_id, "left_semi")
            )
        if flips is not None and B1 is not None:
            aff_parts.append(B1.join(F.broadcast(flips), on, "left_semi"))
        if aff_parts:
            affected = aff_parts[0]
            for p in aff_parts[1:]:
                affected = affected.unionByName(p)
            affected = affected.dropDuplicates([right_id]).localCheckpoint(
                eager=True
            )
            cnt1b = _key_counts(A1, affected.select(*on).distinct(), "_c1")
            probe = (
                affected.join(cnt1b, on, "left")
                if cnt1b is not None
                else affected.withColumn("_c1", F.lit(None).cast("long"))
            )
            recon_rows.append(
                probe.select(
                    *[
                        F.col(c) if c in on
                        else F.lit(None).cast(ltypes[c]).alias(c)
                        for c in left_cols
                    ],
                    *[F.col(c) for c in right_only],
                    *_keys_for(F.lit(-1), F.col(right_id)),
                    (F.coalesce(F.col("_c1"), F.lit(0)) > 0).alias("_dead"),
                )
            )
        if db_ids is not None:
            goner = db_ids.join(
                B1.select(right_id), right_id, "left_anti"
            ) if B1 is not None else db_ids
            recon_rows.append(
                goner.select(
                    *[
                        F.col(c) if c == right_id
                        else F.lit(None).cast(ltypes[c]).alias(c)
                        for c in left_cols
                    ],
                    *[
                        F.col(c) if c == right_id
                        else F.lit(None).cast(rtypes[c]).alias(c)
                        for c in right_only
                    ],
                    *_keys_for(F.lit(-1), F.col(right_id)),
                    F.lit(True).alias("_dead"),
                )
            )
    parts = []
    if batch is not None:
        parts.append(
            batch.select(
                "*", *_keys_for(F.col(left_id), F.col(right_id))
            )
        )
    parts.extend(recon_rows)
    if not parts:
        ca._advance(a1)
        cb._advance(b1)
        return None
    lbatch = parts[0]
    for r in parts[1:]:
        lbatch = lbatch.unionByName(r)
    merge_keys = {
        "left": [left_id, "_rkey"],
        "right": ["_lkey", right_id],
        "full": ["_lkey", "_rkey"],
    }[how]
    v = out_table.merge(
        lbatch,
        merge_keys,
        delete_predicate=F.col("_dead"),
        drop_after=["_dead"],
        writer_id=writer_id,
        batch_id=_enc_pair(a1, b1),
    )
    ca._advance(a1)
    cb._advance(b1)
    return v
