"""Parquet table catalog over the test corpus (SURVEY §2.1 S9).

The reference reads from PostgreSQL (`SELECT * FROM clean_admissions`,
/root/reference/streamlit_app.py:30); here the canonical storage is
Parquet, scanned lazily so Catalyst pushes filters and prunes columns
into the file scan.

Scale notes: at 100 TB these would be partitioned/bucketed table roots
(fact tables partitioned by date, bucketed by join key) rather than
single files; the loading surface is identical (`spark.read.parquet` on
a directory). Never cache DATA here — callers decide persistence (the
reference's `st.cache_data`, SURVEY §2.13 C2, maps to `df.persist()` at
the serving layer, not the scan layer). We do cache the lazy DataFrame
handle per (session, dir, table): re-resolving the same path re-lists
files and re-reads parquet footers for schema inference on every call
(~0.1 s/table measured), which is pure metadata work a real catalog
(HMS/Unity/Glue) amortizes once. The cached object is an unexecuted
logical plan — no rows are pinned, and every query still plans, prunes,
and scans independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Lazy-DataFrame handle cache: metadata only (see module docstring).
# Keyed by applicationId so a new SparkSession never sees stale handles.
_HANDLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one corpus table.

    `events.ts` is physically INT64 TIMESTAMP(NANOS), which the Spark
    vectorized reader rejects; we read nanos as long (legacy conf) and
    rebuild a microsecond timestamp with *integer* division (a double
    division would lose precision above 2^53 ≈ 9e15 ns).
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _HANDLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    _HANDLE_CACHE[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # session.get_spark sets nanosAsLong as a session default; this
        # guarded set-once exists only for EXTERNAL sessions (the driver
        # builds a plain one). The guard avoids re-mutating conf on every
        # scan — repeated conf.set invalidates cached plans mid-session.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # Rebuild as TIMESTAMP_NTZ (matching how Spark reads the other
            # non-UTC-adjusted parquet timestamps) so results do not depend
            # on the session timezone.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts DIV 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Footer row-count cache: (sf_dir, table) -> (source mtime, rows).
# Pure file metadata — the statistic a real catalog serves from the
# metastore; the stored mtime evicts entries for rewritten tables.
_ROWCOUNT_CACHE: dict[tuple[str, str], tuple[float, int]] = {}


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a corpus table from parquet footer metadata —
    no data scan, no Spark job. This is the table-statistics primitive a
    cost-based planner needs for strategy selection (broadcast vs
    shuffle); on a cluster the metastore serves the same number. Returns
    None when the footer is unreadable — a missing path, a directory or
    a non-parquet file (callers must then choose the scale-safe
    strategy); any other error propagates."""
    import os

    import pyarrow.parquet as pq

    key = (sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.path.getmtime(path)
        hit = _ROWCOUNT_CACHE.get(key)
        if hit is not None and hit[0] == mtime:
            return hit[1]
        n = pq.ParquetFile(path).metadata.num_rows
    except (OSError, ValueError):  # ArrowInvalid is a ValueError
        return None
    _ROWCOUNT_CACHE[key] = (mtime, n)
    return n


# sf_dir -> (source mtime, horizon). Keyed by directory with the mtime
# stored IN the value so a rewritten events.parquet replaces the entry
# instead of accumulating one per rewrite in a long-lived session.
_HORIZON_CACHE: dict[str, tuple[float, object]] = {}


def events_horizon_us(sf_dir: str):
    """Exact corpus horizon MAX(events.ts) as a naive microsecond
    datetime, read from parquet footer COLUMN statistics — the second
    table-statistics primitive beside :func:`table_rows` (a metastore
    serves both; at 100 TB this is a metadata read instead of a full
    fact scan). Exactness: parquet min/max statistics for INT64
    timestamps are exact (no truncation class like strings), so the
    footer max over all row groups EQUALS the scan's MAX(ts); for the
    TIMESTAMP(NANOS) physical variant the µs-truncated statistic equals
    load_table's `ts DIV 1000` floor conversion, but pyarrow's typed
    accessor is not guaranteed there, so only the MICROS physical type
    is served — anything else returns None and callers fall back to
    the aggregate scan. Survival-family queries splice the value as a
    TIMESTAMP_NTZ literal (the ANN-probe plan-parameter discipline)."""
    try:
        import datetime
        import os

        import pyarrow.parquet as pq

        # The source mtime is the staleness token: a rewritten
        # events.parquet must re-read footers (the same contract the
        # silver tables key on) — horizon is a CORRECTNESS input,
        # unlike table_rows' strategy hint.
        mtime = os.path.getmtime(f"{sf_dir}/events.parquet")
        hit = _HORIZON_CACHE.get(sf_dir)
        if hit is not None and hit[0] == mtime:
            return hit[1]
        f = pq.ParquetFile(f"{sf_dir}/events.parquet")
        t = f.schema_arrow.field("ts").type
        # EXACT naive-micros match: "timestamp[us, tz=UTC]"-class
        # (isAdjustedToUTC) types would surface tz-aware stat values
        # whose spliced literal shifts with the session zone.
        if str(t) != "timestamp[us]":
            return None
        md = f.metadata
        idx = next(
            i
            for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "ts"
        )
        best = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mx = st.max
            if not isinstance(mx, datetime.datetime):
                return None
            if best is None or mx > best:
                best = mx
    except Exception:
        return None
    if best is None:
        return None
    _HORIZON_CACHE[sf_dir] = (mtime, best)
    return best


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full corpus as a dict of lazy DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for the `spark.sql` surface.

    Redeems the reference's latent SQL-on-DataFrames intent (pandasql is
    declared in /root/reference/requirements.txt:12 but never imported).
    """
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a scan whose FILE layout under-
    parallelizes CPU-heavy downstream work — no-op when the scan already
    has enough input files.

    Why: Spark assigns scan tasks at file/row-group granularity, and a
    single-row-group file is one task no matter what
    `spark.sql.files.maxPartitionBytes` says. A query whose expensive
    stage sits BETWEEN the scan and the first shuffle (per-row md5 over
    exploded shingles, n-gram generation, edit distances) then runs that
    stage single-threaded. Redistributing the (narrow) source rows first
    costs one small shuffle of the raw rows and parallelizes the compute
    by the core count — measured 2.85 s -> 0.55 s on the fingerprint
    sketch at sf0.1 (one 5 MB file, 32 cores).

    At scale this is a no-op by construction: a 100 TB table has orders
    of magnitude more files than the cluster has task slots, so the
    file-count guard leaves the plan untouched — no extra shuffle where
    the scan already parallelizes.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    try:
        if len(df.inputFiles()) >= n:
            return df
    except Exception:
        pass  # non-file-backed plans: spreading is still safe
    return df.repartition(n)
