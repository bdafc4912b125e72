"""Sinks and external-table IO (SURVEY §2.1 S6/S7/S8).

The reference persists with full-replace JDBC writes in multi-row INSERT
batches (`df.to_sql(..., if_exists="replace", method="multi")`,
/root/reference/main.py:158,165) and reads back with `SELECT *`
(/root/reference/streamlit_app.py:30,33). Spark-first equivalents:

- canonical storage is partitioned parquet (`write_table`/`read_table`) —
  overwrite mode reproduces the full-replace contract; `partitionBy`
  gives the partition pruning the dashboard filter path needs (every
  widget filter includes `year`, /root/reference/streamlit_app.py:57-63).
- JDBC in/out stay available as thin wrappers (`read_jdbc`/`write_jdbc`)
  with the batching knob mapped to Spark's `batchsize`; untestable in
  this container (no database), parameters mirror the reference's
  semantics exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


FORMATS = ("parquet", "orc", "json", "csv")


def write_table(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    fmt: str = "parquet",
) -> None:
    """S7 — full-replace (or append) table write.

    Parquet is canonical (columnar, statistics, pushdown); ORC is its
    peer for engines that prefer it; JSON/CSV are interchange formats —
    row-oriented, no pushdown, so they are landing/egress edges, not
    query storage. CSV writes a header so the file round-trips.
    """
    if fmt not in FORMATS:
        raise ValueError(f"fmt must be one of {FORMATS}, got {fmt!r}")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(path)


def write_table_observed(
    df: DataFrame,
    path: str,
    metrics: dict[str, "Column"],
    *,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    fmt: str = "parquet",
) -> dict[str, object]:
    """S7 + pipeline QA: write the table AND collect data-quality
    metrics from the SAME pass via ``df.observe`` — row counts, null
    counts, sum checks, whatever aggregate `metrics` expresses.

    At 100 TB the naive pattern (write, then re-scan for a validation
    count) doubles the pipeline's IO; ``observe`` accumulates the
    aggregates on the executors WHILE the write job runs, so validation
    is free. Returns the metric dict of the completed write.

    `metrics` values must be aggregate expressions containing no
    distinct or filter-pushdown-dependent subexpressions (Spark's
    observe contract). With no metrics it is a plain write returning {}.
    """
    from pyspark.sql import Observation

    if not metrics:
        write_table(df, path, mode=mode, partition_by=partition_by, fmt=fmt)
        return {}
    obs = Observation()
    write_table(
        df.observe(obs, *[c.alias(n) for n, c in metrics.items()]),
        path,
        mode=mode,
        partition_by=partition_by,
        fmt=fmt,
    )
    return dict(obs.get)


def read_table(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "parquet",
    schema=None,
) -> DataFrame:
    """S6 — table scan (`SELECT *` equivalent); lazy, pruned by Catalyst.

    For CSV/JSON pass an explicit `schema` in production: schema
    inference is a full extra pass over the data at 100 TB (and CSV
    types degrade to string without it).
    """
    if fmt not in FORMATS:
        raise ValueError(f"fmt must be one of {FORMATS}, got {fmt!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("json", "csv"):
        reader = reader.option("inferSchema", "true")
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.format(fmt).load(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "overwrite",
    batchsize: int = 1000,
    options: dict[str, str] | None = None,
) -> None:
    """S7 — JDBC sink: overwrite == the reference's if_exists="replace";
    `batchsize` == its multi-row INSERT batching (method="multi")."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.save()


def read_jdbc(
    spark: SparkSession,
    url: str,
    *,
    table: str | None = None,
    query: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """S6 — JDBC scan by table name or pushdown query."""
    if (table is None) == (query is None):
        raise ValueError("pass exactly one of table= or query=")
    reader = spark.read.format("jdbc").option("url", url)
    reader = reader.option("dbtable", table) if table else reader.option("query", query)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def upsert_partitions(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    fmt: str = "parquet",
) -> None:
    """Partition-level upsert: replace exactly the partitions present in
    `df`, leave all others untouched (dynamic partition overwrite).

    This is the incremental-load contract of a date-partitioned 100 TB
    table — a daily batch rewrites only its own day directories instead
    of the reference's full-table replace (to_sql if_exists="replace").
    Spark's static overwrite mode would truncate the whole table; the
    session-scoped conf below narrows it to matching partitions for this
    write. Row-level MERGE needs a table format (Delta/Iceberg/Hudi) —
    partition granularity is the sweet spot plain parquet supports
    exactly-once.
    """
    if not partition_by:
        raise ValueError("upsert_partitions requires partition columns")
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        writer = df.write.mode("overwrite").partitionBy(*partition_by)
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.format(fmt).save(path)
    finally:
        if old is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
        else:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
