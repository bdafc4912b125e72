"""SparkSession lifecycle (reference: engine/connection mgmt, SURVEY §2.1 S8).

The reference caches a pooled SQLAlchemy engine
(/root/reference/main.py:156, /root/reference/streamlit_app.py:20-22);
the Spark analog is a singleton SparkSession tuned for the target
execution profile.

Scale notes (100 TB design intent, tested on local[N]):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast-join selection replace hand-tuned plans.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden per-deploy (AQE coalescing makes over-provisioning cheap).
- ANSI at the Spark 4 default (on): all plans are overflow-safe and use
  try_* casts, reproducing the reference's ``pd.to_numeric(errors="coerce")``
  NULL-on-junk semantics (/root/reference/main.py:124) without relying on
  session configuration.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores for local parallelism: ``SPARK_GRAFT_CPUS`` if set, else the
    cores this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "healthcare_aihw_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Local parallelism and the default shuffle width come from
    :func:`local_cpus`.
    """
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI mode stays at the Spark 4 default (ON), matching whatever
        # session the external driver builds: every expression here must be
        # overflow-safe and use try_* casts for the reference's
        # NULL-on-junk coercion semantics (/root/reference/main.py:124).
        .config("spark.ui.enabled", "false")
        # events.parquet is INT64 TIMESTAMP(NANOS); read nanos as long and
        # rebuild NTZ in catalog.load_table. Set here (session default) so
        # the scan path never mutates conf mid-session.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep saveAsTable droppings (spark-warehouse/) out of whatever
        # CWD the process launched from — the repo root is snapshotted.
        .config("spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse")
    )
    # Python workers start in the JVM's working directory, so they find
    # the package only through the parent directory put first on their path.
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf[key] = os.pathsep.join(filter(None, [parent, conf.get(key)]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
