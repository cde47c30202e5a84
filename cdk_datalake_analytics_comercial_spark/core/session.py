"""SparkSession factory.

Replaces the reference's Glue-coupled session construction
(`artifacts/aws-glue/layer/common_jobs_functions.py:109-120`): Delta extension
confs are dropped (tables are written in the engine's own txlog format,
``sources/txlog.py``, with no Spark extension to load), the reference's dynamic
partition overwrite + schema-tolerant merge semantics are preserved via
native Spark confs, and the datetime-rebase confs survive as CORRECTED (the
reference pins LEGACY for pre-Gregorian ERP dates; our data model documents
modern dates only).

Scale posture (local[$SPARK_GRAFT_CPUS] for tests, 1000-executor cluster for
real runs): AQE on (runtime coalesce + skew-join splitting), modest default
shuffle partitions locally — on a cluster, callers override
``shuffle_partitions`` to ~2-3× total cores and rely on AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and plan re-optimization — the scale levers SURVEY §4 calls out.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dynamic partition overwrite: only partitions present in the incoming
    # DataFrame are replaced (reference K1, common_jobs_functions.py:312).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Partition dir values stay strings on read (Delta keeps the partition
    # schema in its log; plain-parquet inference would turn the reference's
    # string id_periodo='202401' into an int and break merge keys).
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # Arrow for any pandas interchange (multimodal / sketch verification paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python Data Source filter pushdown: TxLogBatchReader prunes files by
    # manifest stats/bloom/partition values from pushed WHERE clauses; with
    # the gate off Spark FAILS pushdown-capable sources rather than ignoring
    # them (also set at register_txlog_source for foreign sessions).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Deterministic timestamp semantics matching the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Modern calendar only (reference pins LEGACY at common_jobs_functions.py:117-119
    # for pre-1582 ERP dates; synthetic + modern data needs CORRECTED).
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInWrite": "CORRECTED",
    # Read parquet TIMESTAMP(NANOS) as nanosecond longs (Spark has no ns
    # timestamp type); epoch arithmetic handles both representations.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # local[32] on the 1g default heap gives 32 task threads ~30 MB each —
    # sf1-scale aggregates OOM. Size the single local JVM like the
    # executor it stands in for (applied at JVM launch; ignored when a
    # session already exists, e.g. the driver's own bare session).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
    # Whole-stage-codegen class cache. The default (100 entries) thrashes
    # under any workload with more than ~a hundred distinct codegen stages
    # per JVM — this engine's 138-query registry recompiles EVERY stage on
    # EVERY run (measured: a 32-query rotation keeps rolling_3m_window at
    # 8-12 CPU-s per run vs 3.1-3.6 once compiled classes survive, ~2.6×).
    # A production executor running a many-shape workload thrashes the
    # same default identically, so a larger bound is the general fix; the
    # cost is bounded metaspace for the cached generated classes.
    "spark.sql.codegen.cache.maxEntries": os.environ.get(
        "SPARK_GRAFT_CODEGEN_CACHE", "4096"
    ),
}


def get_spark(
    app_name: str = "cdk-datalake-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    tests and bench share sizing; on a real cluster pass ``master=None`` with
    spark-submit providing the master and sizing.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
