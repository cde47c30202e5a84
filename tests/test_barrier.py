"""Size-bounded shared-subtree barriers (core/barrier.py): barriers stay at
bench scale, pass through for corpus-sized inputs, and unknown leaf sizes
(checkpointed RDDs) keep the conservative barrier."""

from cdk_datalake_analytics_comercial_spark.core import barrier as B
from cdk_datalake_analytics_comercial_spark.core.barrier import (
    known_input_bytes,
    shared_barrier,
)


def _df(spark, tmp_path):
    p = str(tmp_path / "b")
    spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(p)
    return spark.read.parquet(p).filter("id > 1")


def test_barrier_kept_under_bound(spark, tmp_path):
    df = _df(spark, tmp_path)
    est = known_input_bytes(df)
    assert 0 < est < B.BARRIER_MAX_INPUT
    b = shared_barrier(df)
    assert b is not df  # checkpointed
    assert b.count() == 98


def test_barrier_skipped_over_bound(spark, tmp_path, monkeypatch):
    df = _df(spark, tmp_path)
    monkeypatch.setattr(B, "BARRIER_MAX_INPUT", 1)
    assert shared_barrier(df) is df  # recompute-per-consumer fallback


def test_barrier_gate_sees_through_checkpoints(spark, tmp_path, monkeypatch):
    # checkpoint leaves in Spark 4.1 expose real size stats (LogicalRDD
    # carries sizeInBytes), and a LAZY checkpoint still exposes the file
    # leaves until materialized — either way the gate has a real estimate
    # for chained barriers instead of an unknown placeholder
    df = _df(spark, tmp_path).localCheckpoint(eager=True).groupBy().count()
    assert 0 < known_input_bytes(df) < B.BARRIER_MAX_INPUT
    monkeypatch.setattr(B, "BARRIER_MAX_INPUT", 1)
    assert shared_barrier(df) is df  # known size over the tiny bound
