"""Size-bounded shared-subtree barriers (guide §5; r13 verdict watch item).

A lazy ``localCheckpoint`` is the engine's shared-subtree barrier: when one
frame feeds 2+ consumers, AQE does not reuse exchanges across consumers
(and column pruning usually makes the subtrees non-canonical anyway), so
the barrier trades one materialization for N re-executions. The trade is
only right while the materialized frame is small: ``localCheckpoint``
stores executor-local RDD blocks (memory, disk-spillable) with NO lineage
and NO size statistics, so barriering a corpus-sized frame converts
recompute into cluster-storage residency and blinds the planner downstream.

``shared_barrier`` therefore gates every barrier on the subtree's KNOWN
source input size (the sum of file-relation leaf sizes in the optimized
plan — the one size estimate Spark gets right). Subtrees fed by more than
``BARRIER_MAX_INPUT`` bytes (16 GiB) pass through
un-barriered and are recomputed per consumer; everything at tested scales
(sf0.001-sf1) stays far under the bound, so bench plans are unchanged.
Leaves with no usable estimate (a relation whose stats fall back to
Spark's Long.MaxValue placeholder) contribute 0 — an upstream barrier was
itself gated, so the conservative choice is to keep the downstream one.
In practice Spark 4.1 exposes real sizes for both file relations and
checkpointed LogicalRDD leaves, so chained barriers are gated on real
estimates too (pinned by tests/test_barrier.py).

The 16 GiB bound is sized for the production shape this engine targets
(guide §5): a barriered frame is replicated nowhere (one block per
partition), disk-backed when memory is short, so 16 GiB is a small, bounded
fraction of any cluster that can run the 100 TB workload at all — while a
frame LARGER than that is corpus-scale, exactly the case where recompute
from columnar parquet (with pruning and pushdown) beats residency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

BARRIER_MAX_INPUT = 16 * 1024**3

# Any leaf claiming at least this many bytes is an "unknown" placeholder
# (Spark's defaultSizeInBytes for relations without stats is Long.MaxValue
# or a product of it), never a real file size.
_UNKNOWN_FLOOR = 1 << 60


def known_input_bytes(df: DataFrame) -> int:
    """Sum of the optimized plan's leaf size estimates, counting only
    leaves with a REAL estimate (file relations know their bytes;
    checkpoint/in-memory leaves report Long.MaxValue and count as 0)."""
    total = 0
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        for i in range(leaves.length()):
            size = int(str(leaves.apply(i).stats().sizeInBytes()))
            if 0 <= size < _UNKNOWN_FLOOR:
                total += size
    except Exception:
        return 0
    return total


def shared_barrier(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)`` when the subtree's known input
    is under ``BARRIER_MAX_INPUT``; ``df`` unchanged (recompute per
    consumer) otherwise."""
    if known_input_bytes(df) > BARRIER_MAX_INPUT:
        return df
    return df.localCheckpoint(eager=False)
