"""Streaming lake sink: continuous MERGE-upsert into a keyed txlog table.

Structured Streaming's built-in file sink is append-only; a CDC-shaped
stream (late corrections, re-emitted keys) needs MERGE semantics at the
sink. The standard Spark pattern is ``foreachBatch``: each micro-batch is
handed to the batch merge writer (``sources/writer.merge_upsert`` — the K3
operator, one atomic txlog commit per batch), so the streaming path reuses
the exact, tested batch merge.

Delivery semantics: the file source + checkpoint give at-least-once batch
delivery; MERGE on the business keys makes the sink write IDEMPOTENT per
batch, so replaying a batch after a crash converges to the same table —
the standard exactly-once-in-effect recipe for upsert sinks.

Scale notes: each micro-batch merge rewrites only the partitions the batch
touches (partition-scoped MERGE); keys arriving in one batch shuffle once
inside merge_upsert. Backpressure = micro-batch sizing
(``maxFilesPerTrigger``); state lives in the lake table, not the state
store, so the stream itself is stateless and restarts cheaply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sources.writer import merge_upsert


def merge_stream(
    stream: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    precedence: str | None = None,
    txlog: bool = False,
    checks: dict[str, str] | None = None,
) -> StreamingQuery:
    """Run ``stream`` into a MERGE-upsert sink at ``path``.

    ``precedence`` (a version/sequence column) enables last-writer-wins
    conditional update — REQUIRED for convergence under at-least-once
    redelivery: replayed batches may bundle old and new versions of a key
    in any order, and only a version comparison makes the result
    order-independent. Without it, source-always-wins semantics apply and
    correctness relies on the checkpoint never being lost.

    With ``available_now`` (tests, catch-up runs) the query drains all
    available input and stops; otherwise it runs continuously until
    stopped.

    ``checks`` (named CHECK constraints, see ``txlog.tx_write``): a
    poison micro-batch FAILS the query before any data lands — the table
    stays at its last good version, and after fixing/removing the bad
    input a restart from the same checkpoint resumes cleanly (the failed
    batch was never committed, so replay is safe).
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if checks:
            from ..sources.txlog import _enforce_checks

            _enforce_checks(batch, checks)
        if txlog:
            # each micro-batch is one atomic, time-travelable version:
            # snapshot-isolated readers never see a half-applied batch
            from ..sources.txlog import tx_merge

            tx_merge(
                batch.sparkSession, batch, path, keys,
                partition_by=partition_by, precedence=precedence,
            )
        else:
            merge_upsert(
                batch.sparkSession, batch, path, keys, partition_by,
                precedence=precedence,
            )

    writer = stream.writeStream.foreachBatch(process)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
    return q
