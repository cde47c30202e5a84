"""Per-job write metrics — the engine twin of the reference's per-table
DynamoDB status rows (`common_jobs_functions.py:608-654`: each job logs its
table, status and timing; the engine adds ROW COUNTS, which the reference
never had).

Mechanism: the single writer choke point (`txlog._write_batch`, which
every table write goes through) attaches a Spark ``Observation``
(``df.observe(obs, count(*))``) to the DataFrame it is about to write.
Observations piggyback on the write action itself — the count is
collected DURING the job Spark already runs, no second scan, no extra
action. The runner opens a :func:`collect_writes` scope around each
job callable (thread-confined via ``contextvars`` — wave-parallel jobs on
the shared session don't cross-talk), and the totals land in the job's
status-log line as ``rows_written`` / ``writes``.
"""

from __future__ import annotations

import contextlib
import contextvars
from dataclasses import dataclass, field

_collector: contextvars.ContextVar = contextvars.ContextVar(
    "write_metrics_collector", default=None
)


@dataclass
class WriteMetrics:
    """Totals across every table write a job performed."""

    rows_written: int = 0
    writes: int = 0
    tables: list = field(default_factory=list)

    def record(self, path: str, rows: int) -> None:
        self.rows_written += int(rows)
        self.writes += 1
        self.tables.append({"path": path, "rows": int(rows)})


@contextlib.contextmanager
def collect_writes():
    """Scope within which writer-layer row counts accumulate; yields the
    :class:`WriteMetrics` being filled. Thread-confined: concurrent jobs
    in other threads each see their own scope (or none)."""
    metrics = WriteMetrics()
    token = _collector.set(metrics)
    try:
        yield metrics
    finally:
        _collector.reset(token)


def observe_write(df):
    """If a collection scope is active, attach a count observation to the
    DataFrame about to be written; returns ``(df, finish)`` where
    ``finish(path)`` records the observed row count after the write action
    completes. Outside a scope both are pass-throughs (zero overhead)."""
    metrics = _collector.get()
    if metrics is None:
        return df, lambda path: None

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))

    def finish(path: str) -> None:
        metrics.record(path, obs.get["rows_written"])

    return observed, finish
