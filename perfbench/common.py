"""Shared pieces of the workloads: the operation record, the run context
and the summary statistics."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from tracing import Tracer


@dataclass
class Op:
    """One measured operation (a job, a query or a statement)."""

    name: str
    kind: str
    start: float
    end: float
    ok: bool = True
    error: str | None = None
    result: object = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    size: str
    cores: int
    groups: set[str] = field(default_factory=set)

    def tag(self, group: str) -> None:
        """Tag Spark jobs started by this thread with ``group``."""
        self.groups.add(group)
        self.spark.sparkContext.setJobGroup(group, group, False)
        self.tracer.set_op(group)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return statistics.geometric_mean([max(x, 1e-6) for x in xs]) if xs else 0.0
