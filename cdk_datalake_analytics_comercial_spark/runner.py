"""Config-driven DAG runner: topological waves of registered jobs.

Replaces the reference's deploy-time orchestration (Step Functions state
machine built from ``domain.csv``/``analytics.csv`` —
`stacks/cdk_datalake_analytics_stack.py:333-359` config read, `:609-651` wave
construction as ``sfn.Parallel`` per ``exe_order``, domain→analytics chaining
`:808-867`) with an in-process executor:

- Config rows ``(layer, procedure, exe_order, periods)`` — same CSV schema
  (S7, `stacks/cdk_datalake_analytics_stack.py:347`; ``;``-delimited).
- Jobs within one ``exe_order`` wave run in parallel on a thread pool over
  the ONE shared SparkSession (Spark's scheduler interleaves their stages;
  on a cluster use fair-scheduler pools), waves run sequentially.
- Per-job status + timing collected locally (replaces the DynamoDB status
  table + SNS error topic, `common_jobs_functions.py:584-654`).
- The per-job concurrency gate (the reference's get_data Lambda polling
  `get_job_runs`, `artifacts/aws-lambda/.../get_data/lambda_function.py:36-53`)
  is inherent here: a job appears once per run, and reruns of the runner are
  serialized by the caller.

A "job" is any callable ``(JobContext) -> None``; the reference's job
scripts map 1:1 (read stage tables → transform → write/merge domain table).
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession

from .core.catalog import Catalog
from .core.periods import get_periods
from .sources.metrics import collect_writes
from .sources.registry import SchemaRegistry


@dataclass
class JobConfig:
    """One config row (mirrors ``domain.csv``/``analytics.csv`` columns the
    runner consumes, including the per-job resource sizing pair
    ``worker_type;num_workers`` the reference feeds to Glue job creation —
    `artifacts/aws-glue/config/domain.csv:2-32`, stack ``worker_type``/
    ``worker_count`` at `stacks/cdk_datalake_analytics_stack.py:439-443`)."""

    layer: str
    procedure: str
    exe_order: int
    periods: int = 2
    process_id: int = 0
    worker_type: str = "G.1X"
    num_workers: int = 2


# Public AWS Glue worker specs: vCPUs per worker by type (G.1X = 1 DPU =
# 4 vCPU, G.2X = 2 DPU = 8 vCPU, …). Used to translate the config's
# ``worker_type;num_workers`` into a per-job parallelism budget.
_GLUE_VCPUS = {
    "Standard": 4,
    "G.025X": 2,
    "G.1X": 4,
    "G.2X": 8,
    "G.4X": 16,
    "G.8X": 32,
}


def shuffle_partitions_for(cfg: JobConfig) -> int:
    """Per-job ``spark.sql.shuffle.partitions`` from the config sizing:
    2 tasks per provisioned vCPU (the standard slight-oversubscription so
    stragglers rebalance), floored at 4. A G.1X×2 master job gets 16
    partitions; a G.1X×4 fact job 32 — small dims stop paying the fact
    jobs' shuffle width, fact jobs stop being capped by the masters'."""
    return max(4, _GLUE_VCPUS.get(cfg.worker_type, 4) * cfg.num_workers * 2)


@dataclass
class JobContext:
    """Everything a job callable needs (replaces Glue job args,
    `common_jobs_functions.py:22-44`): session, catalog, registry, the
    period window (injected clock — SURVEY §7.3.7), and the config row."""

    spark: SparkSession
    catalog: Catalog
    registry: SchemaRegistry
    config: JobConfig
    as_of: dt.date
    countries: list[str] = field(default_factory=lambda: ["PE"])

    @property
    def periods(self) -> list[str]:
        return get_periods(self.config.periods, self.as_of)


@dataclass
class JobResult:
    name: str
    status: str  # "succeeded" | "failed" | "skipped"
    wave: int
    seconds: float
    error: str | None = None
    rows_written: int | None = None  # observed across the job's table writes
    writes: int | None = None


def parse_config_csv(text: str, layer: str | None = None) -> list[JobConfig]:
    """Parse the ``;``-delimited job config (columns ``layer;procedure;...;
    exe_order;process_id;periods`` — extra columns ignored)."""
    rows = []
    reader = csv.DictReader(io.StringIO(text), delimiter=";")
    for r in reader:
        if layer is not None and r.get("layer") != layer:
            continue
        rows.append(
            JobConfig(
                layer=r["layer"],
                procedure=r["procedure"],
                exe_order=int(r["exe_order"]),
                periods=int(r.get("periods") or 2),
                process_id=int(r.get("process_id") or 0),
                worker_type=r.get("worker_type") or "G.1X",
                num_workers=int(r.get("num_workers") or 2),
            )
        )
    return rows


class JobRegistry:
    """name → callable registry (the reference's per-procedure Glue script
    files, discovered from config at deploy time)."""

    def __init__(self) -> None:
        self._jobs: dict[str, Callable[[JobContext], None]] = {}

    def register(self, name: str):
        def deco(fn: Callable[[JobContext], None]):
            self._jobs[name] = fn
            return fn

        return deco

    def add(self, name: str, fn: Callable[[JobContext], None]) -> None:
        self._jobs[name] = fn

    def get(self, name: str) -> Callable[[JobContext], None] | None:
        return self._jobs.get(name)

    def __contains__(self, name: str) -> bool:
        return name in self._jobs


class ConcurrencyGate:
    """Per-(procedure, country) mutual exclusion across overlapping runs —
    the reference's ``get_data`` Lambda gate (`artifacts/aws-lambda/code/
    analytics/get_data/lambda_function.py:36-53`): before starting a Glue
    job it polls ``get_job_runs`` and, with ``wait=True``, loops a 60 s Wait
    state until no run of the same job is active for the same country;
    ``wait=False`` skips instead.

    In-process twin: one gate shared by concurrent ``run_waves`` calls (the
    reference's overlapping nightly/backfill state machines). ``acquire``
    blocks (wait=True) or returns False (wait=False) while another holder
    has the key."""

    def __init__(self) -> None:
        import threading

        self._held: set[tuple[str, str]] = set()
        self._cv = threading.Condition()

    def acquire(self, procedure: str, country: str = "", wait: bool = True) -> bool:
        key = (procedure, country)
        with self._cv:
            if not wait and key in self._held:
                return False
            while key in self._held:
                self._cv.wait()
            self._held.add(key)
            return True

    def release(self, procedure: str, country: str = "") -> None:
        with self._cv:
            self._held.discard((procedure, country))
            self._cv.notify_all()


def run_waves(
    configs: list[JobConfig],
    registry: JobRegistry,
    make_context: Callable[[JobConfig], JobContext],
    max_parallel: int = 8,
    fail_fast: bool = False,
    gate: ConcurrencyGate | None = None,
    country: str = "",
    retries: int = 0,
    size_jobs: bool = False,
) -> list[JobResult]:
    """Execute jobs in ``exe_order`` waves; inside a wave, thread-parallel.

    ``size_jobs=True`` applies the config's per-job resource sizing
    (``worker_type;num_workers`` — the reference provisions each Glue job
    with exactly this pair, `stacks/cdk_datalake_analytics_stack.py:439-443`):
    each job runs in its OWN ``spark.newSession()`` (same SparkContext and
    cached data, isolated SQLConf) with ``spark.sql.shuffle.partitions``
    derived from the provisioned vCPUs (:func:`shuffle_partitions_for`)
    and a ``spark.scheduler.pool`` named after the worker class, so under
    FAIR scheduling a wave's big fact jobs cannot starve the small master
    jobs. Parent-session runtime conf overrides are copied into the child
    session first.

    A failed job marks its result and (fail_fast=False, the reference's
    behavior — each SF branch fails independently) lets the remaining jobs
    and waves continue; fail_fast=True stops after the failing wave.
    ``gate`` (shared across concurrent ``run_waves`` calls) serializes runs
    of the same procedure for the same country, like the reference's
    per-job Lambda gate (SURVEY §3.1 step 2). ``retries`` re-runs a failed
    job up to that many extra times before recording the failure (engine
    extension — safe because every job writes via idempotent
    overwrite/merge, so a partial failed attempt cannot double-apply).
    """
    import dataclasses

    def _sized(ctx: JobContext) -> JobContext:
        """Rebind the context to a per-job child session sized from the
        config row; local properties (scheduler pool) are THREAD-local on
        the shared SparkContext, so each wave thread tags only its own
        jobs."""
        parent = ctx.spark
        child = parent.newSession()
        # newSession starts from SparkConf defaults: carry over the
        # parent's explicit runtime overrides before applying the sizing
        for r in parent.sql("SET").collect():
            try:
                child.conf.set(r["key"], r["value"])
            except Exception:
                continue  # static/non-settable entries
        child.conf.set(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions_for(ctx.config)),
        )
        child.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"glue-{ctx.config.worker_type}"
        )
        return dataclasses.replace(ctx, spark=child)

    results: list[JobResult] = []
    waves = sorted({c.exe_order for c in configs})
    for wave in waves:
        wave_jobs = [c for c in configs if c.exe_order == wave]

        def run_one(cfg: JobConfig) -> JobResult:
            fn = registry.get(cfg.procedure)
            if fn is None:
                return JobResult(cfg.procedure, "skipped", wave, 0.0, "not registered")
            if gate is not None:
                gate.acquire(cfg.procedure, country)
            t0 = time.time()
            try:
                last_err = None
                for _attempt in range(retries + 1):
                    try:
                        # rows_written piggybacks on the job's own write
                        # actions via Observations (sources/metrics.py) —
                        # the reference logs per-table status to DynamoDB
                        # (common_jobs_functions.py:608-654); the engine
                        # adds row counts at zero extra scans
                        with collect_writes() as wm:
                            ctx = make_context(cfg)
                            fn(_sized(ctx) if size_jobs else ctx)
                        return JobResult(
                            cfg.procedure, "succeeded", wave,
                            round(time.time() - t0, 3),
                            rows_written=wm.rows_written,
                            writes=wm.writes,
                        )
                    except Exception:
                        last_err = traceback.format_exc(limit=3)
                return JobResult(
                    cfg.procedure,
                    "failed",
                    wave,
                    round(time.time() - t0, 3),
                    last_err,
                )
            finally:
                if gate is not None:
                    gate.release(cfg.procedure, country)

        with ThreadPoolExecutor(max_workers=max(1, min(max_parallel, len(wave_jobs)))) as ex:
            results.extend(ex.map(run_one, wave_jobs))
        if fail_fast and any(r.status == "failed" for r in results):
            break
    return results


def write_status_log(results: list[JobResult], path: str, run_id: str | None = None) -> None:
    """Append one JSON line per job result — the local replacement for the
    reference's per-table DynamoDB status writes + SNS failure notifications
    (`LOGGING_UTILS.update_status_dynamo` / ``send_error_message``,
    `common_jobs_functions.py:584-654`). Append-only so successive runs form
    an audit trail."""
    import json

    with open(path, "a") as f:
        for r in results:
            f.write(
                json.dumps(
                    {
                        "run_id": run_id,
                        "job": r.name,
                        "status": r.status,
                        "wave": r.wave,
                        "seconds": r.seconds,
                        "rows_written": r.rows_written,
                        "writes": r.writes,
                        "error": r.error,
                    }
                )
                + "\n"
            )
