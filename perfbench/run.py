"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process runs one workload on
``local[<cores>]``: it starts a Spark session, generates the seeded inputs,
builds and warms what the workload needs, measures, then checks every
output against an independent DuckDB oracle outside the timed window. Everything it writes goes under
``.perfbench/`` in the current directory; the per-run lake and inputs are
deleted at exit and a traced run keeps its spans in ``.perfbench/traces``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). ``--size tiny`` shrinks every input for the self-tests.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time

import gen
import tracing
from common import Ctx, geomean

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = {
    "medallion_refresh": ("wl_medallion", "Medallion"),
    "analyst_queries": ("wl_analyst", "Analyst"),
    "lake_dml": ("wl_lake", "Lake"),
}

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_geomean_s": "s",
    "cpu_s_per_op": "s",
    "ok_ratio": "ratio",
}

PER_LAYER = {
    "core.session.start_s": "s",
    "runner.self_s": "s",
    "runner.wave_tail_s": "s",
    "jobs.domain.job_s": "s",
    "jobs.analytics.job_s": "s",
    "jobs.dim_factory.job_s": "s",
    "jobs.corpus.job_s": "s",
    "jobs.rows_written": "count",
    "jobs.writes": "count",
    "sources.reader.calls": "count",
    "sources.reader.s": "s",
    "sources.writer.calls": "count",
    "sources.writer.s": "s",
    "sources.writer.files_written": "count",
    "sources.writer.bytes_written": "bytes",
    "sources.txlog.commits": "count",
    "sources.txlog.commit_s": "s",
    "sources.txlog.files_added": "count",
    "sources.txlog.files_removed": "count",
    "sources.txlog.bytes_written_per_row_changed": "bytes",
    "sources.txlog.conflict_retries": "count",
    "sources.txlog.compact_s": "s",
    "sources.txlog.vacuum_s": "s",
    "sources.txlog.manifest_s": "s",
    "sources.txlog.snapshot_files": "count",
    "sources.txlog.files_scanned_per_lookup": "count",
    "sources.txlog.space_amp": "ratio",
    "core.sql_dml.self_s": "s",
    "core.sql_dml.write_p50_s": "s",
    "core.sql_dml.read_p50_s": "s",
    "core.sql_serving.register_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.input_bytes_per_op": "bytes",
    "spark.task_busy_share": "ratio",
    "proc.cpu_s_per_op": "s",
    "operators.text.s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.near_s": "s",
    "operators.contamination.s": "s",
    "operators.pack.s": "s",
    "operators.dedup.docs_removed": "count",
    "operators.dedup.near_recall": "ratio",
    "trace.work_s": "s",
    "trace.overhead_s": "s",
}


class BenchError(Exception):
    """The benchmark cannot run here (missing package or tools)."""


def preflight() -> None:
    """Fail before any work when the package or the stage templates are
    absent (e.g. a directory holding only the benchmark)."""
    for rel in ("cdk_datalake_analytics_comercial_spark/__init__.py",
                "tools/full_stage.py", "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(REPO, rel)):
            raise BenchError(f"missing {rel}: run from a checkout of the repository")
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        raise BenchError(f"missing dependency: {e}") from e


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def isolate(run_dir: str, cores: int) -> None:
    """Point every scratch location of the program at the per-run
    directory, so fixture caches never carry across runs."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(run_dir: str, cores: int):
    from cdk_datalake_analytics_comercial_spark.core import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # JVM scratch (native libraries, artifacts) stays in the run
            # directory; no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={run_dir} "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = tracing.descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the launched JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in kids:
            while tracing.alive(pid) and time.time() < deadline:
                time.sleep(0.1)
            if tracing.alive(pid):
                os.kill(pid, signal.SIGKILL)


def install_tracing(tracer) -> None:
    """Wrap the public entry points of each layer (see README.md)."""
    from cdk_datalake_analytics_comercial_spark.core import sql_dml, sql_serving
    from cdk_datalake_analytics_comercial_spark.sources import reader, txlog, writer
    from pyspark import cloudpickle

    def wrote(arguments, span):
        """Count the files (and bytes) under the written table's path that
        the call created or rewrote."""
        path = arguments.get("path")
        if not path or not os.path.isdir(path):
            return
        since = time.time() - (time.perf_counter() - span.start)
        for p in gen.files_under(path):
            st = os.stat(p)
            if st.st_mtime >= since and not os.path.basename(p).startswith("."):
                tracer.count("writer.files")
                tracer.count("writer.bytes", st.st_size)

    # the package pickles ``sources.txlog`` by value into Python workers,
    # wrappers included, so the tracing module must travel by value too
    cloudpickle.register_pickle_by_value(tracing)
    for fn in ("read_table", "_read_parquet"):
        tracer.wrap(reader, fn, f"reader.{fn}")
    for fn in ("write_table", "merge_upsert"):
        tracer.wrap(writer, fn, f"writer.{fn}", after=wrote)
    for fn in ("tx_write", "tx_update", "tx_delete", "tx_merge", "tx_replace_where"):
        tracer.wrap(txlog, fn, f"txlog.commit.{fn}")
    tracer.wrap(txlog, "tx_compact", "txlog.compact")
    tracer.wrap(txlog, "tx_vacuum", "txlog.vacuum")
    tracer.wrap(txlog, "read_manifest", "txlog.read_manifest")
    tracer.wrap(sql_dml, "sql_dml", "sql_dml.call")
    for fn in ("register_txlog_table", "register_parquet_table"):
        tracer.wrap(sql_serving, fn, f"sql_serving.{fn}")


def layer_metrics(tracer, wl, ops, t0, t1, start_s, cpu_s, spark, groups, cores) -> dict:
    def top(prefix):
        """Spans named ``prefix*`` not nested in another such span."""
        spans = tracer.named(prefix, t0, t1)
        ids = {s.sid for s in spans}
        return [s for s in spans if s.parent not in ids]

    def secs(prefix):
        return sum(s.end - s.start for s in top(prefix))

    n = max(1, len(ops))
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "core.session.start_s": start_s,
        "runner.self_s": tracer.self_time("runner.run_waves", ("job.",), t0, t1),
        "jobs.domain.job_s": tracer.total("job.domain.", t0, t1),
        "jobs.analytics.job_s": tracer.total("job.analytics.", t0, t1),
        "jobs.dim_factory.job_s": tracer.total("job.dim_factory.", t0, t1),
        "jobs.corpus.job_s": tracer.total("job.corpus.", t0, t1),
        "sources.reader.calls": float(len(top("reader."))),
        "sources.reader.s": secs("reader."),
        "sources.writer.calls": float(len(top("writer."))),
        "sources.writer.s": secs("writer."),
        "sources.writer.files_written": tracer.counters.get("writer.files", 0.0),
        "sources.writer.bytes_written": tracer.counters.get("writer.bytes", 0.0),
        "sources.txlog.commit_s": secs("txlog.commit."),
        "sources.txlog.conflict_retries": float(
            sum(1 for o in ops if o.error and "Conflict" in o.error)
        ),
        "sources.txlog.compact_s": secs("txlog.compact"),
        "sources.txlog.vacuum_s": secs("txlog.vacuum"),
        "sources.txlog.manifest_s": secs("txlog.read_manifest"),
        "core.sql_dml.self_s": tracer.self_time("sql_dml.call", ("txlog.",), t0, t1),
        "core.sql_serving.register_s": secs("sql_serving."),
        "plans.build_s": secs("plans.build"),
        "plans.exec_s": secs("plans.exec"),
        "proc.cpu_s_per_op": cpu_s / n,
        "trace.work_s": t1 - t0,
        "trace.overhead_s": tracer.overhead_s,
    })
    sm = tracing.spark_group_metrics(spark, groups)
    m.update({
        "spark.jobs_per_op": sm["jobs"] / n,
        "spark.stages_per_op": sm["stages"] / n,
        "spark.tasks_per_op": sm["tasks"] / n,
        "spark.shuffle_write_bytes_per_op": sm["shuffle_write_bytes"] / n,
        "spark.input_bytes_per_op": sm["input_bytes"] / n,
        "spark.task_busy_share": sm["task_run_s"] / ((t1 - t0) * cores),
    })
    m.update(wl.layer_metrics(ops))
    return m


def run(args: argparse.Namespace) -> dict:
    cores = len(os.sched_getaffinity(0))
    out_root = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(out_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=out_root)
    spark = None
    try:
        isolate(run_dir, cores)
        tracer = tracing.Tracer(bool(args.trace))
        t = time.perf_counter()
        spark = start_spark(run_dir, cores)
        start_s = time.perf_counter() - t
        ctx = Ctx(spark, tracer, args.seed, args.size, cores)
        mod, cls = WORKLOADS[args.workload]
        wl = getattr(importlib.import_module(mod), cls)(ctx)
        wl.generate(os.path.join(run_dir, "input"))
        gen_s = time.perf_counter() - t - start_s
        install_tracing(tracer)
        wl.build()
        setup_s = time.perf_counter() - t

        jvm = tracing.jvm_pid(spark)
        cpu0, t0 = tracing.cpu_seconds(jvm), time.perf_counter()
        ops = wl.run(args.seconds)
        t1, cpu1 = time.perf_counter(), tracing.cpu_seconds(jvm)

        t = time.perf_counter()
        errs = wl.check(ops)
        check_s = time.perf_counter() - t
        for e in errs:
            print(f"check failed: {e}", file=sys.stderr)
        attempted = max(1, len(ops))
        failed = sum(1 for o in ops if not o.ok)
        if errs and failed == 0:
            failed = min(attempted, len(errs))
        if args.trace:
            values = layer_metrics(
                tracer, wl, ops, t0, t1, start_s, cpu1 - cpu0, spark, ctx.groups, cores
            )
            units = PER_LAYER
            tracer.dump(os.path.join(out_root, "traces", f"{args.workload}-{args.seed}.json"))
        else:
            values = {
                "setup_s": setup_s,
                "ops_per_s": len(ops) / (t1 - t0),
                # geometric mean, as TPC-H's power metric: each workload
                # mixes operation types of very different cost, and the
                # median of such a mix jumps between the types
                "op_geomean_s": geomean([o.seconds for o in ops]),
                "cpu_s_per_op": (cpu1 - cpu0) / attempted,
                "ok_ratio": 1.0 - failed / attempted,
            }
            units = END_TO_END
        print(
            f"{args.workload} seed={args.seed}: {len(ops)} ops in {t1 - t0:.2f} s, "
            f"setup {setup_s:.2f} s (session {start_s:.2f}, inputs {gen_s:.2f}), "
            f"check {check_s:.2f} s, "
            f"{failed} failed",
            file=sys.stderr,
        )
        return {
            "correct": not errs and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str]) -> int:
    args = parse(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    for p in (REPO, os.path.join(REPO, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        preflight()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
