"""lake_dml: one closed-loop SQL client on a period-partitioned txlog table.

The table is built fresh from seeded orders over the twelve periods of
2024 (``id_periodo``, key stats on ``o_orderkey``) and registered by name.
The client sends a fixed, seeded statement stream through
``core.sql_dml.sql_dml``: period-scoped UPDATE and DELETE, MERGE INTO and
INSERT … REPLACE WHERE of a few hundred rows, each write followed by a
read (point lookup by key, period aggregate, or ``VERSION AS OF`` an
earlier write), with OPTIMIZE and VACUUM on a fixed cadence. Every run
sends the same number of statements, so every run ends with the same
table history. DuckDB replays the stream to check every read and the
final table.
"""

from __future__ import annotations

import math
import os
import re
import time

import duckdb

import gen
from common import Ctx, Op, median

SIZES = {
    "full": {"n_rows": 150_000, "n_writes": 9, "merge_rows": 300},
    "tiny": {"n_rows": 600, "n_writes": 6, "merge_rows": 20},
}


class Lake:
    name = "lake_dml"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.sz = SIZES[ctx.size]
        self.data_dir = None
        self.path = None
        self.stream = None
        self.seen_version = None
        self.log = dict.fromkeys(("commits", "files_added", "files_removed", "bytes_added"), 0)
        self.replay: dict[str, float] = {}

    def generate(self, out_dir: str) -> list[str]:
        s = self.sz
        files = [os.path.join(out_dir, "orders.parquet")]
        orders = gen.lake_orders(self.ctx.seed, s["n_rows"])
        gen._write(orders, files[0])
        self.stream, sources = gen.lake_stream(
            self.ctx.seed, orders, s["n_writes"], s["merge_rows"]
        )
        for view, tbl in sources.items():
            files.append(os.path.join(out_dir, f"{view}.parquet"))
            gen._write(tbl, files[-1])
        self.data_dir = out_dir
        return files

    def build(self) -> None:
        from cdk_datalake_analytics_comercial_spark.core.sql_serving import register_txlog_table
        from cdk_datalake_analytics_comercial_spark.sources.txlog import current_version, tx_write

        spark = self.ctx.spark
        self.path = os.path.join(self.data_dir, "table")
        orders = spark.read.parquet(os.path.join(self.data_dir, "orders.parquet"))
        tx_write(spark, orders, self.path, partition_by=["id_periodo"], stats_for=["o_orderkey"])
        self.seen_version = current_version(spark, self.path)
        db, name = gen.LAKE_TABLE.split(".")
        register_txlog_table(spark, db, name, self.path, read_optimized=True)
        for f in os.listdir(self.data_dir):
            if f.startswith("bench_src_"):
                spark.read.parquet(os.path.join(self.data_dir, f)).createOrReplaceTempView(
                    f[: -len(".parquet")]
                )

    def run(self, seconds: float) -> list[Op]:
        from cdk_datalake_analytics_comercial_spark.core.sql_dml import sql_dml
        from cdk_datalake_analytics_comercial_spark.sources.txlog import current_version

        spark = self.ctx.spark
        ops: list[Op] = []
        versions: list[int] = []  # version committed by the i-th write
        for i, (kind, label, sql) in enumerate(self.stream):
            self.ctx.tag(f"stmt:{i}")
            if isinstance(label, tuple):
                sql = sql.replace("{v}", str(versions[label[1]]))
                label = "time_travel"
            t0 = time.perf_counter()
            try:
                with self.ctx.tracer.span(f"sql_dml.{kind}"):
                    res = sql_dml(spark, sql)
                    if hasattr(res, "collect"):
                        res = [tuple(r) for r in res.collect()]
                if kind == "write":
                    versions.append(res if isinstance(res, int) else current_version(spark, self.path))
                ops.append(Op(label, kind, t0, time.perf_counter(), result=res))
            except Exception as e:  # a failed statement is counted, the stream goes on
                ops.append(Op(label, kind, t0, time.perf_counter(), False, repr(e)))
                if kind == "write":
                    versions.append(current_version(spark, self.path))
            if self.ctx.tracer.enabled:
                self._read_new_commits()
        return ops

    def _read_new_commits(self) -> None:
        """Fold commits made since the last call into ``self.log`` (traced
        runs only: VACUUM later drops old commit records). Charged to the
        tracing overhead."""
        from cdk_datalake_analytics_comercial_spark.sources.txlog import (
            current_version,
            read_commit,
        )

        t0 = time.perf_counter()
        spark = self.ctx.spark
        end = current_version(spark, self.path)
        for v in range(self.seen_version + 1, end + 1):
            rec = read_commit(spark, self.path, v, check_protocol=False)
            adds = rec.get("add", [])
            self.log["commits"] += 1
            self.log["files_added"] += len(adds)
            self.log["files_removed"] += len(rec.get("remove", []))
            self.log["bytes_added"] += sum(a.get("bytes", 0) for a in adds)
        self.seen_version = end
        self.ctx.tracer.charge(time.perf_counter() - t0)

    def check(self, ops: list[Op]) -> list[str]:
        """Replay the stream on DuckDB: each read must return the replayed
        result at its position (time travel against the replayed snapshot
        after the named write), and the final table must equal the replay."""
        con = duckdb.connect()
        con.sql(
            "CREATE TABLE orders AS SELECT * FROM "
            f"read_parquet('{os.path.join(self.data_dir, 'orders.parquet')}')"
        )
        for f in os.listdir(self.data_dir):
            if f.startswith("bench_src_"):
                con.sql(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.data_dir, f)}')"
                )
        errs: list[str] = []
        n_writes = 0
        changed = 0
        for op, (kind, label, sql) in zip(ops, self.stream):
            sql = sql.replace(gen.LAKE_TABLE, "orders")
            if kind == "write":
                changed += _replay_write(con, label, sql)
                con.sql(f"CREATE TABLE snap_{n_writes} AS SELECT * FROM orders")
                n_writes += 1
            elif kind == "read":
                if isinstance(label, tuple):
                    sql = sql.replace("orders VERSION AS OF {v}", f"snap_{label[1]}")
                want = sorted(con.sql(sql).fetchall())
                if op.ok and not _same(sorted(op.result), want):
                    op.ok = False
                    op.error = f"read differs from replay: {sql}"
            if not op.ok:
                errs.append(f"{op.name}: {op.error}")
        self.replay["rows_changed"] = float(changed)
        got = sorted(tuple(r) for r in self.ctx.spark.sql(
            f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority, "
            f"id_periodo FROM {gen.LAKE_TABLE}"
        ).collect())
        want = sorted(con.sql(
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority, "
            "id_periodo FROM orders"
        ).fetchall())
        if not _same(got, want):
            errs.append(f"final table ({len(got)} rows) differs from replay ({len(want)} rows)")
        return errs

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        """Storage-layer numbers from the commit log: commits, files
        added/removed, bytes written per row changed (rows from the
        replay), space amplification of the table directory, files in the
        final snapshot and files a point lookup scans; and the SQL layer's
        statement latencies by statement type."""
        from cdk_datalake_analytics_comercial_spark.sources.txlog import (
            current_version,
            read_manifest,
        )

        import tracing

        spark = self.ctx.spark
        snap = read_manifest(spark, self.path, current_version(spark, self.path))
        lookups = {f"stmt:{i}" for i, o in enumerate(ops) if o.name == "lookup"}
        live = sum(f.get("bytes", 0) for f in snap["files"])
        on_disk = sum(os.path.getsize(p) for p in gen.files_under(self.path))
        log = self.log
        return {
            "sources.txlog.commits": float(log["commits"]),
            "sources.txlog.files_added": float(log["files_added"]),
            "sources.txlog.files_removed": float(log["files_removed"]),
            "sources.txlog.bytes_written_per_row_changed": log["bytes_added"]
            / max(1.0, self.replay.get("rows_changed", 0.0)),
            "sources.txlog.space_amp": on_disk / live if live else 0.0,
            "sources.txlog.snapshot_files": float(len(snap["files"])),
            # one scan task per data file the pruned lookup opens
            "sources.txlog.files_scanned_per_lookup": tracing.spark_group_metrics(
                spark, lookups
            )["tasks"] / max(1, len(lookups)),
            "core.sql_dml.write_p50_s": median([o.seconds for o in ops if o.kind == "write"]),
            "core.sql_dml.read_p50_s": median([o.seconds for o in ops if o.kind == "read"]),
        }


def _replay_write(con, label: str, sql: str) -> int:
    """Apply one write to the DuckDB replay; returns rows changed."""
    if label in ("update", "delete"):
        return con.execute(sql).fetchone()[0]
    view = re.search(r"bench_src_\d+", sql).group(0)
    n = con.sql(f"SELECT COUNT(*) FROM {view}").fetchone()[0]
    if label == "merge":
        con.execute(f"DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM {view})")
        con.execute(f"INSERT INTO orders SELECT * FROM {view}")
        return n
    period = sql.split("id_periodo = '")[1].split("'")[0]
    gone = con.execute(f"DELETE FROM orders WHERE id_periodo = '{period}'").fetchone()[0]
    con.execute(f"INSERT INTO orders SELECT * FROM {view}")
    return gone + n


def _same(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True
