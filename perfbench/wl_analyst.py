"""analyst_queries: read-only named queries from ``plans.QUERIES`` sent by
closed-loop clients, each sending its next query only after the previous
one completed, over a seeded star schema, event stream and corpus the size
of the repository's sf0.1 fixture.

The mix covers the BI persona: TPC-H-like joins and aggregates, rolling
windows, ROLLUP/CUBE, funnel and sessions, and by-name SQL reads through
``core.sql_serving``. No statement writes to a table the queries read.
A run sends the whole mix a fixed number of times in a seeded order, so
every run executes the same queries and only their order differs.
"""

from __future__ import annotations

import os
import random
import threading
import time

import duckdb

import gen
from common import Ctx, Op

SIZES = {"full": {"scale": 0.1}, "tiny": {"scale": 0.001}}

MIX = [
    "pricing_summary",
    "shipping_priority",
    "nation_trade",
    "rolling_3m_window",
    "sales_rollup",
    "cube_status_priority",
    "events_funnel",
    "events_sessions",
    "sql_regional_supplier_volume",
    "sql_pushdown_lookup",
]

# a round of the mix takes about 5 s on 4 cores: a run of ``--seconds``
# sends ``seconds / ROUND_S`` rounds (at least one)
ROUND_S = 5.0


class Analyst:
    name = "analyst_queries"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.scale = SIZES[ctx.size]["scale"]
        self.data_dir = None
        self.first: dict[str, object] = {}  # first result of each query (pandas)
        self.clients = min(4, ctx.cores)

    def generate(self, out_dir: str) -> list[str]:
        self.data_dir = out_dir
        return gen.write_star(self.ctx.seed, self.scale, out_dir)

    def build(self) -> None:
        """Warm-up: run each query of the mix once, on as many threads as
        the run has clients; the results are kept for the oracle check."""
        from concurrent.futures import ThreadPoolExecutor

        from cdk_datalake_analytics_comercial_spark.plans import QUERIES

        def first(name):
            return QUERIES[name](self.ctx.spark, self.data_dir).toPandas()

        with ThreadPoolExecutor(self.clients) as ex:
            self.first = dict(zip(MIX, ex.map(first, MIX)))

    def run(self, seconds: float) -> list[Op]:
        from cdk_datalake_analytics_comercial_spark.plans import QUERIES

        ctx = self.ctx
        rounds = max(1, round(seconds / ROUND_S))
        rng = random.Random(ctx.seed)
        queue = [name for _ in range(rounds) for name in rng.sample(MIX, len(MIX))]
        queue.reverse()
        ops: list[Op] = []
        lock = threading.Lock()

        def client(c: int) -> None:
            i = 0
            while True:
                with lock:
                    if not queue:
                        return
                    name = queue.pop()
                ctx.tag(f"q:{c}:{i}")
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("plans.build"):
                        df = QUERIES[name](ctx.spark, self.data_dir)
                    with ctx.tracer.span("plans.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    op = Op(name, "query", t0, time.perf_counter())
                except Exception as e:  # counted as failed; the client goes on
                    op = Op(name, "query", t0, time.perf_counter(), False, repr(e))
                with lock:
                    ops.append(op)
                i += 1

        threads = [
            threading.Thread(target=client, args=(c,)) for c in range(self.clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        """Each query of the mix once against its DuckDB oracle; every
        execution of a query that disagrees counts as failed."""
        from cdk_datalake_analytics_comercial_spark.plans import ORACLES
        from check_correctness import canon

        con = duckdb.connect()
        for f in os.listdir(self.data_dir):
            con.sql(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.data_dir, f)}')"
            )
        wrong = {
            name for name in MIX
            if canon(self.first[name]) != canon(con.sql(ORACLES[name]).df())
        }
        for op in ops:
            if op.name in wrong:
                op.ok, op.error = False, "result differs from the DuckDB oracle"
        return [f"{n}: result differs from the DuckDB oracle" for n in sorted(wrong)] + [
            f"{o.name}: {o.error}" for o in ops if not o.ok and o.name not in wrong
        ]

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {}
