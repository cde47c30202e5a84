"""medallion_refresh: one cold, config-driven refresh of the lake's three
job layers, in a fresh JVM like a scheduled batch run.

1. The commercial DAG: ``runner.run_waves`` over a domain CSV and then an
   analytics CSV, as ``tools/run_full_pipeline.run`` does, on the stage
   universe of ``tools/full_stage.py`` scaled by seed. The DAG is a 16-job
   slice of the full 53-job refresh that keeps every job family
   (country/company masters, hand-written and factory-generated masters
   and dims, the sales and order facts and their analytics facts): the
   full DAG alone takes about 98 s cold on 4 cores, which does not fit the
   benchmark's run budget.
2. The corpus DAG of ``jobs.corpus`` (filter → exact dedup → near dedup →
   decontamination → chunks/pack/stats) over a seeded corpus with planted
   exact duplicates, one-word-edit near duplicates and
   benchmark-contaminated documents.
"""

from __future__ import annotations

import os
import time

import duckdb

import gen
from common import Ctx, Op

SIZES = {
    "full": {"n_docs": 2500, "n_clients": 2000, "n_articles": 300, "n_corpus": 5000},
    "tiny": {"n_docs": 60, "n_clients": 30, "n_articles": 20, "n_corpus": 400},
}

DOMAIN_CSV = """layer;procedure;exe_order;process_id;periods
domain;m_pais;1;1;2
domain;m_compania;1;2;2
domain;m_articulo_lite;2;3;2
domain;m_cliente_lite;2;4;2
domain;m_tipo_venta_lite;2;7;2
domain;m_forma_pago_lite;2;13;2
domain;m_sucursal_lite;2;20;2
domain;t_venta_lite;3;22;3
domain;t_pedido_lite;3;23;3
domain;t_venta_detalle_lite;4;31;3
"""

ANALYTICS_CSV = """layer;procedure;exe_order;process_id;periods
analytics;dim_pais_lite;1;1;2
analytics;dim_sucursal_lite;1;6;2
analytics;dim_producto_lite;1;3;2
analytics;dim_forma_pago_lite;1;8;2
analytics;fact_venta_resumen;2;17;3
analytics;fact_venta_detalle_lite;2;18;3
"""

CORPUS_CSV = """layer;procedure;exe_order;process_id;periods
corpus;corpus_filter;1;1;2
corpus;corpus_dedup_exact;2;2;2
corpus;corpus_dedup_near;3;3;2
corpus;corpus_decontam;4;4;2
corpus;corpus_chunks;5;5;2
corpus;corpus_pack;5;6;2
corpus;corpus_stats;5;7;2
"""

WINDOW = ("202503", "202504", "202505")

# operator layer -> the corpus job whose span times it
OPERATOR_JOBS = {
    "operators.text.s": "corpus_filter",
    "operators.dedup.exact_s": "corpus_dedup_exact",
    "operators.dedup.near_s": "corpus_dedup_near",
    "operators.contamination.s": "corpus_decontam",
    "operators.pack.s": "corpus_pack",
}


def traced_registry(ctx: Ctx, registry, names, family_of, ops: list[Op]):
    """A copy of a package ``JobRegistry`` whose jobs tag their Spark work
    with a job group, open a ``job.<family>.<name>`` span and append an
    :class:`Op`. The package's own registry is left untouched."""
    from cdk_datalake_analytics_comercial_spark.runner import JobRegistry

    out = JobRegistry()
    for name in names:
        fn = registry.get(name)

        def job(jctx, _fn=fn, _name=name):
            ctx.tag(f"job:{_name}")
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"job.{family_of(_name)}.{_name}"):
                    _fn(jctx)
            except Exception as e:
                ops.append(Op(_name, "job", t0, time.perf_counter(), False, repr(e)))
                raise
            ops.append(Op(_name, "job", t0, time.perf_counter()))

        out.add(name, job)
    return out


def dag_metrics(ops: list[Op], wave_of: dict, results) -> dict[str, float]:
    """Per-layer numbers of a ``run_waves`` DAG: the wave tail (last job
    end minus the second-to-last, summed over waves) and the write
    counters the runner records in each ``JobResult``."""
    ends: dict[object, list[float]] = {}
    for o in ops:
        ends.setdefault(wave_of.get(o.name), []).append(o.end)
    return {
        "runner.wave_tail_s": sum(
            e[-1] - e[-2] for e in map(sorted, ends.values()) if len(e) >= 2
        ),
        "jobs.rows_written": float(sum(r.rows_written or 0 for r in results)),
        "jobs.writes": float(sum(r.writes or 0 for r in results)),
    }


class Medallion:
    name = "medallion_refresh"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.sz = SIZES[ctx.size]
        self.lake_root = None
        self.truth = None
        self.results = []
        self.wave_of: dict[str, tuple[str, int]] = {}
        self.quality: dict[str, float] = {}

    def _catalog(self):
        from cdk_datalake_analytics_comercial_spark.core.catalog import Catalog

        return Catalog(root=self.lake_root)

    def generate(self, out_dir: str) -> list[str]:
        from cdk_datalake_analytics_comercial_spark.core.catalog import Layer

        self.lake_root = out_dir
        lake = self._catalog()
        sz = self.sz
        tables = [
            (lake.table_path(Layer.STAGE, table, inst), tbl)
            for table, (tbl, inst) in gen.stage_tables(
                self.ctx.seed, sz["n_clients"], sz["n_articles"], sz["n_docs"]
            ).items()
        ]
        docs, bench, self.truth = gen.corpus(self.ctx.seed, sz["n_corpus"])
        tables += [
            (lake.table_path(Layer.RAW, "documents"), docs),
            (lake.table_path(Layer.RAW, "benchmark"), bench),
        ]
        files = []
        for path, tbl in tables:
            files.append(os.path.join(path, "part-00000.parquet"))
            gen._write(tbl, files[-1])
        return files

    def build(self) -> None:
        """Nothing to build or warm: the measured refresh is a cold batch run."""

    def run(self, seconds: float) -> list[Op]:
        from cdk_datalake_analytics_comercial_spark import runner
        from cdk_datalake_analytics_comercial_spark.jobs import (
            ANALYTICS_JOBS,
            CORPUS_JOBS,
            DOMAIN_JOBS,
        )
        from cdk_datalake_analytics_comercial_spark.jobs.dim_factory import (
            CONFORM_DIM_SPECS,
            PASSTHROUGH_DIM_SPECS,
        )
        from cdk_datalake_analytics_comercial_spark.sources.registry import SchemaRegistry
        from full_stage import full_registry_dict

        factory = {f"{s.name}_lite" for s in CONFORM_DIM_SPECS + PASSTHROUGH_DIM_SPECS}
        lake = self._catalog()
        reg = SchemaRegistry(full_registry_dict())
        ctx = self.ctx
        ops: list[Op] = []

        def make_context(cfg):
            return runner.JobContext(
                spark=ctx.spark, catalog=lake, registry=reg, config=cfg, as_of=gen.AS_OF
            )

        for layer, csv_text, registry in (
            ("domain", DOMAIN_CSV, DOMAIN_JOBS),
            ("analytics", ANALYTICS_CSV, ANALYTICS_JOBS),
            ("corpus", CORPUS_CSV, CORPUS_JOBS),
        ):
            configs = runner.parse_config_csv(csv_text)
            self.wave_of.update({c.procedure: (layer, c.exe_order) for c in configs})
            traced = traced_registry(
                ctx,
                registry,
                [c.procedure for c in configs],
                lambda n, layer=layer: "dim_factory" if n in factory else layer,
                ops,
            )
            with ctx.tracer.span(f"runner.run_waves.{layer}"):
                self.results += runner.run_waves(configs, traced, make_context)
        for r in self.results:
            if r.status != "succeeded" and not any(o.name == r.name for o in ops):
                now = time.perf_counter()
                ops.append(Op(r.name, "job", now, now, False, r.error))
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        errs = [f"{r.name}: {r.status}" for r in self.results if r.status != "succeeded"]
        if errs:
            return errs
        con = duckdb.connect()
        return self._check_sales(con) + self._check_corpus(con)

    def _parquet(self, layer, table) -> str:
        return (
            f"read_parquet('{self._catalog().table_path(layer, table)}/**/*.parquet', "
            "hive_partitioning = true, hive_types_autocast = false)"
        )

    def _check_sales(self, con) -> list[str]:
        """A DuckDB recount from the generated stage must match ``t_venta``
        (rows, measure sum) and every period/client row of
        ``fact_venta_resumen``."""
        from cdk_datalake_analytics_comercial_spark.core.catalog import Layer

        stage = self._catalog().table_path(Layer.STAGE, "t_documento_venta", "pe01")
        con.sql(
            "CREATE VIEW docs AS SELECT *, strftime(fecha_liquidacion, '%Y%m') AS per "
            f"FROM read_parquet('{stage}/*.parquet')"
        )
        window = ", ".join(f"'{p}'" for p in WINDOW)
        keep = (
            f"per IN ({window}) AND cod_documento_venta NOT IN ('CMD', 'RMD') "
            "AND COALESCE(flg_facglob, 'F') = 'F' AND COALESCE(flg_refact, 'F') = 'F'"
        )
        errs = []
        want = con.sql(
            f"SELECT COUNT(*), CAST(SUM(imp_venta) AS DECIMAL(38,6)) FROM docs WHERE {keep}"
        ).fetchone()
        got = con.sql(
            "SELECT COUNT(*), CAST(SUM(imp_venta) AS DECIMAL(38,6)) FROM "
            + self._parquet(Layer.DOMAIN, "t_venta")
        ).fetchone()
        if want != got:
            errs.append(f"t_venta recount {got} != {want}")
        want = sorted(con.sql(
            "SELECT per, cod_cliente, COUNT(*), CAST(SUM(imp_venta) AS DECIMAL(38,6)) "
            f"FROM docs WHERE {keep} AND cod_estado_comprobante <> '002' GROUP BY ALL"
        ).fetchall())
        got = sorted(con.sql(
            "SELECT CAST(id_periodo AS VARCHAR), cod_cliente, n_documentos, "
            "CAST(imp_venta AS DECIMAL(38,6)) FROM "
            + self._parquet(Layer.ANALYTICS, "fact_venta_resumen")
        ).fetchall())
        if want != got:
            errs.append(f"fact_venta_resumen: {len(got)} rows differ from {len(want)} recounted")
        return errs

    def _check_corpus(self, con) -> list[str]:
        """The exact stage removes exactly the planted exact duplicates, the
        clean corpus keeps every planted-unique document and drops every
        contaminated one. Near-duplicate recall is measured, not checked."""
        from cdk_datalake_analytics_comercial_spark.core.catalog import Layer

        def ids(layer, table):
            return {r[0] for r in con.sql(
                f"SELECT doc_id FROM {self._parquet(layer, table)}"
            ).fetchall()}

        filtered = ids(Layer.STAGE, "corpus_filtered")
        unique = ids(Layer.STAGE, "corpus_unique")
        canonical = ids(Layer.DOMAIN, "corpus_canonical")
        clean = ids(Layer.DOMAIN, "corpus_clean")
        t = self.truth
        errs = []
        planted_exact = {d for d, _ in t["exact"]}
        if filtered - unique != planted_exact:
            errs.append(
                f"exact dedup removed {len(filtered - unique)} docs, "
                f"{len(planted_exact)} planted"
            )
        lost = set(t["unique"]) - clean
        if lost:
            errs.append(f"{len(lost)} planted-unique docs removed")
        kept = set(t["contaminated"]) & clean
        if kept:
            errs.append(f"{len(kept)} contaminated docs kept")
        collapsed = sum(1 for d, b in t["near"] if not (d in canonical and b in canonical))
        self.quality = {
            "operators.dedup.docs_removed": float(len(filtered) - len(canonical)),
            "operators.dedup.near_recall": collapsed / len(t["near"]),
        }
        return errs

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        secs = {o.name: o.seconds for o in ops}
        out = {k: secs.get(job, 0.0) for k, job in OPERATOR_JOBS.items()}
        out.update(dag_metrics(ops, self.wave_of, self.results))
        out.update(self.quality)
        return out
