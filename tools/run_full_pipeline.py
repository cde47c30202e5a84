"""Run the COMPLETE reference workload: all 31 domain-equivalent jobs and all
21 analytics-equivalent jobs as config-driven wave DAGs over one coherent
stage universe (tools/full_stage.py) — the in-process equivalent of the
reference's full orchestration (domain SM → analytics SM over
`config/domain.csv` + `config/analytics.csv`,
`stacks/cdk_datalake_analytics_stack.py:808-867`).

Every domain job reads seeded stage tables and emits ≥1 row; every analytics
job then reads the REAL domain outputs — so one run resolves the whole
layer-contract graph (column names, types, partition columns) end to end.

Usage: python tools/run_full_pipeline.py [lake_dir]
"""

from __future__ import annotations

import datetime as dt
import json
import sys
import tempfile

sys.path.insert(0, ".")

AS_OF = dt.date(2025, 5, 15)

# waves mirror the reference's exe_order structure: country/company first,
# conformed masters next, transactional facts after their masters, detail
# facts that read other DOMAIN tables last.
DOMAIN_CSV = """layer;procedure;exe_order;process_id;periods
domain;m_pais;1;1;2
domain;m_compania;1;2;2
domain;m_articulo_lite;2;3;2
domain;m_cliente_lite;2;4;2
domain;m_eje_territorial_lite;2;5;2
domain;m_estructura_comercial_lite;2;6;2
domain;m_tipo_venta_lite;2;7;2
domain;m_transportista_lite;2;8;2
domain;m_responsable_comercial_lite;2;9;2
domain;m_modulo_lite;2;10;2
domain;m_clasificacion_cliente_lite;2;11;2
domain;m_asignacion_modulo_lite;2;12;2
domain;m_forma_pago_lite;2;13;2
domain;m_tipo_pedido_lite;2;14;2
domain;m_origen_pedido_lite;2;15;2
domain;m_medio_transporte_lite;2;16;2
domain;m_almacen_lite;2;17;2
domain;m_fuerza_venta_lite;2;18;2
domain;m_lista_precio_lite;2;19;2
domain;m_sucursal_lite;2;20;2
domain;m_modelo_atencion_lite;2;21;2
domain;t_venta_lite;3;22;3
domain;t_pedido_lite;3;23;3
domain;t_pedido_detalle_lite;3;24;3
domain;t_pedido_cumplimiento_lite;3;25;3
domain;t_reparto_lite;3;26;3
domain;t_visita_lite;3;27;3
domain;t_movimiento_inventario_lite;3;28;3
domain;t_movimiento_inventario_detalle_lite;3;29;3
domain;t_saldos_iniciales_lite;3;30;3
domain;t_venta_detalle_lite;4;31;3
"""

ANALYTICS_CSV = """layer;procedure;exe_order;process_id;periods
analytics;dim_pais_lite;1;1;2
analytics;dim_cliente_lite;1;2;2
analytics;dim_producto_lite;1;3;2
analytics;dim_estructura_comercial_lite;1;4;2
analytics;dim_eje_territorial_lite;1;5;2
analytics;dim_sucursal_lite;1;6;2
analytics;dim_clasificacion_cliente_lite;1;7;2
analytics;dim_forma_pago_lite;1;8;2
analytics;dim_tipo_pedido_lite;1;9;2
analytics;dim_origen_pedido_lite;1;10;2
analytics;dim_medio_transporte_lite;1;11;2
analytics;dim_tipo_venta_lite;1;12;2
analytics;dim_fuerza_venta_lite;1;13;2
analytics;dim_lista_precio_lite;1;14;2
analytics;dim_transportista_lite;1;15;2
analytics;dim_vendedor_lite;1;16;2
analytics;fact_venta_resumen;2;17;3
analytics;fact_venta_detalle_lite;2;18;3
analytics;fact_cliente_venta_lite;2;19;3
analytics;fact_venta_cliente_historico_lite;2;20;3
analytics;fact_reparto_detalle_lite;2;21;3
analytics;fact_kpi_lite;3;22;3
"""


def run(spark, root: str):
    """Seed, run both DAGs, return (domain_results, analytics_results)."""
    from cdk_datalake_analytics_comercial_spark.core.catalog import Catalog
    from cdk_datalake_analytics_comercial_spark.jobs import ANALYTICS_JOBS, DOMAIN_JOBS
    from cdk_datalake_analytics_comercial_spark.runner import (
        JobContext,
        parse_config_csv,
        run_waves,
        write_status_log,
    )
    from cdk_datalake_analytics_comercial_spark.sources.registry import SchemaRegistry

    from full_stage import full_registry_dict, seed_full_stage

    lake = Catalog(root=root)
    seed_full_stage(spark, lake)
    reg = SchemaRegistry(full_registry_dict())

    def ctx(cfg):
        return JobContext(
            spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF
        )

    status_path = f"{root}/status.jsonl"
    dr = run_waves(parse_config_csv(DOMAIN_CSV), DOMAIN_JOBS, ctx)
    write_status_log(dr, status_path, run_id="domain")
    ar = run_waves(parse_config_csv(ANALYTICS_CSV), ANALYTICS_JOBS, ctx)
    write_status_log(ar, status_path, run_id="analytics")
    return dr, ar


def main() -> None:
    from cdk_datalake_analytics_comercial_spark.core import get_spark
    from cdk_datalake_analytics_comercial_spark.core.catalog import Catalog, Layer
    from cdk_datalake_analytics_comercial_spark.sources.reader import read_table

    sys.path.insert(0, "tools")
    root = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="lake_full_")
    spark = get_spark("full-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    dr, ar = run(spark, root)

    print(f"\nlake: {root}")
    for r in dr + ar:
        print(f"  [{r.status:9s}] wave {r.wave}  {r.name}  ({r.seconds}s)")
    failed = [r for r in dr + ar if r.status != "succeeded"]
    for r in failed:
        print(f"\n--- {r.name} ---\n{r.error}")

    lake = Catalog(root=root)
    for layer, table in [
        (Layer.DOMAIN, "t_venta"),
        (Layer.ANALYTICS, "fact_venta_cliente_historico"),
        (Layer.ANALYTICS, "fact_reparto_detalle"),
    ]:
        df = read_table(spark, lake, layer, table)
        print(f"\n{layer.value}/{table}: {df.count()} rows")
        df.show(3, truncate=False)
    print(json.dumps({"failed": len(failed), "succeeded": len(dr + ar) - len(failed)}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
