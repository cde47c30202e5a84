"""End-to-end engine lifecycle test (SURVEY §3.1): stage fixtures → config
CSV → wave-parallel runner → domain jobs → merged/overwritten domain tables.
Covers S2/S3/S7, J1/J2, P2/P3, K1/K3, the period window, and wave ordering."""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from cdk_datalake_analytics_comercial_spark.core.catalog import Layer
from cdk_datalake_analytics_comercial_spark.jobs import DOMAIN_JOBS
from cdk_datalake_analytics_comercial_spark.runner import (
    JobConfig,
    JobContext,
    JobRegistry,
    parse_config_csv,
    run_waves,
)
from cdk_datalake_analytics_comercial_spark.sources.registry import SchemaRegistry
from cdk_datalake_analytics_comercial_spark.sources.txlog import tx_read

AS_OF = dt.date(2025, 5, 15)

CONFIG_CSV = """layer;procedure;exe_order;process_id;periods
domain;m_pais;1;1;2
domain;m_compania;1;2;2
domain;t_venta_lite;2;3;3
"""


def registry():
    return SchemaRegistry(
        {
            "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
            "m_compania": [
                ("cod_compania", "string"),
                ("cod_pais", "string"),
                ("desc_compania", "string"),
                ("es_activo", "string"),
                ("fecha_creacion", "timestamp"),
                ("fecha_modificacion", "timestamp"),
            ],
            "t_documento_venta": [
                ("cod_compania", "string"),
                ("cod_sucursal", "string"),
                ("cod_documento_venta", "string"),
                ("nro_documento_venta", "string"),
                ("cod_documento_pedido", "string"),
                ("nro_documento_pedido", "string"),
                ("cod_procedimiento", "string"),
                ("cod_cliente", "string"),
                ("cod_zona", "string"),
                ("cod_ruta", "string"),
                ("cod_moneda", "string"),
                ("tipo_cambio_mn", "numeric(12,6)"),
                ("tipo_cambio_me", "numeric(12,6)"),
                ("imp_venta", "numeric(38,12)"),
                ("cod_estado_comprobante", "string"),
                ("fecha_liquidacion", "date"),
                ("fecha_emision", "date"),
                ("cod_almacen", "string"),
                ("cod_fuerza_venta", "string"),
                ("cod_vendedor", "string"),
                ("cod_supervisor", "string"),
                ("cod_lista_precio", "string"),
                ("cod_forma_pago", "string"),
                ("cod_motivo_rechazo", "string"),
                ("cod_modulo", "string"),
                ("nro_comprobante", "string"),
                ("fecha_pedido", "date"),
                ("flg_facglob", "string"),
                ("flg_refact", "string"),
                ("fecha_creacion", "timestamp"),
                ("fecha_modificacion", "timestamp"),
            ],
            "m_zona": [
                ("cod_compania", "string"), ("cod_sucursal", "string"),
                ("cod_zona", "string"), ("cod_region", "string"),
                ("cod_subregion", "string"), ("cod_supervisor", "string"),
                ("desc_zona", "string"), ("es_activo", "string"),
            ],
            "m_region": [
                ("cod_pais", "string"), ("cod_region", "string"),
                ("desc_region", "string"),
            ],
            "m_subregion": [
                ("cod_pais", "string"), ("cod_region", "string"),
                ("cod_subregion", "string"), ("desc_subregion", "string"),
            ],
            "m_division": [
                ("cod_compania", "string"), ("cod_division", "string"),
                ("desc_division", "string"),
            ],
            "m_parametro": [("id_compania", "string"), ("cod_moneda_mn", "string")],
            "m_tipo_cambio": [
                ("cod_compania", "string"),
                ("cod_moneda", "string"),
                ("fecha", "date"),
                ("tc_venta", "numeric(12,6)"),
            ],
        }
    )


def seed_stage(spark, lake):
    ts = dt.datetime(2025, 4, 1, 12, 0, 0)
    m_pais = spark.createDataFrame(
        [("PE", "PE", "PERU"), ("CL", "CL", "CHILE"), ("XX", "XX", "NOWHERE")],
        "id_pais string, cod_pais string, desc_pais string",
    )
    # two stage instances for m_compania (multi-endpoint union, S2)
    comp1 = spark.createDataFrame(
        [("10", "PE", "AJE PERU", "T", ts, ts)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    )
    comp2 = spark.createDataFrame(
        [("20", "CL", "AJE CHILE", "T", ts, ts)],
        comp1.schema,
    )
    tail = ("AL1", "F1", "V9", "SUP1", "LP1", "FP1", "MR1", "M1", "CP-01",
            dt.date(2025, 4, 30), "F", "F", ts, ts)
    ventas = spark.createDataFrame(
        [
            # local-currency doc; a matching m_tipo_cambio row supplies the day rate
            ("10", "01", "FAC", "0001", "200", "P1", "PR1", "C1", "Z1", "R1", "PEN",
             Decimal("9.9"), Decimal("0"),
             Decimal("100.5"), "001", dt.date(2025, 5, 2), dt.date(2025, 5, 1), *tail),
            ("10", "01", "FAC", "0002", "200", "P2", "PR1", "C2", "Z1", "R1", "PEN",
             Decimal("9.9"), Decimal("0"),
             Decimal("50.0"), "002", dt.date(2025, 4, 10), dt.date(2025, 4, 9), *tail),
            # USD doc of a company with no m_parametro row (moneda_mn null)
            ("20", "02", "NCC", "0003", "200", "P3", "PR1", "C3", "Z2", "R2", "USD",
             Decimal("3.5"), Decimal("0"),
             Decimal("-10.0"), "001", dt.date(2025, 3, 20), dt.date(2025, 3, 19), *tail),
            # outside the 3-period window (202503..202505) — must be excluded
            ("10", "01", "FAC", "0004", "200", "P4", "PR1", "C4", "Z1", "R1", "PEN",
             Decimal("9.9"), Decimal("0"),
             Decimal("77.0"), "001", dt.date(2024, 12, 1), dt.date(2024, 12, 1), *tail),
            # P4 guards: CMD doc class and a refacturated FAC — both excluded
            ("10", "01", "CMD", "0005", "200", "P5", "PR1", "C1", "Z1", "R1", "PEN",
             Decimal("9.9"), Decimal("0"),
             Decimal("11.0"), "001", dt.date(2025, 5, 2), dt.date(2025, 5, 1), *tail),
            ("10", "01", "FAC", "0006", "200", "P6", "PR1", "C1", "Z1", "R1", "PEN",
             Decimal("9.9"), Decimal("0"),
             Decimal("12.0"), "001", dt.date(2025, 5, 2), dt.date(2025, 5, 1),
             *(tail[:11] + ("T",) + tail[12:])),
            # orphan company: cod_compania 99 has no m_compania row — the
            # reference inner-joins the company bridge (t_venta.py:49-53), so
            # this doc must be DROPPED, not null-padded into a NULL id_pais
            ("99", "01", "FAC", "0007", "200", "P7", "PR1", "C5", "Z1", "R1", "PEN",
             Decimal("9.9"), Decimal("0"),
             Decimal("33.0"), "001", dt.date(2025, 5, 2), dt.date(2025, 5, 1), *tail),
        ],
        "cod_compania string, cod_sucursal string, cod_documento_venta string, "
        "nro_documento_venta string, cod_documento_pedido string, "
        "nro_documento_pedido string, cod_procedimiento string, cod_cliente string, "
        "cod_zona string, cod_ruta string, cod_moneda string, "
        "tipo_cambio_mn decimal(12,6), tipo_cambio_me decimal(12,6), "
        "imp_venta decimal(38,12), cod_estado_comprobante string, "
        "fecha_liquidacion date, fecha_emision date, cod_almacen string, "
        "cod_fuerza_venta string, cod_vendedor string, cod_supervisor string, "
        "cod_lista_precio string, cod_forma_pago string, cod_motivo_rechazo string, "
        "cod_modulo string, nro_comprobante string, fecha_pedido date, "
        "flg_facglob string, flg_refact string, fecha_creacion timestamp, "
        "fecha_modificacion timestamp",
    )
    m_parametro = spark.createDataFrame(
        [("10", "PEN")], "id_compania string, cod_moneda_mn string"
    )
    m_tipo_cambio = spark.createDataFrame(
        [("10", "PEN", dt.date(2025, 5, 1), Decimal("3.75"))],
        "cod_compania string, cod_moneda string, fecha date, tc_venta decimal(12,6)",
    )
    m_pais.write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))
    comp1.write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    comp2.write.parquet(lake.table_path(Layer.STAGE, "m_compania", "cl01"))
    # geography ladder: zona + region + division seeded; m_subregion left to
    # the empty-schema fallback → SUBREGION DEFAULT
    spark.createDataFrame(
        [("10", "01", "Z1", "RG1", "SR1", "SUP1", "ZONA NORTE", "T")],
        "cod_compania string, cod_sucursal string, cod_zona string, cod_region string, "
        "cod_subregion string, cod_supervisor string, desc_zona string, es_activo string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_zona", "pe01"))
    spark.createDataFrame(
        [("PE", "RG1", "REGION NORTE")],
        "cod_pais string, cod_region string, desc_region string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_region", "pe01"))
    spark.createDataFrame(
        [("10", "Z1", "DIVISION CENTRO")],
        "cod_compania string, cod_division string, desc_division string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_division", "pe01"))
    ventas.write.parquet(lake.table_path(Layer.STAGE, "t_documento_venta", "pe01"))
    m_parametro.write.parquet(lake.table_path(Layer.STAGE, "m_parametro", "pe01"))
    m_tipo_cambio.write.parquet(lake.table_path(Layer.STAGE, "m_tipo_cambio", "pe01"))


def make_ctx(spark, lake):
    def ctx(cfg: JobConfig) -> JobContext:
        return JobContext(
            spark=spark, catalog=lake, registry=registry(), config=cfg, as_of=AS_OF
        )

    return ctx


def test_parse_config_csv():
    cfgs = parse_config_csv(CONFIG_CSV, layer="domain")
    assert [c.procedure for c in cfgs] == ["m_pais", "m_compania", "t_venta_lite"]
    assert cfgs[2].periods == 3 and cfgs[2].exe_order == 2


def test_full_domain_run(spark, lake):
    seed_stage(spark, lake)
    cfgs = parse_config_csv(CONFIG_CSV)
    results = run_waves(cfgs, DOMAIN_JOBS, make_ctx(spark, lake), max_parallel=2)
    assert all(r.status == "succeeded" for r in results), results

    # m_pais: only countries with companies survive (left_semi)
    paises = {r["cod_pais"] for r in tx_read(spark,
        lake.table_path(Layer.DOMAIN, "m_pais")).collect()}
    assert paises == {"PE", "CL"}

    # m_compania: conformed + partitioned by id_pais
    comp = tx_read(spark, lake.table_path(Layer.DOMAIN, "m_compania"))
    got = {r["id_compania"]: r["id_pais"] for r in comp.collect()}
    assert got == {"10": "PE", "20": "CL"}
    assert dict(comp.dtypes)["fecha_creacion"] == "date"

    # t_venta: period window 202503..202505 (3 periods back from as_of)
    venta = tx_read(spark, lake.table_path(Layer.DOMAIN, "t_venta"))
    rows = {r["id_venta"]: r for r in venta.collect()}
    # 5-part id_venta (cod_almacen minted in, t_venta.py:91); the CMD doc
    # and the flg_refact='T' doc are filtered out by the P4 guards; the
    # orphan-company doc 0007 is dropped by the INNER company join
    assert set(rows) == {"10|01|AL1|FAC|0001", "10|01|AL1|FAC|0002",
                         "20|02|AL1|NCC|0003"}
    assert not any("99|" in k for k in rows)
    fac1 = rows["10|01|AL1|FAC|0001"]
    assert rows["10|01|AL1|FAC|0002"]["es_eliminado"] == 1
    assert fac1["id_periodo"] == "202505"
    assert rows["20|02|AL1|NCC|0003"]["id_pais"] == "CL"
    assert fac1["imp_venta"] == Decimal("100.5")
    # currency resolution through the job (t_venta.py:118-119 semantics):
    # local-currency doc → mn=1; me from the day's m_tipo_cambio row
    assert fac1["tipo_cambio_mn"] == Decimal("1.000000")
    assert fac1["tipo_cambio_me"] == Decimal("3.750000")
    # USD doc, company without m_parametro → mn falls back to the embedded
    # rate; me=1 (dollar doc)
    assert rows["20|02|AL1|NCC|0003"]["tipo_cambio_mn"] == Decimal("3.500000")
    assert rows["20|02|AL1|NCC|0003"]["tipo_cambio_me"] == Decimal("1.000000")
    # doc 0002's emission date has no rate row → me embedded-0 sentinel → 1
    assert rows["10|01|AL1|FAC|0002"]["tipo_cambio_me"] == Decimal("1.000000")
    # full id block + geography ladder (seeded region/division resolve;
    # unseeded m_subregion falls back to the DEFAULT literal)
    assert fac1["id_fuerza_venta"] == "10|01|F1"
    assert fac1["id_vendedor"] == "10|V9"
    assert fac1["id_forma_pago"] == "10|FP1"
    assert fac1["id_jefe_venta"] is None
    assert fac1["nro_venta"] == "CP-01"
    assert fac1["desc_region"] == "REGION NORTE"
    assert fac1["desc_subregion"] == "SUBREGION DEFAULT"
    assert fac1["desc_division"] == "DIVISION CENTRO"
    assert fac1["es_anulado"] == 0
    assert rows["10|01|AL1|FAC|0002"]["es_anulado"] == 1
    # the CL doc has no zona/region rows at all → defaults
    assert rows["20|02|AL1|NCC|0003"]["desc_region"] == "REGION DEFAULT"


def test_rerun_is_idempotent(spark, lake):
    seed_stage(spark, lake)
    cfgs = parse_config_csv(CONFIG_CSV)
    run_waves(cfgs, DOMAIN_JOBS, make_ctx(spark, lake))
    first = sorted(
        tuple(r) for r in tx_read(spark,
            lake.table_path(Layer.DOMAIN, "m_compania")).collect()
    )
    run_waves(cfgs, DOMAIN_JOBS, make_ctx(spark, lake))
    second = sorted(
        tuple(r) for r in tx_read(spark,
            lake.table_path(Layer.DOMAIN, "m_compania")).collect()
    )
    assert first == second


def test_wave_ordering_and_failure_isolation(spark, lake):
    order: list[str] = []
    reg = JobRegistry()

    @reg.register("a")
    def _a(ctx):
        order.append("a")

    @reg.register("boom")
    def _boom(ctx):
        order.append("boom")
        raise RuntimeError("expected")

    @reg.register("b")
    def _b(ctx):
        order.append("b")

    cfgs = [
        JobConfig("domain", "a", exe_order=1),
        JobConfig("domain", "boom", exe_order=1),
        JobConfig("domain", "b", exe_order=2),
        JobConfig("domain", "ghost", exe_order=2),
    ]
    results = run_waves(cfgs, reg, make_ctx(spark, lake))
    by_name = {r.name: r for r in results}
    assert by_name["a"].status == "succeeded"
    assert by_name["boom"].status == "failed" and "expected" in by_name["boom"].error
    assert by_name["b"].status == "succeeded"  # later wave still ran
    assert by_name["ghost"].status == "skipped"
    assert order.index("b") > order.index("a")  # wave 2 after wave 1


def test_concurrency_gate_serializes_same_job_per_country(spark, lake):
    """Reference get_data Lambda semantics (SURVEY §3.1 step 2): a second
    run of the same procedure for the same country waits for the first;
    different countries proceed concurrently; wait=False reports busy."""
    import threading
    import time as _time

    from cdk_datalake_analytics_comercial_spark.runner import ConcurrencyGate

    gate = ConcurrencyGate()
    active: dict[str, int] = {"j|PE": 0, "j|CL": 0}
    overlap: list[str] = []
    lock = threading.Lock()

    reg = JobRegistry()

    def make_job(country):
        def job(ctx):
            key = f"j|{country}"
            with lock:
                active[key] += 1
                if active[key] > 1:
                    overlap.append(key)
            _time.sleep(0.15)
            with lock:
                active[key] -= 1
        return job

    reg.add("j", make_job("PE"))

    cfg = [JobConfig("domain", "j", exe_order=1)]
    threads = [
        threading.Thread(
            target=run_waves, args=(cfg, reg, make_ctx(spark, lake)),
            kwargs={"gate": gate, "country": "PE"},
        )
        for _ in range(3)
    ]
    # a different country is NOT gated against PE
    reg_cl = JobRegistry()
    reg_cl.add("j", make_job("CL"))
    threads.append(
        threading.Thread(
            target=run_waves, args=(cfg, reg_cl, make_ctx(spark, lake)),
            kwargs={"gate": gate, "country": "CL"},
        )
    )
    t0 = _time.time()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not overlap                       # same (job, country) never overlapped
    assert _time.time() - t0 >= 0.45 - 0.02  # three PE runs serialized

    # wait=False → immediate busy report instead of blocking
    assert gate.acquire("j", "PE")
    assert gate.acquire("j", "PE", wait=False) is False
    gate.release("j", "PE")
    assert gate.acquire("j", "PE", wait=False)
    gate.release("j", "PE")


def test_empty_stage_table_fallback_in_job(spark, lake):
    """A job whose stage input has zero instances still runs (S3)."""
    # only m_pais seeded; m_compania absent → empty DF with registered schema
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))
    cfgs = [JobConfig("domain", "m_pais", exe_order=1)]
    results = run_waves(cfgs, DOMAIN_JOBS, make_ctx(spark, lake))
    assert results[0].status == "succeeded", results[0].error
    out = tx_read(spark, lake.table_path(Layer.DOMAIN, "m_pais"))
    assert out.count() == 0  # no companies → no countries survive


def test_write_status_log(spark, lake, tmp_path):
    from cdk_datalake_analytics_comercial_spark.runner import write_status_log
    import json

    reg = JobRegistry()
    reg.add("ok", lambda ctx: None)
    cfgs = [JobConfig("domain", "ok", 1), JobConfig("domain", "missing", 1)]
    results = run_waves(cfgs, reg, make_ctx(spark, lake))
    log = tmp_path / "status.jsonl"
    write_status_log(results, str(log), run_id="r1")
    write_status_log(results, str(log), run_id="r2")  # append-only audit trail
    lines = [json.loads(l) for l in log.read_text().splitlines()]
    assert len(lines) == 4
    assert {l["run_id"] for l in lines} == {"r1", "r2"}
    assert {(l["job"], l["status"]) for l in lines} == {("ok", "succeeded"), ("missing", "skipped")}


def test_t_pedido_ades_anti_union(spark, lake):
    """Full t_pedido shape: '200' gate, detail pre-agg mints the 5-part
    order id (several lines per document collapse A4-style), header⋈detail
    stitch, ADES overlap dropped by the anti-join, new ADES rows union in
    (FIXTURES coverage: ADES ∩ pedido ≠ ∅ and ∖ ≠ ∅); absent geography
    masters resolve to the DEFAULT literals through the empty fallback."""
    hdr_cols = [
        ("cod_compania", "string"), ("cod_sucursal", "string"),
        ("cod_cliente", "string"), ("cod_zona_distribucion", "string"),
        ("fecha_pedido", "date"), ("cod_tipo_pedido", "string"),
        ("cod_fuerza_venta", "string"), ("cod_vendedor", "string"),
        ("cod_condicion_pago", "string"), ("cod_centro_distribucion", "string"),
        ("fecha_entrega", "date"), ("fecha_creacion", "timestamp"),
        ("fecha_modificacion", "timestamp"),
    ]
    reg = SchemaRegistry({
        "t_documento_pedido": [
            ("cod_documento_pedido", "string"), ("nro_documento_pedido", "string"),
            ("cod_almacen", "string"), ("cod_documento_pedido_origen", "string"),
            *hdr_cols,
        ],
        "t_documento_pedido_ades": [
            ("cod_documento_transaccion", "string"), ("nro_comprobante", "string"),
            ("cod_almacen_emisor", "string"), ("cod_tipo_documento_origen", "string"),
            *hdr_cols,
        ],
        "t_documento_pedido_detalle": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_documento_pedido", "string"), ("nro_documento_pedido", "string"),
            ("cod_cliente", "string"), ("cod_lista_precio", "string"),
            ("cod_ruta", "string"), ("cod_modulo", "string"),
        ],
        "t_documento_pedido_ades_detalle": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_documento_transaccion", "string"), ("nro_comprobante", "string"),
            ("cod_cliente", "string"), ("cod_lista_precios", "string"),
            ("cod_ruta_distribucion", "string"), ("cod_modulo", "string"),
        ],
        "m_compania": [("cod_compania", "string"), ("cod_pais", "string"),
                        ("desc_compania", "string"), ("es_activo", "string"),
                        ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp")],
        "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
        "m_parametro": [("id_compania", "string"), ("cod_moneda_mn", "string")],
        "m_tipo_cambio": [("cod_compania", "string"), ("cod_moneda", "string"),
                           ("fecha", "date"), ("tc_venta", "numeric(12,6)")],
        "m_zona": [("cod_compania", "string"), ("cod_sucursal", "string"),
                    ("cod_zona", "string"), ("cod_region", "string"),
                    ("cod_subregion", "string")],
        "m_region": [("cod_pais", "string"), ("cod_region", "string"),
                      ("desc_region", "string")],
        "m_subregion": [("cod_pais", "string"), ("cod_region", "string"),
                         ("cod_subregion", "string"), ("desc_subregion", "string")],
        "m_division": [("cod_compania", "string"), ("cod_division", "string"),
                        ("desc_division", "string")],
    })
    d = dt.date(2025, 5, 2)
    ts = dt.datetime(2025, 5, 2, 9)
    hdr_tail = ("Z1", d, "TP1", "F1", "V9", "CP1", "D1", d, ts, ts)
    spark.createDataFrame(
        [
            ("200", "P1", "AL1", "OR1", "10", "01", "C1", *hdr_tail),
            ("200", "P2", "AL1", "OR1", "10", "01", "C2", *hdr_tail),
            # non-'200' document class — gated out (t_pedido.py:54)
            ("100", "PX", "AL1", "OR1", "10", "01", "C1", *hdr_tail),
        ],
        "cod_documento_pedido string, nro_documento_pedido string, cod_almacen string, "
        "cod_documento_pedido_origen string, cod_compania string, cod_sucursal string, "
        "cod_cliente string, cod_zona_distribucion string, fecha_pedido date, "
        "cod_tipo_pedido string, cod_fuerza_venta string, cod_vendedor string, "
        "cod_condicion_pago string, cod_centro_distribucion string, fecha_entrega date, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_pedido", "pe01"))
    spark.createDataFrame(
        # P2 overlaps the main set (must be dropped); P9 is ADES-only
        [("200", "P2", "AL1", "OR1", "10", "01", "C2", *hdr_tail),
         ("200", "P9", "AL1", "OR1", "10", "01", "C9", *hdr_tail)],
        "cod_documento_transaccion string, nro_comprobante string, "
        "cod_almacen_emisor string, cod_tipo_documento_origen string, "
        "cod_compania string, cod_sucursal string, cod_cliente string, "
        "cod_zona_distribucion string, fecha_pedido date, cod_tipo_pedido string, "
        "cod_fuerza_venta string, cod_vendedor string, cod_condicion_pago string, "
        "cod_centro_distribucion string, fecha_entrega date, fecha_creacion timestamp, "
        "fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_pedido_ades", "pe01"))
    spark.createDataFrame(
        [
            # two lines of the same (document, client): must collapse to ONE
            # order row, max() picking the representative attributes
            ("10", "01", "200", "P1", "C1", "LP1", "R1", "M1"),
            ("10", "01", "200", "P1", "C1", "LP1", "R7", "M1"),
            ("10", "01", "200", "P2", "C2", "LP2", "R2", "M2"),
        ],
        "cod_compania string, cod_sucursal string, cod_documento_pedido string, "
        "nro_documento_pedido string, cod_cliente string, cod_lista_precio string, "
        "cod_ruta string, cod_modulo string",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_pedido_detalle", "pe01"))
    spark.createDataFrame(
        [("10", "01", "200", "P2", "C2", "LP2", "R2", "M2"),
         ("10", "01", "200", "P9", "C9", "LP9", "R9", "M9")],
        "cod_compania string, cod_sucursal string, cod_documento_transaccion string, "
        "nro_comprobante string, cod_cliente string, cod_lista_precios string, "
        "cod_ruta_distribucion string, cod_modulo string",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_pedido_ades_detalle", "pe01"))
    spark.createDataFrame(
        [("10", "PE", "AJE", "T", ts, ts)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves([JobConfig("domain", "t_pedido_lite", 1, periods=2)], DOMAIN_JOBS, mk)
    assert res[0].status == "succeeded", res[0].error
    out = {r["id_pedido"]: r for r in tx_read(spark,
        lake.table_path(Layer.DOMAIN, "t_pedido")).collect()}
    # the non-'200' header vanished; P1's two lines collapsed to one row
    assert set(out) == {"10|01|200|P1|C1", "10|01|200|P2|C2", "10|01|200|P9|C9"}
    p1 = out["10|01|200|P1|C1"]
    assert p1["id_pais"] == "PE" and p1["id_periodo"] == "202505"
    assert p1["id_cliente"] == "10|C1" and p1["cod_cliente"] == "C1"
    assert p1["nro_pedido"] == "P1|C1"
    assert p1["cod_ruta"] == "R7"                 # max() representative
    assert p1["id_lista_precio"] == "10|LP1"
    assert p1["id_vendedor"] == "10|V9"
    assert p1["id_fuerza_venta"] == "10|01|F1"
    assert p1["cod_tipo_documento_pedido"] == "200"
    # absent geography masters → DEFAULT literals; no rate row → null fx
    assert p1["desc_region"] == "REGION DEFAULT"
    assert p1["desc_subregion"] == "SUBREGION DEFAULT"
    assert p1["tipo_cambio_mn"] is None
    assert p1["fecha_visita"] == d and p1["es_eliminado"] == 0
    # ADES-only row carried its own detail attributes
    assert out["10|01|200|P9|C9"]["id_lista_precio"] == "10|LP9"


def seed_venta_detalle_stage(spark, lake):
    """Shared fixture for the sales line-item fact: a FAC with sale+promo
    ops, an NCC credit note, the unit-conversion article and the op-type
    bridge. Used by the hand-computed test below and the DuckDB
    differential in tests/test_job_oracles.py. Returns the registry."""
    reg = SchemaRegistry({
        "t_venta": [
            ("id_venta", "string"), ("id_pais", "string"), ("id_periodo", "string"),
            ("cod_documento_venta", "string"),
            ("tipo_cambio_mn", "numeric(12,6)"), ("tipo_cambio_me", "numeric(12,6)"),
        ],
        "t_documento_venta_detalle": [
            ("cod_compania", "string"), ("cod_sucursal", "string"), ("cod_almacen", "string"),
            ("cod_documento_venta", "string"), ("nro_documento_venta", "string"),
            ("cod_articulo", "string"), ("cod_operacion", "string"),
            ("cant_paquete", "numeric(38,12)"), ("cant_unidad", "numeric(38,12)"),
            ("imp_valorizado", "numeric(38,12)"), ("imp_cobrar", "numeric(38,12)"),
            ("imp_descuento", "numeric(38,12)"), ("imp_descuento_sinimp", "numeric(38,12)"),
            ("precio_paquete", "numeric(38,12)"), ("imp_isc", "numeric(38,12)"),
            ("imp_igv", "numeric(38,12)"), ("imp_im3", "numeric(38,12)"),
            ("imp_im4", "numeric(38,12)"), ("imp_im5", "numeric(38,12)"),
            ("imp_im6", "numeric(38,12)"),
            ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp"),
            ("es_eliminado", "string"),
        ],
        "m_articulo": [
            ("cod_compania", "string"), ("cod_articulo", "string"),
            ("cant_unidad_paquete", "numeric(38,12)"), ("cant_paquete_caja", "numeric(38,12)"),
            ("cant_unidad_volumen", "numeric(38,12)"),
        ],
        "m_operacion": [
            ("cod_compania", "string"), ("cod_operacion", "string"),
            ("cod_tipo_operacion", "string"),
        ],
    })
    D = Decimal
    spark.createDataFrame(
        [
            ("10|01|AL1|FAC|1", "PE", "202505", "FAC", D("2"), D("4")),
            ("10|01|AL1|NCC|2", "PE", "202505", "NCC", D("1"), D("1")),
        ],
        "id_venta string, id_pais string, id_periodo string, cod_documento_venta string, "
        "tipo_cambio_mn decimal(12,6), tipo_cambio_me decimal(12,6)",
    ).write.partitionBy("id_pais").parquet(lake.table_path(Layer.DOMAIN, "t_venta"))
    ts = dt.datetime(2025, 5, 10, 8, 0)
    spark.createDataFrame(
        [
            # FAC / A1 / sale op: cajas=(3+5/10)*2=7; neto_mn=100*2; neto_me=100/4; bruto_mn=110*2
            ("10", "01", "AL1", "FAC", "1", "A1", "V1", D("3"), D("5"), D("100"), D("110"),
             D("10"), D("8"), D("20"), D("1"), D("2"), D("3"), D("4"), D("5"), D("6"),
             ts, ts, "F"),
            # FAC / A1 / promo op: cajas=(1+0/10)*2=2 → only _pro bucket
            ("10", "01", "AL1", "FAC", "1", "A1", "P1", D("1"), D("0"), D("999"), D("999"),
             D("99"), D("99"), D("99"), D("9"), D("9"), D("9"), D("9"), D("9"), D("9"),
             ts, ts, "F"),
            # NCC / A1 / sale op: factor −1, cajas=(1+5/10)*2=3 → −3
            ("10", "01", "AL1", "NCC", "2", "A1", "V1", D("1"), D("5"), D("50"), D("55"),
             D("5"), D("4"), D("10"), D("0.5"), D("1"), D("1"), D("1"), D("1"), D("1"),
             ts, ts, "F"),
        ],
        "cod_compania string, cod_sucursal string, cod_almacen string, "
        "cod_documento_venta string, "
        "nro_documento_venta string, cod_articulo string, cod_operacion string, "
        "cant_paquete decimal(38,12), cant_unidad decimal(38,12), "
        "imp_valorizado decimal(38,12), imp_cobrar decimal(38,12), "
        "imp_descuento decimal(38,12), imp_descuento_sinimp decimal(38,12), "
        "precio_paquete decimal(38,12), imp_isc decimal(38,12), imp_igv decimal(38,12), "
        "imp_im3 decimal(38,12), imp_im4 decimal(38,12), imp_im5 decimal(38,12), "
        "imp_im6 decimal(38,12), fecha_creacion timestamp, fecha_modificacion timestamp, "
        "es_eliminado string",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_venta_detalle", "pe01"))
    spark.createDataFrame(
        [("10", "A1", D("10"), D("2"), D("2"))],
        "cod_compania string, cod_articulo string, cant_unidad_paquete decimal(38,12), "
        "cant_paquete_caja decimal(38,12), cant_unidad_volumen decimal(38,12)",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_articulo", "pe01"))
    spark.createDataFrame(
        [("10", "V1", "Ven"), ("10", "P1", "Pro")],
        "cod_compania string, cod_operacion string, cod_tipo_operacion string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_operacion", "pe01"))
    return reg


def test_t_venta_detalle_conditional_aggregates(spark, lake):
    """Hand-computed A2 semantics: NCC sign flip, PRO dispatch, unit
    conversion with the cant_unidad_paquete divisor, fx conversion."""
    reg = seed_venta_detalle_stage(spark, lake)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves([JobConfig("domain", "t_venta_detalle_lite", 1)], DOMAIN_JOBS, mk)
    assert res[0].status == "succeeded", res[0].error
    out = {
        (r["id_venta"], r["id_producto"]): r
        for r in tx_read(spark, lake.table_path(Layer.DOMAIN, "t_venta_detalle")).collect()
    }
    fac = out[("10|01|AL1|FAC|1", "A1")]
    assert fac["cant_caja_fisica_ven"] == Decimal("7.000000000000")
    assert fac["cant_caja_fisica_pro"] == Decimal("2.000000000000")
    # volume: (3 paquetes × 10 + 5 unidades) × 2 unidad_volumen = 70
    assert fac["cant_caja_volumen_ven"] == Decimal("70.000000000000")
    assert fac["cant_caja_volumen_pro"] == Decimal("20.000000000000")
    assert fac["imp_neto_vta_mn"] == Decimal("200.000000000000")
    assert fac["imp_neto_vta_me"] == Decimal("25.000000000000")
    assert fac["imp_bruto_vta_mn"] == Decimal("220.000000000000")
    # full money surface: dscto/desnimp/cobrar_vta ride the same fx pair;
    # paquete = cajas × precio × fx; sugerido/full are lit(0) placeholders;
    # valorizado_pro is the promo-dispatch pair; impuesto1-6 = isc/igv/im3-6
    assert fac["imp_dscto_mn"] == Decimal("20.000000000000")        # 10 × 2
    assert fac["imp_dscto_me"] == Decimal("2.500000000000")         # 10 / 4
    assert fac["imp_desnimp_mn"] == Decimal("16.000000000000")      # 8 × 2
    assert fac["imp_cobrar_vta_mn"] == fac["imp_bruto_vta_mn"]
    assert fac["imp_paquete_vta_mn"] == Decimal("280.000000000000")  # 7 × 20 × 2
    assert fac["imp_sugerido_mn"] == Decimal("0.000000000000")
    assert fac["imp_full_vta_me"] == Decimal("0.000000000000")
    assert fac["imp_valorizado_pro_mn"] == Decimal("1998.000000000000")  # 999 × 2
    assert fac["imp_impuesto1_mn"] == Decimal("2.000000000000")     # isc 1 × 2
    assert fac["imp_impuesto2_mn"] == Decimal("4.000000000000")     # igv 2 × 2
    assert fac["imp_impuesto6_me"] == Decimal("1.500000000000")     # im6 6 / 4
    assert fac["es_eliminado"] == "F"
    ncc = out[("10|01|AL1|NCC|2", "A1")]
    assert ncc["cant_caja_fisica_ven"] == Decimal("-3.000000000000")
    assert ncc["imp_neto_vta_mn"] == Decimal("-50.000000000000")
    assert ncc["imp_dscto_mn"] == Decimal("-5.000000000000")        # factor −1
    assert ncc["imp_paquete_vta_mn"] == Decimal("-30.000000000000")  # −(3 × 10 × 1)


def test_m_articulo_join_ladder_with_missing_masters(spark, lake):
    """Wide dim ladder: attribute joins resolve, and masters with ZERO
    instances fall back to registered empty schemas without breaking the
    ladder (m_articulo.py:29-172 shape + S3)."""
    reg = SchemaRegistry({
        "m_articulo": [
            ("cod_compania", "string"), ("cod_articulo", "string"),
            ("cod_articulo_corp", "int"),
            ("desc_articulo", "string"), ("cod_linea", "string"),
            ("cod_familia", "string"), ("cod_subfamilia", "string"),
            ("cod_marca", "string"), ("cod_categoria", "string"),
            ("cant_unidad_paquete", "numeric(38,12)"), ("es_activo", "string"),
        ],
        "m_compania": [("cod_compania", "string"), ("cod_pais", "string"),
                        ("desc_compania", "string"), ("es_activo", "string"),
                        ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp")],
        "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
        "m_linea": [("cod_compania", "string"), ("cod_linea", "string"),
                     ("desc_linea", "string")],
        # m_familia / m_subfamilia / m_marca / m_categoria deliberately NOT
        # seeded — empty fallback, attributes land as '... DEFAULT'
        "m_familia": [("cod_compania", "string"), ("cod_linea", "string"),
                       ("cod_familia", "string"), ("desc_familia", "string")],
        "m_subfamilia": [("cod_compania", "string"), ("cod_linea", "string"),
                          ("cod_familia", "string"), ("cod_subfamilia", "string"),
                          ("desc_subfamilia", "string")],
        "m_marca": [("cod_compania", "string"), ("cod_marca", "string"), ("desc_marca", "string")],
        "m_categoria": [("cod_compania", "string"), ("cod_categoria", "string"),
                         ("desc_categoria", "string")],
    })
    D = Decimal
    spark.createDataFrame(
        [("10", "A1", 0, "AGUA 1L", "L1", "F1", "S1", "M1", "C1", D("10"), "T")],
        "cod_compania string, cod_articulo string, cod_articulo_corp int, "
        "desc_articulo string, cod_linea string, cod_familia string, cod_subfamilia string, "
        "cod_marca string, cod_categoria string, cant_unidad_paquete decimal(38,12), "
        "es_activo string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_articulo", "pe01"))
    ts = dt.datetime(2025, 4, 1)
    spark.createDataFrame(
        [("10", "PE", "AJE", "T", ts, ts)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))
    spark.createDataFrame(
        [("10", "L1", "BEBIDAS")], "cod_compania string, cod_linea string, desc_linea string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_linea", "pe01"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves([JobConfig("domain", "m_articulo_lite", 1)], DOMAIN_JOBS, mk)
    assert res[0].status == "succeeded", res[0].error
    row = tx_read(spark, lake.table_path(Layer.DOMAIN, "m_articulo")).collect()[0]
    assert row["id_articulo"] == "10|A1"
    assert row["id_pais"] == "PE"
    assert row["desc_linea"] == "BEBIDAS"       # seeded master resolved
    assert row["desc_familia"] == "FAMILIA DEFAULT"   # empty-fallback → default
    assert row["desc_subfamilia"] == "SUBFAMILIA DEFAULT"
    assert row["desc_marca"] == "MARCA DEFAULT"
    assert row["cod_marca"] == "000"
    # corp code 0 → falls back to the article's own code, id follows
    assert row["cod_articulo_corp"] == "A1"
    assert row["id_articulo_corp"] == "10|A1"
    # linea L1 / familia default → no classification flags fire
    assert (row["flg_jarabe"], row["flg_co2"], row["flg_azucar"]) == (0, 0, 0)


def test_m_estructura_comercial_hierarchy(spark, lake):
    """Union-of-levels hierarchy: all five levels link up the adjacency —
    ruta → zona → división (5-part pointer) → subregión → región; the
    injected clock stamps fecha_creacion (no wall clock)."""
    reg = SchemaRegistry({
        "m_ruta": [("cod_compania", "string"), ("cod_sucursal", "string"),
                    ("cod_fuerza_venta", "string"), ("cod_ruta", "string"),
                    ("cod_zona", "string"), ("cod_vendedor", "string"),
                    ("desc_ruta", "string"), ("es_activo", "string")],
        "m_zona": [("cod_compania", "string"), ("cod_sucursal", "string"),
                    ("cod_zona", "string"), ("cod_region", "string"),
                    ("cod_subregion", "string"), ("cod_centro_distribucion", "string"),
                    ("cod_supervisor", "string"), ("desc_zona", "string"),
                    ("es_activo", "string")],
        "m_division": [("cod_compania", "string"), ("cod_division", "string"),
                        ("desc_division", "string"), ("cod_jefe_venta", "string"),
                        ("es_activo", "string")],
        "m_subregion": [("cod_pais", "string"), ("cod_region", "string"),
                         ("cod_subregion", "string"), ("desc_subregion", "string"),
                         ("es_activo", "string")],
        "m_region": [("cod_pais", "string"), ("cod_region", "string"),
                      ("desc_region", "string"), ("es_activo", "string")],
        "m_compania": [("cod_compania", "string"), ("cod_pais", "string"),
                        ("desc_compania", "string"), ("es_activo", "string"),
                        ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp")],
        "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
    })
    ts = dt.datetime(2025, 4, 1)
    spark.createDataFrame(
        [("10", "01", "FV1", "R1", "Z1", "VEND1", "RUTA CENTRO", "T")],
        "cod_compania string, cod_sucursal string, cod_fuerza_venta string, cod_ruta string, "
        "cod_zona string, cod_vendedor string, desc_ruta string, es_activo string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_ruta", "pe01"))
    spark.createDataFrame(
        [("10", "01", "Z1", "RG1", "SR1", "D1", "SUP1", "ZONA NORTE", "T")],
        "cod_compania string, cod_sucursal string, cod_zona string, cod_region string, "
        "cod_subregion string, cod_centro_distribucion string, cod_supervisor string, "
        "desc_zona string, es_activo string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_zona", "pe01"))
    spark.createDataFrame(
        [("10", "D1", "DIVISION CENTRO", "JV1", "T")],
        "cod_compania string, cod_division string, desc_division string, "
        "cod_jefe_venta string, es_activo string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_division", "pe01"))
    spark.createDataFrame(
        [("PE", "RG1", "SR1", "SUBREGION LIMA", "T")],
        "cod_pais string, cod_region string, cod_subregion string, "
        "desc_subregion string, es_activo string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_subregion", "pe01"))
    spark.createDataFrame(
        [("PE", "RG1", "REGION NORTE", "T")],
        "cod_pais string, cod_region string, desc_region string, es_activo string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_region", "pe01"))
    spark.createDataFrame(
        [("10", "PE", "AJE", "T", ts, ts)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves([JobConfig("domain", "m_estructura_comercial_lite", 1)], DOMAIN_JOBS, mk)
    assert res[0].status == "succeeded", res[0].error
    rows = {r["cod_tipo_estructura_comercial"]: r for r in tx_read(spark,
        lake.table_path(Layer.DOMAIN, "m_estructura_comercial")).collect()}
    assert set(rows) == {"Ruta", "Zona", "División", "Subregión", "Región"}
    # every level's parent id IS the next level's node id (adjacency links up)
    assert rows["Ruta"]["id_estructura_comercial_padre"] == rows["Zona"]["id_estructura_comercial"]
    assert rows["Zona"]["id_estructura_comercial_padre"] == rows["División"]["id_estructura_comercial"]
    assert rows["División"]["id_estructura_comercial_padre"] == rows["Subregión"]["id_estructura_comercial"]
    assert rows["Subregión"]["id_estructura_comercial_padre"] == rows["Región"]["id_estructura_comercial"]
    assert rows["Región"]["id_estructura_comercial_padre"] is None
    assert rows["Ruta"]["id_responsable_comercial"] == "10|VEND1"
    assert rows["Zona"]["id_responsable_comercial"] == "10|SUP1"
    assert rows["División"]["id_responsable_comercial"] == "10|JV1"
    assert rows["Subregión"]["id_responsable_comercial"] is None
    assert rows["División"]["id_estructura_comercial"] == "10|01|RG1|SR1|D1"
    assert rows["Zona"]["fecha_creacion"] == AS_OF


def test_m_eje_territorial_levels_and_postal_dedup(spark, lake):
    """Union of NG levels with W1 postal dedup: two districts share a postal
    code → the higher cod_ng3 wins; parent links point up a level."""
    reg = SchemaRegistry({
        "m_ng1": [("id_pais", "string"), ("cod_ng1", "string"), ("desc_ng1", "string")],
        "m_ng2": [("id_pais", "string"), ("cod_ng1", "string"), ("cod_ng2", "string"),
                   ("desc_ng2", "string")],
        "m_ng3": [("id_pais", "string"), ("cod_ng1", "string"), ("cod_ng2", "string"),
                   ("cod_ng3", "string"), ("desc_ng3", "string"), ("cod_zona_postal", "string")],
        "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
    })
    spark.createDataFrame(
        [("PE", "D1", "LIMA DEP")], "id_pais string, cod_ng1 string, desc_ng1 string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_ng1", "pe01"))
    spark.createDataFrame(
        [("PE", "D1", "P1", "LIMA PROV")],
        "id_pais string, cod_ng1 string, cod_ng2 string, desc_ng2 string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_ng2", "pe01"))
    spark.createDataFrame(
        [
            ("PE", "D1", "P1", "033", "MIRAFLORES", "15074"),
            ("PE", "D1", "P1", "041", "SURQUILLO", "15074"),   # same postal, higher ng3
            ("PE", "D1", "P1", "001", "CENTRO", None),          # null postal dropped
        ],
        "id_pais string, cod_ng1 string, cod_ng2 string, cod_ng3 string, "
        "desc_ng3 string, cod_zona_postal string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_ng3", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves([JobConfig("domain", "m_eje_territorial_lite", 1)], DOMAIN_JOBS, mk)
    assert res[0].status == "succeeded", res[0].error
    rows = {r["cod_tipo_eje_territorial"]: r for r in tx_read(spark,
        lake.table_path(Layer.DOMAIN, "m_eje_territorial")).collect()}
    assert set(rows) == {"NG1", "NG2", "NG3", "NG4"}
    assert rows["NG4"]["nomb_eje_territorial"] == "SURQUILLO"  # cod_ng3 desc wins
    assert rows["NG4"]["id_eje_territorial"] == "PE|15074"
    # the postal row materializes twice: NG4 leaf → its NG3-suffixed
    # district twin → the provincia (m_eje_territorial.py:20-115)
    assert rows["NG4"]["id_eje_territorial_padre"] == "PE|15074|NG3"
    assert rows["NG3"]["id_eje_territorial"] == "PE|15074|NG3"
    assert rows["NG3"]["nomb_eje_territorial"] == "SURQUILLO"
    assert rows["NG3"]["id_eje_territorial_padre"] == rows["NG2"]["id_eje_territorial"]
    assert rows["NG2"]["id_eje_territorial_padre"] == rows["NG1"]["id_eje_territorial"]
    assert rows["NG1"]["id_eje_territorial_padre"] is None


def test_m_cliente_branch_join_and_filtered_type(spark, lake):
    """when()-in-join-key branch (m_cliente.py:26-35): for a '00'
    (headquarters) client the condition collapses to '00'=='00' — it takes
    assignments from ANY sucursal; every other client matches only its own
    sucursal. tipo_cliente joins only for types a/v/t; lowest
    cod_fuerza_venta assignment wins the coordinates."""
    reg = SchemaRegistry({
        "m_cliente": [("cod_compania", "string"), ("cod_sucursal", "string"),
                       ("cod_cliente", "string"), ("nomb_cliente", "string"),
                       ("es_activo", "string"), ("cod_cuenta_clave", "string"),
                       ("cod_canal", "string"), ("cod_giro", "string"),
                       ("cod_subgiro", "string"), ("cod_zona_postal", "string"),
                       ("cod_lista_precio", "string"), ("direccion", "string"),
                       ("tipo_documento_identidad", "string"),
                       ("nro_documento_identidad", "string"),
                       ("cod_cliente_principal", "string"),
                       ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp")],
        "m_cuenta_clave": [("cod_compania", "string"), ("cod_cuenta_clave", "string"),
                            ("descripcion", "string")],
        "m_canal": [("cod_compania", "string"), ("cod_canal", "string"),
                     ("desc_canal", "string")],
        "m_giro": [("cod_compania", "string"), ("cod_giro", "string"),
                    ("desc_giro", "string")],
        "m_asignacion_modulo": [("cod_compania", "string"), ("cod_sucursal", "string"),
                                 ("cod_cliente", "string"), ("cod_fuerza_venta", "string"),
                                 ("coord_x", "string"), ("coord_y", "string")],
        "m_tipo_cliente": [("cod_compania", "string"), ("cod_cliente", "string"),
                            ("tipo_cliente", "string")],
        "m_compania": [("cod_compania", "string"), ("cod_pais", "string"),
                        ("desc_compania", "string"), ("es_activo", "string"),
                        ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp")],
        "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
    })
    ts0 = dt.datetime(2025, 3, 1)
    spark.createDataFrame(
        [
            # '00': takes any sucursal's assignment; full attribute row
            ("10", "00", "C1", "CENTRAL", "T", "K1", "CN1", "G9", "SG1",
             "15074", "LP1", "AV LIMA 123", "DNI", "44556677", None, ts0, ts0),
            # non-'00': own sucursal only; empty postal code → NULL eje
            ("10", "01", "C2", "SUCURSAL", "T", None, None, None, "SG2",
             "", "LP2", None, None, None, "C9", ts0, ts0),
        ],
        "cod_compania string, cod_sucursal string, cod_cliente string, "
        "nomb_cliente string, es_activo string, cod_cuenta_clave string, "
        "cod_canal string, cod_giro string, cod_subgiro string, "
        "cod_zona_postal string, cod_lista_precio string, direccion string, "
        "tipo_documento_identidad string, nro_documento_identidad string, "
        "cod_cliente_principal string, fecha_creacion timestamp, "
        "fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_cliente", "pe01"))
    spark.createDataFrame(
        [("10", "K1", "CUENTA CLAVE AJE")],
        "cod_compania string, cod_cuenta_clave string, descripcion string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_cuenta_clave", "pe01"))
    spark.createDataFrame(
        [("10", "CN1", "BODEGA")],
        "cod_compania string, cod_canal string, desc_canal string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_canal", "pe01"))
    # m_giro deliberately NOT seeded → empty fallback, desc_giro_local null
    spark.createDataFrame(
        [
            ("10", "00", "C1", "FV2", "x1", "y1"),
            ("10", "02", "C1", "FV1", "x9", "y9"),  # other sucursal: VISIBLE to '00' client
            ("10", "01", "C2", "FV2", "x2", "y2"),  # own sucursal match
            ("10", "07", "C2", "FV1", "x3", "y3"),  # foreign sucursal: ignored for '01'
        ],
        "cod_compania string, cod_sucursal string, cod_cliente string, "
        "cod_fuerza_venta string, coord_x string, coord_y string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_asignacion_modulo", "pe01"))
    spark.createDataFrame(
        [("10", "C1", "A"), ("10", "C2", "n")],   # 'n' type filtered out of the join
        "cod_compania string, cod_cliente string, tipo_cliente string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_tipo_cliente", "pe01"))
    ts = dt.datetime(2025, 4, 1)
    spark.createDataFrame(
        [("10", "PE", "AJE", "T", ts, ts)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves([JobConfig("domain", "m_cliente_lite", 1)], DOMAIN_JOBS, mk)
    assert res[0].status == "succeeded", res[0].error
    rows = {r["cod_cliente"]: r for r in tx_read(spark,
        lake.table_path(Layer.DOMAIN, "m_cliente")).collect()}
    assert rows["C1"]["coord_x"] == "x9"          # any-sucursal pool, FV1 < FV2 wins
    assert rows["C1"]["tipo_cliente"] == "A"      # a/v/t passes the filter
    assert rows["C2"]["coord_x"] == "x2"          # own-sucursal assignment only
    assert rows["C2"]["tipo_cliente"] is None     # 'n' excluded by join filter
    # attribute surface (m_cliente.py:91-155)
    c1, c2 = rows["C1"], rows["C2"]
    assert c1["id_sucursal"] == "10|00"
    assert c1["id_eje_territorial"] == "PE|15074"
    assert c2["id_eje_territorial"] is None       # empty postal → null guard
    assert c1["id_clasificacion_cliente"] == "10|SG|SG1"
    assert c1["id_lista_precio"] == "10|LP1"
    assert c1["cod_cuenta_clave"] == "K1"
    assert c1["nomb_cuenta_clave"] == "CUENTA CLAVE AJE"
    assert c1["desc_canal_local"] == "BODEGA"
    assert c1["desc_giro_local"] is None          # unseeded m_giro → empty fallback
    assert c1["nro_documento"] == "44556677"
    assert c1["cod_tipo_cliente"] == "A"
    assert c2["cod_tipo_cliente"] == "N"          # coalesce default
    assert c1["cod_cliente_principal"] == "0"     # coalesce default
    assert c2["cod_cliente_principal"] == "C9"
    assert c1["estado"] == "T" and c1["fecha_baja"] is None


def test_t_reparto_latest_movement(spark, lake):
    """Dispatch docs only, latest movement per delivery wins (W1 desc)."""
    reg = SchemaRegistry({
        "t_movimiento_inventario": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_almacen_emisor_origen", "string"), ("cod_documento_transaccion", "string"),
            ("nro_documento_almacen", "string"), ("nro_documento_movimiento", "string"),
            ("cod_transportista", "string"), ("cod_vehiculo", "string"),
            ("cod_chofer", "string"), ("cod_estado_comprobante", "string"),
            ("fecha_emision", "date"), ("fecha_almacen", "date"),
            ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp"),
        ],
        "m_compania": [("cod_compania", "string"), ("cod_pais", "string"),
                        ("desc_compania", "string"), ("es_activo", "string"),
                        ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp")],
        "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
    })
    d1, d2 = dt.date(2025, 5, 1), dt.date(2025, 5, 2)
    mts = dt.datetime(2025, 5, 1, 7)
    spark.createDataFrame(
        [
            ("10", "01", "A1", "GRA", "G1", "M001", "T1", "V1", "CH1", "PLI", d1, d1, mts, mts),
            ("10", "01", "A1", "GRA", "G1", "M002", "T2", "V2", "CH2", "LIQ", d2, d2, mts, mts),  # latest
            ("10", "01", "A1", "XXX", "G2", "M003", "T3", "V3", "CH3", "PLI", d1, d1, mts, mts),  # not dispatch
        ],
        "cod_compania string, cod_sucursal string, cod_almacen_emisor_origen string, "
        "cod_documento_transaccion string, nro_documento_almacen string, "
        "nro_documento_movimiento string, cod_transportista string, cod_vehiculo string, "
        "cod_chofer string, cod_estado_comprobante string, fecha_emision date, "
        "fecha_almacen date, fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_movimiento_inventario", "pe01"))
    ts = dt.datetime(2025, 4, 1)
    spark.createDataFrame(
        [("10", "PE", "AJE", "T", ts, ts)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves([JobConfig("domain", "t_reparto_lite", 1, periods=2)], DOMAIN_JOBS, mk)
    assert res[0].status == "succeeded", res[0].error
    rows = tx_read(spark, lake.table_path(Layer.DOMAIN, "t_reparto")).collect()
    assert len(rows) == 1                              # XXX doc excluded, G1 deduped
    r = rows[0]
    assert r["id_reparto"] == "10|01|A1|GRA|G1"
    assert r["id_transportista"] == "10|T2"            # latest movement (M002) won
    assert r["estado_guia"] == "LIQ"


def test_t_saldos_iniciales_valuation(spark, lake):
    """Inventory opening balances: 3-key header-detail join, unit
    conversion, CPM valuation, numeric(30,4) money type."""
    reg = SchemaRegistry({
        "t_toma_inventario": [
            ("id_pais", "string"), ("id_compania", "string"), ("cod_compania", "string"),
            ("id_sucursal", "string"),
            ("cod_almacen_emisor", "string"), ("fecha_inventario", "date"),
            ("estado", "string"), ("cod_empleado_aprobador", "string"),
            ("usuario_creacion", "string"), ("fecha_creacion", "timestamp"),
            ("usuario_modificacion", "string"), ("fecha_modificacion", "timestamp"),
        ],
        "t_toma_inventario_detalle": [
            ("id_sucursal", "string"), ("cod_almacen_emisor", "string"),
            ("id_almacen", "string"), ("id_articulo", "string"),
            ("fecha_inventario", "date"), ("stock_final", "numeric(30,4)"),
        ],
        "t_cierre_inventario_cpm": [
            ("id_sucursal", "string"), ("id_articulo", "string"),
            ("id_periodo", "string"), ("imp_cpm", "numeric(30,4)"),
            ("imp_saldo_inicial", "numeric(30,4)"), ("imp_ingreso", "numeric(30,4)"),
            ("imp_salida", "numeric(30,4)"), ("imp_saldo_final", "numeric(30,4)"),
        ],
        "m_articulo": [("id_articulo", "string"), ("cant_unidad_paquete", "numeric(38,12)")],
        "m_empleado": [("cod_compania", "string"), ("cod_empleado", "string"),
                        ("nomb_empleado", "string")],
        "m_parametro": [("id_compania", "string"), ("cod_moneda_mn", "string")],
        "m_tipo_cambio": [("cod_compania", "string"), ("cod_moneda", "string"),
                           ("fecha", "date"), ("tc_venta", "numeric(12,6)"),
                           ("tc_compra", "numeric(12,6)")],
    })
    D = Decimal
    d = dt.date(2025, 5, 1)
    sts = dt.datetime(2025, 5, 1, 6)
    spark.createDataFrame(
        [
            ("PE", "10", "10", "10|01", "ALM1", d, "APROBADO", "E1", "ana", sts, "ana", sts),
            # unknown approver → the m_empleado existence gate drops the header
            ("PE", "10", "10", "10|01", "ALM9", d, "APROBADO", "E9", "bob", sts, "bob", sts),
        ],
        "id_pais string, id_compania string, cod_compania string, id_sucursal string, "
        "cod_almacen_emisor string, fecha_inventario date, estado string, "
        "cod_empleado_aprobador string, usuario_creacion string, "
        "fecha_creacion timestamp, usuario_modificacion string, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_toma_inventario", "pe01"))
    spark.createDataFrame(
        [("10|01", "ALM1", "10|ALM1", "10|A1", d, D("5")),
         ("10|01", "ALM9", "10|ALM9", "10|A1", d, D("7"))],
        "id_sucursal string, cod_almacen_emisor string, id_almacen string, "
        "id_articulo string, fecha_inventario date, stock_final decimal(30,4)",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_toma_inventario_detalle", "pe01"))
    spark.createDataFrame(
        [("10|01", "10|A1", "202505", D("12.5"), D("100"), D("40"), D("50"), D("90"))],
        "id_sucursal string, id_articulo string, id_periodo string, "
        "imp_cpm decimal(30,4), imp_saldo_inicial decimal(30,4), "
        "imp_ingreso decimal(30,4), imp_salida decimal(30,4), imp_saldo_final decimal(30,4)",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_cierre_inventario_cpm", "pe01"))
    spark.createDataFrame(
        [("10|A1", D("10"))], "id_articulo string, cant_unidad_paquete decimal(38,12)"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_articulo", "pe01"))
    spark.createDataFrame(
        [("10", "E1", "ANA APROBADORA")],
        "cod_compania string, cod_empleado string, nomb_empleado string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_empleado", "pe01"))
    spark.createDataFrame(
        [("10", "PEN")], "id_compania string, cod_moneda_mn string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_parametro", "pe01"))
    spark.createDataFrame(
        [("10", "PEN", d, D("3.75"), D("2.5"))],
        "cod_compania string, cod_moneda string, fecha date, "
        "tc_venta decimal(12,6), tc_compra decimal(12,6)",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_tipo_cambio", "pe01"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves([JobConfig("domain", "t_saldos_iniciales_lite", 1, periods=2)],
                    DOMAIN_JOBS, mk)
    assert res[0].status == "succeeded", res[0].error
    rows = tx_read(spark, lake.table_path(Layer.DOMAIN, "t_saldos_iniciales")).collect()
    assert len(rows) == 1                # ALM9 header dropped: unknown approver
    r = rows[0]
    assert r["cant_cajafisica_inicial"] == Decimal("5.0000")
    assert r["cant_unidades_inicial"] == Decimal("50.0000")     # 5 × 10 units/pack
    assert r["imp_valorizado_mn"] == Decimal("62.5000")          # 5 × 12.5 CPM
    # fx branch through tc_compra: 12.5/2.5 = 5; 62.5/2.5 = 25
    assert r["precio_unitario_me"] == Decimal("5.0000")
    assert r["imp_valorizado_me"] == Decimal("25.0000")
    assert r["imp_saldo_inicial"] == Decimal("100.0000")
    assert r["imp_valorizado_ingreso"] == Decimal("40.0000")
    assert r["imp_valorizado_salida"] == Decimal("50.0000")
    assert r["usuario_creacion"] == "ana" and r["es_eliminado"] == "0"
    assert dict(tx_read(spark,
        lake.table_path(Layer.DOMAIN, "t_saldos_iniciales")).dtypes
    )["imp_valorizado_mn"] == "decimal(30,4)"


def seed_cumplimiento_stage(spark, lake):
    """Shared stage fixture for the fulfillment job: main + ADES order
    lines, ranked warehouse movements, sale documents incl. an NCC credit
    note, the expected-sale mapping, and unit-conversion masters. Used by
    the hand-computed test below AND the DuckDB differential in
    tests/test_job_oracles.py. Returns the SchemaRegistry."""
    D = Decimal
    d = dt.date(2025, 5, 3)
    ts = dt.datetime(2025, 5, 3, 8)
    reg = SchemaRegistry({
        "t_documento_pedido": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_almacen", "string"), ("cod_documento_pedido", "string"),
            ("nro_documento_pedido", "string"), ("cod_tipo_pedido", "string"),
            ("cod_documento_pedido_origen", "string"), ("cod_vendedor", "string"),
            ("cod_condicion_pago", "string"), ("cod_fuerza_venta", "string"),
            ("fecha_pedido", "date"), ("fecha_entrega", "date"),
        ],
        "t_documento_pedido_detalle": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_almacen", "string"), ("cod_documento_pedido", "string"),
            ("nro_documento_pedido", "string"), ("cod_cliente", "string"),
            ("cod_articulo", "string"), ("cod_procedimiento", "string"),
            ("cod_zona", "string"), ("cod_ruta", "string"), ("cod_modulo", "string"),
            ("cod_lista_precio", "string"), ("cod_documento_almacen", "string"),
            ("nro_documento_almacen", "string"), ("id_salesforce", "string"),
            ("fecha_pedido", "date"),
            ("cant_paquete", "numeric(38,12)"), ("cant_unidad", "numeric(38,12)"),
            ("cant_paquete_asignado", "numeric(38,12)"),
            ("cant_unidad_asignado", "numeric(38,12)"),
            ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp"),
        ],
        "t_documento_pedido_ades": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_almacen_emisor", "string"), ("cod_documento_transaccion", "string"),
            ("nro_comprobante", "string"), ("cod_tipo_pedido", "string"),
            ("cod_tipo_documento_origen", "string"), ("cod_vendedor", "string"),
            ("cod_condicion_pago", "string"), ("cod_fuerza_venta", "string"),
            ("fecha_pedido", "date"), ("fecha_entrega", "date"),
        ],
        "t_documento_pedido_ades_detalle": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_almacen_emisor", "string"), ("cod_documento_transaccion", "string"),
            ("nro_comprobante", "string"), ("cod_cliente", "string"),
            ("cod_articulo", "string"), ("cod_procedimiento", "string"),
            ("cod_zona_distribucion", "string"), ("cod_ruta_distribucion", "string"),
            ("cod_modulo", "string"), ("cod_lista_precios", "string"),
            ("cod_tipo_documento_almacen", "string"), ("nro_documento_almacen", "string"),
            ("id_salesforce", "string"), ("fecha_pedido", "date"),
            ("cantidad_cajas", "numeric(38,12)"), ("cantidad_botellas", "numeric(38,12)"),
            ("cantidad_cajas_asignada", "numeric(38,12)"),
            ("cantidad_botellas_asignada", "numeric(38,12)"),
            ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp"),
        ],
        "t_movimiento_inventario": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_almacen_emisor_origen", "string"), ("cod_documento_transaccion", "string"),
            ("nro_documento_almacen", "string"), ("nro_documento_movimiento", "string"),
            ("cod_transportista", "string"), ("cod_vehiculo", "string"),
            ("cod_chofer", "string"), ("cod_estado_comprobante", "string"),
            ("fecha_emision", "date"), ("fecha_almacen", "date"),
        ],
        "t_documento_venta": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_almacen", "string"), ("cod_documento_venta", "string"),
            ("nro_documento_venta", "string"), ("cod_documento_pedido", "string"),
            ("nro_documento_pedido", "string"), ("cod_documento_almacen", "string"),
            ("nro_documento_almacen", "string"), ("cod_cliente", "string"),
            ("cod_procedimiento", "string"), ("cod_estado_comprobante", "string"),
            ("fecha_liquidacion", "date"),
        ],
        "t_documento_venta_detalle": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_almacen", "string"), ("cod_documento_venta", "string"),
            ("nro_documento_venta", "string"), ("cod_articulo", "string"),
            ("cod_operacion", "string"),
            ("cant_paquete", "numeric(38,12)"), ("cant_unidad", "numeric(38,12)"),
        ],
        "i_relacion_proced_venta": [
            ("cod_compania", "string"), ("cod_documento_pedido", "string"),
            ("cod_procedimiento_pedido", "string"), ("cod_documento_venta", "string"),
            ("cod_procedimiento_venta", "string"), ("cod_operacion_venta", "string"),
            ("cod_tipo_pedido", "string"),
        ],
        "m_procedimiento": [
            ("cod_compania", "string"), ("cod_documento_transaccion", "string"),
            ("cod_procedimiento", "string"), ("cod_tipo_operacion", "string"),
        ],
        "m_articulo": [
            ("cod_compania", "string"), ("cod_articulo", "string"),
            ("cant_unidad_paquete", "numeric(38,12)"),
            ("cant_unidad_volumen", "numeric(38,12)"),
        ],
        "m_compania": [("cod_compania", "string"), ("cod_pais", "string"),
                        ("desc_compania", "string"), ("es_activo", "string"),
                        ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp")],
        "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
    })
    spark.createDataFrame(
        [("10", "01", "AL1", "200", "P1", "TP1", "OR1", "V9", "CP1", "F1", d, d)],
        "cod_compania string, cod_sucursal string, cod_almacen string, "
        "cod_documento_pedido string, nro_documento_pedido string, cod_tipo_pedido string, "
        "cod_documento_pedido_origen string, cod_vendedor string, cod_condicion_pago string, "
        "cod_fuerza_venta string, fecha_pedido date, fecha_entrega date",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_pedido", "pe01"))
    spark.createDataFrame(
        [
            # two order lines of A1, dispatched doc GRA/900: cajas 2, bot 10,
            # asignada cajas 2 bot 5
            ("10", "01", "AL1", "200", "P1", "C1", "A1", "P01", "Z1", "R1", "M1",
             "LP1", "GRA", "900", "SF1", d, D("1"), D("5"), D("1"), D("2"), ts, ts),
            ("10", "01", "AL1", "200", "P1", "C1", "A1", "P01", "Z1", "R1", "M1",
             "LP1", "GRA", "900", "SF1", d, D("1"), D("5"), D("1"), D("3"), ts, ts),
            # A2: never dispatched (no warehouse document)
            ("10", "01", "AL1", "200", "P1", "C1", "A2", "P01", "Z1", "R1", "M1",
             "LP1", None, None, "SF1", d, D("1"), D("0"), D("1"), D("0"), ts, ts),
            # A3: credit-note procedure — its expected sale doc is NCC
            ("10", "01", "AL1", "200", "P1", "C1", "A3", "P03", "Z1", "R1", "M1",
             "LP1", "GRA", "900", "SF1", d, D("1"), D("0"), D("1"), D("0"), ts, ts),
        ],
        "cod_compania string, cod_sucursal string, cod_almacen string, "
        "cod_documento_pedido string, nro_documento_pedido string, cod_cliente string, "
        "cod_articulo string, cod_procedimiento string, cod_zona string, cod_ruta string, "
        "cod_modulo string, cod_lista_precio string, cod_documento_almacen string, "
        "nro_documento_almacen string, id_salesforce string, fecha_pedido date, "
        "cant_paquete decimal(38,12), cant_unidad decimal(38,12), "
        "cant_paquete_asignado decimal(38,12), cant_unidad_asignado decimal(38,12), "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_pedido_detalle", "pe01"))
    spark.createDataFrame(
        [("10", "01", "AL1", "300", "N3", "TP1", "OR1", "V9", "CP1", "F1", d, d)],
        "cod_compania string, cod_sucursal string, cod_almacen_emisor string, "
        "cod_documento_transaccion string, nro_comprobante string, cod_tipo_pedido string, "
        "cod_tipo_documento_origen string, cod_vendedor string, cod_condicion_pago string, "
        "cod_fuerza_venta string, fecha_pedido date, fecha_entrega date",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_pedido_ades", "pe01"))
    spark.createDataFrame(
        [("10", "01", "AL1", "300", "N3", "C1", "A1", "P02", "Z1", "R1", "M1",
          "LP1", None, None, "SF3", d, D("1"), D("0"), D("0"), D("0"), ts, ts)],
        "cod_compania string, cod_sucursal string, cod_almacen_emisor string, "
        "cod_documento_transaccion string, nro_comprobante string, cod_cliente string, "
        "cod_articulo string, cod_procedimiento string, cod_zona_distribucion string, "
        "cod_ruta_distribucion string, cod_modulo string, cod_lista_precios string, "
        "cod_tipo_documento_almacen string, nro_documento_almacen string, "
        "id_salesforce string, fecha_pedido date, cantidad_cajas decimal(38,12), "
        "cantidad_botellas decimal(38,12), cantidad_cajas_asignada decimal(38,12), "
        "cantidad_botellas_asignada decimal(38,12), fecha_creacion timestamp, "
        "fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_pedido_ades_detalle", "pe01"))
    spark.createDataFrame(
        [
            # two movements of GRA/900: M002 (LIQ) is latest → orden 1
            ("10", "01", "AL1", "GRA", "900", "M001", "T1", "V01", "CH1", "PLI", d, d),
            ("10", "01", "AL1", "GRA", "900", "M002", "T2", "V02", "CH2", "LIQ", d, d),
        ],
        "cod_compania string, cod_sucursal string, cod_almacen_emisor_origen string, "
        "cod_documento_transaccion string, nro_documento_almacen string, "
        "nro_documento_movimiento string, cod_transportista string, cod_vehiculo string, "
        "cod_chofer string, cod_estado_comprobante string, fecha_emision date, "
        "fecha_almacen date",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_movimiento_inventario", "pe01"))
    spark.createDataFrame(
        [
            ("10", "01", "AL1", "FAC", "0001", "200", "P1", "GRA", "900", "C1",
             "PR1", "001", d),
            # credit note against the same order/dispatch: sign flip
            ("10", "01", "AL1", "NCC", "0002", "200", "P1", "GRA", "900", "C1",
             "PR1", "001", d),
        ],
        "cod_compania string, cod_sucursal string, cod_almacen string, "
        "cod_documento_venta string, nro_documento_venta string, "
        "cod_documento_pedido string, nro_documento_pedido string, "
        "cod_documento_almacen string, nro_documento_almacen string, cod_cliente string, "
        "cod_procedimiento string, cod_estado_comprobante string, fecha_liquidacion date",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_venta", "pe01"))
    spark.createDataFrame(
        [
            ("10", "01", "AL1", "FAC", "0001", "A1", "OPV", D("1"), D("5")),
            ("10", "01", "AL1", "NCC", "0002", "A3", "OPV", D("0"), D("2")),
        ],
        "cod_compania string, cod_sucursal string, cod_almacen string, "
        "cod_documento_venta string, nro_documento_venta string, cod_articulo string, "
        "cod_operacion string, cant_paquete decimal(38,12), cant_unidad decimal(38,12)",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_documento_venta_detalle", "pe01"))
    spark.createDataFrame(
        [("10", "200", "P01", "FAC", "PR1", "OPV", "TP1"),
         ("10", "200", "P03", "NCC", "PR1", "OPV", "TP1"),
         ("10", "300", "P02", "FAC", "PR1", "OPV", "TP1")],
        "cod_compania string, cod_documento_pedido string, cod_procedimiento_pedido string, "
        "cod_documento_venta string, cod_procedimiento_venta string, "
        "cod_operacion_venta string, cod_tipo_pedido string",
    ).write.parquet(lake.table_path(Layer.STAGE, "i_relacion_proced_venta", "pe01"))
    spark.createDataFrame(
        [("10", "200", "P01", "ven"), ("10", "300", "P02", "pro"),
         ("10", "200", "P03", "ven")],
        "cod_compania string, cod_documento_transaccion string, cod_procedimiento string, "
        "cod_tipo_operacion string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_procedimiento", "pe01"))
    spark.createDataFrame(
        [("10", "A1", D("10"), D("2")), ("10", "A2", D("10"), D("2")),
         ("10", "A3", D("10"), D("2"))],
        "cod_compania string, cod_articulo string, cant_unidad_paquete decimal(38,12), "
        "cant_unidad_volumen decimal(38,12)",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_articulo", "pe01"))
    spark.createDataFrame(
        [("10", "PE", "AJE", "T", ts, ts)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))
    return reg


def test_t_pedido_cumplimiento(spark, lake):
    """Full fulfillment pipeline, hand-computed: line rollup with the A4
    block, W1-ranked dispatch linkage gating despachado, expected-sale
    mapping through i_relacion_proced_venta, NINE-key sold resumen with the
    NCC sign flip, and the Ven-split física/volumen unit conversions."""
    D = Decimal
    d = dt.date(2025, 5, 3)
    reg = seed_cumplimiento_stage(spark, lake)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves(
        [JobConfig("domain", "t_pedido_cumplimiento_lite", 1, periods=2)],
        DOMAIN_JOBS, mk,
    )
    assert res[0].status == "succeeded", res[0].error
    rows = {(r["id_pedido"], r["id_producto"]): r for r in tx_read(spark,
        lake.table_path(Layer.DOMAIN, "t_pedido_cumplimiento")).collect()}
    a1 = rows[("10|01|200|P1|C1", "10|A1")]
    assert a1["id_reparto"] == "10|01|AL1|GRA|900"      # dispatch-doc linkage
    assert a1["id_sucursal"] == "10|01" and a1["id_pais"] == "PE"
    # ordered: cajas 2 + botellas 10/10 = 3 física; (2·10+10)·2 = 60 volumen
    assert a1["cant_cajafisica_ped"] == Decimal("3.000000000000")
    assert a1["cant_cajavolumen_ped"] == Decimal("60.000000000000")
    # asignada cajas 2, botellas 5 → 2.5 física / 50 volumen; the LIQ
    # movement exists, so despachado == asignado
    assert a1["cant_cajafisica_asignado_ped"] == Decimal("2.500000000000")
    assert a1["cant_cajafisica_desp"] == Decimal("2.500000000000")
    assert a1["cant_cajavolumen_desp"] == Decimal("50.000000000000")
    # sold through the 9-key resumen: only the FAC doc matches A1's
    # expected-sale mapping → cajas 1, botellas 5
    assert a1["cant_caja_fisica_ven"] == Decimal("1.500000000000")
    assert a1["cant_caja_volumen_ven"] == Decimal("30.000000000000")
    # Pro buckets all zero for a 'ven' line
    assert a1["cant_cajafisica_ped_pro"] == Decimal("0.000000000000")
    assert a1["fecha_liquidacion"] == d
    # A3's expected sale doc is the credit note → the NCC sign flip drives
    # the sold quantities NEGATIVE: −(0 + 2/10) física, (0·10−2)·2 volumen
    a3 = rows[("10|01|200|P1|C1", "10|A3")]
    assert a3["cant_caja_fisica_ven"] == Decimal("-0.200000000000")
    assert a3["cant_caja_volumen_ven"] == Decimal("-4.000000000000")
    a2 = rows[("10|01|200|P1|C1", "10|A2")]
    assert a2["id_reparto"] is None                     # no warehouse document
    assert a2["cant_cajafisica_ped"] == Decimal("1.000000000000")
    assert a2["cant_cajafisica_desp"] == Decimal("0.000000000000")
    assert a2["cant_caja_fisica_ven"] is None           # no matched sale rows
    # ADES-only '300' order landed through the anti-join union as a 'pro'
    # procedure → Pro bucket
    ades = rows[("10|01|300|N3|C1", "10|A1")]
    assert ades["cant_cajafisica_ped_pro"] == Decimal("1.000000000000")
    assert ades["cant_cajafisica_ped"] == Decimal("0.000000000000")


def test_t_visita_composite_keys(spark, lake):
    """5-part visit surrogate key, period filter on fecha_visita, constant
    audit flags (reference t_visita.py:22-53)."""
    reg = SchemaRegistry({
        "t_historico_visita": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("cod_cliente", "string"), ("cod_fuerza_venta", "string"),
            ("fecha_visita", "date"), ("fecha_modificacion", "timestamp"),
        ],
        "m_compania": [("cod_compania", "string"), ("cod_pais", "string"),
                        ("desc_compania", "string"), ("es_activo", "string"),
                        ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp")],
        "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
    })
    ts = dt.datetime(2025, 5, 10, 9, 0)
    spark.createDataFrame(
        [
            ("10", "S1", "C1", "FV1", dt.date(2025, 5, 10), ts),
            ("10", "S1", "C1", "FV1", dt.date(2024, 1, 3), ts),  # outside window
        ],
        "cod_compania string, cod_sucursal string, cod_cliente string, "
        "cod_fuerza_venta string, fecha_visita date, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_historico_visita", "pe01"))
    spark.createDataFrame(
        [("10", "PE", "AJE", "T", ts, ts)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves([JobConfig("domain", "t_visita_lite", 1, periods=2)], DOMAIN_JOBS, mk)
    assert res[0].status == "succeeded", res[0].error
    rows = tx_read(spark, lake.table_path(Layer.DOMAIN, "t_visita")).collect()
    assert len(rows) == 1                          # 2024 visit pruned
    r = rows[0]
    assert r["id_visita"] == "20250510|10|C1|S1|FV1"
    assert r["id_fuerza_venta"] == "10|S1|FV1"
    assert r["id_cliente"] == "10|C1"
    assert r["id_periodo"] == "202505"
    assert (r["es_activo"], r["es_eliminado"]) == (1, 0)
    assert r["cod_visita"] is None


def test_t_movimiento_inventario_whitelist_and_transito(spark, lake):
    """Document-type whitelist as left_semi (no fan-out on duplicated
    bridge rows), LEFT transit join with existence flag and coalesce
    defaults (reference t_movimiento_inventario.py:41-145)."""
    extra_cols = [
        ("id_movimiento_ingreso", "string"), ("id_compania_referencia", "string"),
        ("id_sucursal_referencia", "string"), ("id_almacen_referencia", "string"),
        ("cod_transportista", "string"), ("cod_vehiculo", "string"),
        ("id_vendedor", "string"), ("id_persona", "string"),
        ("id_procedimiento", "string"), ("fecha_emision", "date"),
        ("fecha_liquidacion", "date"), ("nro_documento_movimiento", "string"),
        ("nro_serie_alm", "string"), ("nropricoal", "string"),
        ("cod_tipo_documento_liquidacion", "string"),
        ("nro_documento_liquidacion", "string"), ("cod_documento_transaccion", "string"),
        ("cod_documento_transaccion1", "string"), ("nro_documento_almacen1", "string"),
        ("cod_tipo_documento_referencia2", "string"),
        ("nro_documento_almacen_referencia2", "string"),
        ("usuario_creacion", "string"), ("usuario_modificacion", "string"),
    ]
    reg = SchemaRegistry({
        "t_movimiento_inventario": [
            ("id_movimiento_almacen", "string"), ("id_documento_almacen", "string"),
            ("cod_compania", "string"), ("id_sucursal", "string"), ("id_almacen", "string"),
            ("cod_procedimiento", "string"), ("fecha_almacen", "date"),
            ("nro_documento_almacen", "string"), ("cod_estado_comprobante", "string"),
            ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp"),
            *extra_cols,
        ],
        "t_movimiento_inventario_transito": [
            ("id_documento_almacen", "string"), ("id_compania_destino", "string"),
            ("id_sucursal_destino", "string"), ("id_almacen_destino", "string"),
            ("estado", "string"),
        ],
        "m_documento_almacen": [("cod_compania", "string"), ("cod_transaccion", "string")],
        "m_documento_transaccion": [("cod_compania", "string"),
                                     ("cod_documento_transaccion", "string")],
        "m_compania": [("cod_compania", "string"), ("cod_pais", "string"),
                        ("desc_compania", "string"), ("es_activo", "string"),
                        ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp")],
        "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
    })
    d, ts = dt.date(2025, 5, 5), dt.datetime(2025, 5, 5, 8, 0)
    base_ddl = ("id_movimiento_almacen string, id_documento_almacen string, "
                "cod_compania string, id_sucursal string, id_almacen string, "
                "cod_procedimiento string, fecha_almacen date, "
                "nro_documento_almacen string, cod_estado_comprobante string, "
                "fecha_creacion timestamp, fecha_modificacion timestamp, "
                + ", ".join(f"{c} {t}" for c, t in extra_cols))

    def mov_row(mid, doc, proc, nro, estado):
        extras = {c: None for c, _ in extra_cols}
        extras.update({"cod_transportista": "T7", "cod_vehiculo": "V7",
                       "nro_serie_alm": "S01", "nropricoal": "PC1",
                       "fecha_emision": d, "usuario_creacion": "ana"})
        return {"id_movimiento_almacen": mid, "id_documento_almacen": doc,
                "cod_compania": "10", "id_sucursal": "S1", "id_almacen": "A1",
                "cod_procedimiento": proc, "fecha_almacen": d,
                "nro_documento_almacen": nro, "cod_estado_comprobante": estado,
                "fecha_creacion": ts, "fecha_modificacion": ts, **extras}

    spark.createDataFrame(
        [
            mov_row("MV1", "DA1", "ING", "N1", None),   # transit
            mov_row("MV2", "DA2", "ING", "N2", "001"),  # no transit
            mov_row("MV3", "DA3", "ZZZ", "N3", "001"),  # not whitelisted
        ],
        base_ddl,
    ).write.parquet(lake.table_path(Layer.STAGE, "t_movimiento_inventario", "pe01"))
    spark.createDataFrame(
        [("DA1", "20", "S9", "A9", "EN TRANSITO")],
        "id_documento_almacen string, id_compania_destino string, id_sucursal_destino string, "
        "id_almacen_destino string, estado string",
    ).write.parquet(lake.table_path(Layer.STAGE, "t_movimiento_inventario_transito", "pe01"))
    # duplicated bridge rows — an inner join would fan MV1/MV2 out ×2
    spark.createDataFrame(
        [("10", "ING"), ("10", "ING")], "cod_compania string, cod_transaccion string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_documento_almacen", "pe01"))
    spark.createDataFrame(
        [("10", "ING")], "cod_compania string, cod_documento_transaccion string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_documento_transaccion", "pe01"))
    spark.createDataFrame(
        [("10", "PE", "AJE", "T", ts, ts)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    res = run_waves(
        [JobConfig("domain", "t_movimiento_inventario_lite", 1, periods=2)], DOMAIN_JOBS, mk
    )
    assert res[0].status == "succeeded", res[0].error
    rows = {r["id_movimiento_almacen"]: r for r in tx_read(spark,
        lake.table_path(Layer.DOMAIN, "t_movimiento_inventario")).collect()}
    assert set(rows) == {"MV1", "MV2"}             # ZZZ dropped, no ×2 fan-out
    assert rows["MV1"]["tiene_transito"] == 1
    assert rows["MV1"]["id_almacen_destino"] == "A9"
    assert rows["MV1"]["cod_estado_comprobante"] == "000"   # coalesce default
    assert rows["MV2"]["tiene_transito"] == 0
    assert rows["MV2"]["id_almacen_destino"] is None
    assert rows["MV2"]["cod_estado_comprobante"] == "001"
    # full serving surface: carrier/vehicle ids minted, serial/pre refs
    # pass through, liquidation + ref1 coalesce defaults, es_eliminado is
    # the reference's hard-coded 1
    assert rows["MV1"]["id_transportista"] == "10|T7"
    assert rows["MV1"]["id_medio_transporte"] == "10|V7"
    assert rows["MV1"]["nro_serie_almacen"] == "S01"
    assert rows["MV1"]["nro_comprobante_pre"] == "PC1"
    assert rows["MV1"]["cod_documento_liquidacion"] == "000"
    assert rows["MV1"]["cod_documento_transaccion_ref1"] == ""
    assert rows["MV1"]["usuario_creacion"] == "ana"
    assert rows["MV1"]["es_eliminado"] == 1


def test_run_waves_retries_flaky_job(spark):
    """A job that fails on its first attempt succeeds under retries=1; with
    retries=0 the same job records the failure."""
    from cdk_datalake_analytics_comercial_spark.runner import (
        JobConfig,
        JobRegistry,
        run_waves,
    )

    attempts = {"n": 0}
    reg = JobRegistry()

    @reg.register("flaky")
    def flaky(ctx):
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise RuntimeError("transient")

    cfgs = [JobConfig("domain", "flaky", 1)]

    attempts["n"] = 0
    res = run_waves(cfgs, reg, lambda c: None, retries=0)
    assert res[0].status == "failed" and attempts["n"] == 1

    attempts["n"] = 0
    res = run_waves(cfgs, reg, lambda c: None, retries=1)
    assert res[0].status == "succeeded" and attempts["n"] == 2


def test_rows_written_observed_per_job(spark, lake, tmp_path):
    """Every job's status-log line carries the rows it wrote, observed by
    piggybacking count metrics on the job's own write actions (no extra
    scan) — on a first run and on a rerun over the existing tables."""
    import json

    from cdk_datalake_analytics_comercial_spark.runner import write_status_log
    from cdk_datalake_analytics_comercial_spark.sources.writer import (
        merge_upsert, write_table,
    )

    def writer_job(ctx):
        df = ctx.spark.range(7).select(F.col("id").alias("k"))
        write_table(df, ctx.catalog.table_path(Layer.DOMAIN, "obs_plain"))
        merge_upsert(
            ctx.spark,
            ctx.spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("v")),
            ctx.catalog.table_path(Layer.DOMAIN, "obs_merged"),
            keys=["k"],
        )

    reg = JobRegistry()
    reg.add("writer_job", writer_job)
    results = run_waves([JobConfig("domain", "writer_job", 1)], reg, make_ctx(spark, lake))
    assert results[0].status == "succeeded"
    assert results[0].rows_written == 12  # 7 overwrite + 5 merge
    assert results[0].writes == 2
    log = tmp_path / "status.jsonl"
    write_status_log(results, str(log), run_id="r1")
    line = json.loads(log.read_text().splitlines()[0])
    assert line["rows_written"] == 12 and line["writes"] == 2

    # a rerun over the existing tables observes identically
    results = run_waves(
        [JobConfig("domain", "writer_job", 1)], reg, make_ctx(spark, lake)
    )
    assert results[0].status == "succeeded"
    assert results[0].rows_written == 12
