"""Spec-generated conform/passthrough dim family: one chained run per
family (stage → domain conform → analytics passthrough), upsert
idempotence, and the lit(NULL) placeholder column."""

import datetime as dt
from decimal import Decimal

from cdk_datalake_analytics_comercial_spark.core.catalog import Layer
from cdk_datalake_analytics_comercial_spark.jobs import ANALYTICS_JOBS, DOMAIN_JOBS
from cdk_datalake_analytics_comercial_spark.runner import JobConfig, JobContext, run_waves
from cdk_datalake_analytics_comercial_spark.sources.registry import SchemaRegistry
from cdk_datalake_analytics_comercial_spark.sources.txlog import tx_read

AS_OF = dt.date(2025, 5, 15)
TS = dt.datetime(2025, 4, 1)


def _seed_bridge(spark, lake, reg_dict):
    reg_dict.update(
        {
            "m_compania": [
                ("cod_compania", "string"), ("cod_pais", "string"),
                ("desc_compania", "string"), ("es_activo", "string"),
                ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp"),
            ],
            "m_pais": [("id_pais", "string"), ("cod_pais", "string"), ("desc_pais", "string")],
        }
    )
    spark.createDataFrame(
        [("10", "PE", "AJE", "T", TS, TS)],
        "cod_compania string, cod_pais string, desc_compania string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_compania", "pe01"))
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_pais", "principal"))


def test_forma_pago_family_chain_and_idempotence(spark, lake):
    reg_dict = {
        "m_condicion_pago": [
            ("cod_compania", "string"), ("cod_forma_pago", "string"),
            ("desc_forma_pago", "string"),
            ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp"),
        ],
    }
    _seed_bridge(spark, lake, reg_dict)
    spark.createDataFrame(
        [("10", "CONT", "CONTADO", TS, TS), ("10", "CRED", "CREDITO 30D", TS, TS)],
        "cod_compania string, cod_forma_pago string, desc_forma_pago string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_condicion_pago", "pe01"))
    reg = SchemaRegistry(reg_dict)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    for _ in range(2):  # second run must not duplicate (merge upsert)
        dr = run_waves([JobConfig("domain", "m_forma_pago_lite", 1)], DOMAIN_JOBS, mk)
        assert dr[0].status == "succeeded", dr[0].error
        ar = run_waves([JobConfig("analytics", "dim_forma_pago_lite", 1)], ANALYTICS_JOBS, mk)
        assert ar[0].status == "succeeded", ar[0].error

    dom = {r["id_forma_pago"]: r for r in tx_read(spark,
        lake.table_path(Layer.DOMAIN, "m_forma_pago")).collect()}
    assert set(dom) == {"10|CONT", "10|CRED"}
    assert dom["10|CONT"]["nomb_forma_pago"] == "CONTADO"
    assert dom["10|CONT"]["fecha_creacion"] == dt.date(2025, 4, 1)  # DateType cast

    dim = {r["id_forma_pago"]: r for r in tx_read(spark,
        lake.table_path(Layer.ANALYTICS, "dim_forma_pago")).collect()}
    assert set(dim) == {"10|CONT", "10|CRED"}          # idempotent rerun, no dupes
    assert dim["10|CRED"]["desc_forma_pago"] == "CREDITO 30D"  # renamed downstream


def test_medio_transporte_numeric_attrs(spark, lake):
    reg_dict = {
        "m_vehiculo": [
            ("cod_compania", "string"), ("cod_medio_transporte", "string"),
            ("cod_tipo_medio_transporte", "string"), ("desc_tipo_medio_transporte", "string"),
            ("cant_peso_maximo", "int"), ("cant_tarimas_camion", "numeric(38,12)"),
            ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp"),
        ],
    }
    _seed_bridge(spark, lake, reg_dict)
    spark.createDataFrame(
        [("10", "V01", "CAM", "CAMION 10T", 10000, Decimal("12"), TS, TS)],
        "cod_compania string, cod_medio_transporte string, cod_tipo_medio_transporte string, "
        "desc_tipo_medio_transporte string, cant_peso_maximo int, "
        "cant_tarimas_camion decimal(38,12), fecha_creacion timestamp, "
        "fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_vehiculo", "pe01"))
    reg = SchemaRegistry(reg_dict)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    dr = run_waves([JobConfig("domain", "m_medio_transporte_lite", 1)], DOMAIN_JOBS, mk)
    assert dr[0].status == "succeeded", dr[0].error
    ar = run_waves(
        [JobConfig("analytics", "dim_medio_transporte_lite", 1)], ANALYTICS_JOBS, mk
    )
    assert ar[0].status == "succeeded", ar[0].error

    r = tx_read(spark, lake.table_path(Layer.ANALYTICS, "dim_medio_transporte")).collect()[0]
    assert r["id_medio_transporte"] == "10|V01"
    assert r["cant_peso_maximo"] == 10000
    assert r["cant_tarimas"] == Decimal("12.000000000000")
    assert r["desc_tipo_medio_transporte"] == "CAMION 10T"


def test_dim_pais_null_placeholder(spark, lake):
    reg = SchemaRegistry({"m_pais": [("id_pais", "string"), ("cod_pais", "string"),
                                      ("desc_pais", "string")]})
    spark.createDataFrame(
        [("PE", "PE", "PERU")], "id_pais string, cod_pais string, desc_pais string"
    ).write.parquet(lake.table_path(Layer.DOMAIN, "m_pais"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    ar = run_waves([JobConfig("analytics", "dim_pais_lite", 1)], ANALYTICS_JOBS, mk)
    assert ar[0].status == "succeeded", ar[0].error
    r = tx_read(spark, lake.table_path(Layer.ANALYTICS, "dim_pais")).collect()[0]
    assert r["desc_pais"] == "PERU"
    assert r["desc_pais_comercial"] is None        # lit(NULL) placeholder column
    assert dict(r.asDict())["cod_pais"] == "PE"


def test_m_tipo_venta_dcv_whitelist_and_default(spark, lake):
    """Bespoke bridge dim: only DCV-transaction document types survive, the
    description default is 'ninguno', id is the 3-part pipe key; then the
    spec-generated dim_tipo_venta passthrough renames downstream."""
    reg_dict = {
        "m_procedimiento": [
            ("cod_compania", "string"), ("cod_documento_transaccion", "string"),
            ("cod_procedimiento", "string"), ("desc_procedimiento", "string"),
            ("cod_tipo_operacion", "string"),
        ],
        "m_tipo_documento": [("cod_compania", "string"), ("cod_tipo_documento", "string")],
        "m_tipo_transaccion": [("cod_compania", "string"), ("cod_tipo_transaccion", "string"),
                                ("cod_documento_transaccion", "string")],
    }
    _seed_bridge(spark, lake, reg_dict)
    spark.createDataFrame(
        [
            ("10", "FAC", "P01", None, "ven"),      # null desc → 'ninguno'
            ("10", "GUI", "P02", "TRASLADO", "tra"),  # GUI not DCV → dropped
        ],
        "cod_compania string, cod_documento_transaccion string, cod_procedimiento string, "
        "desc_procedimiento string, cod_tipo_operacion string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_procedimiento", "pe01"))
    spark.createDataFrame(
        [("10", "FAC"), ("10", "GUI")], "cod_compania string, cod_tipo_documento string"
    ).write.parquet(lake.table_path(Layer.STAGE, "m_tipo_documento", "pe01"))
    spark.createDataFrame(
        [("10", "DCV", "FAC"), ("10", "ALM", "GUI")],
        "cod_compania string, cod_tipo_transaccion string, cod_documento_transaccion string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_tipo_transaccion", "pe01"))
    reg = SchemaRegistry(reg_dict)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    dr = run_waves([JobConfig("domain", "m_tipo_venta_lite", 1)], DOMAIN_JOBS, mk)
    assert dr[0].status == "succeeded", dr[0].error
    rows = tx_read(spark, lake.table_path(Layer.DOMAIN, "m_tipo_venta")).collect()
    assert len(rows) == 1                              # GUI (non-DCV) dropped
    r = rows[0]
    assert r["id_tipo_venta"] == "10|FAC|P01"
    assert r["nomb_tipo_venta"] == "ninguno"           # coalesce default
    assert r["cod_tipo_operacion"] == "ven"
    assert r["fecha_creacion"] == AS_OF                # injected clock

    ar = run_waves([JobConfig("analytics", "dim_tipo_venta_lite", 1)], ANALYTICS_JOBS, mk)
    assert ar[0].status == "succeeded", ar[0].error
    d = tx_read(spark, lake.table_path(Layer.ANALYTICS, "dim_tipo_venta")).collect()[0]
    assert d["desc_tipo_venta"] == "ninguno"           # renamed downstream


def test_m_almacen_id_passthrough_no_dates(spark, lake):
    """`m_almacen.py:15-29`: extraction-minted id passed through (no
    surrogate mint), no date stamps in the output schema."""
    reg_dict = {
        "m_almacen": [
            ("id_almacen", "string"), ("cod_compania", "string"),
            ("id_sucursal", "string"), ("cod_almacen", "string"),
            ("desc_almacen", "string"), ("tipo_almacen", "string"),
        ],
    }
    _seed_bridge(spark, lake, reg_dict)
    spark.createDataFrame(
        [("10|S1|A01", "10", "10|S1", "A01", "ALMACEN CENTRAL", "PROPIO")],
        "id_almacen string, cod_compania string, id_sucursal string, cod_almacen string, "
        "desc_almacen string, tipo_almacen string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_almacen", "pe01"))
    reg = SchemaRegistry(reg_dict)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    dr = run_waves([JobConfig("domain", "m_almacen_lite", 1)], DOMAIN_JOBS, mk)
    assert dr[0].status == "succeeded", dr[0].error
    df = tx_read(spark, lake.table_path(Layer.DOMAIN, "m_almacen"))
    r = df.collect()[0]
    assert r["id_almacen"] == "10|S1|A01"              # passthrough, not re-minted
    assert r["id_compania"] == "10"
    assert r["desc_tipo_almacen"] == "PROPIO"
    assert "fecha_creacion" not in df.columns          # date_source="none"


def test_m_fuerza_venta_trims_char_padded_code(spark, lake):
    """`m_fuerza_venta.py:28`: CHAR-padded cod trimmed on the way out."""
    reg_dict = {
        "m_fuerza_venta": [
            ("id_fuerza_venta", "string"), ("cod_compania", "string"),
            ("cod_fuerza_venta", "string"), ("desc_fuerza_venta", "string"),
        ],
    }
    _seed_bridge(spark, lake, reg_dict)
    spark.createDataFrame(
        [("10|FV1", "10", "  FV1  ", "PREVENTA")],
        "id_fuerza_venta string, cod_compania string, cod_fuerza_venta string, "
        "desc_fuerza_venta string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_fuerza_venta", "pe01"))
    reg = SchemaRegistry(reg_dict)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    dr = run_waves([JobConfig("domain", "m_fuerza_venta_lite", 1)], DOMAIN_JOBS, mk)
    assert dr[0].status == "succeeded", dr[0].error
    r = tx_read(spark, lake.table_path(Layer.DOMAIN, "m_fuerza_venta")).collect()[0]
    assert r["cod_fuerza_venta"] == "FV1"              # trimmed
    assert r["desc_fuerza_venta"] == "PREVENTA"


def test_m_lista_precio_clock_dates(spark, lake):
    """`m_lista_precio.py:29-30`: current_date() stamps become the injected
    ctx.as_of clock (SURVEY §7.3.7 reproducibility)."""
    reg_dict = {
        "m_lista_precio": [
            ("id_lista_precio", "string"), ("cod_compania", "string"),
            ("cod_lista_precio", "string"), ("desc_lista_precio", "string"),
        ],
    }
    _seed_bridge(spark, lake, reg_dict)
    spark.createDataFrame(
        [("10|LP1", "10", "LP1 ", "LISTA GENERAL")],
        "id_lista_precio string, cod_compania string, cod_lista_precio string, "
        "desc_lista_precio string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_lista_precio", "pe01"))
    reg = SchemaRegistry(reg_dict)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    dr = run_waves([JobConfig("domain", "m_lista_precio_lite", 1)], DOMAIN_JOBS, mk)
    assert dr[0].status == "succeeded", dr[0].error
    r = tx_read(spark, lake.table_path(Layer.DOMAIN, "m_lista_precio")).collect()[0]
    assert r["cod_lista_precio"] == "LP1"              # trimmed
    assert r["nomb_lista_precio"] == "LISTA GENERAL"
    assert r["fecha_creacion"] == AS_OF                # injected clock, DateType
    assert r["fecha_modificacion"] == AS_OF


def test_m_sucursal_null_placeholders_and_date_cast(spark, lake):
    """`m_sucursal.py:25-35`: dropped Salesforce columns kept as typed
    NULLs, timestamps cast down to DateType."""
    reg_dict = {
        "m_sucursal": [
            ("cod_compania", "string"), ("cod_sucursal", "string"),
            ("desc_sucursal", "string"), ("es_activo", "string"),
            ("fecha_creacion", "timestamp"), ("fecha_modificacion", "timestamp"),
        ],
    }
    _seed_bridge(spark, lake, reg_dict)
    spark.createDataFrame(
        [("10", "S1", "SUCURSAL LIMA", "T", TS, TS)],
        "cod_compania string, cod_sucursal string, desc_sucursal string, es_activo string, "
        "fecha_creacion timestamp, fecha_modificacion timestamp",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_sucursal", "pe01"))
    reg = SchemaRegistry(reg_dict)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    dr = run_waves([JobConfig("domain", "m_sucursal_lite", 1)], DOMAIN_JOBS, mk)
    assert dr[0].status == "succeeded", dr[0].error
    r = tx_read(spark, lake.table_path(Layer.DOMAIN, "m_sucursal")).collect()[0]
    assert r["id_sucursal"] == "10|S1"                 # minted compania|sucursal
    assert r["id_sucursal_ref"] is None                # NULL placeholder
    assert r["cod_tipo_sucursal"] is None
    assert r["nomb_sucursal"] == "SUCURSAL LIMA"
    assert r["fecha_creacion"] == dt.date(2025, 4, 1)  # DateType cast


def test_m_modelo_atencion_id_compania_join_and_distinct(spark, lake):
    """`m_modelo_atencion.py:17-48`: stage joins on id_compania (not cod),
    the conformed set is deduplicated before upsert."""
    reg_dict = {
        "m_modelo_atencion": [
            ("id_compania", "string"), ("cod_modelo_atencion", "string"),
            ("desc_modelo_atencion", "string"),
        ],
    }
    _seed_bridge(spark, lake, reg_dict)
    spark.createDataFrame(
        [("10", "MA1", "ATENCION DIRECTA"), ("10", "MA1", "ATENCION DIRECTA")],
        "id_compania string, cod_modelo_atencion string, desc_modelo_atencion string",
    ).write.parquet(lake.table_path(Layer.STAGE, "m_modelo_atencion", "pe01"))
    reg = SchemaRegistry(reg_dict)

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    dr = run_waves([JobConfig("domain", "m_modelo_atencion_lite", 1)], DOMAIN_JOBS, mk)
    assert dr[0].status == "succeeded", dr[0].error
    rows = tx_read(spark, lake.table_path(Layer.DOMAIN, "m_modelo_atencion")).collect()
    assert len(rows) == 1                              # distinct() dedup
    r = rows[0]
    assert r["id_modelo_atencion"] == "10|MA1"
    assert r["fecha_creacion"] == AS_OF                # clock stamps


def test_dim_producto_passthrough_renames(spark, lake):
    reg = SchemaRegistry({
        "m_articulo": [
            ("id_articulo", "string"), ("id_pais", "string"), ("cod_compania", "string"),
            ("cod_articulo", "string"), ("desc_articulo", "string"), ("desc_linea", "string"),
            ("desc_familia", "string"), ("desc_marca", "string"),
            ("cod_unidad_negocio", "string"), ("desc_unidad_negocio", "string"),
        ],
    })
    spark.createDataFrame(
        [("10|A1", "PE", "10", "A1", "BIG COLA 1L", "GASEOSAS", "COLAS", "BIG",
          None, None)],
        "id_articulo string, id_pais string, cod_compania string, cod_articulo string, "
        "desc_articulo string, desc_linea string, desc_familia string, desc_marca string, "
        "cod_unidad_negocio string, desc_unidad_negocio string",
    ).write.parquet(lake.table_path(Layer.DOMAIN, "m_articulo"))

    def mk(cfg):
        return JobContext(spark=spark, catalog=lake, registry=reg, config=cfg, as_of=AS_OF)

    ar = run_waves([JobConfig("analytics", "dim_producto_lite", 1)], ANALYTICS_JOBS, mk)
    assert ar[0].status == "succeeded", ar[0].error
    r = tx_read(spark, lake.table_path(Layer.ANALYTICS, "dim_producto")).collect()[0]
    assert r["id_producto"] == "10|A1"                 # id_articulo renamed
    assert r["cod_producto"] == "A1"
    assert r["desc_producto"] == "BIG COLA 1L"
    assert r["desc_marca"] == "BIG"
