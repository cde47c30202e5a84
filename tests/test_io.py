"""IO tests: catalog resolution, multi-instance stage union, empty-table
fallback, dynamic partition overwrite isolation, merge upsert idempotence
(SURVEY §5 property tests)."""

import os

import pytest
from pyspark.sql import functions as F

from cdk_datalake_analytics_comercial_spark.core.catalog import Catalog, Layer
from cdk_datalake_analytics_comercial_spark.sources.reader import read_table, table_exists
from cdk_datalake_analytics_comercial_spark.sources.registry import SchemaRegistry, parse_type
from cdk_datalake_analytics_comercial_spark.sources.txlog import tx_read
from cdk_datalake_analytics_comercial_spark.sources.writer import (
    insert_into_table,
    merge_update_only,
    merge_upsert,
    write_table,
)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_catalog_paths(lake):
    assert lake.table_path(Layer.DOMAIN, "m_cliente").endswith("domain/m_cliente")
    assert lake.table_path("stage", "venta", "pe01").endswith("stage/venta/pe01")


def test_parse_type():
    assert parse_type("numeric(38,12)").simpleString() == "decimal(38,12)"
    assert parse_type("varchar").simpleString() == "string"
    assert parse_type("array<float>").simpleString() == "array<float>"
    assert parse_type("wat") .simpleString() == "string"


def test_multi_instance_union(spark, lake):
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "id int, v string")
    df1.write.parquet(lake.table_path(Layer.STAGE, "t", "inst1"))
    df2.write.parquet(lake.table_path(Layer.STAGE, "t", "inst2"))
    out = read_table(spark, lake, Layer.STAGE, "t")
    assert rows(out) == [(1, "a"), (2, "b"), (3, "c")]


def test_multi_instance_union_missing_columns(spark, lake):
    # instances can drift in schema; unionByName(allowMissingColumns) pads
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2,)], "id int")
    df1.write.parquet(lake.table_path(Layer.STAGE, "t", "i1"))
    df2.write.parquet(lake.table_path(Layer.STAGE, "t", "i2"))
    out = read_table(spark, lake, Layer.STAGE, "t")
    assert rows(out) == [(1, "a"), (2, None)]


def test_empty_table_fallback(spark, lake):
    reg = SchemaRegistry({"ghost": [("id", "int"), ("name", "varchar")]})
    out = read_table(spark, lake, Layer.DOMAIN, "ghost", registry=reg)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "name"]
    # joins against the fabricated empty table must not drop columns
    other = spark.createDataFrame([(1, "x")], "id int, x string")
    joined = other.join(out, "id", "left")
    assert joined.columns == ["id", "x", "name"]
    assert rows(joined) == [(1, "x", None)]


def test_missing_table_without_registry_raises(spark, lake):
    with pytest.raises(FileNotFoundError):
        read_table(spark, lake, Layer.DOMAIN, "nope")


def test_dynamic_partition_overwrite_isolation(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_part")
    base = spark.createDataFrame(
        [("PE", "202401", 1), ("PE", "202402", 2), ("CO", "202401", 3)],
        "id_pais string, id_periodo string, v int",
    )
    write_table(base, path, ["id_pais", "id_periodo"])
    # overwrite only the (PE, 202402) partition; others must survive
    patch = spark.createDataFrame(
        [("PE", "202402", 99)], "id_pais string, id_periodo string, v int"
    )
    write_table(patch, path, ["id_pais", "id_periodo"])
    out = tx_read(spark, path).select("id_pais", "id_periodo", "v")
    assert rows(out) == [("CO", "202401", 3), ("PE", "202401", 1), ("PE", "202402", 99)]


def test_append(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_app")
    df = spark.createDataFrame([(1,)], "v int")
    write_table(df, path)
    insert_into_table(spark.createDataFrame([(2,)], "v int"), path)
    assert rows(tx_read(spark, path)) == [(1,), (2,)]


def test_merge_upsert_semantics(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_merge")
    target = spark.createDataFrame(
        [("k1", "PE", 1), ("k2", "PE", 2)], "id string, id_pais string, v int"
    )
    write_table(target, path, ["id_pais"])
    src = spark.createDataFrame(
        [("k2", "PE", 20), ("k3", "PE", 30)], "id string, id_pais string, v int"
    )
    merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    out = tx_read(spark, path).select("id", "id_pais", "v")
    assert rows(out) == [("k1", "PE", 1), ("k2", "PE", 20), ("k3", "PE", 30)]


def test_merge_upsert_idempotent(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_idem")
    src = spark.createDataFrame(
        [("a", "PE", 1), ("b", "CO", 2)], "id string, id_pais string, v int"
    )
    merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    first = rows(tx_read(spark, path).select("id", "id_pais", "v"))
    merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    second = rows(tx_read(spark, path).select("id", "id_pais", "v"))
    assert first == second == [("a", "PE", 1), ("b", "CO", 2)]


def test_merge_untouched_partitions_survive(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_scope")
    base = spark.createDataFrame(
        [("a", "PE", 1), ("b", "CO", 2)], "id string, id_pais string, v int"
    )
    write_table(base, path, ["id_pais"])
    merge_upsert(
        spark,
        spark.createDataFrame([("a", "PE", 10)], "id string, id_pais string, v int"),
        path,
        keys=["id"],
        partition_by=["id_pais"],
    )
    out = tx_read(spark, path).select("id", "id_pais", "v")
    assert rows(out) == [("a", "PE", 10), ("b", "CO", 2)]


def test_merge_source_dedup(spark, lake):
    # duplicate source keys must not fan out (Delta MERGE would throw;
    # we pre-dedup deterministically — SURVEY §7.3.3)
    path = lake.table_path(Layer.DOMAIN, "t_dupe")
    src = spark.createDataFrame(
        [("a", "PE", 1), ("a", "PE", 2)], "id string, id_pais string, v int"
    )
    merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    out = tx_read(spark, path)
    assert out.count() == 1


def test_merge_update_only(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_upd")
    write_table(
        spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int"), path
    )
    src = spark.createDataFrame([("b", 20), ("c", 30)], "id string, v int")
    merge_update_only(spark, src, path, keys=["id"])
    out = tx_read(spark, path).select("id", "v")
    # b updated, c NOT inserted (whenMatchedUpdateAll only)
    assert rows(out) == [("a", 1), ("b", 20)]


def test_writers_keep_rows_of_existing_plain_parquet_tables(spark, lake):
    # a table written as plain parquet is converted in place on its first
    # write: untouched rows and partitions must survive every writer
    from cdk_datalake_analytics_comercial_spark.sources.txlog import is_txlog_table

    schema = "id string, id_pais string, id_periodo int, v int"
    parts = ["id_pais", "id_periodo"]
    path = lake.table_path(Layer.DOMAIN, "t_legacy")
    spark.createDataFrame(
        [("a", "PE", 202401, 1), ("b", "PE", 202402, 2), ("c", "CO", 202401, 3)],
        schema,
    ).write.partitionBy(*parts).parquet(path)
    merge_upsert(
        spark,
        spark.createDataFrame(
            [("a", "PE", 202401, 10), ("d", "PE", 202401, 40)], schema
        ),
        path, keys=["id"], partition_by=parts,
    )
    assert is_txlog_table(spark, path)
    out = tx_read(spark, path).select("id", "id_pais", "id_periodo", "v")
    assert rows(out) == [
        ("a", "PE", 202401, 10), ("b", "PE", 202402, 2),
        ("c", "CO", 202401, 3), ("d", "PE", 202401, 40),
    ]

    path = lake.table_path(Layer.DOMAIN, "t_legacy_dyn")
    spark.createDataFrame(
        [("a", "PE", 202401, 1), ("b", "PE", 202402, 2)], schema
    ).write.partitionBy(*parts).parquet(path)
    write_table(
        spark.createDataFrame([("e", "PE", 202402, 5)], schema), path, parts
    )
    out = tx_read(spark, path).select("id", "id_pais", "id_periodo", "v")
    assert rows(out) == [("a", "PE", 202401, 1), ("e", "PE", 202402, 5)]

    path = lake.table_path(Layer.DOMAIN, "t_legacy_upd")
    spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int").write.parquet(
        path
    )
    merge_update_only(
        spark,
        spark.createDataFrame([("b", 20), ("c", 30)], "id string, v int"),
        path, keys=["id"],
    )
    assert rows(tx_read(spark, path).select("id", "v")) == [("a", 1), ("b", 20)]

    path = lake.table_path(Layer.DOMAIN, "t_legacy_app")
    spark.createDataFrame([(1,)], "v int").write.parquet(path)
    insert_into_table(spark.createDataFrame([(2,)], "v int"), path)
    assert rows(tx_read(spark, path)) == [(1,), (2,)]


def test_table_exists(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_ex")
    assert not table_exists(spark, path)
    write_table(spark.createDataFrame([(1,)], "v int"), path)
    assert table_exists(spark, path)


def test_symlink_manifest_lists_every_data_file(spark, lake):
    # after a merge the table dir still holds the superseded files; the
    # manifest must list exactly the current snapshot's files, no others
    import glob

    from cdk_datalake_analytics_comercial_spark.sources.txlog import (
        current_version,
        read_manifest,
        tx_delete,
    )
    from cdk_datalake_analytics_comercial_spark.sources.writer import (
        write_symlink_manifest,
    )

    path = lake.table_path(Layer.DOMAIN, "t_manifest")
    df = spark.createDataFrame(
        [("a", "PE", 1), ("b", "CO", 2)], "id string, id_pais string, v int"
    )
    write_table(df, path, ["id_pais"])
    merge_upsert(
        spark,
        spark.createDataFrame([("a", "PE", 10)], "id string, id_pais string, v int"),
        path,
        keys=["id"],
        partition_by=["id_pais"],
    )
    on_disk = glob.glob(f"{path}/**/*.parquet", recursive=True)
    snapshot = {
        os.path.realpath(f"{path}/{f['path']}")
        for f in read_manifest(spark, path, current_version(spark, path))["files"]
    }
    assert len(on_disk) > len(snapshot)  # the merge superseded a file
    n = write_symlink_manifest(spark, path)
    assert n == 2  # one manifest per partition dir
    manifests = sorted(glob.glob(f"{path}/_symlink_format_manifest/**/manifest",
                                 recursive=True))
    assert [m.split("_symlink_format_manifest/")[1] for m in manifests] == [
        "id_pais=CO/manifest", "id_pais=PE/manifest",
    ]
    listed = []
    for m in manifests:
        with open(m) as f:
            listed += [line.strip() for line in f if line.strip()]
    assert len(listed) == len(snapshot)
    assert {os.path.realpath(e.removeprefix("file:")) for e in listed} == snapshot
    # every listed file sits under its manifest's partition dir
    for m in manifests:
        part = m.split("/")[-2]
        with open(m) as f:
            assert all(f"/{part}/" in line for line in f if line.strip())
    # the manifest dir itself is excluded from table reads (underscore prefix)
    assert tx_read(spark, path).count() == 2
    # regenerating replaces, not appends
    assert write_symlink_manifest(spark, path) == 2
    # whole-file listings cannot hide soft-deleted rows: refused, like Delta
    tx_delete(spark, path, where={"id": ("b", "b")}, use_dv=True)
    with pytest.raises(ValueError, match="deletion vectors"):
        write_symlink_manifest(spark, path)


def test_merge_schema_evolution_new_source_column(spark, tmp_path):
    """autoMerge parity (common_jobs_functions.py:116): a source with a NEW
    column merges cleanly — existing rows null-pad, updated/inserted rows
    carry the value. Without the flag the new column is dropped (legacy
    strict behavior preserved)."""
    from cdk_datalake_analytics_comercial_spark.sources.writer import merge_upsert

    p = str(tmp_path / "evo")
    merge_upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        p, keys=["k"],
    )
    src = spark.createDataFrame(
        [(2, "B", 20), (3, "c", 30)], "k long, v string, extra int"
    )
    merge_upsert(spark, src, p, keys=["k"], schema_evolution=True)
    got = {r["k"]: (r["v"], r["extra"]) for r in tx_read(spark, p).collect()}
    assert got == {1: ("a", None), 2: ("B", 20), 3: ("c", 30)}

    # strict mode: an extra source column is dropped, table schema unchanged
    merge_upsert(
        spark,
        spark.createDataFrame(
            [(4, "d", 40, 1.5)], "k long, v string, extra int, other double"
        ),
        p, keys=["k"],
    )
    assert set(tx_read(spark, p).columns) == {"k", "v", "extra"}


def test_merge_schema_evolution_missing_source_column(spark, tmp_path):
    """Source missing a target column: evolution pads it with typed nulls
    for inserted rows instead of failing."""
    from cdk_datalake_analytics_comercial_spark.sources.writer import merge_upsert

    p = str(tmp_path / "evo2")
    merge_upsert(
        spark,
        spark.createDataFrame([(1, "a", 10)], "k long, v string, extra int"),
        p, keys=["k"],
    )
    merge_upsert(
        spark,
        spark.createDataFrame([(2, "b")], "k long, v string"),
        p, keys=["k"], schema_evolution=True,
    )
    got = {r["k"]: (r["v"], r["extra"]) for r in tx_read(spark, p).collect()}
    assert got == {1: ("a", 10), 2: ("b", None)}
