"""Table writers: dynamic partition overwrite, append, merge upsert.

Every table the engine writes is a txlog table (``sources/txlog.py``), as
every domain and analytics table of the reference is a Delta table
(`common_jobs_functions.py:271-349`):

- K1 overwrite  → ``tx_write`` ``overwrite_dynamic`` (partitioned) or
  ``overwrite``: only partitions present in the incoming DataFrame are
  replaced (same semantics as the reference's `:312`) — at 100 TB a period
  refresh rewrites just the touched ``id_pais/id_periodo`` partitions.
- K2 append     → ``tx_write`` ``append``.
- K3/K4 merge   → ``tx_merge``: file-pruned MERGE, one atomic commit.
- vacuum        → ``txlog.tx_vacuum``; the symlink manifest lists the
  current snapshot's files (:func:`write_symlink_manifest`).

Job writes evolve the table schema, as the reference's global
``schema.autoMerge`` does (`common_jobs_functions.py:116`).

A target that still holds plain parquet (a table written before the
engine wrote txlog only) is converted in place first (``tx_convert``,
metadata-only, Delta's CONVERT TO DELTA), so a write or merge builds on
its rows instead of hiding them behind a fresh log.

Merge invariant (SURVEY §7.3.3): the source must be unique on the merge keys;
``tx_merge`` pre-dedups defensively, as the reference guarantees via its
W1/A6 dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .txlog import (
    _resolve_file,
    current_version,
    plain_parquet_files,
    read_manifest,
    tx_convert,
    tx_merge,
    tx_read,
    tx_write,
)


def _adopt_plain_parquet(
    source: DataFrame, path: str, partition_by: list[str] | None
) -> None:
    """Convert a plain parquet table at ``path`` into a txlog table in
    place, typing its hive partition columns as ``source`` types them.
    No-op for txlog tables and for paths holding no parquet files."""
    spark = source.sparkSession
    if current_version(spark, path) is not None:
        return
    if not plain_parquet_files(spark, path):
        return
    tx_convert(
        spark, path,
        partition_by=partition_by,
        partition_types={
            c: source.schema[c].dataType.simpleString()
            for c in partition_by or []
        },
    )


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Overwrite write; with partitions this is a *dynamic* partition
    overwrite (reference K1, `common_jobs_functions.py:306-319`).
    ``mode="append"`` appends instead."""
    if mode == "append":
        tx_mode = "append"
    else:
        tx_mode = "overwrite_dynamic" if partition_by else "overwrite"
    _adopt_plain_parquet(df, path, partition_by)
    tx_write(
        df.sparkSession, df, path, partition_by=partition_by, mode=tx_mode,
        schema_evolution=True,
    )


def insert_into_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Append (reference K2, `common_jobs_functions.py:339-349`)."""
    write_table(df, path, partition_by, mode="append")


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    precedence: str | None = None,
    schema_evolution: bool = False,
) -> None:
    """MERGE: matched → update all, not matched → insert all.

    Reference K3 (`common_jobs_functions.py:279-304`:
    ``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` on an equality
    condition over ``keys``).

    ``precedence`` names a version/sequence column for CONDITIONAL update —
    last-writer-wins: a matched target row is replaced only when the source
    row's precedence is ≥ the target's (Delta's
    ``whenMatchedUpdate(condition=...)`` shape). This makes the merge
    commutative over redelivered/reordered batches — the property the
    at-least-once streaming sink needs to converge; without it the default
    source-always-wins semantics apply.
    """
    _adopt_plain_parquet(source, path, partition_by)
    tx_merge(
        spark, source, path, keys,
        partition_by=partition_by,
        precedence=precedence,
        schema_evolution=schema_evolution,
    )


def merge_update_only(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> None:
    """MERGE with ``whenMatchedUpdateAll`` only — unmatched source rows are
    dropped (reference K4, `common_jobs_functions.py:323-337`)."""
    _adopt_plain_parquet(source, path, partition_by)
    if current_version(spark, path) is None:
        return
    target_keys = tx_read(spark, path).select(*keys).distinct()
    matched = source.join(target_keys, keys, "left_semi")
    tx_merge(spark, matched, path, keys, partition_by=partition_by)


def write_csv_gzip(df: DataFrame, path: str, header: bool = True) -> None:
    """Raw CSV.gz sink (reference K7,
    `utils/extract_data/load_with_query_python.py:288-294`)."""
    df.write.mode("overwrite").option("header", str(header).lower()).option(
        "compression", "gzip"
    ).csv(path)


def write_symlink_manifest(spark: SparkSession, path: str) -> int:
    """The reference's ``deltaTable.generate("symlink_format_manifest")``
    (`common_jobs_functions.py:304,314`): writes
    ``_symlink_format_manifest/<partition dirs>/manifest`` text files, one
    data-file URI per line, listing exactly the files of the table's
    current snapshot — the layout external readers (e.g. warehouse
    spectrum layers) consume. Superseded files still on storage are not
    listed. Driver-side: one entry per data FILE (not per row), bounded by
    file count. Returns the number of manifest files written (0 when
    ``path`` is not a txlog table).

    A manifest cannot express deletion vectors, so, like Delta, a snapshot
    with soft-deleted rows is refused (compact it first)."""
    version = current_version(spark, path)
    if version is None:
        return 0
    files = read_manifest(spark, path, version)["files"]
    if any(f.get("dv") for f in files):
        raise ValueError(
            f"{path}: the snapshot has deletion vectors, which a symlink "
            "manifest cannot express — compact the table first"
        )
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    root = path.rstrip("/")
    manifest_root = f"{root}/_symlink_format_manifest"
    fs.delete(jvm.org.apache.hadoop.fs.Path(manifest_root), True)

    # group data files by their partition subdirectory below the batch dir
    groups: dict[str, list[str]] = {}
    for f in files:
        full, batch = _resolve_file(root, f["path"])
        rel_dir = full[len(batch) + 1:].rpartition("/")[0]
        uri = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(full)).toString()
        groups.setdefault(rel_dir, []).append(uri)

    for rel_dir, uris in groups.items():
        sub = manifest_root + (f"/{rel_dir}" if rel_dir else "")
        stream = fs.create(jvm.org.apache.hadoop.fs.Path(sub + "/manifest"), True)
        try:
            stream.write(("\n".join(sorted(uris)) + "\n").encode("utf-8"))
        finally:
            stream.close()
    return len(groups)
