"""Transaction-log table format tests: versioned commits, snapshot
isolation, time travel, dynamic-partition overwrite by reference,
file-pruned merge, precedence merge, crash atomicity, vacuum safety."""

from pyspark.sql import functions as F

from cdk_datalake_analytics_comercial_spark.sources import txlog as TX


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_read_append_and_time_travel(spark, tmp_path):
    p = str(tmp_path / "t1")
    v1 = TX.tx_write(spark, spark.createDataFrame([(1, "a")], "k long, v string"), p)
    v2 = TX.tx_write(
        spark, spark.createDataFrame([(2, "b")], "k long, v string"), p, mode="append"
    )
    assert (v1, v2) == (1, 2)
    assert rows(TX.tx_read(spark, p)) == [(1, "a"), (2, "b")]
    assert rows(TX.tx_read(spark, p, version=1)) == [(1, "a")]
    ops = [m["op"] for m in TX.tx_history(spark, p)]
    assert ops == ["overwrite", "append"]


def test_snapshot_isolation_reader_pins_version(spark, tmp_path):
    p = str(tmp_path / "t2")
    TX.tx_write(spark, spark.createDataFrame([(1, "a")], "k long, v string"), p)
    snap = TX.tx_read(spark, p)  # resolves v1's file list NOW
    TX.tx_write(spark, spark.createDataFrame([(9, "z")], "k long, v string"), p)
    # the pinned snapshot still reads v1's files even after v2 replaced it
    assert rows(snap) == [(1, "a")]
    assert rows(TX.tx_read(spark, p)) == [(9, "z")]


def test_overwrite_dynamic_carries_untouched_partitions_by_reference(spark, tmp_path):
    p = str(tmp_path / "t3")
    df = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2")], "k long, v string, part string"
    )
    TX.tx_write(spark, df, p, partition_by=["part"])
    m1 = TX.read_manifest(spark, p, 1)
    p2_files_v1 = {f["path"] for f in m1["files"] if f["partition"]["part"] == "p2"}

    TX.tx_write(
        spark,
        spark.createDataFrame([(10, "A", "p1")], "k long, v string, part string"),
        p,
        partition_by=["part"],
        mode="overwrite_dynamic",
    )
    assert rows(TX.tx_read(spark, p).select("k", "v", "part")) == [
        (2, "b", "p2"),
        (10, "A", "p1"),
    ]
    # p2's files were carried forward BY REFERENCE (same physical files)
    m2 = TX.read_manifest(spark, p, 2)
    p2_files_v2 = {f["path"] for f in m2["files"] if f["partition"]["part"] == "p2"}
    assert p2_files_v2 == p2_files_v1


def test_merge_updates_inserts_and_prunes_untouched_partitions(spark, tmp_path):
    p = str(tmp_path / "t4")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")],
        "k long, v string, part string",
    )
    TX.tx_merge(spark, base, p, keys=["k"], partition_by=["part"])
    m1 = TX.read_manifest(spark, p, 1)
    p2_files = {f["path"] for f in m1["files"] if f["partition"]["part"] == "p2"}

    src = spark.createDataFrame(
        [(2, "B", "p1"), (4, "d", "p1")], "k long, v string, part string"
    )
    TX.tx_merge(spark, src, p, keys=["k"], partition_by=["part"])
    assert rows(TX.tx_read(spark, p).select("k", "v")) == [
        (1, "a"), (2, "B"), (3, "c"), (4, "d"),
    ]
    # p2 untouched: same file references as v1
    m2 = TX.read_manifest(spark, p, 2)
    assert {f["path"] for f in m2["files"] if f["partition"]["part"] == "p2"} == p2_files


def test_merge_precedence_stale_source_loses(spark, tmp_path):
    p = str(tmp_path / "t5")
    TX.tx_merge(
        spark,
        spark.createDataFrame([(1, 5, "new")], "k long, seq long, v string"),
        p, keys=["k"], precedence="seq",
    )
    TX.tx_merge(
        spark,
        spark.createDataFrame([(1, 3, "stale"), (2, 1, "x")], "k long, seq long, v string"),
        p, keys=["k"], precedence="seq",
    )
    got = {r["k"]: (r["seq"], r["v"]) for r in TX.tx_read(spark, p).collect()}
    assert got == {1: (5, "new"), 2: (1, "x")}


def test_crash_before_commit_leaves_table_at_old_version(spark, tmp_path):
    """Simulate a crash between data-file write and manifest commit: orphan
    batch dirs are invisible to readers and reaped by vacuum."""
    p = str(tmp_path / "t6")
    TX.tx_write(spark, spark.createDataFrame([(1, "a")], "k long, v string"), p)
    # "crashed" writer: data landed, no manifest
    TX._write_batch(
        spark.createDataFrame([(99, "junk")], "k long, v string"), p, None
    )
    assert TX.current_version(spark, p) == 1
    assert rows(TX.tx_read(spark, p)) == [(1, "a")]
    removed = TX.tx_vacuum(spark, p, keep_versions=2, retain_hours=0)
    assert removed  # the orphan batch's file went away
    assert rows(TX.tx_read(spark, p)) == [(1, "a")]


def test_vacuum_keeps_recent_versions_readable(spark, tmp_path):
    p = str(tmp_path / "t7")
    for i in range(4):
        TX.tx_write(spark, spark.createDataFrame([(i,)], "k long"), p)
    removed = TX.tx_vacuum(spark, p, keep_versions=2, retain_hours=0)
    assert removed  # v1/v2 data reaped
    assert TX.list_versions(spark, p) == [3, 4]
    assert rows(TX.tx_read(spark, p, version=3)) == [(2,)]
    assert rows(TX.tx_read(spark, p, version=4)) == [(3,)]


def test_empty_snapshot_reads_as_empty_with_schema(spark, tmp_path):
    p = str(tmp_path / "t8")
    TX.tx_write(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string").filter(F.lit(False)),
        p,
    )
    out = TX.tx_read(spark, p)
    assert out.columns == ["k", "v"]
    assert out.count() == 0


def test_commit_refuses_to_clobber_existing_version(spark, tmp_path):
    p = str(tmp_path / "t9")
    TX.tx_write(spark, spark.createDataFrame([(1,)], "k long"), p)
    # another writer claimed v2 out-of-band
    TX._write_text(spark, TX._version_path(p, 2), '{"op":"x","files":[],"schema":"{}","version":2}')
    v = TX.tx_write(spark, spark.createDataFrame([(2,)], "k long"), p)
    assert v == 3  # retried past the collision


def test_streaming_merge_into_txlog_versions_per_batch(spark, tmp_path):
    """CDC stream → txlog sink: every micro-batch commits one atomic
    version; history shows the progression and old versions stay
    time-travelable."""
    from pyspark.sql import types as T
    from cdk_datalake_analytics_comercial_spark.streaming.sink import merge_stream

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")

    spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], schema).write.mode(
        "append"
    ).parquet(src)

    def run(ckpt):
        stream = spark.readStream.schema(schema).parquet(src)
        merge_stream(
            stream, tgt, keys=["k"], checkpoint=str(tmp_path / ckpt),
            precedence="seq", txlog=True,
        )

    run("c1")
    assert TX.current_version(spark, tgt) == 1
    spark.createDataFrame([(2, 2, "B"), (3, 1, "c")], schema).write.mode(
        "append"
    ).parquet(src)
    run("c1")
    assert TX.current_version(spark, tgt) == 2
    got = {r["k"]: r["v"] for r in TX.tx_read(spark, tgt).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # time travel to the pre-correction state
    v1 = {r["k"]: r["v"] for r in TX.tx_read(spark, tgt, version=1).collect()}
    assert v1 == {1: "a", 2: "b"}
    # lost-checkpoint full replay converges (precedence merge)
    run("c2")
    assert {r["k"]: r["v"] for r in TX.tx_read(spark, tgt).collect()} == got


def test_tx_diff_change_data_feed(spark, tmp_path):
    p = str(tmp_path / "cdf")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ),
        p,
    )
    TX.tx_merge(
        spark,
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        p, keys=["k"],
    )
    changes = {
        r["k"]: (r["v"], r["_change_type"])
        for r in TX.tx_diff(spark, p, keys=["k"], v_from=1, v_to=2).collect()
    }
    assert changes == {2: ("B", "update"), 4: ("d", "insert")}

    # a snapshot overwrite that drops key 1 shows as delete w/ pre-image
    TX.tx_write(
        spark,
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        p,
    )
    changes = {
        r["k"]: (r["v"], r["_change_type"])
        for r in TX.tx_diff(spark, p, keys=["k"], v_from=2, v_to=3).collect()
    }
    assert changes == {1: ("a", "delete"), 3: ("c", "delete")}


def test_data_skipping_stats_prune_files(spark, tmp_path):
    """Per-file min/max stats in the manifest let a ranged read SKIP files
    that provably miss the predicate — and the result still equals a full
    filter."""
    p = str(tmp_path / "skip")
    # three appends = three file groups with disjoint ts ranges
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, f"r{lo + i}") for i in range(10)], "ts long, v string"
        ).coalesce(1)
        TX.tx_write(
            spark, df, p, mode="append" if lo else "overwrite",
            stats_for=["ts"],
        )
    manifest = TX.read_manifest(spark, p, 3)
    assert all("stats" in f and "ts" in f["stats"] for f in manifest["files"])

    kept = [
        f for f in manifest["files"]
        if TX._file_overlaps(f, {"ts": (100, 150)})
    ]
    assert len(kept) == 1  # only the middle file group overlaps

    out = TX.tx_read(spark, p, where={"ts": (100, 150)})
    assert sorted(r["ts"] for r in out.collect()) == list(range(100, 110))
    # sanity: unpruned read + filter gives the same rows
    full = TX.tx_read(spark, p).filter("ts BETWEEN 100 AND 150")
    assert sorted(r["ts"] for r in full.collect()) == sorted(
        r["ts"] for r in out.collect()
    )


def test_data_skipping_keeps_statless_files(spark, tmp_path):
    p = str(tmp_path / "skip2")
    TX.tx_write(
        spark, spark.createDataFrame([(1,)], "ts long"), p, stats_for=["ts"]
    )
    TX.tx_write(
        spark, spark.createDataFrame([(500,)], "ts long"), p, mode="append"
    )  # no stats recorded for this batch
    # the statless file can never be skipped — row filter still applies
    out = TX.tx_read(spark, p, where={"ts": (400, None)})
    assert [r["ts"] for r in out.collect()] == [500]


def test_compact_collapses_batches_and_preserves_rows(spark, tmp_path):
    p = str(tmp_path / "opt")
    for i in range(4):
        TX.tx_write(
            spark,
            spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
            p, mode="append" if i else "overwrite",
        )
    before = rows(TX.tx_read(spark, p))
    m_before = TX.read_manifest(spark, p, 4)
    batches_before = {f["path"].split("/")[1] for f in m_before["files"]}
    assert len(batches_before) == 4

    v = TX.tx_compact(spark, p, n_files=1)
    assert v == 5
    assert rows(TX.tx_read(spark, p)) == before
    m_after = TX.read_manifest(spark, p, 5)
    batches_after = {f["path"].split("/")[1] for f in m_after["files"]}
    assert len(batches_after) == 1 and len(m_after["files"]) == 1
    # history intact pre-vacuum
    assert rows(TX.tx_read(spark, p, version=4)) == before


def test_delete_where_prunes_files_and_removes_rows(spark, tmp_path):
    p = str(tmp_path / "del")
    for lo in (0, 100):
        TX.tx_write(
            spark,
            spark.createDataFrame(
                [(lo + i, f"r{lo + i}") for i in range(5)], "ts long, v string"
            ).coalesce(1),
            p, mode="append" if lo else "overwrite", stats_for=["ts"],
        )
    m2 = TX.read_manifest(spark, p, 2)
    low_files = {f["path"] for f in m2["files"] if f["stats"]["ts"]["max"] < 100}

    v = TX.tx_delete(spark, p, where={"ts": (102, 103)}, stats_for=["ts"])
    assert v == 3
    assert sorted(r["ts"] for r in TX.tx_read(spark, p).collect()) == [
        0, 1, 2, 3, 4, 100, 101, 104,
    ]
    # the low file never rewrote — carried by reference
    m3 = TX.read_manifest(spark, p, 3)
    assert low_files <= {f["path"] for f in m3["files"]}
    # deleting a range no file can contain is a no-op version-wise
    assert TX.tx_delete(spark, p, where={"ts": (10_000, 20_000)}) == 3


def test_update_where_rewrites_matching_rows_only(spark, tmp_path):
    p = str(tmp_path / "upd")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(i, "old", 1.0) for i in range(6)], "k long, v string, x double"
        ),
        p, stats_for=["k"],
    )
    TX.tx_update(
        spark, p, where={"k": (2, 4)},
        assignments={"v": F.lit("new"), "x": F.col("x") * 10},
        stats_for=["k"],
    )
    got = {r["k"]: (r["v"], r["x"]) for r in TX.tx_read(spark, p).collect()}
    assert got == {
        0: ("old", 1.0), 1: ("old", 1.0),
        2: ("new", 10.0), 3: ("new", 10.0), 4: ("new", 10.0),
        5: ("old", 1.0),
    }
    # CDF over the update shows exactly the three updated keys
    changes = {
        r["k"]: r["_change_type"]
        for r in TX.tx_diff(spark, p, keys=["k"], v_from=1, v_to=2).collect()
    }
    assert changes == {2: "update", 3: "update", 4: "update"}


def test_concurrent_writers_all_commit_distinct_versions(spark, tmp_path):
    """Optimistic concurrency under real thread contention: N threads
    append simultaneously; every commit lands, versions are distinct and
    gapless, and the final snapshot holds every row exactly once."""
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "cc")
    TX.tx_write(spark, spark.createDataFrame([(0,)], "k long"), p)

    def append(i):
        return TX.tx_write(
            spark, spark.createDataFrame([(i,)], "k long"), p, mode="append"
        )

    with ThreadPoolExecutor(max_workers=6) as ex:
        versions = list(ex.map(append, range(1, 7)))

    assert sorted(versions) == [2, 3, 4, 5, 6, 7]
    assert TX.list_versions(spark, p) == list(range(1, 8))
    assert sorted(r["k"] for r in TX.tx_read(spark, p).collect()) == list(range(7))
    # every intermediate version is a consistent snapshot with one more row
    for v in range(1, 8):
        assert TX.tx_read(spark, p, version=v).count() == v


def test_clustered_compaction_tightens_skipping(spark, tmp_path):
    """Interleaved appends give every file the full ts range (skipping
    prunes nothing); clustering compaction re-sorts into disjoint ranges
    so a ranged read opens exactly one file."""
    p = str(tmp_path / "zord")
    # 3 appends, each covering the WHOLE 0..300 range (interleaved)
    for off in range(3):
        rows = [(off + 3 * i, f"r{off + 3 * i}") for i in range(100)]
        TX.tx_write(
            spark,
            spark.createDataFrame(rows, "ts long, v string").coalesce(1),
            p, mode="append" if off else "overwrite", stats_for=["ts"],
        )
    m = TX.read_manifest(spark, p, 3)
    # every file overlaps the probe range — nothing skippable
    assert all(TX._file_overlaps(f, {"ts": (100, 120)}) for f in m["files"])

    v = TX.tx_compact(spark, p, n_files=3, cluster_by=["ts"])
    m2 = TX.read_manifest(spark, p, v)
    kept = [f for f in m2["files"] if TX._file_overlaps(f, {"ts": (100, 120)})]
    assert len(m2["files"]) == 3 and len(kept) == 1
    # and the data survived intact
    out = TX.tx_read(spark, p, where={"ts": (100, 120)})
    assert sorted(r["ts"] for r in out.collect()) == list(range(100, 121))
    assert TX.tx_read(spark, p).count() == 300


# --------------------------------------------------------------------------
# Round-4 hardening: lost-update recompute, merge/DML conflict detection,
# Hive partition-value encoding, typed skipping stats, vacuum retention.


def test_lost_claim_append_recomputes_carried_files(spark, tmp_path, monkeypatch):
    """A writer that loses the create-no-overwrite claim must rebuild its
    carried file list from the WINNER's manifest — the old bump-and-retry
    silently dropped the concurrent append's files."""
    p = str(tmp_path / "race1")
    TX.tx_write(spark, spark.createDataFrame([(1,)], "k long"), p)
    orig = TX._create_no_overwrite
    state = {"raced": False}

    def racy(sp, dst, text):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent writer lands an append while our claim is in flight
            TX.tx_write(
                spark, spark.createDataFrame([(2,)], "k long"), p, mode="append"
            )
            return False  # and our claim loses
        return orig(sp, dst, text)

    monkeypatch.setattr(TX, "_create_no_overwrite", racy)
    TX.tx_write(spark, spark.createDataFrame([(3,)], "k long"), p, mode="append")
    # BOTH appends survive — nothing was lost on the retried commit
    assert rows(TX.tx_read(spark, p)) == [(1,), (2,), (3,)]
    assert TX.current_version(spark, p) == 3


def test_merge_conflicts_on_concurrent_touched_partition_write(
    spark, tmp_path, monkeypatch
):
    p = str(tmp_path / "race2")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2")], "k long, v string, part string"
    )
    TX.tx_merge(spark, base, p, keys=["k"], partition_by=["part"])
    orig = TX._create_no_overwrite
    state = {"raced": False}

    def racy(sp, dst, text):
        if not state["raced"]:
            state["raced"] = True
            TX.tx_write(
                spark,
                spark.createDataFrame([(9, "X", "p1")], "k long, v string, part string"),
                p, partition_by=["part"], mode="overwrite_dynamic",
            )
            return False
        return orig(sp, dst, text)

    monkeypatch.setattr(TX, "_create_no_overwrite", racy)
    import pytest

    src = spark.createDataFrame([(1, "A", "p1")], "k long, v string, part string")
    with pytest.raises(TX.TxConflictError):
        TX.tx_merge(spark, src, p, keys=["k"], partition_by=["part"])
    # the loser's rows never leaked in; the winner's snapshot stands
    assert rows(TX.tx_read(spark, p).select("k", "v", "part")) == [
        (2, "b", "p2"), (9, "X", "p1"),
    ]


def test_merge_carries_concurrent_untouched_partition_append(
    spark, tmp_path, monkeypatch
):
    """Concurrent changes to partitions the merge does NOT touch are no
    conflict: the retried commit re-carries them from the winner."""
    p = str(tmp_path / "race3")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2")], "k long, v string, part string"
    )
    TX.tx_merge(spark, base, p, keys=["k"], partition_by=["part"])
    orig = TX._create_no_overwrite
    state = {"raced": False}

    def racy(sp, dst, text):
        if not state["raced"]:
            state["raced"] = True
            TX.tx_write(
                spark,
                spark.createDataFrame([(5, "e", "p2")], "k long, v string, part string"),
                p, partition_by=["part"], mode="overwrite_dynamic",
            )
            return False
        return orig(sp, dst, text)

    monkeypatch.setattr(TX, "_create_no_overwrite", racy)
    src = spark.createDataFrame([(1, "A", "p1")], "k long, v string, part string")
    TX.tx_merge(spark, src, p, keys=["k"], partition_by=["part"])
    assert rows(TX.tx_read(spark, p).select("k", "v", "part")) == [
        (1, "A", "p1"), (5, "e", "p2"),
    ]


def test_dml_conflicts_on_overlapping_concurrent_append(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "race4")
    TX.tx_write(
        spark, spark.createDataFrame([(1,), (2,)], "k long"), p, stats_for=["k"]
    )
    orig = TX._create_no_overwrite
    state = {"raced": False}

    def racy(sp, dst, text):
        if not state["raced"]:
            state["raced"] = True
            TX.tx_write(
                spark, spark.createDataFrame([(2,)], "k long"), p,
                mode="append", stats_for=["k"],
            )
            return False
        return orig(sp, dst, text)

    monkeypatch.setattr(TX, "_create_no_overwrite", racy)
    import pytest

    with pytest.raises(TX.TxConflictError):
        TX.tx_delete(spark, p, where={"k": (2, 2)})
    # winner's append intact, no partial delete
    assert rows(TX.tx_read(spark, p)) == [(1,), (2,), (2,)]


def test_dml_carries_disjoint_concurrent_append(spark, tmp_path, monkeypatch):
    """A concurrent append whose stats provably miss the DML predicate is
    no conflict — the retry carries the new file and the delete commits."""
    p = str(tmp_path / "race5")
    TX.tx_write(
        spark, spark.createDataFrame([(1,), (2,)], "k long"), p, stats_for=["k"]
    )
    orig = TX._create_no_overwrite
    state = {"raced": False}

    def racy(sp, dst, text):
        if not state["raced"]:
            state["raced"] = True
            TX.tx_write(
                spark, spark.createDataFrame([(100,)], "k long"), p,
                mode="append", stats_for=["k"],
            )
            return False
        return orig(sp, dst, text)

    monkeypatch.setattr(TX, "_create_no_overwrite", racy)
    TX.tx_delete(spark, p, where={"k": (2, 2)})
    assert rows(TX.tx_read(spark, p)) == [(1,), (100,)]


def test_merge_boolean_and_special_char_partitions(spark, tmp_path):
    """Partition values are matched in Hive's path encoding: booleans
    lowercase (True → 'true'), specials %-escaped ('a:b' → 'a%3Ab').
    str(v) matching missed these partitions, so merge silently dropped
    their existing rows."""
    p = str(tmp_path / "hivenc")
    base = spark.createDataFrame(
        [(1, "a", True, "a:b"), (2, "b", True, "a:b"), (3, "c", False, "plain")],
        "k long, v string, flag boolean, tag string",
    )
    TX.tx_merge(spark, base, p, keys=["k"], partition_by=["flag", "tag"])
    src = spark.createDataFrame(
        [(2, "B", True, "a:b")], "k long, v string, flag boolean, tag string"
    )
    TX.tx_merge(spark, src, p, keys=["k"], partition_by=["flag", "tag"])
    # row k=1 lives in the touched (flag=true, tag=a:b) partition — it must
    # survive the merge, and k=2 must be updated, k=3 untouched
    assert rows(TX.tx_read(spark, p).select("k", "v")) == [
        (1, "a"), (2, "B"), (3, "c"),
    ]


def test_decimal_and_timestamp_stats_prune_correctly(spark, tmp_path):
    """Decimal stats must not compare lexicographically ('10' < '9' would
    wrongly skip the file) and timestamp bounds must be orderable."""
    import datetime as dt

    p = str(tmp_path / "typstats")
    df = spark.createDataFrame(
        [(1, "9.50", dt.datetime(2024, 1, 1)), (2, "10.50", dt.datetime(2024, 6, 1))],
        "k long, amt string, ts timestamp",
    ).withColumn("amt", F.col("amt").cast("decimal(10,2)"))
    # two single-row files → per-file stats distinguish them
    TX.tx_write(spark, df.filter("k = 1"), p, stats_for=["amt", "ts"])
    TX.tx_write(
        spark, df.filter("k = 2"), p, mode="append", stats_for=["amt", "ts"]
    )
    from decimal import Decimal

    # amt >= 10: must NOT skip the (10.50) file ('10.50' < '9.50' as str!)
    got = rows(
        TX.tx_read(spark, p, where={"amt": (Decimal("10"), None)}).select("k")
    )
    assert got == [(2,)]
    # typed timestamp bound — orderable, prunes to the June file
    got = rows(
        TX.tx_read(spark, p, where={"ts": (dt.datetime(2024, 3, 1), None)}).select("k")
    )
    assert got == [(2,)]
    # manifest never opened the wrong file: verify at the skip level
    m = TX.read_manifest(spark, p, 2)
    keep = [f for f in m["files"] if TX._file_overlaps(f, {"amt": (Decimal("10"), None)})]
    assert len(keep) == 1


def test_stats_for_unsupported_type_fails_at_write(spark, tmp_path):
    import pytest

    p = str(tmp_path / "badstats")
    df = spark.createDataFrame([(1, [1, 2])], "k long, arr array<long>")
    with pytest.raises(ValueError, match="stats_for unsupported"):
        TX.tx_write(spark, df, p, stats_for=["arr"])


def test_incomparable_prune_bound_raises(spark, tmp_path):
    import pytest

    p = str(tmp_path / "badbound")
    TX.tx_write(spark, spark.createDataFrame([(1,)], "k long"), p, stats_for=["k"])
    with pytest.raises(TypeError, match="not comparable"):
        TX.tx_read(spark, p, where={"k": ("abc", None)}).collect()


def test_vacuum_retention_spares_young_files(spark, tmp_path):
    p = str(tmp_path / "vac_ret")
    TX.tx_write(spark, spark.createDataFrame([(1,)], "k long"), p)
    # a concurrent writer's uncommitted (orphan) batch, freshly written
    TX._write_batch(spark.createDataFrame([(9,)], "k long"), p, None)
    removed = TX.tx_vacuum(spark, p, keep_versions=1, retain_hours=1.0)
    assert removed == []  # younger than the retention cutoff → spared
    removed = TX.tx_vacuum(spark, p, keep_versions=1, retain_hours=0)
    assert len(removed) >= 1  # retention waived → orphan reaped


def test_vacuum_rejects_keep_versions_zero(spark, tmp_path):
    import pytest

    p = str(tmp_path / "vac_zero")
    TX.tx_write(spark, spark.createDataFrame([(1,)], "k long"), p)
    with pytest.raises(ValueError, match="keep_versions"):
        TX.tx_vacuum(spark, p, keep_versions=0, retain_hours=0)
    # table untouched
    assert rows(TX.tx_read(spark, p)) == [(1,)]


def test_zorder_compaction_skips_on_both_columns(spark, tmp_path):
    """Interleaved-bit (Morton) clustering: a 2-column box predicate must
    skip files on BOTH columns. Lexicographic clustering on (x, y) makes
    y-stats useless (every file spans y's full width inside its x slice);
    the z-ordered layout bounds both, so a small box opens a small
    fraction of the files."""
    import random

    rng = random.Random(11)
    grid = [(x, y, x * 100 + y) for x in range(64) for y in range(64)]
    rng.shuffle(grid)

    def seed(path):
        # 8 interleaved appends — the worst-case un-clustered history
        for i in range(8):
            chunk = grid[i * 512 : (i + 1) * 512]
            TX.tx_write(
                spark,
                spark.createDataFrame(chunk, "x long, y long, v long").coalesce(1),
                path, mode="append" if i else "overwrite", stats_for=["x", "y"],
            )

    def opened(path, where):
        m = TX.read_manifest(spark, path, TX.current_version(spark, path))
        return (
            sum(1 for f in m["files"] if TX._file_overlaps(f, where)),
            len(m["files"]),
        )

    p_lex = str(tmp_path / "lex")
    seed(p_lex)
    TX.tx_compact(spark, p_lex, n_files=16, cluster_by=["x", "y"])

    p_z = str(tmp_path / "zord")
    seed(p_z)
    TX.tx_compact(spark, p_z, n_files=16, cluster_by=["x", "y"], zorder=True)

    # THE z-order case: a predicate on the SECOND column only. Under
    # lexicographic (x, y) clustering every file spans y's full width
    # (y-stats are useless), so all files open; the Morton layout bounds
    # y per file too.
    y_only = {"y": (8, 15)}
    lex_opened, lex_total = opened(p_lex, y_only)
    z_opened, z_total = opened(p_z, y_only)
    assert lex_opened == lex_total  # lexicographic cannot skip on y
    assert z_opened < lex_opened, (z_opened, lex_opened)
    assert z_opened <= z_total // 2

    # a 2-column box also stays far from open-everything
    box = {"x": (8, 15), "y": (8, 15)}
    z_box, _ = opened(p_z, box)
    assert z_box <= z_total // 2

    # correctness: the pruned reads return exactly the predicate rows
    got = sorted(
        (r["x"], r["y"]) for r in TX.tx_read(spark, p_z, where=box).collect()
    )
    assert got == sorted((x, y) for x in range(8, 16) for y in range(8, 16))
    assert TX.tx_read(spark, p_z, where=y_only).count() == 64 * 8


def test_zorder_rejects_non_numeric_columns(spark, tmp_path):
    import pytest

    p = str(tmp_path / "zbad")
    TX.tx_write(
        spark, spark.createDataFrame([(1, "a")], "x long, s string"), p
    )
    with pytest.raises(ValueError, match="must be numeric"):
        TX.tx_compact(spark, p, cluster_by=["x", "s"], zorder=True)


def test_bloom_index_skips_files_on_point_lookup(spark, tmp_path):
    """High-cardinality string keys: min/max stats span every file, so only
    the Bloom bitset can skip — a point lookup must open (far) fewer files
    than the snapshot holds, and still equal a full filter."""
    p = str(tmp_path / "bloom")
    # 4 appends × disjoint key sets; keys interleave lexically so min/max
    # ranges OVERLAP across files (stats skipping would keep everything)
    for g in range(4):
        df = spark.createDataFrame(
            [(f"user_{i:04d}_{g}", g * 1000 + i) for i in range(50)],
            "uid string, v long",
        ).coalesce(1)
        TX.tx_write(
            spark, df, p, mode="append" if g else "overwrite",
            bloom_for=["uid"],
        )
    manifest = TX.read_manifest(spark, p, 4)
    assert all("bloom" in f and "uid" in f["bloom"] for f in manifest["files"])

    probe = "user_0007_2"  # lives in exactly one file group
    kept = [
        f for f in manifest["files"]
        if not TX._bloom_rejects(f, {"uid": probe})
    ]
    assert 1 <= len(kept) <= 2  # the owner + at most one false positive

    out = TX.tx_read(spark, p, where_equals={"uid": probe})
    assert [(r["uid"], r["v"]) for r in out.collect()] == [(probe, 2007)]
    # absent key: every file provably lacks it (allow 1 FP), zero rows
    kept_absent = [
        f for f in manifest["files"]
        if not TX._bloom_rejects(f, {"uid": "user_9999_9"})
    ]
    assert len(kept_absent) <= 1
    assert TX.tx_read(spark, p, where_equals={"uid": "user_9999_9"}).count() == 0


def test_bloom_index_integer_keys_and_null_probe_rejected(spark, tmp_path):
    import pytest

    p = str(tmp_path / "bloom_int")
    TX.tx_write(
        spark,
        spark.createDataFrame([(i, i * 2) for i in range(100)], "k long, v long")
        .repartition(4, "k"),
        p,
        bloom_for=["k"],
    )
    out = TX.tx_read(spark, p, where_equals={"k": 42})
    assert [(r["k"], r["v"]) for r in out.collect()] == [(42, 84)]
    with pytest.raises(ValueError, match="non-null"):
        TX.tx_read(spark, p, where_equals={"k": None})
    # unsupported probe type at WRITE time fails fast
    with pytest.raises(TypeError, match="cast-stable"):
        TX.tx_write(
            spark,
            spark.createDataFrame([(1.5, 1)], "f double, v long"),
            str(tmp_path / "bloom_bad"),
            bloom_for=["f"],
        )


def test_bloom_null_only_file_is_skippable(spark, tmp_path):
    """A file whose bloom column is entirely null gets an EMPTY bitset —
    every equality probe skips it (no value can match a null)."""
    p = str(tmp_path / "bloom_null")
    TX.tx_write(
        spark,
        spark.createDataFrame([("a", 1)], "uid string, v long").coalesce(1),
        p,
        bloom_for=["uid"],
    )
    TX.tx_write(
        spark,
        spark.createDataFrame([(None, 2)], "uid string, v long").coalesce(1),
        p,
        mode="append",
        bloom_for=["uid"],
    )
    manifest = TX.read_manifest(spark, p, 2)
    null_files = [
        f for f in manifest["files"] if TX._bloom_rejects(f, {"uid": "a"})
    ]
    assert len(null_files) == 1  # the all-null file rejects every probe
    out = TX.tx_read(spark, p, where_equals={"uid": "a"})
    assert [(r["uid"], r["v"]) for r in out.collect()] == [("a", 1)]


def test_bloom_soundness_no_false_negatives(spark, tmp_path):
    """Bloom skipping may keep extra files (false positives) but must NEVER
    drop the file holding a probed value: every written key's point lookup
    returns exactly its row."""
    p = str(tmp_path / "bloom_sound")
    rows_ = [(f"id_{i:03d}", i) for i in range(60)]
    TX.tx_write(
        spark,
        spark.createDataFrame(rows_, "uid string, v long").repartition(6, "uid"),
        p,
        bloom_for=["uid"],
    )
    for uid, v in rows_[::7]:  # sample across the key space
        got = TX.tx_read(spark, p, where_equals={"uid": uid}).collect()
        assert [(r["uid"], r["v"]) for r in got] == [(uid, v)], uid


def test_point_delete_via_bloom_rewrites_one_file(spark, tmp_path):
    """GDPR-style point delete: on a bloom-indexed table, deleting one
    subject's rows rewrites only the file(s) that can contain the key —
    every other file carries forward BY REFERENCE (same path strings in
    the new manifest)."""
    p = str(tmp_path / "gdpr")
    for g in range(3):
        df = spark.createDataFrame(
            [(f"user_{i:03d}_{g}", g * 100 + i) for i in range(30)],
            "uid string, v long",
        ).coalesce(1)
        TX.tx_write(
            spark, df, p, mode="append" if g else "overwrite",
            bloom_for=["uid"],
        )
    before = TX.read_manifest(spark, p, 3)
    target = "user_005_1"  # lives in batch 1's single file

    v = TX.tx_delete(spark, p, where_equals={"uid": target}, bloom_for=["uid"])
    assert v == 4
    after = TX.read_manifest(spark, p, 4)
    kept_paths = {f["path"] for f in before["files"]} & {
        f["path"] for f in after["files"]
    }
    # at least one untouched file carried by reference; at most 2 rewritten
    # (owner + possible bloom false positive)
    assert len(kept_paths) >= 1
    assert len({f["path"] for f in before["files"]} - kept_paths) <= 2
    rows_ = TX.tx_read(spark, p).collect()
    assert len(rows_) == 89
    assert not [r for r in rows_ if r["uid"] == target]
    # rewritten files keep bloom entries (bloom_for threaded through)
    assert all("bloom" in f for f in after["files"])
    # time travel still shows the pre-delete row
    assert (
        TX.tx_read(spark, p, version=3).filter(F.col("uid") == target).count() == 1
    )


def test_point_update_via_bloom(spark, tmp_path):
    p = str(tmp_path / "redact")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(f"u{i}", f"email_{i}@x.com") for i in range(20)],
            "uid string, email string",
        ).repartition(4, "uid"),
        p,
        bloom_for=["uid"],
    )
    TX.tx_update(
        spark, p,
        assignments={"email": F.lit("<REDACTED>")},
        where_equals={"uid": "u7"},
        bloom_for=["uid"],
    )
    got = {r["uid"]: r["email"] for r in TX.tx_read(spark, p).collect()}
    assert got["u7"] == "<REDACTED>"
    assert got["u3"] == "email_3@x.com"
    # predicate required
    import pytest

    with pytest.raises(ValueError, match="predicate"):
        TX.tx_delete(spark, p)


def test_compact_preserves_bloom_index(spark, tmp_path):
    p = str(tmp_path / "compact_bloom")
    for g in range(3):
        TX.tx_write(
            spark,
            spark.createDataFrame(
                [(f"k{g}_{i}", i) for i in range(20)], "uid string, v long"
            ).coalesce(1),
            p,
            mode="append" if g else "overwrite",
            bloom_for=["uid"],
        )
    TX.tx_compact(spark, p, n_files=2, bloom_for=["uid"])
    manifest = TX.read_manifest(spark, p, 4)
    assert all("bloom" in f and "uid" in f["bloom"] for f in manifest["files"])
    out = TX.tx_read(spark, p, where_equals={"uid": "k1_7"}).collect()
    assert [(r["uid"], r["v"]) for r in out] == [("k1_7", 7)]


def test_restore_is_a_new_time_travelable_commit(spark, tmp_path):
    p = str(tmp_path / "restore")
    TX.tx_write(spark, spark.createDataFrame([(1, "a")], "k long, v string"), p)
    TX.tx_write(spark, spark.createDataFrame([(1, "B"), (2, "c")], "k long, v string"), p)
    v = TX.tx_restore(spark, p, 1)
    assert v == 3
    assert rows(TX.tx_read(spark, p)) == [(1, "a")]          # back to v1 content
    assert rows(TX.tx_read(spark, p, version=2)) == [(1, "B"), (2, "c")]  # v2 intact
    # the restore is itself undoable
    TX.tx_restore(spark, p, 2)
    assert rows(TX.tx_read(spark, p)) == [(1, "B"), (2, "c")]
    assert TX.read_manifest(spark, p, 3)["restore_of"] == 1


def test_shallow_clone_shares_files_then_diverges(spark, tmp_path):
    src = str(tmp_path / "src_tbl")
    dst = str(tmp_path / "dst_tbl")
    TX.tx_write(
        spark,
        spark.createDataFrame([("PE", 1), ("CL", 2)], "id_pais string, v long"),
        src,
        partition_by=["id_pais"],
    )
    TX.tx_clone(spark, src, dst)
    # zero data copied: the clone's manifest references the source's files
    m = TX.read_manifest(spark, dst, 1)
    assert all(f["path"].startswith("file:/") or f["path"].startswith("/") for f in m["files"])
    assert rows(TX.tx_read(spark, dst).select("id_pais", "v")) == [("CL", 2), ("PE", 1)]
    # clone evolves independently — source unchanged
    TX.tx_write(
        spark,
        spark.createDataFrame([("BR", 3)], "id_pais string, v long"),
        dst, partition_by=["id_pais"], mode="append",
    )
    assert rows(TX.tx_read(spark, dst).select("id_pais", "v")) == [
        ("BR", 3), ("CL", 2), ("PE", 1)
    ]
    assert rows(TX.tx_read(spark, src).select("id_pais", "v")) == [("CL", 2), ("PE", 1)]
    import pytest

    with pytest.raises(FileExistsError):
        TX.tx_clone(spark, src, dst)


def test_check_constraints_reject_bad_batch_atomically(spark, tmp_path):
    import pytest

    p = str(tmp_path / "checked")
    checks = {"positive_v": "v > 0", "pais_known": "id_pais IN ('PE','CL')"}
    TX.tx_write(
        spark,
        spark.createDataFrame([("PE", 5)], "id_pais string, v long"),
        p, checks=checks,
    )
    with pytest.raises(TX.TxCheckViolation, match="positive_v \\(1 rows\\)"):
        TX.tx_write(
            spark,
            spark.createDataFrame([("PE", -1), ("XX", 2)], "id_pais string, v long"),
            p, mode="append", checks=checks,
        )
    # nothing committed, table unchanged
    assert TX.current_version(spark, p) == 1
    assert rows(TX.tx_read(spark, p)) == [("PE", 5)]
    # NULL in the checked expr counts as violating (SQL CHECK + Delta style)
    with pytest.raises(TX.TxCheckViolation, match="positive_v"):
        TX.tx_write(
            spark,
            spark.createDataFrame([("PE", None)], "id_pais string, v long"),
            p, mode="append", checks=checks,
        )


def test_append_with_evolved_schema_unions_on_read(spark, tmp_path):
    """Appending a batch that carries an extra column under
    schema_evolution=True: the snapshot read unions by name with null
    padding (the manifest records the MERGED schema; per-batch files keep
    their own) — the reference's Delta ``schema.autoMerge`` behavior,
    which it opts into globally (`common_jobs_functions.py:116`); txlog
    makes the same opt-in per write."""
    p = str(tmp_path / "evolve")
    TX.tx_write(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), p
    )
    TX.tx_write(
        spark,
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, extra double"),
        p,
        mode="append",
        schema_evolution=True,
    )
    got = {r["k"]: (r["v"], r["extra"]) for r in TX.tx_read(spark, p).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    # time travel to v1 still shows the original narrow schema
    assert TX.tx_read(spark, p, version=1).columns == ["k", "v"]


def test_table_doctor_healthy_and_broken(spark, tmp_path):
    """The consistency checker passes a healthy table (orphans from an
    uncommitted batch are a WARNING), and flags a dangling file reference
    in the current version as an ERROR."""
    import sys

    sys.path.insert(0, ".")
    from tools.table_doctor import doctor

    p = str(tmp_path / "doctored")
    TX.tx_write(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1),
        p,
        stats_for=["k"],
        bloom_for=["v"],
    )
    rep = doctor(spark, p)
    assert rep["errors"] == [] and rep["current_rows"] == 2
    # a healthy table has ZERO orphans — the r4 doctor compared qualified
    # listing URIs against unqualified manifest paths and reported every
    # live file as an orphan
    assert rep["orphans"] == [] and rep["warnings"] == []

    # orphan: a batch dir written but never committed (crash model)
    spark.createDataFrame([(9, "z")], "k long, v string").coalesce(1).write.parquet(
        f"{p}/data/deadbeef_uncommitted"
    )
    rep = doctor(spark, p)
    assert rep["errors"] == []
    assert any("orphan" in w for w in rep["warnings"])
    # only the uncommitted batch's file is flagged, never committed data
    assert rep["orphans"] and all(
        "deadbeef_uncommitted" in o for o in rep["orphans"]
    )

    # dangling reference: delete a referenced data file behind the log
    m = TX.read_manifest(spark, p, 1)
    TX._delete(spark, f"{p}/{m['files'][0]['path']}")
    rep = doctor(spark, p)
    assert any("dangling" in e for e in rep["errors"])


def test_bloom_probe_type_validation(spark, tmp_path):
    """ADVICE r4: a probe whose Python str() differs from Spark's
    cast-to-string rendering (1.0 / True against a long column, an int
    against a string column) hashes to different bloom positions, so the
    skip test would unsoundly drop files containing matching rows. Such
    probes must raise TypeError — on reads AND on the DML (GDPR) path."""
    import pytest

    p = str(tmp_path / "probetypes")
    TX.tx_write(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1),
        p,
        bloom_for=["k", "v"],
    )
    for bad in ({"k": 1.0}, {"k": True}, {"v": 5}, {"k": "1"}):
        with pytest.raises(TypeError, match="probe"):
            TX.tx_read(spark, p, where_equals=bad).collect()
        with pytest.raises(TypeError, match="probe"):
            TX.tx_delete(spark, p, where_equals=bad, bloom_for=["k", "v"])
    # well-typed probes keep working (and still skip soundly)
    assert rows(TX.tx_read(spark, p, where_equals={"k": 2})) == [(2, "b")]
    assert rows(TX.tx_read(spark, p, where_equals={"v": "a"})) == [(1, "a")]
    TX.tx_delete(spark, p, where_equals={"k": 1}, bloom_for=["k", "v"])
    assert rows(TX.tx_read(spark, p)) == [(2, "b")]


def _count_log_reads(monkeypatch):
    """Patch TX._read_text with a counting wrapper; returns the counter."""
    counts = {"n": 0}
    orig = TX._read_text

    def counted(spark, path):
        counts["n"] += 1
        return orig(spark, path)

    monkeypatch.setattr(TX, "_read_text", counted)
    return counts


def test_thousand_commit_snapshot_resolution_is_bounded(spark, tmp_path, monkeypatch):
    """THE checkpoint contract (VERDICT r4 #1): resolving any snapshot of a
    1,000-commit table reads at most ONE checkpoint plus the
    <_CHECKPOINT_EVERY tail delta records — never O(versions) JSON parses.
    Commits go through the real _commit path (so checkpoints are written
    by the production trigger), with metadata-only file entries so the
    test stays fast."""
    p = str(tmp_path / "kilo")
    N = 1000
    for v in range(1, N + 1):
        entry = {"path": f"data/b{v:04d}/part-0.parquet", "partition": {}}
        TX._commit(
            spark,
            p,
            lambda cur, e=entry, first=(v == 1): {
                "op": "overwrite" if first else "append",
                "schema": '{"type":"struct","fields":[]}',
                "add": [e],
                "remove": [],
                "truncate": first,
            },
        )
    versions, checkpoints = TX._log_listing(spark, p)
    assert len(versions) == N
    assert checkpoints == list(range(TX._CHECKPOINT_EVERY, N + 1, TX._CHECKPOINT_EVERY))

    counts = _count_log_reads(monkeypatch)
    snap = TX.read_manifest(spark, p, N)
    assert len(snap["files"]) == N
    assert counts["n"] <= 1 + TX._CHECKPOINT_EVERY  # checkpoint + tail only

    # a mid-history version between checkpoints: same bound
    counts["n"] = 0
    snap = TX.read_manifest(spark, p, 995)
    assert len(snap["files"]) == 995
    assert counts["n"] <= 1 + TX._CHECKPOINT_EVERY

    # the _last_checkpoint hint tracks the newest checkpoint (Delta parity)
    import json as _json

    hint = _json.loads(TX._read_text(spark, TX._last_checkpoint_path(p)))
    assert hint["version"] == N


def test_checkpoint_end_to_end_with_vacuum_and_doctor(spark, tmp_path, monkeypatch):
    """Real-write path: auto-checkpoint at the cadence version, bounded
    log reads for tx_read, vacuum grounds the truncated log with a fresh
    checkpoint at the oldest kept version (dropping superseded ones), and
    the doctor walks the delta chain clean."""
    import json as _json

    from tools.table_doctor import doctor

    p = str(tmp_path / "ckpt_e2e")
    for i in range(12):
        TX.tx_write(
            spark,
            spark.createDataFrame([(i,)], "k long").coalesce(1),
            p,
            mode="append" if i else "overwrite",
        )
    _, checkpoints = TX._log_listing(spark, p)
    assert checkpoints == [10]
    assert _json.loads(TX._read_text(spark, TX._last_checkpoint_path(p)))[
        "version"
    ] == 10

    counts = _count_log_reads(monkeypatch)
    assert sorted(r["k"] for r in TX.tx_read(spark, p).collect()) == list(range(12))
    assert counts["n"] <= 1 + TX._CHECKPOINT_EVERY

    # time travel below the checkpoint still resolves (grounded at v1)
    assert TX.tx_read(spark, p, version=5).count() == 5

    # vacuum: drops v1..v10 logs, grounds the kept tail with a checkpoint
    # at v11 and removes the superseded c10
    removed = TX.tx_vacuum(spark, p, keep_versions=2, retain_hours=0)
    assert removed == []  # appends only: every file still referenced
    versions, checkpoints = TX._log_listing(spark, p)
    assert versions == [11, 12] and checkpoints == [11]
    assert sorted(r["k"] for r in TX.tx_read(spark, p).collect()) == list(range(12))
    assert TX.tx_read(spark, p, version=11).count() == 11
    import pytest

    with pytest.raises(FileNotFoundError, match="not available"):
        TX.tx_read(spark, p, version=5).collect()

    rep = doctor(spark, p)
    assert rep["errors"] == [] and rep["current_rows"] == 12
    assert rep["orphans"] == []


def test_doctor_detects_checkpoint_drift(spark, tmp_path):
    """A checkpoint whose file listing disagrees with the delta chain is a
    corruption the doctor must flag (a reader resolving from it would see
    the wrong snapshot)."""
    import json as _json

    from tools.table_doctor import doctor

    p = str(tmp_path / "drift")
    for i in range(11):
        TX.tx_write(
            spark,
            spark.createDataFrame([(i,)], "k long").coalesce(1),
            p,
            mode="append" if i else "overwrite",
        )
    cp_path = TX._checkpoint_path(p, 10)
    cp = _json.loads(TX._read_text(spark, cp_path))
    cp["files"] = cp["files"][:3]  # silently drop most of the snapshot
    TX._write_text(spark, cp_path, _json.dumps(cp))
    rep = doctor(spark, p)
    assert any("drift" in e for e in rep["errors"])


def test_multipart_checkpoints(spark, tmp_path, monkeypatch):
    """Snapshots larger than _CHECKPOINT_MAX_PART entries shard the
    checkpoint into part slices (Delta's multi-part checkpoint files): no
    single log JSON grows with the table. Resolution, vacuum grounding +
    superseded-part cleanup, and the doctor all handle the sharded form."""
    import json as _json

    from tools.table_doctor import doctor

    monkeypatch.setattr(TX, "_CHECKPOINT_MAX_PART", 3)
    p = str(tmp_path / "multipart")
    # metadata-only commits through the real _commit path: 25 appends of
    # one file entry each -> checkpoints at 10 and 20 exceed 3 entries
    for v in range(1, 26):
        entry = {"path": f"data/b{v:04d}/part-0.parquet", "partition": {}}
        TX._commit(
            spark,
            p,
            lambda cur, e=entry, first=(v == 1): {
                "op": "overwrite" if first else "append",
                "schema": '{"type":"struct","fields":[]}',
                "add": [e],
                "remove": [],
                "truncate": first,
            },
        )
    versions, checkpoints = TX._log_listing(spark, p)
    assert versions == list(range(1, 26)) and checkpoints == [10, 20]
    # the c10 header carries a parts count, not inline files
    hdr = _json.loads(TX._read_text(spark, TX._checkpoint_path(p, 10)))
    assert "files" not in hdr and hdr["parts"] == 4  # ceil(10/3)
    assert _json.loads(
        TX._read_text(spark, TX._checkpoint_part_path(p, 10, 0))
    )["files"]

    # resolution reads header + parts + tail and reconstructs everything
    counts = _count_log_reads(monkeypatch)
    snap = TX.read_manifest(spark, p, 25)
    assert len(snap["files"]) == 25
    # 1 header + 7 parts (ceil(20/3)) + 5 tail deltas
    assert counts["n"] <= 1 + 7 + TX._CHECKPOINT_EVERY

    # vacuum: grounding checkpoint at keep[0]=24 is itself multi-part;
    # superseded c10/c20 AND their part slices are reaped
    TX.tx_vacuum(spark, p, keep_versions=2, retain_hours=0)
    versions, checkpoints = TX._log_listing(spark, p)
    assert versions == [24, 25] and checkpoints == [24]
    assert not TX._exists(spark, TX._checkpoint_path(p, 10))
    assert not TX._exists(spark, TX._checkpoint_part_path(p, 10, 0))
    assert not TX._exists(spark, TX._checkpoint_part_path(p, 20, 0))
    assert len(TX.read_manifest(spark, p, 25)["files"]) == 25
    assert len(TX.read_manifest(spark, p, 24)["files"]) == 24

    # doctor walks the sharded log clean (file-existence danglings are
    # expected: the entries are metadata-only fixtures)
    rep = doctor(spark, p)
    # expected errors: the metadata-only fixture files don't exist on
    # disk; what must NOT appear is checkpoint drift / unreadable
    # checkpoints / unresolvable snapshots
    bad = [
        e
        for e in rep["errors"]
        if "drift" in e
        or "unreadable commit record" in e
        or "unreadable checkpoint" in e
        or "unresolvable" in e
    ]
    assert not bad, bad


def test_schema_enforcement_on_append(spark, tmp_path):
    """Delta's write-time schema check at the commit boundary: a type
    change always raises, a new column needs schema_evolution=True (and
    then EXTENDS the table schema), an omitted nullable column is fine —
    and a narrow append never narrows the TABLE schema (the regression
    that silently dropped columns from streaming readers / empty reads)."""
    import json as _json

    import pytest

    p = str(tmp_path / "t")
    TX.tx_write(spark, spark.createDataFrame([(1, "a")], "id long, s string"), p)

    # type change: always refused
    with pytest.raises(TX.TxSchemaMismatch, match="type change"):
        TX.tx_write(
            spark,
            spark.createDataFrame([("x", "b")], "id string, s string"),
            p,
            mode="append",
        )
    # new column: refused without the flag, schema extends with it
    wide = spark.createDataFrame([(2, "b", 9.5)], "id long, s string, score double")
    with pytest.raises(TX.TxSchemaMismatch, match="schema_evolution=True"):
        TX.tx_write(spark, wide, p, mode="append")
    TX.tx_write(spark, wide, p, mode="append", schema_evolution=True)
    fields = [
        f["name"]
        for f in _json.loads(TX.read_manifest(spark, p, 2)["schema"])["fields"]
    ]
    assert fields == ["id", "s", "score"]

    # narrow append: allowed, and the table schema STAYS wide
    TX.tx_write(spark, spark.createDataFrame([(3,)], "id long"), p, mode="append")
    fields = [
        f["name"]
        for f in _json.loads(TX.read_manifest(spark, p, 3)["schema"])["fields"]
    ]
    assert fields == ["id", "s", "score"]
    got = {r.id: (r.s, r.score) for r in TX.tx_read(spark, p).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5), 3: (None, None)}

    # full overwrite replaces the schema outright (overwriteSchema implied)
    TX.tx_write(spark, spark.createDataFrame([(9, 1)], "id long, flag int"), p)
    fields = [
        f["name"]
        for f in _json.loads(TX.read_manifest(spark, p, 4)["schema"])["fields"]
    ]
    assert fields == ["id", "flag"]


def test_job_layer_schema_automerge_conf(spark, tmp_path):
    """The job-layer writer mirrors the reference's GLOBAL Delta
    schema.autoMerge opt-in (`common_jobs_functions.py:116`): write_table
    always evolves the schema (direct tx_write callers enforce)."""
    from cdk_datalake_analytics_comercial_spark.sources.writer import write_table

    p = str(tmp_path / "t")
    write_table(spark.createDataFrame([(1, "a")], "k long, v string"), p)
    # autoMerge on — evolved append passes, schema extends
    write_table(
        spark.createDataFrame([(2, "b", 1.5)], "k long, v string, x double"),
        p,
        mode="append",
    )
    assert set(TX.tx_read(spark, p).columns) == {"k", "v", "x"}


def test_deletion_vectors(spark, tmp_path):
    """DELETE via deletion vectors (Delta's DV path): no data file is
    rewritten — matching rows are soft-deleted by (file, row_index) in a
    parquet sidecar, entries gain a dv reference. Reads, time travel, a
    later rewrite-DML, CDF, compaction, and vacuum all resolve the DV."""
    import os as _os

    p = str(tmp_path / "dv")
    df = spark.createDataFrame(
        [(i, f"v{i}", "p1" if i <= 3 else "p2") for i in range(1, 7)],
        "k long, v string, part string",
    )
    TX.tx_write(spark, df, p, partition_by=["part"], stats_for=["k"])

    def data_files():
        return sorted(
            _os.path.join(r, f)
            for r, _, fs in _os.walk(_os.path.join(p, "data"))
            for f in fs
            if f.endswith(".parquet")
        )

    before = data_files()
    v2 = TX.tx_delete(spark, p, where={"k": (2, 3)}, use_dv=True)
    assert v2 == 2
    assert data_files() == before  # NO rewrite: same physical files
    assert rows(TX.tx_read(spark, p).select("k")) == [(1,), (4,), (5,), (6,)]
    assert rows(TX.tx_read(spark, p, version=1).select("k")) == [
        (i,) for i in range(1, 7)
    ]  # time travel sees the pre-DV snapshot
    m = TX.read_manifest(spark, p, 2)
    dv_entries = [f for f in m["files"] if f.get("dv")]
    assert dv_entries and all(f["dv_count"] >= 1 for f in dv_entries)
    assert sum(f["dv_count"] for f in dv_entries) == 2

    # stacked DV: a second soft delete appends a reference; re-deleting an
    # already-deleted row is a no-op (counts come from LIVE rows)
    v3 = TX.tx_delete(spark, p, where={"k": (3, 4)}, use_dv=True)
    assert v3 == 3
    assert rows(TX.tx_read(spark, p).select("k")) == [(1,), (5,), (6,)]
    m3 = TX.read_manifest(spark, p, 3)
    assert sum(f.get("dv_count", 0) for f in m3["files"]) == 3
    # predicate matching nothing live: version unchanged, no sidecar litter
    n_dv_batches = len(_os.listdir(_os.path.join(p, "_dv")))
    assert TX.tx_delete(spark, p, where={"k": (2, 2)}, use_dv=True) == 3
    assert len(_os.listdir(_os.path.join(p, "_dv"))) == n_dv_batches

    # a REWRITE delete on other rows must not resurrect DV-deleted ones
    TX.tx_delete(spark, p, where={"k": (6, 6)})
    assert rows(TX.tx_read(spark, p).select("k")) == [(1,), (5,)]

    # CDF across the DV commit reports the deletes
    d = TX.tx_diff(spark, p, ["k"], 1, 3)
    assert sorted((r.k, r._change_type) for r in d.collect()) == [
        (2, "delete"), (3, "delete"), (4, "delete"),
    ]

    # compaction materializes DVs away; vacuum then reaps the sidecars
    TX.tx_compact(spark, p, partition_by=["part"])
    assert rows(TX.tx_read(spark, p).select("k")) == [(1,), (5,)]
    assert not any(
        f.get("dv") for f in TX.read_manifest(
            spark, p, TX.current_version(spark, p)
        )["files"]
    )
    TX.tx_vacuum(spark, p, keep_versions=1, retain_hours=0)
    assert _os.listdir(_os.path.join(p, "_dv")) == []
    assert rows(TX.tx_read(spark, p).select("k")) == [(1,), (5,)]


def test_deletion_vector_point_delete_with_bloom(spark, tmp_path):
    """The GDPR point-delete on the DV path: bloom pruning picks the
    file(s), the DV marks just those rows — KBs written, nothing moved."""
    p = str(tmp_path / "dvb")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(i, f"u{i}") for i in range(100)], "id long, payload string"
        ).repartition(4),
        p,
        bloom_for=["id"],
    )
    TX.tx_delete(spark, p, where_equals={"id": 42}, use_dv=True)
    got = [r.id for r in TX.tx_read(spark, p).collect()]
    assert len(got) == 99 and 42 not in got
    m = TX.read_manifest(spark, p, 2)
    # only the file(s) whose bloom can contain 42 carry a DV
    assert sum(1 for f in m["files"] if f.get("dv")) <= 2


def test_deletion_vector_update(spark, tmp_path):
    """UPDATE via deletion vectors: the old images are soft-deleted, the
    post-images appended in the SAME commit — affected files untouched,
    time travel sees the pre-update rows, CDF reports updates."""
    import os as _os

    p = str(tmp_path / "dvu")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(i, f"u{i}", 0) for i in range(1, 6)], "k long, v string, hits int"
        ),
        p,
        stats_for=["k"],
    )

    def data_files():
        return sorted(
            _os.path.join(r, f)
            for r, _, fs in _os.walk(_os.path.join(p, "data"))
            for f in fs
            if f.endswith(".parquet")
        )

    before = set(data_files())
    TX.tx_update(
        spark,
        p,
        where={"k": (2, 3)},
        assignments={"v": F.lit("REDACTED"), "hits": F.col("hits") + 1},
        use_dv=True,
    )
    after = set(data_files())
    assert before < after  # old files intact, ONE new batch appended
    got = {r.k: (r.v, r.hits) for r in TX.tx_read(spark, p).collect()}
    assert got == {
        1: ("u1", 0), 2: ("REDACTED", 1), 3: ("REDACTED", 1),
        4: ("u4", 0), 5: ("u5", 0),
    }
    # pre-update snapshot intact
    v1 = {r.k: r.v for r in TX.tx_read(spark, p, version=1).collect()}
    assert v1 == {i: f"u{i}" for i in range(1, 6)}
    d = TX.tx_diff(spark, p, ["k"], 1, 2)
    assert sorted((r.k, r._change_type) for r in d.collect()) == [
        (2, "update"), (3, "update"),
    ]
    # compaction materializes; the updated values survive
    TX.tx_compact(spark, p)
    m = TX.read_manifest(spark, p, TX.current_version(spark, p))
    assert not any(f.get("dv") for f in m["files"])
    assert {r.k: r.v for r in TX.tx_read(spark, p).collect()}[2] == "REDACTED"


def test_deletion_vector_merge(spark, tmp_path):
    """MERGE with deletion vectors (Delta's merge-with-DV): matched target
    rows are soft-deleted, winner rows appended — affected files keep
    their paths (no partition rewrite), untouched partitions carry no DV."""
    p = str(tmp_path / "dvm")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")],
        "k long, v string, part string",
    )
    TX.tx_merge(spark, base, p, keys=["k"], partition_by=["part"])
    m1 = TX.read_manifest(spark, p, 1)
    p1_paths = {f["path"] for f in m1["files"] if f["partition"]["part"] == "p1"}
    p2_paths = {f["path"] for f in m1["files"] if f["partition"]["part"] == "p2"}

    src = spark.createDataFrame(
        [(2, "B", "p1"), (4, "d", "p1"), (5, "e", "p3")],
        "k long, v string, part string",
    )
    TX.tx_merge(spark, src, p, keys=["k"], partition_by=["part"], use_dv=True)
    got = {r.k: (r.v, r.part) for r in TX.tx_read(spark, p).collect()}
    assert got == {
        1: ("a", "p1"), 2: ("B", "p1"), 3: ("c", "p2"),
        4: ("d", "p1"), 5: ("e", "p3"),
    }
    m2 = TX.read_manifest(spark, p, 2)
    by_path = {f["path"]: f for f in m2["files"]}
    # p1's original files survive BY PATH, the matched one carries a DV
    assert p1_paths <= set(by_path)
    assert sum(f.get("dv_count", 0) for f in m2["files"]) == 1
    # untouched partition p2: same entries, no DV
    assert all(not by_path[pp].get("dv") for pp in p2_paths)
    # time travel pre-merge
    assert {r.k: r.v for r in TX.tx_read(spark, p, version=1).collect()} == {
        1: "a", 2: "b", 3: "c",
    }

    # precedence: stale source loses, matched row survives via re-append
    TX.tx_write(
        spark,
        spark.createDataFrame([(10, 5, "new")], "k long, seq long, v string"),
        str(tmp_path / "dvp"),
    )
    p2t = str(tmp_path / "dvp")
    TX.tx_merge(
        spark,
        spark.createDataFrame(
            [(10, 3, "stale"), (11, 1, "x")], "k long, seq long, v string"
        ),
        p2t, keys=["k"], precedence="seq", use_dv=True,
    )
    got = {r.k: (r.seq, r.v) for r in TX.tx_read(spark, p2t).collect()}
    assert got == {10: (5, "new"), 11: (1, "x")}

    # compaction materializes the merge DVs away
    TX.tx_compact(spark, p, partition_by=["part"])
    m = TX.read_manifest(spark, p, TX.current_version(spark, p))
    assert not any(f.get("dv") for f in m["files"])
    assert {r.k: r.v for r in TX.tx_read(spark, p).collect()}[2] == "B"


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF (Delta parity): commits carry wall-clock stamps,
    reads resolve a timestamp to the newest at-or-before version; stamps
    are monotonicized on read, pre-timestamp records inherit, and a
    timestamp before the earliest retained commit raises."""
    import json as _json
    import time as _time

    import pytest

    p = str(tmp_path / "tt")
    TX.tx_write(spark, spark.createDataFrame([(1,)], "k long"), p)
    t_after_v1 = _time.time()
    _time.sleep(0.05)
    TX.tx_write(spark, spark.createDataFrame([(2,)], "k long"), p, mode="append")
    TX.tx_write(spark, spark.createDataFrame([(3,)], "k long"), p, mode="append")

    assert TX.version_at_timestamp(spark, p, t_after_v1) == 1
    assert rows(TX.tx_read(spark, p, timestamp=t_after_v1)) == [(1,)]
    # after the latest commit: resolves to latest
    assert TX.version_at_timestamp(spark, p, _time.time() + 60) == 3
    # before the first commit: Delta's earliest-version error
    with pytest.raises(ValueError, match="earliest retained"):
        TX.version_at_timestamp(spark, p, t_after_v1 - 3600)
    with pytest.raises(ValueError, match="not both"):
        TX.tx_read(spark, p, version=1, timestamp=t_after_v1)
    # ISO-8601 form resolves too (UTC)
    import datetime as _dt

    iso = _dt.datetime.fromtimestamp(
        t_after_v1, tz=_dt.timezone.utc
    ).isoformat()
    assert TX.version_at_timestamp(spark, p, iso) == 1

    # a legacy record without ts_ms inherits the previous effective stamp
    rec = _json.loads(TX._read_text(spark, TX._version_path(p, 2)))
    del rec["ts_ms"]
    TX._write_text(spark, TX._version_path(p, 2), _json.dumps(rec))
    assert TX.version_at_timestamp(spark, p, _time.time()) == 3
    assert TX.version_at_timestamp(spark, p, t_after_v1) >= 1


def test_incremental_optimize_small_files(spark, tmp_path):
    """small_bytes (incremental OPTIMIZE / Delta bin-packing): only
    under-threshold files rewrite; right-sized files carry forward BY
    REFERENCE — the only compaction shape that survives a petabyte table.
    DV'd files rewrite regardless (materialization)."""
    import pytest

    p = str(tmp_path / "opt")
    big = spark.createDataFrame(
        [(i, "x" * 200) for i in range(2000)], "k long, pad string"
    ).repartition(1)
    TX.tx_write(spark, big, p)  # v1: one big file
    for i in range(3):  # v2-v4: three tiny single-row files
        TX.tx_write(
            spark,
            spark.createDataFrame([(10000 + i, "t")], "k long, pad string")
            .repartition(1),
            p,
            mode="append",
        )
    m = TX.read_manifest(spark, p, 4)
    assert all(isinstance(f.get("bytes"), int) for f in m["files"])
    big_paths = {f["path"] for f in m["files"] if f["bytes"] >= 4096}
    assert len(m["files"]) == 4 and len(big_paths) == 1

    v = TX.tx_compact(spark, p, small_bytes=4096, n_files=1)
    assert v == 5
    m5 = TX.read_manifest(spark, p, 5)
    assert big_paths <= {f["path"] for f in m5["files"]}  # carried by ref
    assert len(m5["files"]) == 2  # big + ONE packed file
    assert TX.tx_read(spark, p).count() == 2003

    # a DV'd big file is rewritten even above the threshold
    TX.tx_delete(spark, p, where={"k": (0, 9)}, use_dv=True)
    TX.tx_compact(spark, p, small_bytes=4096, n_files=1)
    mf = TX.read_manifest(spark, p, TX.current_version(spark, p))
    assert not any(f.get("dv") for f in mf["files"])
    assert TX.tx_read(spark, p).count() == 1993

    # threshold finding nothing to pack: version unchanged
    cur = TX.current_version(spark, p)
    assert TX.tx_compact(spark, p, small_bytes=1) == cur
    with pytest.raises(ValueError, match="cannot cluster"):
        TX.tx_compact(spark, p, small_bytes=4096, cluster_by=["k"])


# --------------------------------------------------------------------------
# metadata-only COUNT(*)


def test_tx_count_metadata_only_across_dml(spark, tmp_path):
    """tx_count answers from the manifest (rows − dv_count per file) with
    NO data scan — proven by making tx_read explode — and stays exact
    through append, DV delete, DV update, compaction, and time travel."""
    import pytest

    p = str(tmp_path / "cnt")
    df = spark.createDataFrame([(i, "x" * (i % 3)) for i in range(10)], "k long, v string")
    TX.tx_write(spark, df, p)
    TX.tx_write(
        spark,
        spark.createDataFrame([(i, "y") for i in range(10, 15)], "k long, v string"),
        p,
        mode="append",
    )
    assert TX.tx_count(spark, p) == 15
    assert TX.tx_count(spark, p, version=1) == 10

    TX.tx_delete(spark, p, where={"k": (None, 2)}, use_dv=True)  # soft-delete 3
    assert TX.tx_count(spark, p) == 12
    TX.tx_update(
        spark, p, where={"k": (5, 5)}, assignments={"v": F.lit("upd")}, use_dv=True
    )
    assert TX.tx_count(spark, p) == 12  # update: −1 soft-deleted, +1 appended
    TX.tx_compact(spark, p)  # materializes the DVs away
    assert TX.tx_count(spark, p) == 12
    assert TX.tx_read(spark, p).count() == 12  # cross-check vs a real scan

    # the fast path never touches data: a scan would raise here
    import cdk_datalake_analytics_comercial_spark.sources.txlog as xmod

    real = xmod.tx_read
    try:
        def boom(*a, **kw):
            raise AssertionError("tx_count scanned data on the fast path")

        xmod.tx_read = boom
        assert TX.tx_count(spark, p) == 12
    finally:
        xmod.tx_read = real


def test_tx_count_falls_back_to_scan_without_footer_rows(spark, tmp_path, monkeypatch):
    """Entries written where footers were unreachable carry no `rows`;
    tx_count must detect that and count the snapshot scan instead."""
    import cdk_datalake_analytics_comercial_spark.sources.txlog as xmod

    monkeypatch.setattr(xmod, "_footer_rows", lambda batch_dir, rels: None)
    p = str(tmp_path / "cnt_fb")
    TX.tx_write(
        spark, spark.createDataFrame([(i, "a") for i in range(7)], "k long, v string"), p
    )
    files = TX.read_manifest(spark, p, 1)["files"]
    assert files and all("rows" not in f for f in files)
    assert TX.tx_count(spark, p) == 7


def test_vacuum_dry_run_lists_without_deleting(spark, tmp_path):
    """VACUUM DRY RUN parity: the dry run returns exactly what a real
    vacuum would reap, deletes nothing, writes no grounding checkpoint,
    and the subsequent real vacuum reaps exactly that list."""
    p = str(tmp_path / "t")
    TX.tx_write(spark, spark.createDataFrame([(1,)], "k long"), p)
    TX.tx_write(spark, spark.createDataFrame([(2,)], "k long"), p)  # orphan v1
    TX.tx_delete(spark, p, where={"k": (2, 2)}, use_dv=True)
    TX.tx_write(spark, spark.createDataFrame([(3,)], "k long"), p)  # drop DV
    versions_before = TX._log_listing(spark, p)
    planned = TX.tx_vacuum(spark, p, keep_versions=1, retain_hours=0, dry_run=True)
    assert planned  # v1's and v2's files + the orphaned DV sidecar
    assert any(r.startswith("_dv/") for r in planned)
    # nothing changed: log intact, every old version still readable
    assert TX._log_listing(spark, p) == versions_before
    assert TX.tx_read(spark, p, version=1).count() == 1
    real = TX.tx_vacuum(spark, p, keep_versions=1, retain_hours=0)
    assert real == planned


def test_history_operation_metrics(spark, tmp_path):
    """DESCRIBE HISTORY operationMetrics parity: per-commit file/row
    counts, incl. rows soft-deleted by NEW deletion-vector refs only
    (a later commit re-adding the same DV'd entry adds no delta)."""
    p = str(tmp_path / "t")
    TX.tx_write(spark, spark.createDataFrame([(i,) for i in range(10)], "k long"), p)
    TX.tx_write(spark, spark.createDataFrame([(10,), (11,)], "k long"), p, mode="append")
    TX.tx_delete(spark, p, where={"k": (0, 2)}, use_dv=True)
    hist = TX.tx_history(spark, p)
    m1, m2, m3 = (h["operation_metrics"] for h in hist)
    assert m1["num_output_rows"] == 10 and m1["truncated"]
    assert m2["num_output_rows"] == 2 and m2["num_added_files"] >= 1
    assert m3["num_dv_deleted_rows"] == 3 and m3["num_output_rows"] == 0


def test_merge_not_matched_by_source_delete(spark, tmp_path):
    """Delta's WHEN NOT MATCHED BY SOURCE THEN DELETE: target rows absent
    from the source are deleted — globally, including rows in partitions
    the source never touches (the clause forfeits partition pruning)."""
    p = str(tmp_path / "t")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")],
            "k long, v string, part string",
        ),
        p,
        partition_by=["part"],
    )
    src = spark.createDataFrame(
        [(2, "B", "p1"), (5, "E", "p2")], "k long, v string, part string"
    )
    TX.tx_merge(
        spark, src, p, keys=["k"], partition_by=["part"],
        not_matched_by_source="delete",
    )
    got = sorted(tuple(r) for r in TX.tx_read(spark, p).select("k", "v").collect())
    # 1 (touched p1), 3 (untouched p2), 4 (untouched p3) all deleted;
    # 2 updated; 5 inserted
    assert got == [(2, "B"), (5, "E")]
    # time travel still shows the pre-sync snapshot
    pre = TX.tx_read(spark, p, version=1).select("k").collect()
    assert sorted(r["k"] for r in pre) == [1, 2, 3, 4]


def test_merge_not_matched_by_source_with_precedence(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(1, 9, "keep"), (2, 9, "hi")], "k long, pri long, v string"
        ),
        p,
    )
    src = spark.createDataFrame(
        [(2, 1, "lo"), (7, 1, "new")], "k long, pri long, v string"
    )
    TX.tx_merge(
        spark, src, p, keys=["k"], precedence="pri",
        not_matched_by_source="delete",
    )
    got = sorted(tuple(r) for r in TX.tx_read(spark, p).select("k", "v").collect())
    # k=1 unmatched → deleted even though precedence favors the target;
    # k=2 matched → target wins on precedence; k=7 inserted
    assert got == [(2, "hi"), (7, "new")]


def test_merge_not_matched_by_source_validation(spark, tmp_path):
    import pytest

    p = str(tmp_path / "t")
    TX.tx_write(spark, spark.createDataFrame([(1, "a")], "k long, v string"), p)
    src = spark.createDataFrame([(1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="only 'delete'"):
        TX.tx_merge(spark, src, p, keys=["k"], not_matched_by_source="update")
    with pytest.raises(ValueError, match="use_dv"):
        TX.tx_merge(
            spark, src, p, keys=["k"], use_dv=True,
            not_matched_by_source="delete",
        )
