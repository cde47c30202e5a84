"""Structured Streaming window tests: the streaming builders produce the
same results as the identical transformation applied in batch (availableNow
trigger → memory sink vs plain batch read)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdk_datalake_analytics_comercial_spark.sources.txlog import tx_read
from cdk_datalake_analytics_comercial_spark.streaming import windows as W

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def event_rows():
    base = dt.datetime(2025, 5, 1, 10, 0, 0)
    rows = []
    for i in range(60):
        rows.append(
            (
                base + dt.timedelta(minutes=i),
                "click" if i % 2 == 0 else "view",
                i % 5,
                float(i),
            )
        )
    # a second burst for user 0 after a >30min gap → second session
    for i in range(5):
        rows.append((base + dt.timedelta(hours=3, minutes=i), "click", 0, 1.0))
    return rows


@pytest.fixture()
def events_dir(spark, tmp_path):
    path = str(tmp_path / "events_parquet")
    spark.createDataFrame(event_rows(), SCHEMA).repartition(3).write.parquet(path)
    return path


def canon(df):
    return sorted(tuple(r) for r in df.collect())


def run_stream(spark, events_dir, builder, name):
    stream = spark.readStream.schema(SCHEMA).parquet(events_dir)
    q = W.run_availablenow_to_memory(stream, builder, name)
    assert not q.isActive
    return spark.table(name)


def test_tumbling_stream_matches_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    got = run_stream(spark, events_dir, W.tumbling_counts, "t_tumbling")
    expected = W.tumbling_counts(batch)
    assert canon(got) == canon(expected)
    # sanity: 60 one-minute events → 12 five-minute windows × 2 types
    assert got.filter(F.col("event_type") == "click").count() >= 12


def test_sliding_stream_matches_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    got = run_stream(spark, events_dir, W.sliding_counts, "t_sliding")
    expected = W.sliding_counts(batch)
    assert canon(got) == canon(expected)
    # each event belongs to size/slide = 2 windows
    n_events = sum(r["n_events"] for r in got.collect())
    assert n_events == 2 * len(event_rows())


def test_session_stream_matches_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    got = run_stream(spark, events_dir, W.session_aggregates, "t_sessions")
    expected = W.session_aggregates(batch)
    assert canon(got) == canon(expected)
    # user 0: one dense session + one burst 3h later = 2 sessions
    u0 = got.filter(F.col("user_id") == 0).collect()
    assert len(u0) == 2


def test_with_event_time_nanos_long(spark):
    # the events fixture path: ts as nanosecond longs
    df = spark.createDataFrame(
        [(1_746_093_600_000_000_000, "click")], "ts long, event_type string"
    )
    out = W.with_event_time(df).select("event_time").collect()[0][0]
    assert out == dt.datetime(2025, 5, 1, 10, 0, 0)


def test_stateful_running_totals(spark, events_dir, tmp_path):
    """applyInPandasWithState: per-user state persists across micro-batches
    (maxFilesPerTrigger=1 forces several batches); the LAST update per user
    equals the batch ground truth."""
    from cdk_datalake_analytics_comercial_spark.streaming.stateful import (
        run_stateful_to_memory,
    )

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    q = run_stateful_to_memory(stream, "t_stateful")
    assert not q.isActive
    # memory sink in update mode appends one row per (batch, key) update;
    # reconstruct the final state per user = the row with max n_events
    updates = spark.table("t_stateful").collect()
    final = {}
    for r in updates:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r

    batch = spark.read.parquet(events_dir)
    truth = {
        r["user_id"]: r
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("last_seen"),
        )
        .collect()
    }
    assert set(final) == set(truth)
    for uid, t in truth.items():
        f = final[uid]
        assert f["n_events"] == t["n_events"]
        assert abs(f["sum_value"] - t["sum_value"]) < 1e-9
        assert f["last_seen"] == t["last_seen"]
    # several micro-batches actually happened (state crossed batches)
    assert len(updates) > len(truth)


DOC_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


@pytest.fixture()
def docs_stream_dir(spark, tmp_path):
    base = dt.datetime(2025, 5, 1, 10, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=0), 1, "the quick brown fox"),
        (base + dt.timedelta(minutes=5), 2, "THE QUICK  brown FOX!"),   # dup (normalized)
        (base + dt.timedelta(minutes=10), 3, "a different document"),
        (base + dt.timedelta(minutes=15), 4, "the quick brown fox"),    # dup again
        (base + dt.timedelta(minutes=20), 5, "yet another one"),
    ]
    path = str(tmp_path / "docs_parquet")
    spark.createDataFrame(rows, DOC_SCHEMA).repartition(2).write.parquet(path)
    return path


def test_stream_dedup_first_arrival_wins(spark, docs_stream_dir):
    from cdk_datalake_analytics_comercial_spark.streaming import dedup as SD

    stream = spark.readStream.schema(DOC_SCHEMA).parquet(docs_stream_dir)
    q = (
        SD.dedup_stream(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream_t").collect()
    # one survivor per distinct normalized fingerprint
    assert len(got) == 3
    fps_stream = {r["fp"] for r in got}
    # batch twin over the same files: same surviving fingerprint set
    batch = SD.dedup_stream(spark.read.parquet(docs_stream_dir))
    fps_batch = {r["fp"] for r in batch.collect()}
    assert fps_stream == fps_batch
    # the normalized dup really collapsed: docs 1/2/4 share one fp
    surviving_ids = {r["doc_id"] for r in got}
    assert len(surviving_ids & {1, 2, 4}) == 1
    assert {3, 5} <= surviving_ids


def test_stream_corpus_filter_matches_batch(spark, tmp_path):
    """The corpus survivor rules are stateless per-row Column expressions —
    they apply to a stream unchanged. availableNow over the same files must
    keep exactly the batch survivor set."""
    from cdk_datalake_analytics_comercial_spark.operators import text as TX
    from pyspark.sql import functions as F

    base = dt.datetime(2025, 5, 1, 10, 0, 0)
    good = " ".join(f"word{i}" for i in range(40))
    rows = [
        (base, 1, good),
        (base + dt.timedelta(minutes=1), 2, "too short"),
        (base + dt.timedelta(minutes=2), 3, " ".join(["a"] * 50)),
        (base + dt.timedelta(minutes=3), 4, good + " another fine document"),
    ]
    path = str(tmp_path / "filter_stream")
    spark.createDataFrame(rows, DOC_SCHEMA).repartition(2).write.parquet(path)

    def survivors(df):
        n_tok = TX.token_count(F.col("text"))
        norm_len = F.length(TX.normalize(F.col("text")))
        sig = df.select(
            "*", n_tok.alias("_n"), norm_len.alias("_nl")
        ).withColumn(
            "_mean", (F.col("_nl") - (F.col("_n") - 1)).cast("double") / F.col("_n")
        )
        return sig.filter(
            (F.col("_n") >= 10) & (F.col("_mean") >= 2.0) & (F.col("_mean") <= 12.0)
        ).select("doc_id")

    stream = spark.readStream.schema(DOC_SCHEMA).parquet(path)
    q = (
        survivors(stream)
        .writeStream.format("memory")
        .queryName("corpus_filter_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.table("corpus_filter_stream_t").collect())
    want = sorted(r["doc_id"] for r in survivors(spark.read.parquet(path)).collect())
    assert got == want == [1, 4]


# --------------------------------------------------------------------------
# Streaming MERGE-upsert sink (foreachBatch → sources/writer.merge_upsert).


def test_stream_merge_sink_upserts_and_is_idempotent(spark, tmp_path):
    from cdk_datalake_analytics_comercial_spark.streaming.sink import merge_stream

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("part", T.StringType()),
        ]
    )
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")

    def run(checkpoint=ckpt):
        stream = spark.readStream.schema(schema).parquet(src)
        merge_stream(
            stream, tgt, keys=["k"], partition_by=["part"],
            checkpoint=checkpoint, precedence="seq",
        )

    def state():
        return {r["k"]: r["v"] for r in tx_read(spark, tgt).collect()}

    spark.createDataFrame(
        [(1, 1, "a", "p1"), (2, 1, "b", "p1"), (3, 1, "c", "p2")], schema
    ).write.mode("append").parquet(src)
    run()
    assert state() == {1: "a", 2: "b", 3: "c"}

    # second wave: update key 2 (newer seq), insert key 4
    spark.createDataFrame(
        [(2, 2, "B", "p1"), (4, 1, "d", "p2")], schema
    ).write.mode("append").parquet(src)
    run()
    second = state()
    assert second == {1: "a", 2: "B", 3: "c", 4: "d"}

    # drained rerun: no new input → table unchanged (checkpoint skips)
    run()
    assert state() == second

    # replay EVERYTHING without checkpoint (simulated lost checkpoint →
    # at-least-once redelivery, old and new versions of key 2 in ONE
    # batch): last-writer-wins by seq converges to the same table
    run(checkpoint=str(tmp_path / "ckpt2"))
    assert state() == second


def test_merge_upsert_precedence_protects_newer_target(spark, tmp_path):
    """A stale source batch (lower seq than the target row) must NOT
    overwrite — the conditional-update half of last-writer-wins."""
    from cdk_datalake_analytics_comercial_spark.sources.writer import merge_upsert

    tgt = str(tmp_path / "tgt2")
    schema = "k long, seq long, v string"
    merge_upsert(
        spark, spark.createDataFrame([(1, 5, "new")], schema), tgt,
        keys=["k"], precedence="seq",
    )
    merge_upsert(
        spark, spark.createDataFrame([(1, 3, "stale"), (2, 1, "x")], schema),
        tgt, keys=["k"], precedence="seq",
    )
    got = {r["k"]: (r["seq"], r["v"]) for r in tx_read(spark, tgt).collect()}
    assert got == {1: (5, "new"), 2: (1, "x")}

    # equal seq re-send: source wins (>= condition) — idempotent re-apply
    merge_upsert(
        spark, spark.createDataFrame([(1, 5, "resent")], schema), tgt,
        keys=["k"], precedence="seq",
    )
    got = {r["k"]: (r["seq"], r["v"]) for r in tx_read(spark, tgt).collect()}
    assert got[1] == (5, "resent")


# --------------------------------------------------------------------------
# Stream-stream interval join (watermarked, bounded state).


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from cdk_datalake_analytics_comercial_spark.streaming.joins import interval_join

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    base = dt.datetime(2025, 5, 1, 10, 0, 0)
    rows = []
    eid = 0
    for i in range(40):
        rows.append((eid, base + dt.timedelta(minutes=i), i % 4,
                     "click" if i % 3 else "error"))
        eid += 1
    path = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(path)

    def build(df):
        clicks = df.filter(F.col("event_type") == "click")
        errors = df.filter(F.col("event_type") == "error")
        return interval_join(clicks, errors, key="user_id", lookback="15 minutes")

    batch = sorted(tuple(r) for r in build(spark.read.parquet(path)).collect())
    assert batch  # fixture must actually produce matches

    stream = spark.readStream.schema(schema).parquet(path)
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("ssj").collect())
    assert got == batch


def test_near_dedup_ingest_incremental_and_replay_safe(spark, tmp_path):
    """Streaming near-dup dedup against a txlog fingerprint index:
    catch-up runs (availableNow) dedup each new batch against history,
    history wins, and a full replay from a lost checkpoint converges to
    the same two tables (tx_merge idempotence + batch-id exclusion)."""
    from cdk_datalake_analytics_comercial_spark.sources import txlog as X
    from cdk_datalake_analytics_comercial_spark.streaming.dedup import (
        near_dedup_ingest,
    )

    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda nu"
    far_1 = "one two three four five six seven eight nine ten eleven twelve"
    far_2 = "red orange yellow green blue indigo violet pink brown black white"

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    surv_path = str(tmp_path / "survivors")
    idx_path = str(tmp_path / "fp_index")
    schema = "doc_id long, text string"

    def land(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    def run(checkpoint=ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = near_dedup_ingest(
            stream, surv_path, idx_path, checkpoint=checkpoint
        )
        q.awaitTermination(120)

    def ids(path, col):
        return sorted(r[col] for r in X.tx_read(spark, path).collect())

    land([(0, near_a), (1, far_1)], "b0")
    run()
    assert ids(surv_path, "doc_id") == [0, 1]
    assert ids(idx_path, "id") == [0, 1]

    land([(2, near_b), (3, far_2)], "b1")  # 2 near-dups indexed 0
    run()
    assert ids(surv_path, "doc_id") == [0, 1, 3]

    land([(4, far_2 + " extra"), (5, "totally fresh words appear here today")], "b2")
    run()  # 4 near-dups indexed 3
    assert ids(surv_path, "doc_id") == [0, 1, 3, 5]
    assert ids(idx_path, "id") == [0, 1, 3, 5]

    # lost checkpoint: full replay of every file must converge, not duplicate
    run(checkpoint=str(tmp_path / "ckpt2"))
    assert ids(surv_path, "doc_id") == [0, 1, 3, 5]
    assert ids(idx_path, "id") == [0, 1, 3, 5]
