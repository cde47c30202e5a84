"""End-to-end corpus-preparation pipeline: the training-data DAG (filter →
exact dedup → near-dup canonical → chunks/pack/stats) run through the SAME
wave runner as the comercial jobs, over a synthetic corpus with planted
exact duplicates, near duplicates, and filter victims.

Asserts survivors stage-by-stage against the planted ground truth, chunk
reconstruction, pack invariants, and full-pipeline rerun idempotence.
"""

from __future__ import annotations

import datetime as dt

import pytest

from cdk_datalake_analytics_comercial_spark.core.catalog import Layer
from cdk_datalake_analytics_comercial_spark.jobs import CORPUS_JOBS
from cdk_datalake_analytics_comercial_spark.runner import (
    JobConfig,
    JobContext,
    run_waves,
)
from cdk_datalake_analytics_comercial_spark.sources.registry import SchemaRegistry
from cdk_datalake_analytics_comercial_spark.sources.txlog import tx_read

AS_OF = dt.date(2025, 5, 15)

WAVES = [
    JobConfig("corpus", "corpus_filter", 1),
    JobConfig("corpus", "corpus_dedup_exact", 2),
    JobConfig("corpus", "corpus_dedup_near", 3),
    JobConfig("corpus", "corpus_decontam", 4),
    JobConfig("corpus", "corpus_chunks", 5),
    JobConfig("corpus", "corpus_pack", 5),
    JobConfig("corpus", "corpus_stats", 5),
]


def _body(words: int, seed: str) -> str:
    return " ".join(f"{seed}{i % 17}" for i in range(words))


@pytest.fixture()
def corpus_lake(spark, lake):
    base = _body(120, "alpha")
    rows = [
        # survivors
        (1, "en", base + " unique tail one", "web"),
        (2, "en", _body(150, "beta") + " second doc", "web"),
        (3, "es", _body(90, "gamma") + " tercero", "books"),
        # exact duplicate of doc 1 (same normalized content)
        (10, "en", base + " unique tail one", "crawl"),
        # near duplicate of doc 2 (small suffix edit, jaccard > 0.5)
        (11, "en", _body(150, "beta") + " second doc edited slightly", "crawl"),
        # filter victims
        (20, "en", "too short", "web"),
        (21, "en", "\n".join(["the same line again ok"] * 30), "web"),
        (22, "en", " ".join(["a"] * 40), "web"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, source string"
    )
    df.write.parquet(lake.table_path(Layer.RAW, "documents"))
    return lake


def _mk(spark, lake):
    def mk(cfg):
        return JobContext(
            spark=spark, catalog=lake, registry=SchemaRegistry({}), config=cfg,
            as_of=AS_OF,
        )

    return mk


def _ids(spark, lake, layer, table):
    return sorted(
        r["doc_id"]
        for r in tx_read(spark, lake.table_path(layer, table))
        .select("doc_id").collect()
    )


def test_corpus_pipeline_end_to_end(spark, corpus_lake):
    lake = corpus_lake
    res = run_waves(WAVES, CORPUS_JOBS, _mk(spark, lake))
    assert all(r.status == "succeeded" for r in res), [r.error for r in res]

    # filter drops the three planted victims, keeps everything else
    assert _ids(spark, lake, Layer.STAGE, "corpus_filtered") == [1, 2, 3, 10, 11]
    # exact dedup collapses 10 onto 1 (min id wins)
    assert _ids(spark, lake, Layer.STAGE, "corpus_unique") == [1, 2, 3, 11]
    # near-dup clustering collapses 11 onto 2
    assert _ids(spark, lake, Layer.DOMAIN, "corpus_canonical") == [1, 2, 3]
    # no benchmark table in this fixture → decontam is a clean passthrough
    assert _ids(spark, lake, Layer.DOMAIN, "corpus_clean") == [1, 2, 3]

    chunks = (
        tx_read(spark, lake.table_path(Layer.ANALYTICS, "corpus_chunks"))
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2, 3}
    for doc_rows in by_doc.values():
        doc_rows.sort(key=lambda r: r["chunk_id"])
        for i, r in enumerate(doc_rows):
            assert r["chunk_id"] == i
            assert r["start_token"] == i * 128
            assert 1 <= r["n_tokens"] <= 256
            assert len(r["chunk_text"].split(" ")) == r["n_tokens"]

    pack = tx_read(spark, lake.table_path(Layer.ANALYTICS, "corpus_pack")).collect()
    assert sorted(r["doc_id"] for r in pack) == [1, 2, 3]
    for r in pack:
        assert 0 <= r["bin_offset"] < 2048 and r["bin_id"] >= 0

    stats = (
        tx_read(spark, lake.table_path(Layer.ANALYTICS, "corpus_stats"))
        .collect()
    )
    # doc tokens: 1 → 123, 2 → 152, 3 → 91 → buckets 7, 8, 7
    got = {(r["lang"], r["log2_bucket"]): (r["n_docs"], r["total_tokens"]) for r in stats}
    assert got[("en", 7)] == (1, 123)
    assert got[("en", 8)] == (1, 152)
    assert got[("es", 7)] == (1, 91)


def test_corpus_pipeline_rerun_idempotent(spark, corpus_lake):
    lake = corpus_lake
    mk = _mk(spark, lake)
    res1 = run_waves(WAVES, CORPUS_JOBS, mk)
    assert all(r.status == "succeeded" for r in res1)
    first = {
        t: _ids(spark, lake, layer, t)
        for layer, t in (
            (Layer.STAGE, "corpus_filtered"),
            (Layer.STAGE, "corpus_unique"),
            (Layer.DOMAIN, "corpus_canonical"),
        )
    }
    res2 = run_waves(WAVES, CORPUS_JOBS, mk)
    assert all(r.status == "succeeded" for r in res2)
    for (layer, t), ids in zip(
        ((Layer.STAGE, "corpus_filtered"), (Layer.STAGE, "corpus_unique"),
         (Layer.DOMAIN, "corpus_canonical")),
        first.values(),
    ):
        assert _ids(spark, lake, layer, t) == ids
    n_chunks = tx_read(spark,
        lake.table_path(Layer.ANALYTICS, "corpus_chunks")
    ).count()
    assert n_chunks > 0


def test_corpus_decontam_drops_benchmark_overlap(spark, corpus_lake):
    """With a raw.benchmark table sharing doc 3's shingles, the clean
    corpus drops doc 3 and every downstream stage excludes it."""
    lake = corpus_lake
    bench = spark.createDataFrame(
        [(900, _body(90, "gamma") + " tercero benchmark variant")],
        "bench_id long, text string",
    )
    bench.write.parquet(lake.table_path(Layer.RAW, "benchmark"))

    res = run_waves(WAVES, CORPUS_JOBS, _mk(spark, lake))
    assert all(r.status == "succeeded" for r in res)
    assert _ids(spark, lake, Layer.DOMAIN, "corpus_canonical") == [1, 2, 3]
    assert _ids(spark, lake, Layer.DOMAIN, "corpus_clean") == [1, 2]
    chunk_docs = {
        r["doc_id"]
        for r in tx_read(spark,
            lake.table_path(Layer.ANALYTICS, "corpus_chunks")
        ).collect()
    }
    assert 3 not in chunk_docs and {1, 2} <= chunk_docs
