"""Cache-lifecycle ownership (round-4 VERDICT item 4 / ADVICE).

Operators that cache() per-call frames (`ngram_jaccard_pairs`,
`minhash_dedup_pairs`, `embedding_near_dup_pairs`) register them with
caching.operator_caches(); a caller that
materializes inside the block gets every frame unpersisted on exit, so
no persisted RDD outlives the block.
"""

import random

import pytest
from pyspark.sql import functions as F

from redo_log_parser_spark.caching import operator_caches
from redo_log_parser_spark.operators.dedup import (
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
)
from redo_log_parser_spark.operators.similarity import (
    embedding_near_dup_pairs,
)


@pytest.fixture()
def docs(spark):
    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(20)))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


@pytest.fixture()
def emb(spark):
    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_each_operator_returns_cache_count_to_baseline(docs, emb, persisted_rdd_ids):
    runs = [
        lambda: ngram_jaccard_pairs(docs, threshold=0.1).collect(),
        lambda: minhash_dedup_pairs(docs, threshold=0.1).collect(),
        lambda: embedding_near_dup_pairs(emb, threshold=0.0).collect(),
    ]
    base = persisted_rdd_ids()
    for run in runs:
        with operator_caches() as frames:
            run()
            assert frames, "operator registered no cached frame"
        assert persisted_rdd_ids() <= base


def test_without_context_historical_leak_then_clear(spark, docs, persisted_rdd_ids):
    base = persisted_rdd_ids()
    ngram_jaccard_pairs(docs, threshold=0.1).collect()
    assert persisted_rdd_ids() - base  # documented historical behavior
    spark.catalog.clearCache()


def test_nested_contexts_own_only_their_own_frames(docs, persisted_rdd_ids):
    base = persisted_rdd_ids()
    with operator_caches() as outer:
        ngram_jaccard_pairs(docs, threshold=0.1).collect()
        with operator_caches() as inner:
            minhash_dedup_pairs(docs, threshold=0.1).collect()
        assert inner and all(
            not f.storageLevel.useMemory for f in inner
        ), "inner frames should be unpersisted at inner exit"
        assert any(f.storageLevel.useMemory for f in outer)
    assert persisted_rdd_ids() <= base


def test_result_still_correct_after_unpersist(spark, docs):
    # materializing inside, re-reading outside: values identical (the
    # cache is an optimization, never a semantic dependency)
    with operator_caches():
        inside = sorted(
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
        )
    again = sorted(
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
    )
    spark.catalog.clearCache()
    assert inside == again


def test_schema_discovery_and_traces_caches_owned(mini_docs, persisted_rdd_ids):
    """review r5s5: the ownership mechanism must cover ALL library
    per-call cache() sites with lazy results, not just the dedup/ANN
    three — discover_schema's writes frame, inclusion_dependencies'
    deduped values, and the case-propagation edge frame."""
    from redo_log_parser_spark.functions.parse import parse_documents
    from redo_log_parser_spark.operators.rowid import uniquify_row_ids
    from redo_log_parser_spark.operators.schema_discovery import (
        discover_schema, summarize_schema)
    from redo_log_parser_spark.pipeline import build_traces_df

    events = uniquify_row_ids(parse_documents(mini_docs)).filter(
        F.col("parse_error").isNull()
    )
    mini_docs.count()  # materialize the fixture's own session cache
    base = persisted_rdd_ids()

    with operator_caches() as frames:
        schema = summarize_schema(*discover_schema(events))
        assert len(frames) >= 2  # writes + IND deduped values
    assert persisted_rdd_ids() <= base

    with operator_caches() as frames:
        build_traces_df(
            events, schema, ['"SYSTEM"."INVOICES"']).collect()
        assert frames  # the entity-edge frame
    assert persisted_rdd_ids() <= base
