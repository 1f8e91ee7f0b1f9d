"""Streaming ingest into the persisted IVFPQ index: the registered
verdict's oracle, stream ≡ batch append equivalence (batching boundaries
must not change the index), and per-batch drift verdict accounting."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_map_reduce_word_counter_for_one_machine_spark import registry
from parallel_map_reduce_word_counter_for_one_machine_spark.operators import (
    annindex as AI,
)

from .oracle import assert_matches_oracle

registry.load_all()


def test_oracle_match(spark, sf_correct):
    assert_matches_oracle(
        spark,
        sf_correct,
        "stream_index_append",
        registry.QUERIES["stream_index_append"],
        registry.ORACLES["stream_index_append"],
    )


def test_stream_equals_batch_append(spark, sf_dir):
    """The union-semantics claim: the index grown by N micro-batches must
    be row-for-row identical (vec_id, cell, code bytes) to the index
    grown by one batch append — frozen quantizers make the encode a pure
    function of the vector, so batching cannot matter. Also catches
    double-appends: a replayed batch would surface as duplicate vec_ids."""
    stream_root, _ = AI._stream_appended_index(spark, sf_dir)
    batch_root = AI._appended_index_dir(spark, sf_dir)

    def codes(root):
        import os

        rows = (
            spark.read.parquet(os.path.join(root, "codes"))
            .select("vec_id", "cell", F.hex("code").alias("c"))
            .collect()
        )
        return sorted((r.vec_id, r.cell, r.c) for r in rows)

    s, b = codes(stream_root), codes(batch_root)
    assert len(s) == len({(v, c) for v, c, _ in s})  # no double-append
    assert s == b


def test_per_batch_drift_verdicts_collected(spark, sf_dir):
    _, verdicts = AI._stream_appended_index(spark, sf_dir)
    assert 1 <= len(verdicts) <= 3
    for v in verdicts:
        assert v["drift_ratio"] > 0
        assert isinstance(v["retrain"], bool)
