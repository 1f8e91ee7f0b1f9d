"""Regression tests for edge cases found in review: short/empty documents
and zero-norm vectors must degrade gracefully (NULL/empty results), never
crash — Spark 4 runs with ANSI mode ON by default, which turns unguarded
divisions and bad sequence/slice bounds into query-killing exceptions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parallel_map_reduce_word_counter_for_one_machine_spark.operators import (
    dedup as D,
    similarity as S,
)


@pytest.fixture()
def weird_docs(spark):
    return spark.createDataFrame(
        [
            (1, "hello world"),        # < SHINGLE_K tokens
            (2, ""),                   # empty
            (3, "   "),                # whitespace-only
            (4, "one two three four"), # normal
            (5, "one two three four"), # exact dup of 4
        ],
        ["doc_id", "text"],
    )


def test_shingles_short_and_empty_docs(spark, weird_docs):
    sh = weird_docs.select("doc_id", D._shingles().alias("sh")).collect()
    by_id = {r.doc_id: r.sh for r in sh}
    assert by_id[1] == [] and by_id[2] == [] and by_id[3] == []
    assert by_id[4] == ["one two three", "two three four"]


def test_minhash_pipeline_survives_weird_docs(spark, weird_docs):
    sigs = D.minhash_signatures(weird_docs)
    cands = D.lsh_candidate_pairs(sigs)
    sh = weird_docs.select("doc_id", D._shingles().alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = F.when(
        union > 0,
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double") / union,
    )
    verified = (
        cands.join(a, cands.doc_a == F.col("a.doc_id"))
        .join(b, cands.doc_b == F.col("b.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= D.JACCARD_THRESHOLD)
        .collect()
    )
    # docs 4 and 5 are identical -> must be found; empty docs never crash it
    assert (4, 5) in {(r.doc_a, r.doc_b) for r in verified}


def test_text_stats_null_not_crash_on_empty(spark, weird_docs, monkeypatch):
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators import text

    monkeypatch.setattr(
        text, "load_table", lambda _s, _d, _n: weird_docs.withColumn(
            "lang", F.lit("en")
        )
    )
    rows = {r.doc_id: r for r in text.text_stats(spark, "ignored").collect()}
    assert rows[2].n_tokens == 0 and rows[2].avg_token_len is None
    assert rows[4].n_tokens == 4


def test_cosine_zero_vector_is_null_not_crash(spark):
    df = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0, 0.0, 0.0, 0.0])], ["vec_id", "v"]
    )
    a, b = df.alias("a"), df.alias("b")
    out = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(S.cosine("a.v", "b.v").alias("cos"))
        .collect()
    )
    assert out[0].cos is None


def test_simhash_survives_empty_docs_with_cap(spark, weird_docs):
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        simhash_column,
    )

    tok_hashes = F.transform(D._tokens(), lambda w: F.xxhash64(w))
    fps = weird_docs.select("doc_id", simhash_column(tok_hashes).alias("fp"))
    rows = {r.doc_id: r.fp for r in fps.collect()}
    # empty docs fingerprint to 0 (all votes negative) and must not blow up
    assert rows[2] == 0 and rows[3] == 0
    assert rows[4] == rows[5]  # identical docs, identical fingerprints


def test_pandas_similarity_zero_norm_matches_jvm(spark):
    """ADVICE round 2: a zero-norm vector (padding/failed-encode row) must
    behave identically in the numpy mapInPandas path and the JVM twin —
    dropped from every top-k (JVM: NULL cosine sorts last; numpy: masked),
    never a NaN that desc-sorts above everything."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators import (
        similarity as S2,
    )

    rows = [
        # queries are vec_id < 5; id 3 is a zero-norm QUERY
        (0, 0, [1.0, 0.0, 0.0, 0.0]),
        (1, 0, [0.0, 1.0, 0.0, 0.0]),
        (2, 0, [1.0, 1.0, 0.0, 0.0]),
        (3, 0, [0.0, 0.0, 0.0, 0.0]),
        (4, 0, [0.5, 0.5, 0.5, 0.5]),
        # candidates; id 7 is a zero-norm CANDIDATE
        (5, 1, [1.0, 2.0, 0.0, 0.0]),
        (6, 1, [0.0, 0.0, 1.0, 0.0]),
        (7, 1, [0.0, 0.0, 0.0, 0.0]),
        (8, 1, [2.0, 1.0, 1.0, 0.0]),
        (9, 1, [1.0, 1.0, 1.0, 1.0]),
    ]
    fake = spark.createDataFrame(rows, ["vec_id", "label", "v"])

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(S2, "_vectors", lambda _s, _d: fake)
        jvm = sorted(map(tuple, S2.similarity_topk(spark, "ignored").collect()))
        pd_ = sorted(
            map(tuple, S2.similarity_topk_pandas(spark, "ignored").collect())
        )
    finally:
        mp.undo()
    assert jvm == pd_
    assert jvm, "expected non-empty top-k"
    query_ids = {t[0] for t in jvm}
    cand_ids = {t[1] for t in jvm}
    assert 3 not in query_ids  # zero-norm query emits no results
    assert 7 not in cand_ids  # zero-norm candidate never ranks
    assert all(t[2] == t[2] for t in jvm)  # no NaN survived


def test_empty_query_set_gives_empty_listings(spark):
    """A corpus without any vec_id < N_QUERIES has no queries. The JVM
    listing is then empty; the numpy listings must be empty too, not raise
    numpy's AxisError on a shape-(0,) query matrix at call time."""
    import random

    rng = random.Random(7)
    rows = [(i, i % 2, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(5, 12)]
    fake = spark.createDataFrame(rows, "vec_id LONG, label INT, v ARRAY<DOUBLE>")

    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(S, "_vectors", lambda _s, _d: fake)
        jvm = S.similarity_topk(spark, "no-queries").collect()
        pd_ = S.similarity_topk_pandas(spark, "no-queries").collect()
        pq = S.pq_topk_listing(spark, "no-queries").collect()
        ivfpq = S.ivfpq_topk_listing(spark, "no-queries").collect()
    finally:
        mp.undo()
    assert jvm == pd_ == pq == ivfpq == []
