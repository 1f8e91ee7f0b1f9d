from __future__ import annotations

import pytest

from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import functions as F

from parallel_map_reduce_word_counter_for_one_machine_spark.operators.wordcount import (
    word_counts,
    write_listings,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
    load_table,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.sources.textfile import (
    run_reference_pipeline,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.streaming.stateful import (
    run_stateful_user_totals,
)


CORPUS_LINES = ["Hello hello world-peace", "123abc O'Brien under_score", "Hello again"]


def _write_corpus(tmp_path):
    src = tmp_path / "corpus.txt"
    src.write_text("".join(f"{line}\n" for line in CORPUS_LINES), encoding="utf-8")
    return src


def _scan_rows(spark, node_prefix: str, run) -> int:
    """Rows output by the plan nodes whose name starts with ``node_prefix``,
    summed over every SQL execution that ``run()`` starts, as Spark's SQL
    status store records them."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        return {e.executionId() for e in conv.asJava(store.executionsList())}

    before = execution_ids()
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    rows = 0
    for eid in execution_ids() - before:
        values = conv.asJava(store.executionMetrics(eid))
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            if not node.name().startswith(node_prefix):
                continue
            for m in conv.asJava(node.metrics()):
                value = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and value:
                    rows += int(value.replace(",", ""))
    return rows


def test_reference_pipeline_scans_text_once(spark, tmp_path):
    """The reference builds its word map once and sorts it twice: both
    listings must come from one scan of the input, not one scan each."""
    src = _write_corpus(tmp_path)
    out = str(tmp_path / "out")
    rows = _scan_rows(
        spark, "Scan text", lambda: run_reference_pipeline(spark, str(src), out)
    )
    assert rows == len(CORPUS_LINES)


def test_write_listings_scans_documents_once(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")
    rows = _scan_rows(
        spark, "Scan parquet", lambda: write_listings(word_counts(spark, sf_dir), out)
    )
    assert rows == load_table(spark, sf_dir, "documents").count()


def test_reference_pipeline_releases_cache(spark, tmp_path):
    """The aggregate is cached only while the two listings are written: the
    returned counts is uncached, and a failing write releases it too."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache.isEmpty()
    src = _write_corpus(tmp_path)
    counts = run_reference_pipeline(spark, str(src), str(tmp_path / "out"))
    assert counts.storageLevel == StorageLevel.NONE
    assert cache.lookupCachedData(counts._jdf).isEmpty()
    assert cache.isEmpty() == was_empty

    blocker = tmp_path / "regular_file"
    blocker.write_text("not a directory", encoding="utf-8")
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        run_reference_pipeline(spark, str(src), str(blocker / "out"))
    # an equal plan would hit a leftover cache entry of the failed call
    assert cache.lookupCachedData(counts._jdf).isEmpty()
    assert cache.isEmpty() == was_empty


def test_reference_pipeline_roundtrip(spark, tmp_path):
    """The reference program end-to-end on its own adversarial semantics:
    raw text in → two sorted listings out, counts verified by hand."""
    src = _write_corpus(tmp_path)
    out = str(tmp_path / "out")
    counts = run_reference_pipeline(spark, str(src), out)
    got = {r.word: r.cnt for r in counts.collect()}
    assert got == {
        "Hello": 2,
        "hello": 1,
        "world": 1,
        "peace": 1,
        "abc": 1,
        "O": 1,
        "Brien": 1,
        "under": 1,
        "score": 1,
        "again": 1,
    }
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.wordcount import (
        ALPHA_HEADER,
        BY_COUNT_HEADER,
    )

    alpha = [r.value for r in spark.read.text(f"{out}/alpha").collect()]
    assert alpha[0] == ALPHA_HEADER  # reference src/main.cpp:231
    assert alpha[1] == "Brien -> 1"  # binary collation: uppercase first
    assert "Hello -> 2" in alpha
    by_count = [r.value for r in spark.read.text(f"{out}/by_count").collect()]
    assert by_count[0] == BY_COUNT_HEADER  # reference src/main.cpp:262
    assert by_count[1] == "Hello -> 2"  # highest count first


def test_stateful_user_totals_equals_batch(spark, sf_correct):
    """applyInPandasWithState stream result must equal the batch groupBy."""
    stream = run_stateful_user_totals(spark, sf_correct, "t_stateful_users")
    batch = (
        spark.read.parquet(f"{sf_correct}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    s = {r.user_id: (r.n_events, r.sum_value) for r in stream.collect()}
    b = {r.user_id: (r.n_events, r.sum_value) for r in batch.collect()}
    assert set(s) == set(b)
    for uid in b:
        assert s[uid][0] == b[uid][0], f"count mismatch for user {uid}"
        # pandas chunk-sum order differs from Spark's agg order: tolerance
        assert abs(s[uid][1] - b[uid][1]) < 1e-6, f"sum mismatch for user {uid}"


def test_tws_gate_reports_missing_protobuf():
    """transformWithStateInPandas (streaming/tws.py) is environment-gated:
    its python state client needs google.protobuf, absent in this
    container. The gate must report that instead of crashing the stream."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.streaming.tws import (
        tws_available,
        run_tws_user_totals,
    )

    if tws_available():
        pytest.skip("protobuf present — covered by the real run elsewhere")
    with pytest.raises(ImportError, match="protobuf"):
        run_tws_user_totals(None, "/root/testdata/sf0.001", "t_tws")


def test_gzip_text_source_transparent(spark, tmp_path):
    """Compressed text ingestion: Hadoop's codec layer decompresses .gz
    transparently in the same spark.read.text call — a 100 TB web-text
    corpus ships compressed, so the line scan must not care. (gzip is not
    splittable — one file maps to one task — so a production layout shards
    into many files or uses zstd; the SEMANTICS are what this pins.)"""
    import gzip

    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.textfile import (
        read_text_lines,
    )

    # interior empty line IS a record; a trailing newline does not add one
    lines = ["alpha beta", "", "beta GAMMA", "täällä a b"]
    p = tmp_path / "corpus.txt.gz"
    with gzip.open(p, "wt", encoding="utf-8") as f:
        f.write("\n".join(lines))
    got = [r["value"] for r in read_text_lines(spark, str(p)).collect()]
    assert sorted(got) == sorted(lines)


def test_tws_equals_batch_when_protobuf_present(spark, sf_dir):
    """The real transformWithStateInPandas ≡ batch equivalence (VERDICT r04
    item 5). SKIPPED in this container — google.protobuf, which the TWS
    python state client requires, is not installed and cannot be (no pip
    per the environment contract; see STATUS.md 'verification debt'). On a
    standard cluster image this test runs as-is and is the coverage that
    closes the debt."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.streaming.tws import (
        run_tws_user_totals,
        tws_available,
    )

    if not tws_available():
        pytest.skip(
            "google.protobuf not installed in this container (environment "
            "blocker documented in STATUS.md); tws has equivalent coverage "
            "via applyInPandasWithState in test_stateful_totals_*"
        )
    from pyspark.sql import functions as F

    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
        load_table,
    )

    got = run_tws_user_totals(spark, sf_dir, "t_tws_equiv").collect()
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_registered_stateful_totals_matches_oracle(spark, sf_correct):
    """The driver-gated key: applyInPandasWithState running totals must
    conserve counts and sums across micro-batches (batch-aggregate
    oracle)."""
    from parallel_map_reduce_word_counter_for_one_machine_spark import registry
    from parallel_map_reduce_word_counter_for_one_machine_spark.streaming import (
        stateful,  # noqa: F401 — registers the key
    )
    from .oracle import assert_matches_oracle

    assert_matches_oracle(
        spark,
        sf_correct,
        "stream_stateful_totals",
        registry.QUERIES["stream_stateful_totals"],
        registry.ORACLES["stream_stateful_totals"],
    )
