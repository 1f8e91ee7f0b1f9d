from __future__ import annotations

import pytest

from parallel_map_reduce_word_counter_for_one_machine_spark import registry
from parallel_map_reduce_word_counter_for_one_machine_spark.operators.wordcount import (
    ALPHA_HEADER,
    BY_COUNT_HEADER,
    word_counts,
    write_listings,
)

from .oracle import assert_matches_oracle

registry.load_all()

WORDCOUNT_KEYS = [
    "text_scan",
    "tokenize_explode",
    "word_count",
    "word_count_alpha",
    "sort_by_count_desc",
    "word_count_topk",
    "distinct_words",
    "format_output",
]


@pytest.mark.parametrize("name", WORDCOUNT_KEYS)
def test_smoke_rows(spark, sf_dir, name):
    df = registry.QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


@pytest.mark.parametrize("name", WORDCOUNT_KEYS)
def test_oracle_match(spark, sf_correct, name):
    assert_matches_oracle(
        spark, sf_correct, name, registry.QUERIES[name], registry.ORACLES[name]
    )


def _read_listing(path) -> list[str]:
    """A listing's lines, part files concatenated in name order — the shape
    of the reference's single output file."""
    return [
        line
        for part in sorted(path.glob("part-*"))
        for line in part.read_text(encoding="utf-8").splitlines()
    ]


def _assert_listing_bodies(alpha, by_count, expected):
    """Alpha body in binary word order, by-count body in (cnt desc, word
    asc) order, and both exactly the ``word -> cnt`` lines of ``expected``."""
    alpha_words = [line.rsplit(" -> ", 1)[0].encode("utf-8") for line in alpha]
    assert alpha_words == sorted(alpha_words)
    by_count_keys = [
        (-int(cnt), word.encode("utf-8"))
        for word, cnt in (line.rsplit(" -> ", 1) for line in by_count)
    ]
    assert by_count_keys == sorted(by_count_keys)
    assert sorted(alpha) == expected
    assert sorted(by_count) == expected


def _write_and_read_listings(spark, sf_dir, tmp_path, headers):
    """Write both listings of the smoke corpus; return their lines and the
    sorted ``word -> cnt`` lines of the aggregate they were written from."""
    counts = word_counts(spark, sf_dir)
    expected = sorted(f"{r.word} -> {r.cnt}" for r in counts.collect())
    out = tmp_path / "out"
    write_listings(counts, str(out), headers=headers)
    return _read_listing(out / "alpha"), _read_listing(out / "by_count"), expected


def test_write_listings(spark, sf_dir, tmp_path):
    alpha, by_count, expected = _write_and_read_listings(spark, sf_dir, tmp_path, True)
    assert alpha[0] == ALPHA_HEADER  # reference src/main.cpp:231
    assert by_count[0] == BY_COUNT_HEADER  # reference src/main.cpp:262
    _assert_listing_bodies(alpha[1:], by_count[1:], expected)


def test_write_listings_without_headers(spark, sf_dir, tmp_path):
    alpha, by_count, expected = _write_and_read_listings(spark, sf_dir, tmp_path, False)
    assert len(alpha) == len(by_count) == len(expected)
    _assert_listing_bodies(alpha, by_count, expected)
