"""Raw text-file source/sink — the reference's exact I/O surface.

The reference reads one UTF-8 text file line-by-line (ifstream+getline,
reference src/main.cpp:104-108) and writes two full sorted listings
(output.txt alphabetical, output2.txt by descending count,
src/main.cpp:226-266). ``run_reference_pipeline`` is that whole program as
one declarative Spark plan. Like the reference, which builds its global
map once and sorts it twice, each call scans, tokenizes and aggregates the
text once: the aggregate is persisted while the two listings sort it, then
released, so the ``counts`` the call returns is lazy and uncached.

Scale: ``spark.read.text`` splits files by ``maxPartitionBytes`` — the
built-in, correct version of the reference's BATCH_SIZE=2M-line
bounded-memory loop (src/main.cpp:103,140-178). A 100 TB input directory
reads the same way; uncompressed text splits at byte offsets with line
reassembly handled by the Hadoop LineRecordReader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.wordcount import REF_DELIM_REGEX, write_listings


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented scan: DataFrame[value: string], one row per \\n line."""
    return spark.read.text(path)


def run_reference_pipeline(
    spark: SparkSession, in_path: str, out_dir: str, headers: bool = True
) -> DataFrame:
    """The reference program end-to-end (src/main.cpp:78-281), Spark-first:

    text scan → reference-parity tokenize → groupBy count, computed once
    and persisted for the call → alpha listing → ``{out_dir}/alpha`` ;
    frequency listing → ``{out_dir}/by_count`` (``write_listings``). Returns
    the counts DataFrame as a lazy, uncached plan: the cache is released
    before the call returns. Header lines match the reference byte-for-byte
    (src/main.cpp:231, :262) — tests/test_binary_tokenizer.py diffs the
    listings against the compiled reference binary's output.

    Difference by design (SURVEY.md §4): frequency ties are pinned to
    (cnt DESC, word ASC) where the reference is unstable-sort-unspecified.
    """
    lines = read_text_lines(spark, in_path)
    counts = (
        lines.select(F.explode(F.split("value", REF_DELIM_REGEX)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    write_listings(counts, out_dir, headers)
    return counts
