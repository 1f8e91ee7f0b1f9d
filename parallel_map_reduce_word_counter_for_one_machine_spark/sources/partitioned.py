"""Partitioned parquet sink + partition-pruned reads — the table-layout
story for 100 TB.

A corpus partitioned by a low-cardinality column (here ``lang``) turns
per-language queries into partition-pruned scans: Spark lists only the
matching ``lang=xx/`` directories, so a 100 TB corpus with 30 languages
reads ~3 TB for a one-language query before any row is touched. Tests
assert the pruning is visible in the plan (``PartitionFilters``) and that
a roundtrip preserves content.
"""

from __future__ import annotations

import hashlib
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..session import session_artifact
from .tables import load_table


def write_partitioned_documents(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """documents → parquet partitioned by lang (hive-style directories)."""
    d = load_table(spark, sf_dir, "documents")
    (
        d.write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out_dir)
    )


def read_language(spark: SparkSession, out_dir: str, lang: str) -> DataFrame:
    """Partition-pruned scan: the lang filter is resolved at file listing
    time, never per-row."""
    return spark.read.parquet(out_dir).filter(f"lang = '{lang}'")


def partitioned_documents_dir(spark: SparkSession, sf_dir: str) -> str:
    """One partitioned layout per (session, sf_dir) — the write is the
    one-off ingest step, like the bucketed layout in bucketed.py."""

    def build() -> str:
        base = tempfile.mkdtemp(
            prefix="pmrwc_part_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        )
        write_partitioned_documents(spark, sf_dir, base)
        return base

    return session_artifact(spark, ("partitioned_documents", sf_dir), build)


# Tiny lang→family dim for the dynamic-partition-pruning join. Hard-coded
# VALUES on both engines so the oracle is self-contained.
_LANG_FAMILY = [
    ("en", "germanic"),
    ("de", "germanic"),
    ("fr", "romance"),
    ("es", "romance"),
    ("zh", "sinitic"),
]

_DPP_ORACLE = (
    "WITH dim(lang, family) AS (VALUES "
    + ", ".join(f"('{l}', '{f}')" for l, f in _LANG_FAMILY)
    + ") "
    "SELECT d.lang AS lang, family, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents d JOIN dim USING (lang) WHERE family = 'germanic' "
    "GROUP BY d.lang, family"
)


@query("join_dpp", oracle=_DPP_ORACLE)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: fact (lang-partitioned documents) joined
    to a dim filtered on a NON-partition column (family). The partition
    filter on the fact cannot be written statically — Spark synthesizes it
    at runtime from the dim's broadcast (``dynamicpruningexpression(lang IN
    dynamicpruning#N)`` inside PartitionFilters, plan-asserted in
    tests/test_temporal_partitioned.py), so the fact scan lists only the
    lang directories the filtered dim actually selects. This is THE star-
    schema scan-reduction mechanism at 100 TB: a date-dim predicate prunes
    a date-partitioned fact to the matching partitions with zero manual
    filter rewriting, at broadcast-reuse cost (DPP's default
    ``reuseBroadcastOnly`` mode — the pruning subquery reuses the join's
    own broadcast exchange, no extra job)."""
    from pyspark.sql import functions as F

    fact = spark.read.parquet(partitioned_documents_dir(spark, sf_dir))
    dim = spark.createDataFrame(_LANG_FAMILY, "lang STRING, family STRING")
    return (
        fact.join(dim.filter(F.col("family") == "germanic"), "lang")
        .groupBy("lang", "family")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "scan_partition_pruned",
    oracle=(
        "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'de'"
    ),
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language scan over the lang-partitioned layout: the filter is a
    PartitionFilter (plan-asserted in tests/test_temporal_partitioned.py)
    resolved at directory-listing time — at 100 TB / 30 languages only the
    matching ~1/30th of files is ever opened. First call per session pays
    the one-off partitioned write; result is oracle-identical to filtering
    the flat table."""
    d = read_language(spark, partitioned_documents_dir(spark, sf_dir), "de")
    return d.select("doc_id", "lang", "n_chars")
