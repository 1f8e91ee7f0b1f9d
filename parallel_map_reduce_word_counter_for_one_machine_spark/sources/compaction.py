"""Small-file compaction — the table-maintenance op every long-lived
100 TB dataset needs (extension surface; the reference writes exactly two
text files, src/main.cpp:226-266, and never faces this).

Streaming ingest, per-batch upserts, and over-parallel writes all leave
datasets as thousands of KB-size parquet files; at scale that turns every
scan into a file-listing + task-scheduling bottleneck (a 1000-executor job
over 10 M 1 MB files spends longer opening files than reading them) and
blows the driver's file-status cache. Compaction rewrites a directory to
``ceil(bytes / target)`` right-sized files.

Sizing reads the FILESYSTEM's content summary (Hadoop FS API — works the
same on HDFS/S3A/local), never the rows: the decision input is bytes on
disk, which is what task scheduling and scan cost actually see. The
rewrite is one ``repartition(n)`` pass — a full shuffle, which is the
point: round-robin redistribution yields uniformly sized output files,
where ``coalesce(n)`` would glue unbalanced input splits into unbalanced
outputs (and cap upstream parallelism). On a partitioned table the same
routine runs per partition directory; Delta/Iceberg ``OPTIMIZE`` is this
exact loop with a transaction log around it (table formats unavailable in
this sandbox — STATUS.md).
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import session_artifact
from .tables import load_table

DEFAULT_TARGET_BYTES = 128 << 20  # the classic HDFS-block-ish target


def directory_bytes(spark: SparkSession, path: str) -> int:
    """Total data bytes under ``path`` via the Hadoop FS content summary —
    FS-agnostic (local/HDFS/S3A) and metadata-only (no data read)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(jpath).getLength())


def parquet_file_count(path: str) -> int:
    return sum(
        1
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> int:
    """Rewrite ``in_dir`` to ``out_dir`` as ``ceil(bytes/target)`` files;
    returns the chosen file count. Content-preserving by construction
    (registered roundtrip key + tests prove it)."""
    n = max(1, math.ceil(directory_bytes(spark, in_dir) / target_bytes))
    spark.read.parquet(in_dir).repartition(n).write.mode("overwrite").parquet(
        out_dir
    )
    return n


FRAGMENT_FILES = 64


def compacted_documents_dir(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """One fragmented→compacted layout per (session, sf_dir); the
    fragmented write simulates a streaming sink's small-file debris."""

    def build() -> tuple[str, str]:
        base = tempfile.mkdtemp(
            prefix="pmrwc_compact_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        )
        frag, compact = os.path.join(base, "frag"), os.path.join(base, "compact")
        load_table(spark, sf_dir, "documents").repartition(
            FRAGMENT_FILES
        ).write.mode("overwrite").parquet(frag)
        compact_parquet(spark, frag, compact)
        return frag, compact

    return session_artifact(spark, ("compacted_documents", sf_dir), build)


@query(
    "compact_roundtrip",
    oracle=(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM documents GROUP BY lang"
    ),
)
def compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of the compaction op: documents written as
    FRAGMENT_FILES small files (streaming-sink debris), compacted to
    size-derived file counts, then aggregated FROM THE COMPACTED LAYOUT —
    oracle-identical to aggregating the source table, proving the rewrite
    moved bytes, not semantics. File-count mechanics are pinned in
    tests/test_bucketed.py."""
    _, compact = compacted_documents_dir(spark, sf_dir)
    return (
        spark.read.parquet(compact)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def compact_partitioned(
    spark: SparkSession,
    in_root: str,
    out_root: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict[str, int]:
    """Per-partition compaction over a hive-layout table (``key=value/``
    directories): each partition directory is sized and rewritten
    independently, preserving the partition layout — the granularity real
    OPTIMIZE jobs use, because partitions age (and fragment) at different
    rates and a hot partition can be re-compacted without touching cold
    ones. The directory loop is driver-side but metadata-scale (one
    iteration per partition, not per file); each rewrite is a distributed
    job. Returns {partition_dir_name: chosen_file_count}."""
    out: dict[str, int] = {}
    for d in sorted(os.listdir(in_root)):
        if "=" not in d or not os.path.isdir(os.path.join(in_root, d)):
            continue
        out[d] = compact_parquet(
            spark,
            os.path.join(in_root, d),
            os.path.join(out_root, d),
            target_bytes=target_bytes,
        )
    return out
