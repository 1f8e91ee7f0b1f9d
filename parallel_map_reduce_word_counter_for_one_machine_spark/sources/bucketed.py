"""Bucketed table layout: co-located joins with ZERO per-query shuffle.

At 100 TB the biggest recurring cost is re-shuffling two fact tables on
the same join key query after query. Bucketing pays that shuffle ONCE at
write time: both tables are hash-partitioned into the same number of
buckets on the join key, so every later join reads matching buckets
side-by-side — the physical plan contains no Exchange at all (asserted in
tests). This is the durable, storage-level form of the reference's
hash-partitioned merge insight (hash(word)%stripes, reference
src/main.cpp:132-133) — the partitioning lives with the data instead of
being recomputed per run.
"""

from __future__ import annotations

import hashlib
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..session import session_artifact
from .tables import load_table

N_BUCKETS = 8


def write_bucketed_pair(
    spark: SparkSession, sf_dir: str, base_dir: str, suffix: str
) -> tuple[str, str]:
    """Write orders and lineitem bucketed by the join key into external
    tables under ``base_dir``; returns the two table names."""
    o_name = f"orders_b_{suffix}"
    l_name = f"lineitem_b_{suffix}"
    (
        load_table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base_dir}/{o_name}")
        .saveAsTable(o_name)
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{base_dir}/{l_name}")
        .saveAsTable(l_name)
    )
    return o_name, l_name


def bucketed_join(spark: SparkSession, o_name: str, l_name: str) -> DataFrame:
    """orders ⋈ lineitem over the bucketed layout — shuffle-free by
    construction (bucket spec satisfies the join's distribution
    requirement on both sides)."""
    o = spark.table(o_name)
    li = spark.table(l_name)
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "l_linenumber", "o_totalprice", "l_quantity"
    )


def bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """One bucketed layout per (session, sf_dir): the write is the one-off
    index-build step, exactly like a real warehouse pays the bucketing
    shuffle once at ingest and then never again."""

    def build() -> tuple[str, str]:
        base = tempfile.mkdtemp(prefix="pmrwc_buckets_")
        suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        return write_bucketed_pair(spark, sf_dir, base, suffix)

    return session_artifact(spark, ("bucketed_pair", sf_dir), build)


@query(
    "join_bucketed",
    oracle=(
        "SELECT o.o_orderkey, l.l_linenumber, o.o_totalprice, l.l_quantity "
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
    ),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join over the pre-bucketed layout: first call per
    session pays the one-off bucketed write; the join itself plans with
    ZERO Exchange operators (plan-asserted in tests/test_bucketed.py) —
    the durable, storage-level form of the reference's hash-partitioned
    merge insight (hash(word)%stripes, reference src/main.cpp:132-133).
    Result is oracle-identical to the plain shuffled join."""
    o_name, l_name = bucketed_pair(spark, sf_dir)
    return bucketed_join(spark, o_name, l_name)
