"""Schema evolution across parquet batches — the ingest reality a
long-lived dataset faces (extension surface; the reference has exactly one
input shape, src/main.cpp:104-108).

A corpus written over months gains columns: early batches carry
``(doc_id, text, lang)``, later ones add ``source`` and ``n_chars``.
Parquet stores each file's own schema, so the evolved directory is
readable — IF the reader reconciles. Spark's rules, exercised here:

* default read: the schema comes from ONE sampled file — whether new
  columns appear depends on which file wins; columns only in other files
  read as missing/null. Fast (one footer) but layout-dependent.
* ``mergeSchema=true``: union of every footer's fields by name; rows from
  pre-evolution files surface the added columns as NULL. Deterministic,
  at the cost of reading all footers — which is why production tables
  keep the merged schema in a catalog/table-format instead of re-deriving
  it per read (sandbox has no Delta/Iceberg; STATUS.md).

Evolution here is strictly ADDITIVE (new nullable columns) — the only
kind parquet-without-a-format supports safely. Renames and type changes
need a real table format's column-mapping/type-widening metadata.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import session_artifact
from .tables import load_table


def write_evolving_batches(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Two ingest generations of the documents table: batch 1 (even
    doc_ids) with the original 3-column schema, batch 2 (odd doc_ids) with
    the widened 5-column schema — the additive-evolution layout."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text", "lang")
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "batch=2"))


def read_evolved(spark: SparkSession, root: str) -> DataFrame:
    """Union-of-footers read: every column any batch ever wrote, NULL where
    a file predates the column. Explicit batch paths (not the bare root)
    so the ``batch=`` directories stay data paths rather than becoming a
    discovered hive partition column."""
    batches = sorted(
        os.path.join(root, d) for d in os.listdir(root) if d.startswith("batch=")
    )
    return spark.read.option("mergeSchema", "true").parquet(*batches)


def evolved_documents_dir(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        base = tempfile.mkdtemp(
            prefix="pmrwc_evolve_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        )
        write_evolving_batches(spark, sf_dir, base)
        return base

    return session_artifact(spark, ("evolved_documents", sf_dir), build)


@query(
    "schema_evolution_read",
    oracle=(
        # the flat table with batch-1 rows' evolved columns nulled out —
        # exactly what the merged read must reconstruct
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(count(CASE WHEN doc_id % 2 = 1 THEN source END) AS BIGINT) "
        "AS n_with_source, "
        "CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) "
        "AS evolved_chars "
        "FROM documents GROUP BY lang"
    ),
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of additive schema evolution: aggregate over the
    merged two-generation layout. ``n_docs`` counts BOTH generations
    (old-schema rows fully present), while ``n_with_source``/
    ``evolved_chars`` only see generation-2 rows — proving the reader
    nulls, not drops, pre-evolution files' missing columns."""
    d = read_evolved(spark, evolved_documents_dir(spark, sf_dir))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count("source").alias("n_with_source"),
        F.sum("n_chars").alias("evolved_chars"),
    )
