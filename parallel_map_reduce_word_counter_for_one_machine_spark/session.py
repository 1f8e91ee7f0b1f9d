"""SparkSession construction tuned for the two regimes we care about:

1. local test/bench runs on one machine (``local[N]``, N = the machine's
   cores unless ``SPARK_GRAFT_CPUS`` says otherwise), and
2. the 1000-executor / 100 TB deployment the design targets.

Only (1) is constructed here; (2) is documented so the same code ships
unchanged — every knob below scales by cluster size, not by query logic.

Scale notes (100 TB):
- ``spark.sql.shuffle.partitions`` — locally = cores; at scale set
  ~2-3x total executor cores, and rely on AQE coalescing
  (``spark.sql.adaptive.coalescePartitions.enabled``) to shrink small
  stages at runtime instead of hand-tuning per query.
- ``spark.sql.adaptive.enabled`` + ``skewJoin.enabled`` — runtime re-plan
  handles the skewed-key problem the reference attacked with striped locks
  (reference src/main.cpp:118-138); AQE splits skewed shuffle partitions.
- ``spark.sql.files.maxPartitionBytes`` — 128m default keeps scan tasks
  right-sized at any input volume; the scalable version of the reference's
  BATCH_SIZE=2M-lines bounded-memory loop (reference src/main.cpp:103).
- ``spark.sql.autoBroadcastJoinThreshold`` — dims (region/nation/customer/
  part/supplier) stay broadcast-able even at SF100k; fact-fact joins
  shuffle on join keys.
- ``spark.sql.adaptive.shuffledHashJoinLocalMapThreshold`` is deliberately
  left at its 0 default (r08, MEASURED — tools/verify_ab.py): converting
  the second-decade LSH verify's SMJ to a shuffled hash join looked like
  the obvious sort-elimination win, but at 64 MB the conversion OOMed the
  x100 tier — AQE first coalesces shuffle partitions toward 64 MB, so
  each SHJ task builds a ~64 MB hash relation (3-5× in-memory
  amplification) × 32 concurrent tasks in local mode's ONE shared heap.
  SMJ's spill-safe sorts are the right local[32] trade (361 s for the
  35 M-pair verify vs a heap-space crash); on a real cluster with
  per-executor heaps the threshold is worth revisiting.
- Arrow on: every Python-boundary crossing (pandas UDFs in dedup/
  similarity/multimodal) is Arrow-batched, never row-at-a-time pickling.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# Build-once artifacts (persisted indexes, staged layouts, trained
# codebooks, standing maps), keyed by (applicationId, *key): the one-off
# ingest step is paid once per Spark application, and a new session never
# sees an artifact built against another session's state.
_ARTIFACTS: dict[tuple, object] = {}


def session_artifact(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """Return the artifact memoized under ``key`` for this Spark
    application, calling ``build()`` to make it on first use. ``key``
    names the artifact kind first, then its inputs, e.g.
    ``("bucketed_pair", sf_dir)``."""
    full = (spark.sparkContext.applicationId, *key)
    if full not in _ARTIFACTS:
        _ARTIFACTS[full] = build()
    return _ARTIFACTS[full]  # type: ignore[return-value]


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "pmr-wc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-representative conf."""
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
