"""Watermark LATE-DATA DROP, demonstrated for real — append mode over
multiple micro-batches (extension surface; the reference,
src/main.cpp:78-281, has no streaming).

Every other windowed stream in this engine runs COMPLETE mode, where a
watermark only bounds state — nothing is ever visibly dropped, so those
keys can't distinguish an engine that honors lateness from one that
ignores it. This key runs the distinguishing experiment:

1. The events table is staged into THREE mtime-ordered files (the
   ``scd2sink`` file-per-micro-batch idiom), sliced by event time:
   batch 0 = early half MINUS the first hour's events, batch 1 = late
   half, batch 2 = the withheld FIRST-HOUR cohort — now hopelessly late:
   by the time it arrives the watermark stands at max(ts) − 1 h, weeks
   past the cohort's window end.
2. A 1-hour tumbling aggregate with a 1-hour watermark runs in APPEND
   mode: a window is emitted exactly once, when the watermark passes its
   end, and state for passed windows is gone — so the cohort's rows MUST
   be discarded, and windows newer than (final watermark) must NOT be
   emitted at all.
3. The DuckDB oracle recomputes the emitted relation from those two
   rules alone: per-hour counts EXCLUDING the first-hour cohort,
   restricted to windows with end ≤ max(ts) − 1 h. If Spark counted one
   late row, or emitted one unfinalized window, the value hash breaks.

Batch boundaries are watermark-safe by construction: batch 1 starts at
the time-range midpoint, weeks above batch 0's closing watermark, so the
ONLY late data in the run is the cohort — the drop count is exactly its
size. Slice bounds are DERIVED from the data (min/max aggregate — one
2-column row to the driver), not hardcoded to this corpus.

Scale shape: staging is three filtered writes of the source (one pass
each, pushdown-friendly range predicates); the stream itself is the
standard watermark-bounded windowed aggregate — state is O(open windows ×
groups), never O(corpus) — and the memory sink holds only finalized
window rows (bounded by the time range, not the event count).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import session_artifact
from ..sources.tables import SCHEMAS, load_table
from . import drain

LATE_WATERMARK = "1 hour"


def stage_late_slices(spark: SparkSession, sf_dir: str) -> str:
    """Write the three event-time slices as one parquet file each with
    ascending mtimes (the file source delivers oldest-mtime first, one
    file per trigger) — batch 2 is the late cohort. Staged once per
    (session, sf_dir)."""
    return session_artifact(
        spark, ("late_slices", sf_dir), lambda: _write_late_slices(spark, sf_dir)
    )


def _write_late_slices(spark: SparkSession, sf_dir: str) -> str:
    evs = load_table(spark, sf_dir, "events")
    b = evs.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.max("ts").alias("tmax"),
    ).collect()[0]  # bounded: one 2-column row
    cohort_end = b.t0 + timedelta(hours=1)
    mid = b.t0 + (b.tmax - b.t0) / 2
    slices = [
        evs.filter((F.col("ts") >= F.lit(cohort_end)) & (F.col("ts") < F.lit(mid))),
        evs.filter(F.col("ts") >= F.lit(mid)),
        evs.filter(F.col("ts") < F.lit(cohort_end)),  # the late cohort
    ]
    staged = tempfile.mkdtemp(prefix="pmrwc_late_")
    now = time.time() - 1000
    for i, s in enumerate(slices):
        tmp = os.path.join(staged, f"_w{i}")
        s.repartition(1).write.parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        dst = os.path.join(staged, f"slice{i}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (now + i * 10, now + i * 10))
    return staged


@query(
    "stream_late_data_drop",
    oracle=(
        "WITH b AS (SELECT date_trunc('hour', min(ts)) + INTERVAL 1 HOUR "
        "AS cohort_end, max(ts) - INTERVAL 1 HOUR AS wm FROM events), "
        "kept AS (SELECT e.* FROM events e, b WHERE e.ts >= b.cohort_end), "
        "w AS (SELECT date_trunc('hour', ts) AS ws, "
        "CAST(count(*) AS BIGINT) AS n_events, "
        "round(sum(value), 2) AS sum_value FROM kept GROUP BY ws) "
        "SELECT epoch_ms(ws) AS window_start_ms, n_events, sum_value "
        "FROM w, b WHERE ws + INTERVAL 1 HOUR <= b.wm"
    ),
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of the late-data experiment (module docstring):
    emitted = exactly the finalized windows computed WITHOUT the late
    cohort. Returns the append-mode memory sink contents after the
    3-micro-batch stream drains."""
    staged = stage_late_slices(spark, sf_dir)
    name = "late_drop_" + str(abs(hash((sf_dir, "late"))) % 10**8)
    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .withWatermark("ts", LATE_WATERMARK)
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    return spark.sql(f"SELECT * FROM {name}")
