"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``parallel_map_reduce_word_counter_for_one_machine_spark``
package; operator modules self-register into the registry on import.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parallel_map_reduce_word_counter_for_one_machine_spark import registry  # noqa: E402

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.QUERIES["word_count"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in stamping
    priority order (``registry.prioritize``, run on the first call)."""
    registry.prioritize_once()
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; keys absent
    here (non-SQL-expressible ops) get the driver's rows-only check."""
    return dict(registry.ORACLES)
