"""Query registry: the single source of truth wiring operators to the driver
contract in ``__spark_entry__.py``.

Every implemented operator registers a callable ``(spark, sf_dir) ->
DataFrame`` plus (when SQL-expressible) a DuckDB oracle SQL string computing
the same result over the same parquet tables. Column names are aliased
identically on both sides because the driver's comparator sorts columns by
name before hashing values.

Non-SQL-expressible ops (MinHash-LSH dedup, streaming stateful ops) register
with ``oracle=None`` and get the driver's weaker rows-only check.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# key → source file of the registered callable (for change-aware stamping
# priority in ``prioritize`` — VERDICT r11 item 3; the package modules that
# file imports count too, see ``_package_imports``).
QUERY_FILES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; optionally attach DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        try:
            QUERY_FILES[name] = fn.__code__.co_filename
        except AttributeError:
            QUERY_FILES[name] = ""
        return fn

    return deco


def _last_green_round() -> dict[str, int]:
    """key → most recent round number with a green driver hash row, read
    from the recorded CORRECTNESS_r{N}.json files (repo root)."""
    import glob
    import json
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for key, row in data.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last[key] = max(last.get(key, 0), rnd)
    return last


@functools.cache
def _package_imports(path: str) -> tuple[str, ...]:
    """Source files of the package modules that the file at ``path``
    imports, at module level or inside a function, other than this
    registry: a key's behaviour changes when a helper module its operator
    calls changes (an edit to ``similarity.py`` changes the ``semdedup``
    keys). Direct imports only."""
    import ast

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    path = os.path.abspath(path)
    try:
        with open(path) as fh:
            tree = ast.parse(fh.read())
    except (OSError, SyntaxError, ValueError):
        return ()
    # dotted parts of the importing module; for an __init__.py, dropping
    # the last part leaves the package itself, as relative imports expect
    here = os.path.relpath(os.path.splitext(path)[0], root).split(os.sep)
    names: list[list[str]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            base = here[: len(here) - node.level] if node.level else []
            mod = base + (node.module.split(".") if node.module else [])
            names.append(mod)
            names.extend(mod + [a.name] for a in node.names)  # `from . import x`
        elif isinstance(node, ast.Import):
            names.extend(a.name.split(".") for a in node.names)
    files = set()
    for parts in names:
        if parts[:1] != [os.path.basename(pkg_dir)]:
            continue
        for cand in (
            os.path.join(root, *parts) + ".py",
            os.path.join(root, *parts, "__init__.py"),
        ):
            if os.path.isfile(cand):
                files.add(cand)
    files -= {path, os.path.abspath(__file__)}
    return tuple(sorted(files))


def _files_changed_after_stamp(last: dict[str, int]) -> dict[str, int]:
    """key → module last-commit unix time, for keys whose registered
    callable's source file, or a package module that file imports
    (``_package_imports``), was COMMITTED no earlier than the
    CORRECTNESS_r{N}.json that last stamped them green, the stamp's own
    commit included (VERDICT r11 item
    3: the r11 staleness rotation left every behavior-changed operator
    OUTSIDE the driver's oracle window — their stamps predate the change,
    so pure staleness ordering can starve exactly the keys that most need
    re-verification). One ``git log --name-only`` pass gives each file's
    last-commit time; degrades to the empty dict (pure staleness order)
    when git is unavailable."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            ["git", "-C", root, "log", "--format=%%ct:%ct", "--name-only"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if out.returncode != 0:
            return {}
    except (OSError, subprocess.SubprocessError):
        return {}
    file_ts: dict[str, int] = {}
    ts = 0
    for line in out.stdout.splitlines():
        if line.startswith("%ct:"):
            ts = int(line[4:])
        elif line and line not in file_ts:
            file_ts[line] = ts  # newest-first: first mention = last commit
    changed: dict[str, int] = {}
    for key, path in QUERY_FILES.items():
        rnd = last.get(key)
        if rnd is None or not path:
            continue  # never green: already first-class in the sort
        stamp_ts = file_ts.get(f"CORRECTNESS_r{rnd:02d}.json") or file_ts.get(
            f"CORRECTNESS_r{rnd}.json"
        )
        mod_ts = max(
            file_ts.get(os.path.relpath(f, root), 0)
            for f in (path, *_package_imports(path))
        )
        if stamp_ts and mod_ts and mod_ts >= stamp_ts:
            changed[key] = mod_ts
    return changed


def prioritize() -> None:
    """Reorder ``QUERIES``: never-green keys first, then green keys whose
    OPERATOR SOURCE CHANGED since their last green stamp (by staleness
    within the class), then the rest by STALENESS (oldest last-green round
    first).

    ORDER MATTERS for the driver: it walks ``queries()`` in registration
    order under a per-round budget (~50 keys/round, STATUS.md), so keys past
    the budget never receive a CORRECTNESS row. Rounds 1-2 left 23 keys
    never stamped and 10 stamped-but-not-green (VERDICT.md r2 item 1); with
    the whole registry green after r04, the budget's remaining slots now
    rotate as DRIFT RE-CHECKS — staleness ordering (VERDICT r04 item 8)
    guarantees no key's most recent green row ages more than
    ceil(registry/budget) rounds. The changed-since-stamp class (r12,
    VERDICT r11 item 3) ranks re-verification of touched operators ahead of
    drift re-checks of untouched ones, ordered MOST-RECENTLY-CHANGED first
    (then stalest-stamp) so the current round's behavior-touched keys land
    inside the budget even when the changed backlog exceeds it. Python's
    sort is stable, so registration order breaks ties within one class.
    """
    last = _last_green_round()
    changed = _files_changed_after_stamp(last)
    items = sorted(
        QUERIES.items(),
        key=lambda kv: (
            0 if kv[0] not in last else (1 if kv[0] in changed else 2),
            -changed.get(kv[0], 0),
            last.get(kv[0], -1),
        ),
    )
    QUERIES.clear()
    QUERIES.update(items)


@functools.cache
def prioritize_once() -> None:
    """``prioritize`` on first call only. ``__spark_entry__.queries()``
    calls it, so importing the entry module starts no ``git`` process."""
    prioritize()


def load_all() -> None:
    """Import every operator module for its registration side effects.
    Registration order stands until ``prioritize`` reorders it."""
    # Imports deferred so `import registry` stays cheap and cycle-free.
    from .operators import (  # noqa: F401
        binarytok,
        wordcount,
        dedup,
        graphdedup,  # after dedup: composes its registered oracle
        similarity,
        annindex,  # after similarity: composes its codebooks/verdict
        semdedup,  # after similarity: reuses its quantizer/cosine
        embedprep,  # after similarity: reuses its cosine
        sketches,
        text,
        retrieval,
        corpusstats,
        dataquality,
        multimodal,
        pipeline,
        curate,
        analytics,
        chunking,
        layout,
        graph,
        selection,
        bpetrain,
        textnorm,
    )
    from .functions import udfs  # noqa: F401
    from .streaming import (  # noqa: F401
        chunkstream,
        dedupstream,
        fuzzygate,
        joins,
        latedata,
        scd2sink,
        stateful,
        tumbling,
        upsertsink,
    )
    from .sources import (  # noqa: F401
        bucketed,
        compaction,
        evolution,
        formats,
        partitioned,
    )
    from .operators import (  # noqa: F401
        relational,
        relational2,
        relational3,
        temporal,
        sqlfront,
    )
