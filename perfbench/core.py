"""Pure logic of the benchmark: statistics, span arithmetic and the parsing
and aggregation of Spark SQL metrics. Nothing here needs Spark, so the tests
in ``test_core.py`` run without a JVM."""

from __future__ import annotations

import re
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def timed_walls(walls: list[float], warmup: int) -> list[float]:
    """The job walls that count: all but the first ``warmup`` jobs."""
    if len(walls) <= warmup:
        raise ValueError(f"{len(walls)} jobs leave none after a warm-up of {warmup}")
    return walls[warmup:]


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no job was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name, summed over spans of that name: a span's
    duration minus the part of its interval that its child spans cover.
    Each span is a dict with ``id``, ``name``, ``start``, ``end`` and
    ``parent`` (an id, or None for a root)."""
    children: dict = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        lo, hi = sp["start"], sp["end"]
        covered = union_length(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(sp["id"], [])
            if c["end"] > lo and c["start"] < hi
        )
        out[sp["name"]] = out.get(sp["name"], 0.0) + (hi - lo) - covered
    return out


def innermost(spans: list[dict], t: float):
    """Id of the shortest span whose interval holds instant ``t``."""
    best = None
    for sp in spans:
        if sp["start"] <= t <= sp["end"]:
            if best is None or sp["end"] - sp["start"] < best["end"] - best["start"]:
                best = sp
    return None if best is None else best["id"]


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)\s*$")


def parse_metric(text: str | None) -> float | None:
    """A Spark SQL metric as the status store formats it, in base units
    (bytes, seconds or a count). Multi-task values read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; the total is
    taken. Average metrics, which have no total, give None."""
    if not text:
        return None
    line = text.strip().split("\n")[-1]
    head = line.split(" (", 1)[0]
    m = _VALUE.match(head)
    if m is None:
        return None
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit == "":
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return None


def _is_agg(name: str) -> bool:
    return name in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def aggregate_executions(executions: list[dict]) -> dict[str, float]:
    """Sum the node metrics of a set of SQL executions into layer totals.

    Each execution is ``{"description": str, "nodes": [{"name", "desc",
    "metrics": {metric name: formatted value}}]}``, as read from the
    status store. Peak memory is the largest per-node total; everything
    else is summed over nodes and executions."""
    out = {
        k: 0.0
        for k in (
            "scan.bytes", "scan.rows", "generate.rows", "agg.partial_rows",
            "agg.build_s", "agg.peak_mem_bytes", "spill.bytes",
            "exchange.count", "exchange.shuffle_bytes", "exchange.shuffle_records",
            "exchange.fetch_wait_s", "exchange.range_bytes",
            "exchange.roundrobin_records", "sort.time_s", "sink.bytes",
            "sink.files", "sink.commit_s", "python.run_s", "python.start_s",
            "python.init_s", "python.bytes_to", "python.bytes_from",
        )
    }

    for ex in executions:
        for node in ex["nodes"]:
            name, desc = node["name"].strip(), node.get("desc", "")
            m = {k: parse_metric(v) for k, v in node["metrics"].items()}

            def get(key):
                return m.get(key) or 0.0

            out["spill.bytes"] += get("spill size")
            if name.startswith("Scan "):
                out["scan.bytes"] += get("size of files read")
                out["scan.rows"] += get("number of output rows")
            elif name == "Generate":
                out["generate.rows"] += get("number of output rows")
            elif _is_agg(name):
                if "partial_" in desc:
                    out["agg.partial_rows"] += get("number of output rows")
                out["agg.build_s"] += get("time in aggregation build")
                out["agg.peak_mem_bytes"] = max(out["agg.peak_mem_bytes"], get("peak memory"))
            elif name == "Exchange":
                out["exchange.count"] += 1
                out["exchange.shuffle_bytes"] += get("shuffle bytes written")
                out["exchange.shuffle_records"] += get("shuffle records written")
                out["exchange.fetch_wait_s"] += get("fetch wait time")
                if "rangepartitioning" in desc:
                    out["exchange.range_bytes"] += get("shuffle bytes written")
                if "RoundRobinPartitioning" in desc:
                    out["exchange.roundrobin_records"] += get("shuffle records written")
            elif name == "Sort":
                out["sort.time_s"] += get("sort time")
            elif name.startswith("Execute InsertIntoHadoopFsRelation"):
                out["sink.bytes"] += get("written output")
                out["sink.files"] += get("number of written files")
                out["sink.commit_s"] += get("job commit time") + get("task commit time")
            if "time to run Python workers" in m:
                out["python.run_s"] += get("time to run Python workers")
                out["python.start_s"] += get("time to start Python workers")
                out["python.init_s"] += get("time to initialize Python workers")
                out["python.bytes_to"] += get("data sent to Python workers")
                out["python.bytes_from"] += get("data returned from Python workers")
    return out


def parse_proc_stat(line: str) -> dict:
    """Fields of one ``/proc/<pid>/stat`` line that the benchmark uses.
    The command name is parenthesised and may hold spaces, so fields are
    counted from its closing parenthesis."""
    pid = int(line[: line.index(" ")])
    rest = line[line.rindex(")") + 2 :].split()
    return {
        "pid": pid,
        "state": rest[0],
        "ppid": int(rest[1]),
        "pgrp": int(rest[2]),
        "ticks": sum(int(x) for x in rest[11:15]),  # utime stime cutime cstime
    }


def descendants(stats: list[dict], root: int) -> set[int]:
    """``root`` and every process below it in the parent tree."""
    kids: dict[int, list[int]] = {}
    for s in stats:
        kids.setdefault(s["ppid"], []).append(s["pid"])
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in out:
            out.add(p)
            todo.extend(kids.get(p, []))
    return out
