"""Registry stamping-priority tests (r12, VERDICT r11 item 3): keys whose
operator source changed since their last green stamp must outrank pure
staleness so the driver's ~50-key oracle window re-verifies touched
operators first. No Spark needed — pure ordering logic."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallel_map_reduce_word_counter_for_one_machine_spark import registry


def test_changed_class_outranks_staleness():
    """A green key whose module committed after its stamp sorts ahead of a
    staler green key whose module did not change; never-green keys still
    sort first; within the changed class, most-recently-changed first."""
    last = {"stale_unchanged": 3, "changed_old": 7, "changed_new": 9}
    changed = {"changed_old": 100, "changed_new": 200}
    items = sorted(
        ["never_green", "stale_unchanged", "changed_old", "changed_new"],
        key=lambda k: (
            0 if k not in last else (1 if k in changed else 2),
            -changed.get(k, 0),
            last.get(k, -1),
        ),
    )
    assert items == [
        "never_green",
        "changed_new",  # newest module commit first within the class
        "changed_old",
        "stale_unchanged",
    ]


def test_files_changed_after_stamp_live():
    """On the real repo the helper returns a dict keyed by registered query
    names with positive commit times, and never flags a never-green key."""
    registry.load_all()
    last = registry._last_green_round()
    changed = registry._files_changed_after_stamp(last)
    assert isinstance(changed, dict)
    for key, ts in changed.items():
        assert key in registry.QUERIES
        assert key in last  # only green keys can be 'changed since stamp'
        assert ts > 0


def test_prioritize_is_permutation():
    """prioritize() must reorder, never add or drop, registry entries."""
    registry.load_all()
    before = set(registry.QUERIES)
    registry.prioritize()
    assert set(registry.QUERIES) == before


def test_module_committed_with_its_stamp_counts_as_changed(monkeypatch):
    """A code change committed in the same commit as the CORRECTNESS stamp
    has the stamp's commit time; the key must still count as changed since
    the stamp, or the change is never re-verified ahead of stale keys."""
    import subprocess

    registry.load_all()
    key, path = next((k, p) for k, p in registry.QUERY_FILES.items() if p)
    root = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    fake_log = f"%ct:1000\n\nCORRECTNESS_r07.json\n{os.path.relpath(path, root)}\n"

    def fake_run(*args, **kwargs):
        return subprocess.CompletedProcess(args, 0, stdout=fake_log, stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run)
    assert registry._files_changed_after_stamp({key: 7}) == {key: 1000}


def test_helper_module_change_flags_dependent_keys(monkeypatch):
    """A commit that touches only a helper module (similarity.py) after
    the stamp flags the keys whose operator files import it (annindex's
    and semdedup's), not the keys of modules that do not import it."""
    import subprocess

    registry.load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    pkg = os.path.dirname(os.path.abspath(registry.__file__))

    def rel(path):
        return os.path.relpath(path, root)

    dependent = ["dedup_semdedup", "similarity_topk_ivfpq_kmeans_pruned"]
    keys = dependent + ["word_count"]
    fake_log = (
        f"%ct:3000\n\n{rel(os.path.join(pkg, 'operators', 'similarity.py'))}\n"
        "%ct:2000\n\nCORRECTNESS_r07.json\n"
        "%ct:1000\n\n" + "".join(f"{rel(registry.QUERY_FILES[k])}\n" for k in keys)
    )

    def fake_run(*args, **kwargs):
        return subprocess.CompletedProcess(args, 0, stdout=fake_log, stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run)
    changed = registry._files_changed_after_stamp({k: 7 for k in keys})
    assert changed == {k: 3000 for k in dependent}


def test_entry_import_starts_no_git(monkeypatch):
    """Importing ``__spark_entry__`` starts no subprocess; the first
    ``queries()`` call puts the keys in ``prioritize`` order, and later
    calls return that order without prioritizing again."""
    import importlib.util
    import subprocess

    def no_subprocess(*args, **kwargs):
        raise AssertionError("subprocess started")

    monkeypatch.setattr(subprocess, "run", no_subprocess)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_spark_entry_under_test", os.path.join(root, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    monkeypatch.undo()

    registry.prioritize_once.cache_clear()
    first = list(entry.queries())
    monkeypatch.setattr(subprocess, "run", no_subprocess)
    assert list(entry.queries()) == first
    monkeypatch.undo()
    registry.prioritize()
    assert list(registry.QUERIES) == first
