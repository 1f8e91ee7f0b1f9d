"""Plan-shape drift gate (VERDICT r05 item 8): the committed PLANS.md is
not documentation, it is a CONTRACT — this test re-derives the physical
plan of the load-bearing headline queries at the same sf PLANS.md is
generated from and diffs the SHUFFLE-EXCHANGE and join-strategy counts
against the committed blocks. A Spark-conf or code change that adds an
exchange (or demotes a broadcast join) fails here, in CI, instead of
surfacing as an unexplained bench regression two rounds later.

Only operator COUNTS are compared, not plan text: plan ids, partition
counts (tests run shuffle_partitions=8, dump_plans uses 4) and column
numbering churn freely without changing what the plan costs at 100 TB.
"""

from __future__ import annotations

import os
import re

import pytest

from parallel_map_reduce_word_counter_for_one_machine_spark import registry
from parallel_map_reduce_word_counter_for_one_machine_spark.plans.inspect import (
    plan_string,
    resolve_headline,
)

registry.load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_SF = "/root/testdata/sf0.01"  # must match tools/dump_plans.py

# The pinned queries: cheap to plan (no iterative checkpointing at plan
# time) and each one's exchange budget is a named property in PLANS.md.
PINNED = [
    "word_count",
    "star_join_agg",
    "sessionize",
    "sort_limit_topk",
    "agg_group",
    "window_rank",
    "chunk_documents",
    "event_funnel",
    "inverted_index",
    "dedup_chunks",
    # VERDICT r07 item 6: the ADC/IVFPQ probe plans this family's r06/r07
    # shuffle fixes shrank — an exchange reappearing fails CI here. Plan
    # derivation builds the sf0.01 index once per session (the memoized
    # ingest step); the listing names resolve via plans.inspect.
    "pq_topk_listing",
    "ivfpq_pruned_listing",
    "ivfpq_kmeans_listing",
    # VERDICT r08 item 5: the two heaviest iterative families' load-bearing
    # shapes. Deriving these plans RUNS the checkpointed iterations at
    # sf0.01 (a few seconds each — the exception to the cheap-to-plan rule
    # above, accepted because these are the plans the second-decade fixes
    # live in): lsh_verified_pairs pins the clusters' edge path (one shared
    # doc_a exchange, checkpointed rep table — a second exchange or a
    # corpus re-scan flips the counters), dedup_clusters_lsh the final
    # label/window stage, pagerank_parts the per-iteration contribution
    # shape (broadcast adjacency, one groupBy(dst) exchange per round).
    "lsh_verified_pairs",
    "dedup_clusters_lsh",
    "pagerank_parts",
    # VERDICT r09 item 5: the two r09 keys whose 100 TB story is a plan
    # shape. decontaminate_bloom: ONE train shingle pass, the bloom arm
    # joinless, and (r10) the exact rescue probe gated on bloom survivors
    # — a second corpus shingle pass or a full-stream exact join flips
    # the exchange/join counters. dedup_containment: rare-shingle
    # blocking — the df-cap aggregate feeds the single shingle-keyed
    # self-join; an uncapped self-join or a second corpus pass flips
    # counters here.
    "decontaminate_bloom",
    "dedup_containment",
    # VERDICT r10 item 7: the k-NN tile plans — counter pins here, plus
    # the dedicated structural assertions in test_knn_tile_plan_structure
    # below (the generic counters alone cannot distinguish tile-grid BNLJ
    # from a raw corpus² theta-join).
    "knn_graph",
    "knn_graph_ivf_listing",
]

# Node classes whose count IS the scale property. "Exchange hash/range/
# SinglePartition" are data shuffles; BroadcastExchange is deliberately
# separate (a broadcast replacing a shuffle should flip TWO counters,
# not hide); join strategies catch broadcast->SMJ demotions.
_COUNTERS = {
    "shuffle_exchanges": re.compile(
        r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)"
    ),
    "broadcast_exchanges": re.compile(r"BroadcastExchange"),
    "broadcast_hash_joins": re.compile(r"BroadcastHashJoin"),
    "sort_merge_joins": re.compile(r"SortMergeJoin"),
    "take_ordered": re.compile(r"TakeOrderedAndProject"),
}


def _counts(plan_text: str) -> dict[str, int]:
    return {k: len(rx.findall(plan_text)) for k, rx in _COUNTERS.items()}


def _committed_blocks() -> dict[str, str]:
    with open(os.path.join(REPO, "PLANS.md")) as fh:
        md = fh.read()
    blocks: dict[str, str] = {}
    for m in re.finditer(r"^## (\S+)\n.*?```\n(.*?)```", md, re.S | re.M):
        blocks[m.group(1)] = m.group(2)
    return blocks


@pytest.mark.parametrize("name", PINNED)
def test_headline_plan_shape_matches_committed(spark, name):
    blocks = _committed_blocks()
    assert name in blocks, f"{name} missing from PLANS.md — rerun dump_plans"
    want = _counts(blocks[name])
    live = plan_string(resolve_headline(name)(spark, PLANS_SF), mode="simple")
    got = _counts(live)
    assert got == want, (
        f"{name}: plan shape drifted from committed PLANS.md "
        f"(committed {want}, live {got}). If the change is intentional, "
        f"regenerate with `python tools/dump_plans.py` and re-justify the "
        f"note; if not, an exchange/join strategy regressed.\n{live}"
    )


def test_knn_tile_plan_structure(spark):
    """VERDICT r10 item 7 — pin the knn tile shapes structurally (the
    counter pins can't see tile-vs-raw granularity: a raw corpus²
    theta-join + window compiles to the same counter vector as the tile
    grid). knn_graph: the B×B grid is a BroadcastNestedLoopJoin over the
    two BLOCK-AGGREGATE relations (Scan ExistingRDD[blk...] twice), and
    the only hash exchange sits ABOVE the _knn_tile_topk kernel — the
    exchanged stream is tile-local top-k rows, never raw pairs.
    knn_graph_ivf_listing: one map → shuffle → reduce — a literal route
    map explodes each vector into its cell groups inside the map (no
    join, so no BroadcastHashJoin, no Scan ExistingRDD of a pickled route
    table and no inferred isnotnull filter re-running the cell argmax:
    exactly one array_max in the optimized plan), ONE hash exchange on
    the group sits below the _knn_cell_topk grouped kernel, and nothing
    of the earlier tile design is left: no BroadcastNestedLoopJoin
    (all-block replication), no Window or round-robin repartition (a
    second, global top-k pass) and no checkpointed block relation."""
    exact = plan_string(
        resolve_headline("knn_graph")(spark, PLANS_SF), mode="simple"
    )
    assert exact.count("Scan ExistingRDD[blk") == 2, exact
    assert "BroadcastNestedLoopJoin" in exact
    assert "SortMergeJoin" not in exact
    ex_pos = exact.find("Exchange hashpartitioning")
    kernel_pos = exact.find("MapInPandas _knn_tile_topk")
    assert 0 < ex_pos < kernel_pos, (
        "tile kernel must sit below the vec_id exchange\n" + exact
    )
    # one data shuffle total: the vec_id exchange for the global top-k
    assert exact.count("Exchange hashpartitioning") == 1, exact

    ivf_df = resolve_headline("knn_graph_ivf_listing")(spark, PLANS_SF)
    ivf = plan_string(ivf_df, mode="simple")
    kernel = re.search(r"FlatMapGroupsInPandas [^\n]*_knn_cell_topk", ivf)
    assert kernel, ivf
    kernel_pos = kernel.start()
    assert ivf.count("Exchange hashpartitioning") == 1, ivf
    assert ivf.find("Exchange hashpartitioning") > kernel_pos, (
        "the group exchange must sit below the cell kernel\n" + ivf
    )
    for gone in (
        "BroadcastHashJoin",
        "Scan ExistingRDD",
        "BroadcastNestedLoopJoin",
        "Window",
        "RoundRobinPartitioning",
        "MapInPandas _knn_tile_topk",
    ):
        assert gone not in ivf, f"{gone} is back in the IVF plan\n{ivf}"
    optimized = ivf_df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("array_max(") == 1, optimized


def test_drift_gate_would_catch_an_added_exchange():
    """The gate itself is load-bearing — prove the counter distinguishes a
    repartition-polluted plan from the committed one (a gate that cannot
    go red is documentation, not a gate)."""
    committed = _counts(_committed_blocks()["word_count"])
    polluted = (
        _committed_blocks()["word_count"]
        + "\n+- Exchange hashpartitioning(word#6, 8)"
    )
    assert _counts(polluted) != committed
