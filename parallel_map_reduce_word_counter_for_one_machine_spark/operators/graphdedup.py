"""Dedup clustering: connected components over the near-duplicate pair
graph (driver contract § north-star extensions; no reference citation —
the reference, src/main.cpp:78-281, has no multi-record operators).

A real dedup pipeline is pairs → CLUSTERS → one survivor per cluster:
near-dup similarity is not transitive, so candidate pairs (A~B, B~C) must
be closed into components before choosing representatives, or the kept set
still contains near-dups of each other. This module adds the closure step
on top of ``dedup.py``'s pair generators.

EDGE SOURCE (round 2 recomposition): the registered queries consume
``dedup.lsh_verified_pairs`` — exact-collapse → token-MinHash LSH over
representatives → exact-Jaccard verify — which is linear + bounded-bucket
work, the shape that survives 100 TB. The O(n²) exact edge generator
(``dedup_ngram_jaccard``) remains ONLY as the small-scale truth twin:
``dedup_clusters_exact`` (unregistered) computes the closure over it and
tests assert the two closures are IDENTICAL at sf0.001/sf0.01; the DuckDB
recursive-CTE oracle below likewise closes over the exact edge definition,
so the driver's hash check re-proves closure equality every round.

Closure algorithm: iterative min-label propagation to fixpoint — each node
adopts the smallest doc_id reachable so far; converges in O(diameter)
rounds. Every round is one shuffle (join + groupBy-min) over the EDGE set,
not the corpus; ``localCheckpoint`` truncates lineage so plans stay flat
across iterations. Near-dup components are shallow by construction; if the
round cap is hit without reaching the fixpoint (adversarially long chains)
the loop FALLS BACK to the large-star/small-star algorithm of Kiveris et
al. "Connected Components in MapReduce and Beyond" (SoCC'14), which
squares the propagation distance per round — it never silently returns
partially-propagated labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import ORACLES, query
from ..session import session_artifact
from ..sources.tables import load_table
from .dedup import INCREMENTAL_MOD, dedup_ngram_jaccard, lsh_verified_pairs

MAX_ROUNDS = 15

# Compose the oracle from the registered pair oracle so the edge definition
# cannot drift from dedup_ngram_jaccard's (dedup.py is imported above, so
# its registrations have already run).
_CC_ORACLE = (
    "WITH RECURSIVE pairs AS (" + ORACLES["dedup_ngram_jaccard"] + "), "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
    "UNION ALL SELECT doc_b, doc_a FROM pairs), "
    "nodes AS (SELECT DISTINCT src AS node FROM edges), "
    "walk(node, r) AS (SELECT node, node FROM nodes "
    "UNION SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.r) "
    "SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id "
    "FROM walk GROUP BY node"
)


def _sym_edges(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pair list → symmetric (src, dst) edge list.

    Materializes the pair list first: the union consumes it TWICE, and
    without the barrier the entire upstream pair pipeline (LSH candidate
    generation + verify) executes once per branch — measured at sf0.1 as
    ~2 s of pure recompute inside dedup_clusters."""
    pairs = pairs.localCheckpoint()
    return pairs.select("doc_a", "doc_b").union(
        pairs.select(F.col("doc_b"), F.col("doc_a"))
    ).toDF("src", "dst")


def label_propagation(
    edges: DataFrame, max_rounds: int = MAX_ROUNDS, steps_per_check: int = 2
) -> DataFrame:
    """Min-label propagation over a symmetric (src, dst) edge list →
    (node, label) with label = component min. Labels only ever decrease, so
    sum(label) is strictly monotone until the fixpoint — a single scalar
    aggregate is the whole convergence check. If the fixpoint is NOT
    reached within ``max_rounds`` propagation steps (component diameter >
    max_rounds), falls back to ``connected_components_star`` rather than
    returning partially-propagated (wrong) labels.

    ``steps_per_check`` propagation steps run between materialization +
    convergence-check barriers (r03, VERDICT item 7): the r02 profile
    showed the sf0.1 cost dominated by per-round localCheckpoint/collect
    stage barriers on a noisy box, not by shuffle volume. Batching halves
    the barrier count; the price is up to ``steps_per_check - 1`` extra
    propagation shuffles over already-converged (small, label-stable)
    state after the true fixpoint."""
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = None
    steps = 0
    while steps < max_rounds:
        for _ in range(min(steps_per_check, max_rounds - steps)):
            # FUSED propagate + pointer jump (optimization r12, guide
            # §2.4 — one join + one aggregate per step instead of two
            # joins): the jump label ← label(label) is itself a
            # propagation step over the POINTER EDGES (label(n) → n) of
            # the current label forest, so unioning those edges with the
            # real edge set makes one message join deliver both. The r11
            # sequential form ran the jump as a second |V|-row self-join
            # AFTER the aggregate, whose output also lost the node
            # partitioning the next step's join needed. Fused, each step
            # computes label'(n) = min(label(n), min_{v→n} label(v),
            # label(label(n))) — the jump reads the step-start labels
            # instead of the post-propagation ones, so intermediate
            # trajectories differ, but the fixpoint is identical: labels
            # are monotone decreasing ids of reachable nodes, the sum
            # check certifies an actual fixpoint, and at a fixpoint
            # label is constant on components and pinned to the
            # component min (same argument as before — any non-min
            # fixpoint label l at node n forces label(l) = l > label(l),
            # a contradiction via the self-message). Self-pointers
            # (label(n) = n, the initial state of every node) are
            # filtered: their message is the node's own label, already
            # in the aggregate via the union branch.
            ptr = labels.filter(F.col("label") != F.col("node")).select(
                F.col("label").alias("src"), F.col("node").alias("dst")
            )
            msgs = (
                edges.union(ptr)
                .join(labels, F.col("src") == labels["node"])
                .select(F.col("dst").alias("node"), "label")
            )
            labels = (
                msgs.union(labels.select("node", "label"))
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            steps += 1
        labels = labels.localCheckpoint()
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    # Step cap hit while labels were still moving: the graph has a
    # component deeper than max_rounds. Switch to the O(log² n) algorithm.
    return connected_components_star(edges).select(
        "node", F.col("component").alias("label")
    )


@query("dedup_clusters", oracle=_CC_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every doc in at least one near-dup pair;
    cluster_id = min doc_id of the component (its canonical survivor).

    Production composition: LSH-verified pairs (no all-pairs join anywhere
    in the lineage) → iterative DataFrame-only label propagation — no
    driver-side data, only a convergence counter per round. The driver's
    recursive-CTE oracle closes over the EXACT O(n²) edge definition, so a
    green row here certifies the LSH edge source loses no connectivity."""
    edges = _sym_edges(lsh_verified_pairs(spark, sf_dir))
    return label_propagation(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The truth twin (UNREGISTERED — test-scale only): identical closure
    over the exact O(n²) ``dedup_ngram_jaccard`` edges. Tests assert
    ``dedup_clusters`` ≡ this at sf0.001/sf0.01."""
    edges = _sym_edges(dedup_ngram_jaccard(spark, sf_dir))
    return label_propagation(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _standing_cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing cluster map is PERSISTED state in a real deployment —
    the last run's output, not something a batch merge recomputes. One map
    per (session, sf_dir), materialized once (localCheckpoint)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        standing = docs.filter(F.col("doc_id") % INCREMENTAL_MOD != 0)
        return label_propagation(
            _sym_edges(lsh_verified_pairs(spark, sf_dir, docs=standing))
        ).localCheckpoint()

    return session_artifact(spark, ("standing_cluster_map", sf_dir), build)


@query("dedup_clusters_incremental", oracle=_CC_ORACLE)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL cluster maintenance — the weekly-ingest path of fuzzy
    dedup, symmetric to the ANN index's ``append_to_ivfpq_index``: a new
    batch (doc_id % INCREMENTAL_MOD == 0) is merged into a STANDING
    cluster map without recomputing any standing↔standing pair.

    Composition: (1) the standing map M0 = closure over the standing
    split's verified pairs (at 100 TB this is the PERSISTED map from the
    last run, not recomputed — here it is materialized from the split
    because the driver tables have no ingest-time column); (2) the batch's
    incident edges from ``dedup.incremental_cluster_pairs`` (standing
    banded index probed per batch — O(batch × bands), never O(corpus));
    (3) closure over M0's star edges ∪ the new edges. Correctness is the
    union-find merge theorem: M0's stars are a spanning structure of the
    standing-only edge set, and every remaining truth edge is
    batch-incident and included, so components — and their min labels —
    equal the full recomputation's. The oracle is EXACTLY
    ``dedup_clusters``' full-corpus recursive-CTE closure, so the driver
    re-proves the equivalence, not just internal consistency. Per-batch
    closure work is proportional to the NEW edges plus touched components
    (label propagation over an edge set of |stars| + |batch edges|), not
    the corpus pair graph.

    Measured nuance at sf0.1 (beyond the oracle's scale): the incremental
    map recovered 6 nodes the FULL recomputation missed — all six edges
    hand-verified as true J ≥ 0.8 pairs (e.g. (4140,45) J=0.800) that the
    full path's capped buckets truncate; the standing-only index has
    smaller buckets (90% of docs), so the batch probe sees cap-dropped
    tails. Incremental maintenance is strictly MORE complete here, which
    is the right failure direction; at sf0.01 both equal the exact truth
    and the driver proves it."""
    from .dedup import incremental_cluster_pairs

    m0 = _standing_cluster_map(spark, sf_dir)
    star0 = m0.select(
        F.col("label").alias("doc_a"), F.col("node").alias("doc_b")
    ).filter(F.col("doc_a") != F.col("doc_b"))
    new_edges = incremental_cluster_pairs(spark, sf_dir)
    merged = label_propagation(_sym_edges(star0.union(new_edges)))
    return merged.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@query(
    "dedup_clusters_lsh",
    oracle=(
        "WITH cc AS (" + _CC_ORACLE + ") "
        "SELECT doc_id, cluster_id, "
        "count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM cc"
    ),
)
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end production fuzzy-dedup clustering key (SURVEY.md §2c
    ``dedup_fuzzy`` intent, closed): LSH-verified pairs → distributed
    closure → cluster map annotated with component size. Everything in the
    lineage is linear-or-bounded work: exact-collapse groupBy, banded
    MinHash groupBy, capped in-bucket pair enumeration, per-round edge-set
    shuffles. The cluster_size window keys on cluster_id — one extra
    exchange over the |dup-docs|-sized map, not the corpus."""
    cc = dedup_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return cc.withColumn("cluster_size", F.count("*").over(w))


@query(
    "dedup_survivors",
    oracle=(
        "WITH cc AS (" + _CC_ORACLE + ") "
        "SELECT d.doc_id, d.lang FROM documents d LEFT JOIN cc "
        "ON d.doc_id = cc.doc_id "
        "WHERE cc.doc_id IS NULL OR cc.cluster_id = d.doc_id"
    ),
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated corpus after fuzzy dedup: every doc not in any near-dup
    component, plus one canonical representative (min doc_id) per
    component — the end product a training pipeline actually feeds to the
    tokenizer. Left join against the cluster map, which is |dup-docs|-sized
    — usually a small fraction of the corpus; AQE promotes it to broadcast
    when it fits, and degrades to a shuffle join when it doesn't."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cc = dedup_clusters(spark, sf_dir)
    return (
        docs.join(
            cc.withColumnRenamed("doc_id", "cc_doc"),
            docs["doc_id"] == F.col("cc_doc"),
            "left",
        )
        .filter(F.col("cc_doc").isNull() | (F.col("cluster_id") == docs["doc_id"]))
        .select("doc_id", "lang")
    )


@query(
    "dedup_mass_by_source",
    oracle=(
        "WITH cc AS (" + _CC_ORACLE + ") "
        "SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(count(cc.doc_id) AS BIGINT) AS n_clustered, "
        "CAST(coalesce(sum(CASE WHEN cc.cluster_id IS NOT NULL "
        "AND cc.cluster_id <> d.doc_id THEN 1 END), 0) AS BIGINT) AS n_dup, "
        "round(CAST(coalesce(sum(CASE WHEN cc.cluster_id IS NOT NULL "
        "AND cc.cluster_id <> d.doc_id THEN 1 END), 0) AS DOUBLE) "
        "/ count(*), 6) AS dup_frac "
        "FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id "
        "GROUP BY d.source"
    ),
)
def dedup_mass_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-mass report over the production fuzzy-dedup
    clustering (new r08): for every ``source``, how many docs it
    contributed, how many sit in a near-dup component (``n_clustered``),
    how many would be DROPPED by survivor selection (``n_dup`` = cluster
    members that are not the min-id representative), and the dropped
    fraction at 6dp — the number a curation pipeline reads per crawl/
    vendor before setting mixture weights (heavily-duplicated sources get
    down-weighted BEFORE the expensive stages; cf. the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" per-source
    analyses). Scale shape: the cluster map is |dup-docs|-sized — the
    corpus-side join is one broadcast-or-shuffle hash join, then a
    source-keyed partial+final aggregate; nothing new shuffles at corpus
    width. The oracle recomputes the closure from the exact O(n²) edge
    definition, so a green row re-proves the LSH pipeline's connectivity
    AND the report arithmetic."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cc = dedup_clusters(spark, sf_dir).withColumnRenamed("doc_id", "cc_doc")
    is_dup = F.col("cluster_id").isNotNull() & (
        F.col("cluster_id") != docs["doc_id"]
    )
    return (
        docs.join(cc, docs["doc_id"] == F.col("cc_doc"), "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("cc_doc").alias("n_clustered"),
            F.coalesce(
                F.sum(F.when(is_dup, 1)), F.lit(0)
            ).cast("long").alias("n_dup"),
            F.round(
                F.coalesce(F.sum(F.when(is_dup, 1)), F.lit(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("dup_frac"),
        )
    )


def _min_star(edges: DataFrame) -> DataFrame:
    """m(u) = min(u ∪ Γ(u)) for a symmetric edge list (src, dst)."""
    return (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least("src", "_mn").alias("m"))
    )


def connected_components_star(edges_sym: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al., SoCC'14
    "Connected Components in MapReduce and Beyond") — the scale path for
    graphs with LONG chains, where plain min-label propagation needs
    O(diameter) rounds: each large+small round roughly squares the
    distance information travels, giving O(log² n) rounds worst-case.

    Input: symmetric edge list (src, dst), src ≠ dst. Output:
    (node, component) with component = min node id of the component.
    Every round is two join+groupBy passes over the current edge set.
    """
    e = edges_sym.select("src", "dst").localCheckpoint()
    prev_sig = None
    for _ in range(max_rounds):
        # Large-star: for every u, link its LARGER neighbors to m(u).
        m = _min_star(e)
        large = (
            e.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        e1 = (
            large.union(large.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # Small-star: for every u, link its SMALLER-or-equal neighbors
        # (and u itself) to m(u).
        m1 = _min_star(e1)
        small = (
            e1.join(m1, "src")
            .filter(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(m1.select(F.col("src"), F.col("m").alias("dst")))
        )
        e = (
            small.union(small.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # Converged when the edge multiset stops changing (cheap signature:
        # count + sum of endpoint ids — both monotone non-increasing here).
        sig = tuple(
            e.agg(
                F.count("*"), F.sum("src") + F.sum("dst")
            ).collect()[0]
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    # Star state: every non-root points at its root; add the roots.
    stars = e.filter(F.col("src") > F.col("dst")).select(
        F.col("src").alias("node"), F.col("dst").alias("component")
    )
    roots = stars.select(F.col("component").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return stars.union(roots)


@query("dedup_clusters_bigstar", oracle=_CC_ORACLE)
def dedup_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters as dedup_clusters (same LSH-verified edge source),
    computed with the large-star/small-star algorithm — registered under
    the SAME recursive CTE oracle, so both closure algorithms are
    independently verified against the declarative closure (and
    transitively against each other)."""
    edges = _sym_edges(lsh_verified_pairs(spark, sf_dir))
    cc = connected_components_star(edges)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query(
    "forget_source",
    oracle=(
        "WITH cc AS (" + _CC_ORACLE + "), "
        "d AS (SELECT min(source) AS s FROM documents), "
        "doomed AS (SELECT doc_id FROM documents, d WHERE source = d.s), "
        "per AS (SELECT cc.cluster_id, count(*) AS n_members, "
        "sum(CASE WHEN doomed.doc_id IS NOT NULL THEN 1 ELSE 0 END) "
        "AS n_doomed FROM cc LEFT JOIN doomed ON cc.doc_id = doomed.doc_id "
        "GROUP BY cc.cluster_id) "
        "SELECT (SELECT s FROM d) AS source, "
        "CAST((SELECT count(*) FROM doomed) AS BIGINT) AS n_docs_removed, "
        "CAST(sum(CASE WHEN n_doomed > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_clusters_affected, "
        "CAST(sum(CASE WHEN cluster_id IN (SELECT doc_id FROM doomed) "
        "AND n_members - n_doomed >= 2 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_survivors_reelected, "
        "CAST(sum(CASE WHEN n_doomed > 0 AND n_members - n_doomed <= 1 "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters_dissolved "
        "FROM per"
    ),
)
def forget_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten AUDIT: before erasing a source (vendor
    takedown, licensing lapse, GDPR bulk request), report how the
    deletion propagates through DERIVED dedup state — the part of erasure
    that naive row deletes silently corrupt. For the doomed source
    (deterministically min(source), standing in for the request):

    - ``n_docs_removed`` — its corpus rows.
    - ``n_clusters_affected`` — near-dup components losing ≥1 member.
    - ``n_survivors_reelected`` — components whose CANONICAL
      REPRESENTATIVE (cluster_id = min member id) is doomed while ≥2
      members survive: every downstream table keyed on the old survivor
      id (survivor listings, cluster maps, cluster-safe split
      assignments) must be re-pointed, or erasure leaves dangling keys.
    - ``n_clusters_dissolved`` — components with ≤1 survivor: no longer
      near-dup clusters at all; their remaining doc re-enters the corpus
      as a singleton.

    Scale shape: the cluster map is |dup-docs|-sized; the doomed set is
    one source's slice (joined by id, AQE-broadcast when small); one
    per-cluster partial aggregate and one final 1-row rollup. Nothing
    corpus-wide shuffles. The oracle recomputes everything from the
    exact recursive-CTE closure, so a green row certifies the survivor
    re-election arithmetic against ground truth, not against our own
    clustering."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.agg(F.min("source").alias("s"))
    doomed = (
        docs.join(F.broadcast(m), docs["source"] == F.col("s"))
        .select("doc_id")
        .withColumn("is_doomed", F.lit(1))
    )
    cc = dedup_clusters(spark, sf_dir)
    # no broadcast hint on the doomed slice: a single source can be
    # arbitrarily large at corpus scale (the r03 rule) — AQE promotes
    # the join when the slice actually fits
    per = (
        cc.join(doomed, "doc_id", "left")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.coalesce(F.sum("is_doomed"), F.lit(0)).alias("n_doomed"),
        )
    )
    doomed_ids = doomed.select(F.col("doc_id").alias("cluster_id")).distinct()
    per = per.join(
        doomed_ids.withColumn("survivor_doomed", F.lit(1)), "cluster_id", "left"
    )
    n_removed = doomed.count()  # bounded: one count job
    src = m.collect()[0].s  # bounded: one 1-row aggregate
    return (
        per.agg(
            F.sum(F.when(F.col("n_doomed") > 0, 1).otherwise(0)).alias(
                "n_clusters_affected"
            ),
            F.sum(
                F.when(
                    (F.col("survivor_doomed") == 1)
                    & (F.col("n_members") - F.col("n_doomed") >= 2),
                    1,
                ).otherwise(0)
            ).alias("n_survivors_reelected"),
            F.sum(
                F.when(
                    (F.col("n_doomed") > 0)
                    & (F.col("n_members") - F.col("n_doomed") <= 1),
                    1,
                ).otherwise(0)
            ).alias("n_clusters_dissolved"),
        )
        .select(
            F.lit(src).alias("source"),
            F.lit(n_removed).cast("long").alias("n_docs_removed"),
            F.col("n_clusters_affected").cast("long"),
            F.col("n_survivors_reelected").cast("long"),
            F.col("n_clusters_dissolved").cast("long"),
        )
    )


@query(
    "source_sampling_plan",
    oracle=(
        "WITH cc AS (" + _CC_ORACLE + "), "
        "t AS (SELECT doc_id, source, "
        "len(list_filter(string_split(text, ' '), w -> w <> '')) AS toks "
        "FROM documents), "
        "g AS (SELECT t.source, CAST(sum(t.toks) AS BIGINT) AS n_tokens, "
        "CAST(coalesce(sum(CASE WHEN cc.cluster_id IS NOT NULL AND "
        "cc.cluster_id <> t.doc_id THEN t.toks END), 0) AS BIGINT) "
        "AS dup_tokens FROM t LEFT JOIN cc ON t.doc_id = cc.doc_id "
        "GROUP BY t.source), "
        "e AS (SELECT source, n_tokens, dup_tokens, "
        "n_tokens - dup_tokens AS effective_tokens FROM g), "
        "c AS (SELECT quantile_cont(effective_tokens, 0.5) AS cap FROM e) "
        "SELECT source, n_tokens, dup_tokens, effective_tokens, "
        "CAST(round(1e6 * least(1.0, c.cap / effective_tokens)) AS BIGINT) "
        "AS keep_frac_e6 FROM e CROSS JOIN c"
    ),
)
def source_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampling plan a curation run derives AFTER dedup analysis and
    BEFORE mixing: per source, raw tokens, tokens sitting in would-be-
    dropped near-dup cluster members (``dup_tokens`` — the mass
    ``dedup_mass_by_source`` counts in docs, here in the unit budgets are
    set in), the dedup-DISCOUNTED effective tokens, and a keep fraction
    capping every source at the median effective size (the CCNet/
    RefinedWeb "no source dominates" rule, applied to deduplicated mass
    rather than raw page counts — a crawl that is 40% internal near-dups
    should not buy mixing share with its duplicates). keep_frac is
    fixed-point ×10⁶ (module float policy: a ratio of exact integer sums
    is engine-stable only after fixing the quantum).

    Scale shape: one corpus scan for token counts, one left join against
    the |dup-docs|-sized cluster map (AQE broadcasts it when it fits),
    one source-keyed partial+final aggregate, then a broadcast cross of
    the 1-row median. The median is exact over |sources| rows — a
    per-deployment constant, never corpus-sized. Oracle recomputes the
    whole plan from the exact recursive-CTE closure, so a green row
    certifies dedup connectivity AND the budget arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    t = docs.select("doc_id", "source", ntok.cast("long").alias("toks"))
    cc = dedup_clusters(spark, sf_dir).withColumnRenamed("doc_id", "cc_doc")
    is_dup = F.col("cluster_id").isNotNull() & (
        F.col("cluster_id") != F.col("doc_id")
    )
    g = (
        t.join(cc, t["doc_id"] == F.col("cc_doc"), "left")
        .groupBy("source")
        .agg(
            F.sum("toks").cast("long").alias("n_tokens"),
            F.coalesce(F.sum(F.when(is_dup, F.col("toks"))), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
        )
        .withColumn(
            "effective_tokens", F.col("n_tokens") - F.col("dup_tokens")
        )
    )
    c = g.agg(F.expr("percentile(effective_tokens, 0.5)").alias("cap"))
    return g.crossJoin(F.broadcast(c)).select(
        "source",
        "n_tokens",
        "dup_tokens",
        "effective_tokens",
        F.round(
            1e6 * F.least(F.lit(1.0), F.col("cap") / F.col("effective_tokens"))
        )
        .cast("long")
        .alias("keep_frac_e6"),
    )


@query(
    "graph_degree_stats",
    oracle=(
        "WITH pairs AS (" + ORACLES["dedup_ngram_jaccard"] + "), "
        "edges AS (SELECT doc_a AS node FROM pairs "
        "UNION ALL SELECT doc_b FROM pairs), "
        "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM edges "
        "GROUP BY node) "
        "SELECT CAST(count(*) AS BIGINT) AS n_nodes, "
        "CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges, "
        "CAST(max(d) AS BIGINT) AS max_degree, "
        "round(quantile_cont(d, 0.5), 6) AS degree_p50, "
        "round(quantile_cont(d, 0.99), 6) AS degree_p99 "
        "FROM deg"
    ),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape report for the near-dup pair GRAPH — the numbers that size
    every knob downstream of pair generation: ``max_degree`` bounds the
    candidate fan-out a single hub document induces (the justification —
    or indictment — of CLUSTER_MAX_BUCKET), the p50/p99 degree spread
    says whether components are chains or stars (chains need more
    propagation rounds, stars collapse in one), and n_edges/n_nodes is
    the density the closure's per-round shuffle scales with. Run per
    corpus before committing LSH parameters.

    This is a TUNING-TIME analysis over the EXACT pair listing
    (``dedup_ngram_jaccard`` — the ground-truth edge definition), run on
    a sample the way ``tools/lsh_sweep.py`` is: the production LSH
    listing deliberately collapses exact-dup groups to representatives
    and caps buckets, so its degrees are the POST-mitigation numbers —
    this report measures the PRE-mitigation graph those mitigations are
    sized against. Degrees are one partial-aggregable count over the
    exploded endpoint stream; percentiles are exact over the dup-doc
    node set (swap for approx_percentile on a huge sample)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).localCheckpoint()
    nodes = pairs.select(F.col("doc_a").alias("node")).unionAll(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("d"))
    n_edges = pairs.count()  # bounded: one scalar
    return deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.max("d").cast("long").alias("max_degree"),
        F.round(F.expr("percentile(d, 0.5)"), 6).alias("degree_p50"),
        F.round(F.expr("percentile(d, 0.99)"), 6).alias("degree_p99"),
    ).select("n_nodes", "n_edges", "max_degree", "degree_p50", "degree_p99")
