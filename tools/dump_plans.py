"""Regenerate PLANS.md: the physical plan of every headline query, as
evidence that each got the `.explain` treatment the scale contract demands.

Run: python tools/dump_plans.py            # every headline
     python tools/dump_plans.py NAME ...   # only these blocks, in place
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallel_map_reduce_word_counter_for_one_machine_spark import registry
from parallel_map_reduce_word_counter_for_one_machine_spark.plans.inspect import (
    plan_string,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.session import get_spark

HEADLINE = [
    "word_count",
    "sort_by_count_desc",
    "star_join_agg",
    "agg_group",
    "window_rank",
    "sort_limit_topk",
    "join_asof",
    "tfidf",
    "minhash_lsh_pairs",  # the production listing (registered key is the verdict)
    "dedup_clusters_lsh",
    "lsh_verified_pairs",  # the clusters' edge listing (r08 single-doc_a-exchange shape)
    "join_bucketed",
    "similarity_topk",
    "stream_tumbling_agg",
    "pack_sequences",
    "sessionize",
    "join_event_attribution",
    "prepare_training_corpus",
    "decontaminate",
    "inverted_index",
    "event_funnel",
    "dedup_spans",
    "dedup_embedding",
    "dedup_embedding_lsh",
    "similarity_topk_ivf",
    "pq_topk_listing",  # production ADC listing (registered key: similarity_topk_pq)
    "ivfpq_pruned_listing",  # persisted-index probe (registered: similarity_topk_ivfpq_pruned)
    "ivfpq_kmeans_listing",  # kmeans-quantizer probe (registered: similarity_topk_ivfpq_kmeans_pruned)
    "corpus_drift_chi2",
    "pmi_bigrams",
    "zipf_slope",
    "chunk_documents",
    "dedup_chunks",
    "embedding_outliers",
    "dedup_spans_trim",
    "corpus_overlap",
    "layout_zorder",
    "sql_large_orders",
    "pagerank_parts",
    "sql_recursive_spine",
    "sql_recursive_chains",
    "join_dpp",
    "stream_chained_windows",
    "bitmap_distinct_users",
    "dedup_clusters_incremental",
    "source_typo_pairs",
    "schema_evolution_read",
    "chunk_cdc",
    "quality_deciles",
    "oov_rate",
    "events_locf",
    "sql_exists_correlated",
    "sql_pipe_syntax",
    "robust_length_stats",
    "dedup_semdedup",
    "hist_quantile_lengths",
    "export_training_shards",
    "mixture_temperature_resample",
    "lm_bigram_backoff",
    "bm25_topk",
    "layout_hilbert",
    "token_entropy_per_source",
    "drift_psi",
    "drift_ks",
    "stream_value_quantiles",
    "sample_weighted",
    "perplexity_buckets",
    "quality_classifier_gd",
    "tokenizer_bpe_train",
    "tokenizer_bpe_encode",
    "decontaminate_semantic",
    "triplet_mining",
    "doc_embedding_hashed",
    "tokenizer_bpe_ids",
    "k_anonymity",
    "hybrid_retrieval",
    "hybrid_retrieval_rrf",
    "embedding_quantize_int8",
    "dim_scd2_build",
    "preference_pairs",
    "quantile_normalize_lengths",
    "corpus_health_report",
    "events_ohlc_hourly",
    # r09 keys whose 100 TB story is a physical strategy — plans audited
    "decontaminate_bloom",
    "corpus_version_diff",
    "phrase_search",
    "dedup_containment",
    # r10: the all-pairs k-NN graph — tile-local top-k pushed inside the
    # blocked GEMM (candidate stream corpus·B·k, never corpus²) — and its
    # IVF-celled scale path (registered key: knn_graph_ivf, a verdict)
    "knn_graph",
    "knn_graph_ivf_listing",
]

NOTES = {
    "decontaminate_bloom": "bloom arm is JOINLESS: membership = element_at "
    "+ bitwiseAND against the 8 KB literal bit array inside codegen; the "
    "only shingle-keyed join is the exact rescue arm (plan-tested)",
    "corpus_version_diff": "both crawls project to (doc_id, md5) BEFORE "
    "the full-outer join — the exchange never carries text; unchanged "
    "mass dies in the post-join fingerprint predicate",
    "phrase_search": "term filter below every join = partition pruning in "
    "a term-partitioned index; positional intersections join on "
    "(doc_id, pos) after pruning",
    "dedup_containment": "df-capped blocking: ≤ cap² ordered pairs per "
    "rare shingle, stopword shingles generate nothing (skew guard); "
    "verify is candidate-bounded array intersection",
    "knn_graph": "k-NN graph brute tier: per-tile LOCAL top-k inside the "
    "B×B blocked GEMM (one MapInPandas over the tile grid) — the "
    "exchanged candidate stream is corpus·B·k rows, never corpus²; one "
    "vec_id exchange + window finishes the global top-k",
    "knn_graph_ivf_listing": "the graph's IVF scale path as one map → "
    "shuffle → reduce: explode(element_at(route map literal, cell_id)) — "
    "no join — sends each vector to its own cell's group and, as a "
    "candidate, to every group that probes its cell (the map is driver "
    "numpy over n_cells centroids, label means of one collected training "
    "sample); the cell argmax runs once per row as one SQL expression: the "
    "row norm is projected once (the Project below it) and each centroid's "
    "norm rides in the literal, so one dot product per (row, centroid); ONE "
    "grp exchange feeds the _knn_cell_topk grouped kernel, which emits "
    "final ranks — the corpus is replicated ~nprobe times, no window, no "
    "checkpoint; recall verdict: knn_graph_ivf",
    "dedup_semdedup": "SemDeDup: broadcast centroid assignment, ONE "
    "cell_id-keyed self-join (Σ|cell|² cosines, never corpus²), dominated "
    "set distinct, left-anti back onto the corpus — no iteration",
    "hist_quantile_lengths": "mergeable fixed-bin histogram: (source, bin) "
    "partial+final agg is the production estimate; the per-source sort "
    "visible in the plan is the VERDICT arm only (exact order statistic "
    "for the bound check)",
    "export_training_shards": "manifest = one groupBy(shard) with "
    "count/sum/bit_xor — all partial-aggregable, bounded state; no sort, "
    "no collect_list",
    "mixture_temperature_resample": "G-row group table + 2-scalar total "
    "broadcast back over the corpus for the keep filter — the corpus "
    "itself never shuffles",
    "lm_bigram_backoff": "bigram model joins as a plain hash join on "
    "(w1,w2) — deliberately NOT broadcast (web-scale bigram tables don't "
    "fit); unigram side broadcasts; pairs from element_at, no position "
    "self-join",
    "bm25_topk": "probe-term semi-join lands BEFORE the scoring math and "
    "window: only probed posting lists are ranked; df/dl/stats are "
    "bounded aggregates",
    "layout_hilbert": "8 chained projections (the rotation chain), all "
    "inside one whole-stage codegen span over the scan + broadcast "
    "min/max — map-only like the z keys",
    "token_entropy_per_source": "one (source, word) count groupBy "
    "(vocabulary-bounded shuffle) + G-row totals join; entropy is a "
    "partial-aggregable sum of p·ln p",
    "drift_psi": "per-bin conditional counts -> single-row verdict; "
    "state bounded by bins, Laplace smoothing keeps one-sided bins finite",
    "drift_ks": "support-bounded cumsum window (|distinct lengths| rows, "
    "not |docs|) -> one max — the single-partition window the plan shows "
    "is over the support table only",
    "stream_value_quantiles": "streaming stage = one windowed (window, "
    "bin) count (watermark-evictable state); quantile recovery is "
    "join-free window algebra over the tiny histogram",
    "sample_weighted": "narrow projection + per-source top-k window that "
    "compiles to WindowGroupLimit (map-side partial top-k before the "
    "group exchange) — per-source skew never sorts a full group",
    "perplexity_buckets": "unigram model broadcast back over the token "
    "scan; per-language rank via grouped_global_rank (range exchange + "
    "per-(partition,lang) offset broadcast), NOT a per-language window "
    "funnel",
    "quality_classifier_gd": "dumped plan is the scoring projection: "
    "broadcast-literal weights over the checkpointed feature relation; "
    "each training pass is one partial+final 4-BIGINT aggregate",
    "tokenizer_bpe_train": "dumped plan is the merge-table localtable; "
    "the corpus is scanned ONCE into (word,c); every iteration is a "
    "|V|-row pair explode + hash agg + 1-row TakeOrdered",
    "tokenizer_bpe_encode": "merges apply to the |V|-row vocab as T "
    "chained replace projections in ONE codegen span; per-word subword "
    "length broadcast-joins back onto the corpus word stream — the corpus "
    "is scanned once and never rewritten per merge",
    "decontaminate_semantic": "benchmark side broadcast (eval sets are "
    "small), cosine check inside the BroadcastNestedLoopJoin condition, "
    "per-vector max/count combines map-side — one linear corpus pass, no "
    "corpus shuffle",
    "triplet_mining": "anchors broadcast; argmax-with-tiebreak is max over "
    "a (cos, -id) struct — a partial-aggregable HASH AGGREGATE, so corpus "
    "× anchors rows combine map-side and only |anchors| rows shuffle (the "
    "row_number window spelling would shuffle the whole scored relation)",
    "doc_embedding_hashed": "explode → (doc_id, dim) hash agg: partials "
    "map-side, a single exchange, |docs| × ≤K output rows; md5 bucket/sign "
    "is engine-exact so the representation recomputes identically anywhere",
    "tokenizer_bpe_ids": "corpus word stream scanned ONCE (posexplode); "
    "word→subwords and subword→id joins are both broadcast (vocab-sized); "
    "vocab ids from the DISTRIBUTED global rank, not a one-task window — "
    "no corpus-sized shuffle anywhere",
    "k_anonymity": "one hash aggregate on the quasi-identifier key "
    "(count + distinct-user partials map-side); the class audit is "
    "generalization-bounded, never corpus-sized",
    "hybrid_retrieval": "stage 1 touches only the probed posting lists "
    "(broadcast query terms) and bounds per-query candidates via "
    "WindowGroupLimit; stage 2's dense rerank is candidate-scoped "
    "(N_Q × N_CAND docs' hashed features, query features broadcast) — "
    "the retrieve-then-rerank cost asymmetry",
    "dim_scd2_build": "both windows (lag change-detect, lead "
    "interval-close) share the user_id key and ordering — the whole SCD2 "
    "build is ONE user-keyed exchange (the sessionize pattern)",
    "preference_pairs": "both extremes from ONE hash aggregate (max over "
    "(score, -id) structs, the triplet_mining argmax pattern): partials "
    "map-side, only |cohorts| rows shuffle — not the oracle's two windows "
    "over the corpus",
    "quantile_normalize_lengths": "within-source and global ranks via the "
    "two-level distributed rank (no single-task windows); counts/total "
    "broadcast; the one corpus-vs-corpus join is the rank-index lookup — "
    "at 100 TB the exact lookup swaps for the bounded histogram grid",
    "corpus_health_report": "one corpus scan → per-doc derivations; the "
    "md5 fingerprint cardinality is one keyed aggregate joined back (the "
    "dedup_exact exchange); one source-keyed report aggregate with the "
    "1-row token total broadcast — |sources| output rows",
    "events_ohlc_hourly": "ONE hash aggregate: open/close are min/max "
    "over a (ts, event_id, value) struct so all five stats combine "
    "map-side — the oracle's window spelling would shuffle every event "
    "twice",
    "dedup_clusters_incremental": "batch merge into the standing cluster "
    "map: the dumped plan is the final label table — the standing map M0, "
    "the batch's index-probe edges (O(batch × bands), the standing corpus "
    "is never rescanned per batch at scale), and the merged closure all "
    "ran behind localCheckpoints; oracle = the SAME full-corpus recursive-"
    "CTE closure as dedup_clusters, proving the union-find merge theorem",
    "events_locf": "LOCF gap-fill: one user_id-keyed exchange, "
    "last(ignorenulls) over an unbounded-preceding frame — O(1) state per "
    "row during the frame scan, no join",
    "sql_exists_correlated": "EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti "
    "(RewritePredicateSubquery): correlated subqueries become two "
    "key-partitioned joins, never per-row subquery execution",
    "sql_pipe_syntax": "the |> dialect plans IDENTICALLY to the nested "
    "standard form: one partial+final aggregate pair, the post-AGGREGATE "
    "WHERE is an ordinary Filter above it",
    "robust_length_stats": "grouped-map applyInPandas: one exchange on "
    "source, FlatMapGroupsInPandas per group — memory bound is the "
    "largest group (docstring states the sketch fallback for skewed keys)",
    "chunk_cdc": "content-defined chunking: posexplode -> ONE doc_id-keyed "
    "exchange shared by the running-cut-count window and the grouped chunk "
    "reassembly (Exchange reuse); boundaries are token-content functions, "
    "so edits re-chunk only to the next cut (stability-tested)",
    "quality_deciles": "decile = floor((global_rank-1)*10/N) via the "
    "distributed rank (range exchange + per-partition row_number + P-row "
    "offsets) — NOT a single-partition ntile window over the corpus",
    "oov_rate": "vocab = TakeOrdered top-K of the word-frequency agg; "
    "membership is a broadcast left join — two corpus scans total, no "
    "vocab-sized shuffle",
    "join_dpp": "dynamic partition pruning: the lang-partitioned fact scan "
    "carries dynamicpruningexpression(lang IN dynamicpruning#N) in its "
    "PartitionFilters, fed by the dim's own broadcast exchange (reused, no "
    "extra job) — the runtime filter a static plan cannot write",
    "stream_chained_windows": "two stacked window aggregations (hourly then "
    "6-hourly over the window struct): two partial+final HashAggregate "
    "pairs, the second keyed on the first's window column — in streaming "
    "the same plan runs as two stateful operators under one watermark",
    "bitmap_distinct_users": "two-level exact distinct: (group, bucket) "
    "bitmap_construct_agg then per-group summed bitmap_count — the shuffle "
    "carries fixed-size bitmaps, never the id stream",
    "source_typo_pairs": "deletion-neighborhood blocking: variant explode "
    "(map-only) -> self-join on variant key -> distinct -> levenshtein "
    "verify; linear in total string length, no O(V^2) operator anywhere",
    "schema_evolution_read": "mergeSchema scan: one FileScan whose "
    "ReadSchema is the union of both generations' footers; missing columns "
    "materialize as nulls in the scan itself, no join/backfill operator",
    "pagerank_parts": "adjacency-list (Pregel) layout: per-iteration plan is "
    "a tiny O(V)-row join against the checkpointed adjacency table, explode "
    "to contributions, ONE groupBy(dst) exchange (teleport fused via zero "
    "sentinels); the dumped plan shows only the final iteration — earlier "
    "ones ran identically behind the localCheckpoints",
    "sql_recursive_spine": "WITH RECURSIVE month generator: recursion "
    "materializes as UnionLoop over the previous step's rows (anchor = "
    "bounds row, +1 month per step, depth = month span); the revenue agg "
    "and left join are ordinary exchanges outside the loop",
    "sql_recursive_chains": "recursive sessionization: lead() window builds "
    "the acyclic successor edges once; the recursion is a UnionLoop whose "
    "step joins the previous frontier against the edge table — depth = max "
    "chain length, each step one small hash join",
    "dedup_spans_trim": "span stream materialized once (checkpoint); covered "
    "(doc_id,idx) explode + token left-join + per-doc sorted collect — all "
    "linear shuffles, no per-row interval scans",
    "corpus_overlap": "fingerprint table checkpointed once (was 2 corpus "
    "scans); self-join fan-out bounded by source count",
    "layout_zorder": "min/max agg broadcast back over a map-only bit "
    "interleave; whole-stage codegen shifts/masks",
    "sql_large_orders": "HAVING-gated IN subquery rewritten to LeftSemi; "
    "TakeOrderedAndProject top-100",
    "chunk_documents": "map-only: scan -> Filter -> Project(sequence/transform/"
    "slice) -> Generate(posexplode); ZERO Exchange by contract (plan test)",
    "dedup_chunks": "chunker feeds one md5-keyed partial+final HashAggregate; "
    "the shuffle carries 16-byte fingerprints + counts, never chunk bodies",
    "embedding_outliers": "centroid agg (k x dim states) -> BroadcastHashJoin "
    "against the corpus scan -> one label-keyed window exchange for bottom-K",
    "word_count": "one exchange; partial+final HashAggregate around it",
    "sort_by_count_desc": "agg exchange + single-partition rank window on the "
    "distinct-word result (bounded by |vocabulary|)",
    "star_join_agg": "three BroadcastHashJoins, zero pre-agg shuffles of the fact",
    "agg_group": "pushdown of the shipdate filter into the scan; 7 aggregates in "
    "one partial+final pass",
    "window_rank": "single exchange on o_custkey shared by window sort",
    "sort_limit_topk": "TakeOrderedAndProject — no global sort",
    "join_asof": "hash join on user_id; argmax window re-uses no extra exchange "
    "beyond its purchase_id partition",
    "tfidf": "tokens aggregated twice (tf, df) then broadcast-joined — the big "
    "relation is shuffled once per aggregate, never joined shuffled",
    "dedup_embedding": "blocked GEMM: per-block collect_list, B(B+1)/2 tile "
    "join on block ids, one ArrowEvalPython/MapInPandas GEMM per tile — no "
    "per-pair shuffle rows anywhere",
    "dedup_embedding_lsh": "hyperplane sketch (one MapInPandas matmul, 16-bit "
    "packed band values sized to the corpus), banded bucket groupBy + capped "
    "enumeration, single-dot verify over unit vectors — no broadcast hint "
    "(AQE decides; plan-tested)",
    "similarity_topk_ivf": "exact top-k and probed ANN listing share the "
    "corpus scan lineage; verdict is two scalar aggregates cross-joined",
    "minhash_lsh_pairs": "banded stream checkpointed once (two consumers: "
    "bucket groupBy core pairs + sketch-sort neighbor window, over-cap-"
    "bucket-only emission); signatures are a shuffle-free array-domain map; "
    "verify joins the candidate set against the checkpointed shingle table "
    "with NO broadcast hint — AQE promotes when it fits (plan-tested)",
    "dedup_clusters_lsh": "final labels after LSH→closure: the plan shows "
    "only the label table + cluster_size window — the iterative rounds ran "
    "as bounded edge-set shuffles over localCheckpoint'd frames (no O(n²) "
    "anywhere in the lineage; closure ≡ exact truth by the CTE oracle)",
    "lsh_verified_pairs": "the clusters' production edge listing (r08 "
    "second-decade shape, pinned by test_plan_drift): checkpointed "
    "collapsed-rep table feeds star edges + signatures + both verify "
    "sides from Scan ExistingRDD (no corpus re-read per subtree), and the "
    "candidate stream's cross-band dedupe shares ONE doc_a hash exchange "
    "with verify join 1 (subset-clustering rule) — a reappearing second "
    "exchange or a parquet re-scan flips the pinned counters",
    "join_bucketed": "ZERO Exchange: both sides scan pre-bucketed files "
    "whose bucket spec satisfies the join distribution requirement",
    "similarity_topk": "broadcast of the query vectors; corpus scanned once; "
    "one window exchange on query_id",
    "stream_tumbling_agg": "windowed partial+final aggregate (same plan the "
    "streaming run executes incrementally)",
    "pack_sequences": "one range exchange planned once (ReusedExchange) feeds "
    "both the per-partition cumsum windows and the P-row offset table; the "
    "only single-partition window is over P rows",
    "join_event_attribution": "equi-join on user_id carrying the event-time "
    "range as a join-level filter; one exchange per side",
    "sessionize": "ONE exchange total: hashpartitioning(user_id) satisfies "
    "the groupBy's (user_id, session_n) clustering requirement",
    "prepare_training_corpus": "quality+hash in the scan projection; one "
    "fingerprint exchange for dedup; per-split packing offsets via the "
    "reused range exchange (grouped two-level prefix sum)",
    "decontaminate": "benchmark shingle set broadcast (BroadcastHashJoin) "
    "against one linear corpus scan — the hit join shuffles only colliding "
    "(doc_id, shingle) pairs, never text",
    "inverted_index": "word_count's exchange shape with posting-list "
    "aggregation state; partial aggregation bounds the shuffle by "
    "per-task vocabulary, posting lists capped at 100 ids",
    "event_funnel": "ONE corpus exchange on user_id; the funnel state "
    "machine folds inside the aggregate (two scalars per user), final "
    "step counts collapse to a SinglePartition row — vs one shuffle per "
    "funnel step in the naive join formulation",
    "dedup_spans": "explode is linear; repeated-span agg and per-doc join "
    "share the span-hash partitioning; span stream localCheckpoint'd so "
    "the corpus is scanned and hashed once; repeated test is min!=max "
    "(plain partial-aggregable, no distinct-expand)",
    "corpus_drift_chi2": "one token explode (checkpointed, two consumers), "
    "head vocab via TakeOrdered broadcast, ONE (word) groupBy with two "
    "conditional counts, slice totals as a broadcast single row",
    "pmi_bigrams": "array-domain bigrams; two vocabulary-bounded groupBys "
    "(unigram, bigram); count tables join back vocabulary-sized, totals "
    "broadcast",
    "zipf_slope": "word-count aggregate, TakeOrdered head (V=200), one "
    "bounded single-partition rank window, one regr_slope aggregate",
    "pq_topk_listing": "ADC scan emits per-batch partial top-PQ_SHORTLIST "
    "from the Arrow generator (r07): the per-query window shuffles "
    "|Q|×S×n_batches rows, not |Q|×N; codebooks memoized per session; "
    "re-rank joins broadcast the shortlist and query set",
    "ivfpq_pruned_listing": "persisted-index probe: partition-pruned codes "
    "scan (PartitionFilters on cell=), Arrow ADC with per-batch partial "
    "top-S, one per-query window over |Q|×S×n_batches, broadcast re-rank "
    "joins — no corpus-wide exchange",
    "ivfpq_kmeans_listing": "same probe plan against the kmeans-quantizer "
    "index (deeper pruning: n_probe/n_cells of the files); pinned "
    "separately so the two quantizer paths cannot drift apart",
    "hybrid_retrieval_rrf": "same posting-list-probed stage 1 + "
    "candidate-scoped stage 2 as hybrid_retrieval; the fusion adds two "
    "rank windows + arithmetic over the N_Q×N_CAND candidate relation "
    "only — rank-space, no score calibration",
    "embedding_quantize_int8": "posexplode -> 64-row per-dim max "
    "(broadcast back) -> one linear encode/error pass; both error stats "
    "partial+final aggregates, driver state = the scale vector",
}


def _block(name: str, plan: str) -> str:
    return "\n".join(
        [f"## {name}", "", f"*{NOTES[name]}*", "", "```", plan.strip(), "```", ""]
    )


def main(names: list[str]) -> None:
    for name in names:
        if name not in HEADLINE:
            raise SystemExit(f"not a headline query: {name}")
    registry.load_all()
    spark = get_spark(app_name="plan-dump", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    out = ["# PLANS — physical plans of the headline queries (sf0.01, AQE on)",
           "",
           "Regenerate with `python tools/dump_plans.py`. Per-query notes state",
           "the property that makes the plan scale; tests/test_plans.py pins the",
           "load-bearing ones.",
           ""]
    from parallel_map_reduce_word_counter_for_one_machine_spark.plans.inspect import (
        resolve_headline,
    )

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    blocks = {}
    for name in names or HEADLINE:
        plan = plan_string(resolve_headline(name)(spark, sf_dir), mode="simple")
        blocks[name] = _block(name, plan)
    if names:
        with open(path) as f:
            text = f.read()
        for name, block in blocks.items():
            # a block runs from its heading to the blank line after its fence
            rx = re.compile(
                rf"^## {re.escape(name)}\n.*?^```\n.*?^```\n(\n?)", re.S | re.M
            )
            text, n = rx.subn(lambda m: block + m.group(1), text, count=1)
            if n != 1:
                raise SystemExit(f"no {name} block in PLANS.md")
    else:
        text = "\n".join(out + list(blocks.values()))
    with open(path, "w") as f:
        f.write(text)
    print("wrote PLANS.md")


if __name__ == "__main__":
    main(sys.argv[1:])
