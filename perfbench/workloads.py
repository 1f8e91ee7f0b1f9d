"""The three workloads: the job each one times, the check of every job's
output, and the per-layer readings its traced run takes.

Why these three (BENCHMARK.json repeats this for the two it gates):

- ``wc_listings_zipf`` is the reference program end to end. It loads the
  text scan, the map-side combine over a skewed key, the range-partitioned
  listing sort and the text sink. It never crosses into Python workers.
- ``neardup_clusters`` is fuzzy-dedup clustering: exact-collapse, MinHash
  LSH blocking, the verify join, then label propagation with a
  checkpoint and a driver collect per round. Many small high-cardinality
  shuffles; no sink.
- ``knn_graph_ivf`` is the IVF k-NN graph: driver-side collects and numpy
  for the cell adjacency, then GEMM tiles in ``mapInPandas``. It is the
  only workload whose time sits at the Arrow/Python boundary.
"""

from __future__ import annotations

import glob
import os

from inputs import line_hash

PKG = "parallel_map_reduce_word_counter_for_one_machine_spark"

# Probed cells per vector for the IVF listing: 2 of the 8 cells keeps the
# listing approximate and holds the mapInPandas tile count at 16.
KNN_NPROBE = 2
# Share of IVF edges that must be among the exact top-10 neighbours.
KNN_MIN_RECALL = 0.9


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read_listing(path: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            lines.extend(f.read().splitlines())
    return lines


class WcListings:
    """``run_reference_pipeline``: scan, tokenize, count, two listings."""

    name = "wc_listings_zipf"
    modules = ("sources.textfile", "operators.wordcount")
    layer_spans: tuple[str, ...] = ()

    def __init__(self, spark, inp: str, meta: dict, work: str):
        from parallel_map_reduce_word_counter_for_one_machine_spark.operators import wordcount
        from parallel_map_reduce_word_counter_for_one_machine_spark.sources import textfile

        self.spark, self.meta = spark, meta
        self.corpus = os.path.join(inp, "corpus.txt")
        self.out = os.path.join(work, "listings")
        self.textfile, self.wordcount = textfile, wordcount

    def call(self):
        self.textfile.run_reference_pipeline(self.spark, self.corpus, self.out)

    def action(self, result):
        return None  # the call already wrote both listings

    def check(self, _result) -> bool:
        """Header, line count, order and word -> count hash of both
        listings, against the counts taken when the text was generated."""
        alpha = _read_listing(os.path.join(self.out, "alpha"))
        by_count = _read_listing(os.path.join(self.out, "by_count"))
        n = self.meta["distinct_words"]
        if alpha[:1] != [self.wordcount.ALPHA_HEADER] or by_count[:1] != [self.wordcount.BY_COUNT_HEADER]:
            return False
        if len(alpha) != n + 1 or len(by_count) != n + 1:
            return False
        pairs = [ln.rsplit(" -> ", 1) for ln in by_count[1:]]
        keys = [(-int(c), w) for w, c in pairs]
        words = [ln.rsplit(" -> ", 1)[0] for ln in alpha[1:]]
        return (
            words == sorted(words)
            and keys == sorted(keys)
            and line_hash(alpha[1:]) == self.meta["listing_hash"]
            and line_hash(by_count[1:]) == self.meta["listing_hash"]
        )

    def prefixes(self) -> dict:
        read = self.textfile.read_text_lines
        return {
            "scan": lambda: read(self.spark, self.corpus),
            "tokenize": lambda: self.wordcount.tokenize_ref(read(self.spark, self.corpus), "value"),
        }

    def install_tracing(self, tracer) -> None:
        pass

    def layer_metrics(self, agg: dict, prefix: dict, ctx: dict) -> dict:
        tokens = agg["generate.rows"]
        return {
            "wordcount.tokenize_s": max(prefix["tokenize"] - prefix["scan"], 0.0),
            "wordcount.tokens": tokens,
            "wordcount.partial_rows_per_token": agg["agg.partial_rows"] / tokens if tokens else 0.0,
            "wordcount.agg_build_s": agg["agg.build_s"],
            "listing.sort_s": agg["sort.time_s"],
            "listing.range_exchange_bytes": agg["exchange.range_bytes"],
        }


class NeardupClusters:
    """``dedup_clusters_lsh``: the cluster map of near-duplicate docs."""

    name = "neardup_clusters"
    modules = ("operators.graphdedup", "operators.dedup")
    layer_spans = ("dedup.lsh_verified_pairs", "graphdedup.label_propagation")

    def __init__(self, spark, inp: str, meta: dict, work: str):
        from parallel_map_reduce_word_counter_for_one_machine_spark.operators import dedup, graphdedup
        from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import load_table

        self.spark, self.meta, self.inp = spark, meta, inp
        self.dedup, self.graphdedup, self.load_table = dedup, graphdedup, load_table
        self.verified: list = []
        self.candidates: list = []

    def call(self):
        return self.graphdedup.dedup_clusters_lsh(self.spark, self.inp)

    def action(self, df):
        return df.toPandas()

    def check(self, pdf) -> bool:
        """Row count and hash of (doc_id, cluster_id, cluster_size) against
        the Jaccard components computed when the corpus was generated."""
        lines = [f"{d},{c},{s}" for d, c, s in zip(pdf.doc_id, pdf.cluster_id, pdf.cluster_size)]
        return len(lines) == self.meta["expected_rows"] and line_hash(lines) == self.meta["expected_hash"]

    def prefixes(self) -> dict:
        def docs():
            return self.load_table(self.spark, self.inp, "documents")

        return {
            "scan": docs,
            # k=1 shingles are the token set the clustering's MinHash uses.
            "minhash": lambda: self.dedup.minhash_signatures(
                docs(), n_hashes=self.dedup.CLUSTER_N_HASHES, k=1
            ),
        }

    def install_tracing(self, tracer) -> None:
        tracer.wrap(self.graphdedup, "lsh_verified_pairs", "dedup.lsh_verified_pairs", self.verified)
        tracer.wrap(self.graphdedup, "label_propagation", "graphdedup.label_propagation")
        tracer.wrap(self.dedup, "lsh_candidate_pairs", "dedup.lsh_candidate_pairs", self.candidates)

    def layer_metrics(self, agg: dict, prefix: dict, ctx: dict) -> dict:
        # Counted after the traced job, outside its timer.
        candidates = self.candidates[0].distinct().count()
        verified = self.verified[0].count()
        star = self.meta["docs"] - self.meta["docs_reaching_lsh"]
        lp = [s for s in ctx["spans"] if s["name"] == "graphdedup.label_propagation"][-1]
        in_lp = [e for e in ctx["executions"] if lp["start"] <= e["start"] <= lp["end"]]
        return {
            "dedup.exact_collapse_frac": star / self.meta["docs"],
            "dedup.minhash_s": max(prefix["minhash"] - prefix["scan"], 0.0),
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.star_edges": star,
            "dedup.verified_per_candidate": (verified - star) / candidates if candidates else 0.0,
            "graphdedup.lp_s": lp["end"] - lp["start"],
            "graphdedup.rounds": sum(
                e["description"].startswith("collect") and "graphdedup.py" in e["description"]
                for e in in_lp
            ),
            "graphdedup.checkpoints": sum(e["description"].startswith("localCheckpoint") for e in in_lp),
        }


class KnnGraphIvf:
    """``knn_graph_ivf_listing``: every vector's KNN_K nearest neighbours
    found within its probed IVF cells."""

    name = "knn_graph_ivf"
    modules = ("operators.similarity",)
    layer_spans = ("similarity.label_centroids",)

    def __init__(self, spark, inp: str, meta: dict, work: str):
        from parallel_map_reduce_word_counter_for_one_machine_spark.operators import similarity
        from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import load_table

        self.spark, self.meta, self.inp = spark, meta, inp
        self.similarity, self.load_table = similarity, load_table
        self.first_hash = meta.get("recorded_hash")

    def call(self):
        return self.similarity.knn_graph_ivf_listing(self.spark, self.inp, nprobe=KNN_NPROBE)

    def action(self, df):
        return df.toPandas()

    def output_hash(self, pdf) -> int:
        return line_hash(
            f"{v},{n},{r},{c:.6f}"
            for v, n, r, c in zip(pdf.vec_id, pdf.neighbor_id, pdf["rank"], pdf.cos_sim)
        )

    def check(self, pdf) -> bool:
        """KNN_K edges per vector with ranks 1..KNN_K, recall against the
        exact neighbours from numpy, and the same hash on every job."""
        k, n = self.similarity.KNN_K, self.meta["vectors"]
        if len(pdf) != n * k or sorted(pdf["rank"].value_counts().items()) != [
            (r, n) for r in range(1, k + 1)
        ]:
            return False
        exact = self.meta["exact_top"]
        hits = sum(int(nb) in exact[int(v)] for v, nb in zip(pdf.vec_id, pdf.neighbor_id))
        h = self.output_hash(pdf)
        if self.first_hash is None:
            self.first_hash = h
        return hits >= KNN_MIN_RECALL * n * k and h == self.first_hash

    def prefixes(self) -> dict:
        return {"scan": lambda: self.load_table(self.spark, self.inp, "embeddings")}

    def install_tracing(self, tracer) -> None:
        tracer.wrap(self.similarity, "label_centroids", "similarity.label_centroids")

    def layer_metrics(self, agg: dict, prefix: dict, ctx: dict) -> dict:
        return {"similarity.tile_pairs": agg["exchange.roundrobin_records"]}


WORKLOADS = {w.name: w for w in (WcListings, NeardupClusters, KnnGraphIvf)}
