"""Seeded input generators for the three benchmark workloads.

Each generator writes its files into a per-seed directory and returns a
JSON-able ``meta`` dict with the input sizes and the expected output values
computed here, independently of Spark. The same seed always gives byte-equal
inputs. Generation runs outside every timer; ``ensure_inputs`` caches the
result per (workload, seed) so a second run of the same seed skips it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

# Workload sizes. A job's time here is mostly fixed per-job cost, so the
# inputs are kept small: a run (cold job, two warm-up jobs, three timed
# jobs) then stays under a minute on a 4-vCPU VM.
WC_TOKENS = 1_500_000
WC_VOCAB = 150_000
WC_ZIPF_S = 1.07
ND_UNIQUE = 450
ND_FAMILIES = 75
ND_FAMILY_MAX = 5
ND_EXACT_COPIES = 75
ND_TOKENS = 150
ND_VOCAB = 20_000
ND_NEAR_EDITS = (2, 9)  # token replacements per near-dup family member
KNN_N = 1_200
KNN_D = 32
KNN_CELLS = 8
KNN_SPREAD = 0.25

# Inputs of at most this many seeds stay on disk per workload.
KEEP_SEEDS = 3

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZäöå"))
_WC_SEPS = np.array([" "] * 8 + [", ", ". ", "; ", " - ", " 1984 ", "\n", "\n"])


def line_hash(lines) -> int:
    """Order-insensitive 64-bit hash of a collection of text lines."""
    h = 0
    for line in lines:
        h += int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")
    return h & 0xFFFFFFFFFFFFFFFF


def _words(rng: np.random.Generator, n: int, min_len: int = 1) -> np.ndarray:
    """``n`` distinct random words over ASCII and non-ASCII letters."""
    out: dict[str, None] = {}
    while len(out) < n:
        lens = rng.integers(min_len, 13, size=n)
        chars = rng.integers(0, len(_LETTERS), size=int(lens.sum()))
        flat = _LETTERS[chars]
        pos = 0
        for ln in lens:
            out["".join(flat[pos : pos + ln])] = None
            pos += ln
            if len(out) == n:
                break
    return np.array(list(out), dtype=object)


def make_wc(out_dir: str, seed: int) -> dict:
    """Zipf text file ``corpus.txt``: a hot head of frequent words and a long
    tail of rare ones, separated by ASCII spaces, punctuation, digits and
    newlines. Expected listings come from ``np.bincount`` over the sampled
    word indices."""
    rng = np.random.default_rng([seed, 1])
    vocab = _words(rng, WC_VOCAB)
    p = 1.0 / np.arange(1, WC_VOCAB + 1) ** WC_ZIPF_S
    idx = rng.choice(WC_VOCAB, size=WC_TOKENS, p=p / p.sum())
    parts = np.empty(2 * WC_TOKENS, dtype=object)
    parts[0::2] = vocab[idx]
    parts[1::2] = _WC_SEPS[rng.integers(0, len(_WC_SEPS), size=WC_TOKENS)]
    text = "".join(parts) + "\n"
    path = os.path.join(out_dir, "corpus.txt")
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    counts = np.bincount(idx, minlength=WC_VOCAB)
    seen = np.flatnonzero(counts)
    return {
        "input_mb": os.path.getsize(path) / 1e6,
        "tokens": WC_TOKENS,
        "distinct_words": int(len(seen)),
        "listing_hash": line_hash(f"{vocab[i]} -> {counts[i]}" for i in seen),
    }


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def make_neardup(out_dir: str, seed: int) -> dict:
    """Corpus ``documents.parquet`` with unique docs, planted near-dup
    families (members differ from their base by a few token replacements)
    and planted exact copies, shuffled. The expected cluster map is the
    connected components of the token-set Jaccard >= 0.8 graph, computed
    exactly within each family; docs from different families share ~1 of
    150 tokens on a 20k vocabulary, so no cross-family pair reaches 0.8."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vocab = _words(rng, ND_VOCAB, min_len=3)

    def fresh() -> list:
        return list(rng.choice(ND_VOCAB, size=ND_TOKENS, replace=False))

    texts: list[list[int]] = []
    groups: list[list[int]] = []  # docs that may link to each other
    for _ in range(ND_UNIQUE):
        texts.append(fresh())
        groups.append([len(texts) - 1])
    for _ in range(ND_FAMILIES):
        base = fresh()
        fam = [len(texts)]
        texts.append(base)
        for _ in range(int(rng.integers(1, ND_FAMILY_MAX))):
            member = list(base)
            n_edit = int(rng.integers(*ND_NEAR_EDITS))
            for pos in rng.choice(ND_TOKENS, size=n_edit, replace=False):
                member[pos] = int(rng.integers(0, ND_VOCAB))
            fam.append(len(texts))
            texts.append(member)
        groups.append(fam)
    for _ in range(ND_EXACT_COPIES):
        g = groups[int(rng.integers(0, len(groups)))]
        g.append(len(texts))
        texts.append(list(texts[g[0]]))

    order = rng.permutation(len(texts))  # doc_id of text i is order[i]
    doc_ids = np.empty(len(texts), dtype=np.int64)
    doc_ids[order] = np.arange(len(texts))
    sets = [frozenset(t) for t in texts]

    expected = []
    for g in groups:
        parent = {i: i for i in g}

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for x in range(len(g)):
            for y in range(x + 1, len(g)):
                if _jaccard(sets[g[x]], sets[g[y]]) >= 0.8:
                    parent[find(g[x])] = find(g[y])
        comps: dict[int, list[int]] = {}
        for i in g:
            comps.setdefault(find(i), []).append(int(doc_ids[i]))
        for members in comps.values():
            if len(members) > 1:
                cid = min(members)
                expected.extend(f"{d},{cid},{len(members)}" for d in members)

    strs = [" ".join(vocab[t]) for t in texts]
    by_id = sorted(range(len(texts)), key=lambda i: doc_ids[i])
    table = pa.table(
        {
            "doc_id": pa.array([int(doc_ids[i]) for i in by_id], pa.int64()),
            "text": pa.array([strs[i] for i in by_id], pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["bench"] * len(texts), pa.string()),
            "n_chars": pa.array([len(strs[i]) for i in by_id], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {
        "input_mb": sum(len(s.encode()) for s in strs) / 1e6,
        "docs": len(texts),
        "tokens_per_doc": ND_TOKENS,
        "docs_reaching_lsh": len(set(sets)),
        "expected_rows": len(expected),
        "expected_hash": line_hash(expected),
    }


def make_knn(out_dir: str, seed: int) -> dict:
    """Clustered embeddings through the package's own fixture writer, plus
    the exact cosine k-NN edge set from numpy, which the IVF listing's
    recall is checked against."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.fixtures import (
        write_clustered_embeddings,
    )

    write_clustered_embeddings(
        out_dir, n=KNN_N, d=KNN_D, k=KNN_CELLS, spread=KNN_SPREAD, seed=seed
    )
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(out_dir, "embeddings.parquet"))
    X = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    np.fill_diagonal(S, -np.inf)
    return {
        "input_mb": os.path.getsize(os.path.join(out_dir, "embeddings.parquet")) / 1e6,
        "vectors": KNN_N,
        "dims": KNN_D,
        "cells": KNN_CELLS,
        # top-10 exact neighbours per vector; the IVF top-k is checked
        # against it with slack for 6dp cosine ties.
        "exact_top": np.argsort(-S, axis=1)[:, :10].tolist(),
    }


GENERATORS = {
    "wc_listings_zipf": make_wc,
    "neardup_clusters": make_neardup,
    "knn_graph_ivf": make_knn,
}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Input directory and meta for (workload, seed), generating on a miss."""
    wl_root = os.path.join(cache_root, workload)
    d = os.path.join(wl_root, str(seed))
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path) and os.path.exists(os.path.join(d, "ready")):
        with open(meta_path) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = GENERATORS[workload](d, seed)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    open(os.path.join(d, "ready"), "w").close()
    _prune(wl_root, keep=d)
    return d, meta


def _prune(wl_root: str, keep: str) -> None:
    """Drop the inputs of all but the newest ``KEEP_SEEDS`` seeds."""
    dirs = sorted(
        (os.path.join(wl_root, s) for s in os.listdir(wl_root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
