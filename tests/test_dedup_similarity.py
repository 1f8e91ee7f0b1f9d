from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parallel_map_reduce_word_counter_for_one_machine_spark import registry
from parallel_map_reduce_word_counter_for_one_machine_spark.operators import (
    dedup as D,
    pipeline as P,
    similarity as S,
)

from .oracle import assert_matches_oracle

registry.load_all()

ORACLE_KEYS = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "dedup_embedding_lsh",
    "similarity_topk",
    "dedup_simhash",
    "similarity_topk_ivf",
    "similarity_topk_ivf_kmeans",
    "dedup_minhash_lsh",  # verdict form since r04 — zero rows-only keys left
]


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_match(spark, sf_correct, name):
    assert_matches_oracle(
        spark, sf_correct, name, registry.QUERIES[name], registry.ORACLES[name]
    )


def test_minhash_verdict_flags_hold(spark, sf_correct):
    """The registered verdict row itself: precision and high-J recall both
    certified against the in-query exact truth."""
    row = registry.QUERIES["dedup_minhash_lsh"](spark, sf_correct).collect()[0]
    assert row.n_truth > 0  # non-vacuous on this corpus
    assert row.precision_ok and row.recall_ok


def test_minhash_lsh_verified_pairs_are_real(spark, sf_correct):
    """Every pair LSH emits must satisfy the exact Jaccard threshold (the
    verify stage guarantees precision=1 by construction; check it holds)."""
    pairs = D.minhash_lsh_pairs(spark, sf_correct)
    bad = pairs.filter(F.col("jaccard") < D.JACCARD_THRESHOLD).count()
    assert bad == 0


def test_minhash_lsh_recall_on_high_similarity(spark, sf_correct):
    """Pairs with very high true shingle-Jaccard must be recalled by LSH:
    with 8 bands x 2 rows, P[miss at J=0.9] = (1-0.81)^8 ~ 1.7e-6."""
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    sh = docs.select("doc_id", D._shingles().alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = (
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
        / F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    )
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.9)
    )
    found = D.minhash_lsh_pairs(spark, sf_correct).select("doc_a", "doc_b")
    missed = truth.join(found, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0, f"LSH missed {missed} high-similarity pairs"


def test_lsh_recall_at_production_params(spark, sf_correct):
    """The documented 100 TB operating point (128 hashes / 32 bands × 4
    rows, SCALE.md §Dedup sweep table): verified-pair recall vs the exact
    all-pairs shingle-Jaccard ≥ 0.5 truth must be ≥ 0.9 (measured 1.0 at
    sf0.01 and sf0.1)."""
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    sh = docs.select("doc_id", D._shingles().alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = F.when(
        union > 0,
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
        / union,
    )
    truth = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= D.JACCARD_THRESHOLD)
        .collect()
    }
    assert truth, "truth set empty — fixture corpus changed?"

    sigs = D.minhash_signatures(docs, n_hashes=128)
    cands = D.lsh_candidate_pairs(sigs, n_bands=32, n_hashes=128, max_bucket=256)
    verified = (
        cands.join(a, cands.doc_a == F.col("a.doc_id"))
        .join(b, cands.doc_b == F.col("b.doc_id"))
        .filter(jac >= D.JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    got = {(r.doc_a, r.doc_b) for r in verified.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"production-params recall {recall:.3f} < 0.9"


def test_simhash_pairs_symmetric_and_bounded(spark, sf_correct):
    pairs = D.simhash_pairs(spark, sf_correct)
    assert pairs.filter(F.col("hamming") > D.HAMMING_MAX).count() == 0
    assert pairs.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0


def test_ivf_recall_vs_exact(spark, sf_correct):
    """IVF probing 3/10 cells must recover most of the exact top-10 (the
    synthetic clusters are well separated, so recall should be high)."""
    exact = registry.QUERIES["similarity_topk"](spark, sf_correct).select(
        "query_id", "cand_id"
    )
    approx = S.ivf_topk_listing(spark, sf_correct).select(
        "query_id", "cand_id"
    )
    n_exact = exact.count()
    hit = exact.join(approx, ["query_id", "cand_id"], "left_semi").count()
    recall = hit / n_exact
    # The synthetic embeddings are near-random (no real cluster structure),
    # so IVF recall ~ fraction of corpus probed (5/10 cells). 0.6 asserts
    # the probe machinery works; on clustered data recall would be ~1.
    assert recall >= 0.6, f"IVF recall {recall:.2f} < 0.6 (hit {hit}/{n_exact})"


def test_kmeans_ivf_recall_vs_exact(spark, sf_correct):
    """The trained-quantizer IVF must reach the same recall bar as the
    label-cell variant (k-means cells cover the space at least as evenly)."""
    exact = registry.QUERIES["similarity_topk"](spark, sf_correct).select(
        "query_id", "cand_id"
    )
    approx = S.ivf_kmeans_topk_listing(spark, sf_correct).select(
        "query_id", "cand_id"
    )
    n_exact = exact.count()
    hit = exact.join(approx, ["query_id", "cand_id"], "left_semi").count()
    recall = hit / n_exact
    assert recall >= 0.6, f"kmeans IVF recall {recall:.2f} < 0.6 ({hit}/{n_exact})"


def test_frequent_words_sketch_verdict(spark, sf_correct):
    """freqItems must contain every exact heavy hitter (sketch supersets
    the truth by construction) — the in-query verdict must hold."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.text import (
        frequent_words_sketch,
    )

    row = frequent_words_sketch(spark, sf_correct).collect()[0]
    assert row.n_true_heavy > 0  # non-vacuous on this corpus
    assert row.all_contained


def test_embedding_centroids_match_label_centroids(spark, sf_correct):
    """Long-form registered key ≡ array-form IVF build helper."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _vectors,
        embedding_centroids,
        label_centroids,
    )

    long_form = {
        (r.cell_id, r.dim): r.mean
        for r in embedding_centroids(spark, sf_correct).collect()
    }
    arrays = label_centroids(_vectors(spark, sf_correct)).collect()
    n = 0
    for r in arrays:
        for i, v in enumerate(r.centroid):
            assert abs(long_form[(r.cell_id, i + 1)] - round(v, 4)) <= 1e-4
            n += 1
    assert n == len(long_form) > 0


def test_simhash_overcap_recovery_identical_fps(spark, sf_correct):
    """Force every bucket over the cap (max_bucket=2) and require that each
    doc whose fingerprint has an exact twin still appears in at least one
    output pair: identical-fp groups chain through the tie-shuffled
    neighbor window at hamming 0 regardless of the cap — the degenerate
    bucket the cap exists for is exactly where truncation used to lose
    members."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        _fan_out_small_input,
        _tokens,
        simhash_column,
        simhash_pairs,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
        load_table,
    )

    docs = _fan_out_small_input(load_table(spark, sf_correct, "documents"))
    tok_hashes = F.transform(_tokens(), lambda w: F.xxhash64(w))
    fps = docs.select("doc_id", simhash_column(tok_hashes).alias("fp"))
    twinned = {
        r["doc_id"]
        for r in fps.withColumn("n", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("n") > 1)
        .collect()
    }
    assert twinned, "corpus should contain identical-fingerprint docs"
    out = simhash_pairs(spark, sf_correct, max_bucket=2)
    covered = set()
    for r in out.collect():
        covered.add(r["doc_a"])
        covered.add(r["doc_b"])
    missing = twinned - covered
    assert not missing, f"{len(missing)} twinned docs lost by the cap: {sorted(missing)[:10]}"


def test_embedding_lsh_finds_planted_duplicates(spark):
    """Recall certification for dedup_embedding_lsh: on a corpus with
    PLANTED near-duplicates (tiny perturbations of base vectors, cosine
    well above SEMANTIC_COSINE) amid isotropic noise, the sketch+verify
    pipeline must reproduce brute force exactly — no missed pair (recall),
    no extra pair (precision, guaranteed by the verify stage)."""
    import math
    import random

    rng = random.Random(7)
    rows = []
    vid = 0
    for base in range(40):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((vid, v))
        vid += 1
        if base % 4 == 0:  # plant a near-dup of every 4th base vector
            nv = [x + rng.gauss(0, 0.02) for x in v]
            rows.append((vid, nv))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")

    got = {
        (r.vec_a, r.vec_b)
        for r in D.embedding_lsh_pairs(e, threshold=D.SEMANTIC_COSINE).collect()
    }

    # brute-force truth (python; 50 vectors)
    data = {i: v for i, v in rows}
    truth = set()
    ids = sorted(data)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            x, y = data[a], data[b]
            d = sum(p * q for p, q in zip(x, y))
            n = math.sqrt(sum(p * p for p in x)) * math.sqrt(sum(q * q for q in y))
            if n > 0 and round(d / n, 6) >= D.SEMANTIC_COSINE:
                truth.add((a, b))

    assert len(truth) >= 10  # the plant worked
    assert got == truth


def test_dedup_embedding_gemm_matches_expression_form(spark, sf_correct):
    """The blocked-GEMM physical plan must emit the identical relation to
    the direct expression formulation (the pre-r03 theta join) — same
    pairs, same 6dp-rounded cosines."""
    from pyspark.sql import Column
    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_correct, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))
    a, b = e.alias("a"), e.alias("b")

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, t: acc + t
        )

    norms = F.sqrt(dot(F.col("a.v"), F.col("a.v"))) * F.sqrt(
        dot(F.col("b.v"), F.col("b.v"))
    )
    cos = F.when(norms > 0, dot(F.col("a.v"), F.col("b.v")) / norms)
    expr_form = sorted(
        map(
            tuple,
            a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.round(cos, 6).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= D.COSINE_THRESHOLD)
            .collect(),
        )
    )
    gemm_form = sorted(
        map(tuple, registry.QUERIES["dedup_embedding"](spark, sf_correct).collect())
    )
    assert gemm_form == expr_form


def test_dedup_exact_normalized_collapses_variants(spark):
    """Case and whitespace variants of the same content must share a
    fingerprint; genuinely different content must not."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators import (
        dedup as DD,
    )
    import pyspark.sql.functions as F

    rows = [
        (1, "Hello  World"),
        (2, "hello world"),
        (3, " HELLO WORLD "),
        (4, "goodbye world"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    out = (
        d.groupBy(F.md5(norm).alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .collect()
    )
    by_keep = {r.keep_id: r.n_copies for r in out}
    assert by_keep == {1: 3, 4: 1}


def test_mixture_weights_rebalance_property(spark, sf_correct):
    """Sum over groups of weight × token-share must come back to ~1 per
    group mean (uniform target): weight_g · toks_g = total/G exactly up to
    the fixed-point quantum."""
    rows = registry.QUERIES["mixture_weights"](spark, sf_correct).collect()
    total = sum(r.total_tokens for r in rows)
    g = len(rows)
    for r in rows:
        expect = total * 1e6 / (g * r.total_tokens)
        assert abs(r.weight_e6 - expect) <= 1


def test_minhash_signature_property(spark, sf_correct):
    """The defining MinHash property, P[sig_i(A) = sig_i(B)] = J(A, B),
    checked empirically: over high-J pairs the average fraction of
    matching signature positions must track the true Jaccard. This is the
    test that catches a silently-degenerate hash family -- e.g. the
    PySpark (element, index) lambda-introspection trap, where a captured
    seed is shadowed by the array index and every position evaluates the
    same function (measured match 0.09 vs J 0.76)."""
    import itertools

    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    sets = docs.select(
        "doc_id", F.array_distinct(D._tokens()).alias("elems")
    ).filter(F.size("elems") > 0)
    n_hashes = 32
    sigs = {r["doc_id"]: r["sig"] for r in D._signatures_of_sets(sets, n_hashes).collect()}
    data = {r["doc_id"]: set(r["elems"]) for r in sets.collect()}
    ids = sorted(data)
    tot_m = tot_j = n = 0
    for a, b in itertools.combinations(ids, 2):
        j = len(data[a] & data[b]) / len(data[a] | data[b])
        if j >= 0.5:
            m = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y) / n_hashes
            tot_m += m
            tot_j += j
            n += 1
    assert n >= 20, "fixture corpus lost its near-dup pairs?"
    avg_m, avg_j = tot_m / n, tot_j / n
    # binomial noise at n pairs x 32 positions is well under 0.1
    assert abs(avg_m - avg_j) < 0.1, f"sig-match {avg_m:.3f} vs J {avg_j:.3f}"


def test_pq_recall_vs_exact(spark, sf_correct):
    """PQ shortlist (ADC over reconstructed codewords) + exact re-rank must
    recover most of the exact top-10. Measured 0.90-0.98 across the three
    SFs on the isotropic corpus (the hardest case for PQ); 0.8 asserts
    both stages work without riding the measurement."""
    exact = registry.QUERIES["similarity_topk"](spark, sf_correct).select(
        "query_id", "cand_id"
    )
    approx = S.pq_topk_listing(spark, sf_correct).select("query_id", "cand_id")
    n_exact = exact.count()
    hit = exact.join(approx, ["query_id", "cand_id"], "left_semi").count()
    recall = hit / n_exact
    assert recall >= 0.8, f"PQ recall {recall:.2f} < 0.8 (hit {hit}/{n_exact})"


def test_pq_verdict_oracle(spark, sf_correct):
    assert_matches_oracle(
        spark,
        sf_correct,
        "similarity_topk_pq",
        registry.QUERIES["similarity_topk_pq"],
        registry.ORACLES["similarity_topk_pq"],
    )


def test_pq_rerank_scores_are_exact(spark, sf_correct):
    """The re-ranked listing's cos_sim must equal the exact operator's
    cosine for every (query, cand) both produce — the second stage really
    reads raw vectors, not reconstructions."""
    exact = {
        (r.query_id, r.cand_id): r.cos_sim
        for r in registry.QUERIES["similarity_topk"](spark, sf_correct).collect()
    }
    pq = S.pq_topk_listing(spark, sf_correct).collect()
    shared = [r for r in pq if (r.query_id, r.cand_id) in exact]
    assert len(shared) > 0
    for r in shared:
        assert r.cos_sim == exact[(r.query_id, r.cand_id)], r


def test_ivfpq_recall_vs_exact(spark, sf_correct):
    """Composed IVF∘PQ: recall bounded by probe-ceiling × shortlist
    recall; measured 0.68-0.86 across SFs at 7/10 probes. 0.6 asserts
    both stages compose without riding the measurement."""
    exact = registry.QUERIES["similarity_topk"](spark, sf_correct).select(
        "query_id", "cand_id"
    )
    approx = S.ivfpq_topk_listing(spark, sf_correct).select("query_id", "cand_id")
    n_exact = exact.count()
    hit = exact.join(approx, ["query_id", "cand_id"], "left_semi").count()
    recall = hit / n_exact
    assert recall >= 0.6, f"IVFPQ recall {recall:.2f} < 0.6 (hit {hit}/{n_exact})"


def test_ivfpq_verdict_oracle(spark, sf_correct):
    assert_matches_oracle(
        spark,
        sf_correct,
        "similarity_topk_ivfpq",
        registry.QUERIES["similarity_topk_ivfpq"],
        registry.ORACLES["similarity_topk_ivfpq"],
    )


def test_ivfpq_only_probed_cells(spark, sf_correct):
    """Every IVFPQ result candidate must belong to a cell its query
    probed — the listing never leaks unprobed-cell vectors."""
    import numpy as np

    vecs = S._vectors(spark, sf_correct).collect()
    by_id = {r.vec_id: r for r in vecs}
    import collections

    sums: dict = collections.defaultdict(lambda: None)
    counts: dict = collections.defaultdict(int)
    for r in vecs:
        v = np.array(r.v)
        sums[r.label] = v if sums[r.label] is None else sums[r.label] + v
        counts[r.label] += 1
    labels = sorted(sums)
    C = np.array([sums[lb] / counts[lb] for lb in labels])
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    out = S.ivfpq_topk_listing(spark, sf_correct).collect()
    for r in out:
        q = np.array(by_id[r.query_id].v, dtype=float)
        qn = q / np.linalg.norm(q)
        order = np.argsort(-(Cn @ qn))
        probed = {labels[j] for j in order[: S.IVFPQ_N_PROBE]}
        assert by_id[r.cand_id].label in probed, r


def test_size_bound_keeps_exact_threshold_ratio_pairs(spark):
    """The PPJoin size filter's float boundary: |A|=20 ⊂ |B|=25 has
    J = 20/25 = 0.8 EXACTLY — a naive `least >= 0.8*greatest` drops it
    (0.8*25 > 20 in binary floating point); the -1e-9 guard must keep it.
    Also pins that a genuinely incompatible pair (ratio < t) never
    surfaces from the enumeration."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        _signatures_of_sets,
        lsh_candidate_pairs,
    )

    base = [f"tok{i}" for i in range(25)]
    rows = [
        (1, base[:20]),      # A ⊂ B, ratio exactly 0.8
        (2, base),           # B
        (3, base[:10]),      # ratio 0.4 vs B — must be filtered
    ]
    sets = spark.createDataFrame(rows, "doc_id LONG, elems ARRAY<STRING>")
    sigs = _signatures_of_sets(
        sets, 32, carry=()
    ).join(
        sets.selectExpr("doc_id", "size(elems) AS n"), "doc_id"
    )
    cands = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(
            sigs, n_bands=16, n_hashes=32, size_ratio=0.8
        ).collect()
    }
    assert (1, 2) in cands, "exact-ratio-0.8 pair dropped by float rounding"
    assert (1, 3) not in cands and (2, 3) not in cands


def test_bitmask_verify_equals_array_verify(spark, sf_correct):
    """The two verify representations are the SAME function: forcing the
    hash-array path over the identical candidate set must produce the
    identical verified pair set the bitmask path produces (the adaptive
    switch is an optimization, never a semantics change)."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        CLUSTER_MAX_BUCKET,
        CLUSTER_N_BANDS,
        CLUSTER_N_HASHES,
        _jaccard_verify,
        _signatures_of_sets,
        _small_vocab,
        _tokens,
        lsh_candidate_pairs,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_correct, "documents")
    toks = docs.select(
        "doc_id", F.array_sort(F.array_distinct(_tokens())).alias("toks")
    ).filter(F.size("toks") > 0)
    rel = toks.withColumn("n", F.size("toks")).localCheckpoint()
    sigs = _signatures_of_sets(
        rel.withColumnRenamed("toks", "elems"), CLUSTER_N_HASHES, carry=("n",)
    )
    cands = lsh_candidate_pairs(
        sigs,
        n_bands=CLUSTER_N_BANDS,
        n_hashes=CLUSTER_N_HASHES,
        max_bucket=CLUSTER_MAX_BUCKET,
        size_ratio=0.8,
    ).localCheckpoint()
    vocab = _small_vocab(rel)
    assert vocab is not None, "corpus vocabulary outgrew the bitmask tier"
    via_mask = {
        (r.doc_a, r.doc_b)
        for r in _jaccard_verify(rel, cands, 0.8, vocab).collect()
    }
    via_array = {
        (r.doc_a, r.doc_b)
        for r in _jaccard_verify(rel, cands, 0.8, None).collect()
    }
    assert via_mask == via_array and via_mask


@pytest.mark.parametrize("v_size", [63, 64, 65])
def test_bitmask_verify_boundary(spark, v_size):
    """The adaptive-verify switch point (VERDICT r06 item 7): vocabularies
    of exactly 63/64/65 tokens straddle the one-BIGINT bitmask capacity.
    ``_small_vocab`` must choose the bitmask form iff V ≤ 63 (bit 62 is
    the last sign-safe bit), and BOTH verify representations must emit the
    exact same pair set as a set-algebra Python twin — including planted
    pairs that sit exactly ON the 0.8 threshold and a doc that uses every
    vocabulary slot (bit 62 set on the 63-token side of the switch)."""
    import random

    vocab = [f"t{i:03d}" for i in range(v_size)]
    rng = random.Random(v_size * 1000 + 7)
    rows = []
    for d in range(40):
        k = rng.randint(1, v_size)
        rows.append((d, sorted(rng.sample(vocab, k))))
    # exact-threshold pair: J(4-set, 5-superset) = 4/5 = 0.8 precisely
    rows.append((100, sorted(vocab[:4])))
    rows.append((101, sorted(vocab[:5])))
    # full-vocabulary doc: exercises the highest bit the mask can hold
    rows.append((102, sorted(vocab)))
    rows.append((103, sorted(vocab[: v_size - 1])))
    rel = spark.createDataFrame(
        [(d, t, len(t)) for d, t in rows],
        "doc_id LONG, toks ARRAY<STRING>, n INT",
    )
    sv = D._small_vocab(rel)
    assert (sv is not None) == (v_size <= 63)
    if sv is not None:
        assert sv == vocab  # sorted, complete, bit-stable

    ids = [d for d, _ in rows]
    cands = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]],
        "doc_a LONG, doc_b LONG",
    )
    tokmap = {d: set(t) for d, t in rows}
    truth = sorted(
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if len(tokmap[a] & tokmap[b]) / len(tokmap[a] | tokmap[b]) >= 0.8
    )
    assert truth, "fixture must plant at least one qualifying pair"

    def verified(small_vocab):
        return sorted(
            map(tuple, D._jaccard_verify(rel, cands, 0.8, small_vocab).collect())
        )

    # the hash-array path is the always-valid reference; the bitmask path
    # must agree with it (and with the twin) wherever it is eligible
    assert verified(None) == truth
    if sv is not None:
        assert verified(sv) == truth


def test_array_verify_path_unique_pairs_and_exact_closure(spark, tmp_path):
    """r08: the array-verify (vocab > 63) path dropped its final
    pair-distinct — star and verified are disjoint and each internally
    unique once candidates are pre-distinct'd — and reuses ONE doc_a
    exchange for dedupe + verify join 1. The plain sf fixtures all fit
    the 63-bit bitmask, so this builds a >63-token corpus with planted
    exact dups and near-dup families and asserts (a) the emitted pair
    list is duplicate-free WITHOUT a distinct, (b) the LSH closure
    equals the exact O(n^2) truth closure."""
    import os
    import random

    import duckdb

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        _small_vocab,
        lsh_verified_pairs,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.graphdedup import (
        dedup_clusters,
        dedup_clusters_exact,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
        TABLE_NAMES,
    )

    rng = random.Random(11)
    vocab = [f"t{i:02d}" for i in range(80)]  # 80 > 63: forces hash-array
    rows, did = [], 0
    for fam in range(12):
        base = rng.sample(vocab, 30)
        # family head + near-dups (swap 1-2 tokens: J in [0.87, 1.0))
        for variant in range(rng.randint(2, 4)):
            toks = list(base)
            for _ in range(rng.randint(0, 2) if variant else 0):
                out_tok = rng.choice(toks)
                in_tok = rng.choice([t for t in vocab if t not in toks])
                toks[toks.index(out_tok)] = in_tok
            rows.append((did, " ".join(toks)))
            did += 1
            if variant == 0:  # one exact dup of the head, reordered
                shuf = list(toks)
                rng.shuffle(shuf)
                rows.append((did, " ".join(shuf)))
                did += 1
    # noise docs far from everything
    for _ in range(30):
        rows.append((did, " ".join(rng.sample(vocab, 12))))
        did += 1

    d = str(tmp_path)
    for t in TABLE_NAMES:
        if t != "documents":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{d}/{t}.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs_tmp(doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO docs_tmp VALUES (?, ?, 'en', 'src0', ?)",
        [(i, t, len(t)) for i, t in rows],
    )
    con.execute(
        f"COPY docs_tmp TO '{d}/documents.parquet' (FORMAT parquet)"
    )
    con.close()

    from pyspark.sql import functions as F

    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, d, "documents")
    toks_rel = docs.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("toks"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n"),
    )
    assert _small_vocab(toks_rel) is None, "fixture must exceed 63 tokens"

    pairs = lsh_verified_pairs(spark, d).localCheckpoint()
    n, nd = pairs.count(), pairs.distinct().count()
    assert n == nd > 0, f"duplicate pairs emitted: {n} rows, {nd} distinct"

    got = {
        (r.doc_id, r.cluster_id) for r in dedup_clusters(spark, d).collect()
    }
    want = {
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters_exact(spark, d).collect()
    }
    assert got == want


def test_persisted_signature_pipeline(spark, sf_correct):
    """The two-stage (persisted signature table) layout must match its
    oracle, and the in-key exceptAll guard means a pass already implies
    listing identity with the fused form."""
    from parallel_map_reduce_word_counter_for_one_machine_spark import registry
    from .oracle import assert_matches_oracle

    assert_matches_oracle(
        spark,
        sf_correct,
        "dedup_minhash_persisted",
        registry.QUERIES["dedup_minhash_persisted"],
        registry.ORACLES["dedup_minhash_persisted"],
    )
    row = registry.QUERIES["dedup_minhash_persisted"](spark, sf_correct).collect()[0]
    assert row.precision_ok and row.recall_ok and row.n_truth > 0


def test_truth_arm_scale_guard(spark, sf_correct, monkeypatch):
    """VERDICT r08 item 6: the exact O(n²) truth arms are sf-bounded
    verifiers. The guard must refuse a pair product over the cap with a
    named error — so a future production invocation fails instantly
    instead of launching a quadratic job."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators import (
        dedup as dd,
    )

    # unit: under / over the cap
    dd._assert_truth_arm_scale(10, 10, "unit")
    with pytest.raises(ValueError, match="sf-bounded verifier"):
        dd._assert_truth_arm_scale(20_000, 20_000, "unit")

    # integration: drop the cap below the sf corpus and every guarded
    # truth arm must refuse before running its join
    monkeypatch.setattr(dd, "TRUTH_ARM_MAX_PAIRS", 10)
    with pytest.raises(ValueError, match="dedup_ngram_jaccard"):
        registry.QUERIES["dedup_ngram_jaccard"](spark, sf_correct).collect()
    with pytest.raises(ValueError, match="fuzzy-gate verdict"):
        registry.QUERIES["dedup_incremental_fuzzy"](spark, sf_correct).collect()


# --- dedup_containment --------------------------------------------------------


def test_dedup_containment_oracle(spark, sf_correct):
    assert_matches_oracle(
        spark,
        sf_correct,
        "dedup_containment",
        registry.QUERIES["dedup_containment"],
        registry.ORACLES["dedup_containment"],
    )


def test_containment_finds_embedded_doc_jaccard_misses(spark, sf_correct):
    """The operator's reason to exist: a short doc verbatim-embedded in a
    long one has containment 1.0 but Jaccard far below the LSH threshold.
    Build exactly that pair in-memory and check the same logic (via the
    oracle's semantics run on a registered-shape frame) finds it."""
    from pyspark.sql import functions as F
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        CONTAIN_T,
        _shingles,
    )

    # 12-token needle inside a 400-token haystack of unique filler tokens
    needle = " ".join(f"needle{i}" for i in range(12))
    filler = " ".join(f"filler{i}" for i in range(400))
    df = spark.createDataFrame(
        [(1, needle), (2, filler + " " + needle)], "doc_id LONG, text STRING"
    )
    sh = df.select("doc_id", _shingles().alias("s"))
    a = sh.filter("doc_id = 1").select(F.col("s").alias("sa"))
    b = sh.filter("doc_id = 2").select(F.col("s").alias("sb"))
    row = a.crossJoin(b).select(
        (F.size(F.array_intersect("sa", "sb")) / F.size("sa")).alias("contain"),
        (
            F.size(F.array_intersect("sa", "sb"))
            / F.size(F.array_union("sa", "sb"))
        ).alias("jaccard"),
    ).first()
    assert row.contain >= CONTAIN_T  # containment sees it
    assert row.jaccard < 0.05  # Jaccard-LSH never would


def test_containment_candidates_bounded_by_df_cap(spark, sf_correct):
    """No blocking shingle may fan out more than CONTAIN_DF_CAP² ordered
    pairs; stopword-grade shingles (df > cap) must generate nothing."""
    from pyspark.sql import functions as F
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        CONTAIN_DF_CAP,
        _shingles,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_correct, "documents")
    sd = docs.select("doc_id", F.explode(_shingles()).alias("g"))
    df_per_g = sd.groupBy("g").agg(F.count("*").alias("df"))
    rare = df_per_g.filter(
        (F.col("df") >= 2) & (F.col("df") <= CONTAIN_DF_CAP)
    )
    worst = rare.agg(F.max(F.col("df") * F.col("df") - F.col("df"))).first()[0]
    assert worst is not None and worst <= CONTAIN_DF_CAP * (CONTAIN_DF_CAP - 1)


def test_containment_recall_vs_exact_truth(spark, sf_correct):
    """VERDICT r09 item 7: the df-cap is a RECALL knob — quantify it.
    Against the exact all-pairs truth arm (O(n²), sf-GUARDED: this test
    only ever runs at the driver's sf0.01 fixture, 500 docs) the capped
    operator measured recall 1.0 / precision 1.0 at cap=16; this test
    pins that the pair LISTING stays identical to the truth set, so any
    cap/blocking change that starts missing pairs on the driver fixture
    goes red here with the measured recall in the message."""
    from pyspark.sql import functions as F
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        CONTAIN_T,
        _shingles,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_correct, "documents")
    assert docs.count() <= 2000, "truth arm is O(n²) — sf0.01 only"
    sh = docs.select("doc_id", _shingles().alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    truth = {
        (r.doc_a, r.doc_b)
        for r in (
            a.crossJoin(b)
            .filter("doc_a <> doc_b")
            .filter(F.size("sha") > 0)
            .select(
                "doc_a",
                "doc_b",
                (
                    F.size(F.array_intersect("sha", "shb")).cast("double")
                    / F.size("sha")
                ).alias("c"),
            )
            .filter(F.col("c") >= CONTAIN_T)
            .collect()
        )
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_containment"](
            spark, sf_correct
        ).collect()
    }
    recall = len(got & truth) / max(len(truth), 1)
    precision = len(got & truth) / max(len(got), 1)
    assert got == truth, (
        f"capped containment diverged from exact truth: recall {recall:.3f} "
        f"precision {precision:.3f} (truth {len(truth)}, got {len(got)})"
    )


def test_containment_embedded_needle_recall_is_one(spark, sf_correct):
    """The embedded-needle class (a doc verbatim inside a longer doc) is
    found at recall 1.0 BY CONSTRUCTION: every needle shingle occurs in
    exactly its two docs (df = 2 ≤ cap), so each pair always survives
    the rare-shingle blocking. Build 5 needle pairs among 40 unique-token
    filler docs and demand all 5 (doc_a = needle, containment = 1.0)."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        dedup_containment,
    )

    rows = []
    expected = set()
    for k in range(5):
        needle = " ".join(f"n{k}w{i}" for i in range(10))
        filler = " ".join(f"f{k}w{i}" for i in range(120))
        rows.append((100 + k, needle))
        rows.append((200 + k, filler + " " + needle))
        expected.add((100 + k, 200 + k))
    for k in range(40):
        rows.append((300 + k, " ".join(f"u{k}w{i}" for i in range(60))))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = dedup_containment(spark, sf_correct, docs=docs).collect()
    found = {(r.doc_a, r.doc_b) for r in got}
    assert expected <= found, f"missed needle pairs: {expected - found}"
    by_pair = {(r.doc_a, r.doc_b): r.containment for r in got}
    assert all(by_pair[p] == 1.0 for p in expected)


def _three_docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "iota kappa lambda mu nu xi"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


# Operators whose RETURNED plan reads a localCheckpoint taken inside the
# call. knn_graph_ivf_listing no longer checkpoints (its plan is one lazy
# map → shuffle → reduce); it stays as a held-result guard, so that a
# checkpoint brought back into it must keep held results valid.
CHECKPOINTED_RESULT_OPS = {
    "dedup_containment": lambda spark, sf: D.dedup_containment(
        spark, sf, docs=_three_docs(spark)
    ),
    "decontaminate_bloom": P.decontaminate_bloom,
    "knn_graph": S.knn_graph,
    "knn_graph_ivf_listing": S.knn_graph_ivf_listing,
}


@pytest.mark.parametrize("name", sorted(CHECKPOINTED_RESULT_OPS))
def test_held_result_survives_a_second_call(spark, sf_dir, name):
    """Each returned DataFrame owns its checkpoint: calling the operator
    again must not invalidate a result the caller still holds. Collecting
    the first result after the second call, alone and unioned with the
    second into one plan, fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND if
    the second call freed the first call's blocks."""
    op = CHECKPOINTED_RESULT_OPS[name]
    r1 = op(spark, sf_dir)
    r2 = op(spark, sf_dir)
    second = sorted(r2.collect(), key=repr)
    assert len(second) >= 1
    assert sorted(r1.collect(), key=repr) == second
    assert r1.unionAll(r2).count() == 2 * len(second)


def test_dropped_results_free_their_checkpoints(spark):
    """Storage stays bounded without any module-level slot: once callers
    drop the results, Spark's ContextCleaner frees their checkpoint blocks,
    so five consumed calls leave at most one more live RDD behind."""
    import gc
    import time

    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    for _ in range(5):
        result = D.dedup_containment(spark, "unused", docs=_three_docs(spark))
        assert result.count() >= 1  # doc 1 is contained in doc 2
    del result
    deadline = time.monotonic() + 30
    while True:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        after = len(jsc.getRDDStorageInfo())
        if after <= before + 1 or time.monotonic() > deadline:
            break
        time.sleep(1)
    assert after <= before + 1, (
        f"dropped results kept their checkpoints: {before} -> {after} RDDs"
    )


def test_containment_df_cap_filter_below_self_join(spark, sf_correct):
    """Plan pin (VERDICT r09 item 5): the df-cap filter must sit BELOW
    the shingle-keyed candidate self-join — the structure that bounds
    fan-out at cap² per blocking shingle. An uncapped self-join (filter
    pushed above the join, or dropped) fails here."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.dedup import (
        CONTAIN_DF_CAP,
    )

    out = registry.QUERIES["dedup_containment"](spark, sf_correct)
    plan = (
        out._jdf.queryExecution().executedPlan().toString().splitlines()
    )
    jl = next(
        i for i, ln in enumerate(plan) if "Join [g#" in ln and "NOT (doc_id" in ln
    )
    caps = [
        i
        for i, ln in enumerate(plan)
        if i > jl and ">= 2" in ln and f"<= {CONTAIN_DF_CAP}" in ln
    ]
    assert caps, "df-cap filter is not below the candidate self-join"


# --- knn_graph ----------------------------------------------------------------


def test_knn_graph_oracle(spark, sf_correct):
    assert_matches_oracle(
        spark,
        sf_correct,
        "knn_graph",
        registry.QUERIES["knn_graph"],
        registry.ORACLES["knn_graph"],
    )


def test_knn_graph_shape_and_numpy_reference(spark, sf_correct):
    """Every vector gets exactly KNN_K neighbors ranked 1..K, none of them
    itself, and the whole graph matches an independent numpy brute-force
    reference (full N×N cosine, rounded 6dp, (cos desc, id asc) order) —
    proving the tile-local top-k loses nothing vs the global answer."""
    import numpy as np

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        KNN_K,
    )

    rows = spark.read.parquet(f"{sf_correct}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    n = np.linalg.norm(X, axis=1)
    S = np.round((X @ X.T) / np.outer(n, n), 6)
    np.fill_diagonal(S, -np.inf)
    want = set()
    for i in range(len(ids)):
        order = np.lexsort((ids, -S[i]))[:KNN_K]
        for rk, j in enumerate(order, start=1):
            want.add((int(ids[i]), int(ids[j]), rk, float(S[i, j])))
    got = {
        (r.vec_id, r.neighbor_id, r.rank, r.cos_sim)
        for r in registry.QUERIES["knn_graph"](spark, sf_correct).collect()
    }
    assert got == want
    per_vec = {}
    for v, _, rk, _ in got:
        per_vec.setdefault(v, []).append(rk)
    assert all(sorted(rks) == list(range(1, KNN_K + 1)) for rks in per_vec.values())
    assert all(v != nb for v, nb, _, _ in got)


def test_knn_graph_candidate_stream_is_blocked_topk(spark, sf_correct):
    """Scale pin: the exchanged candidate stream must be tile-local top-k
    (≤ corpus × B × k rows), never the corpus² pair stream — the plan
    carries ONE mapInPandas over the B×B tile grid feeding the window,
    and no sort-merge/cartesian pair join of the embeddings table."""
    out = registry.QUERIES["knn_graph"](spark, sf_correct)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan


def test_knn_graph_ivf_verdict(spark, sf_correct):
    assert_matches_oracle(
        spark,
        sf_correct,
        "knn_graph_ivf",
        registry.QUERIES["knn_graph_ivf"],
        registry.ORACLES["knn_graph_ivf"],
    )


def test_knn_graph_ivf_recall_measured(spark, sf_correct):
    """The IVF-celled graph's measured recall vs the exact graph: ~nprobe/
    n_cells on this isotropic corpus (measured 0.775 at 7/10 cells) —
    assert a margin above the registered ANN_RECALL_BOUND so the verdict
    never sits on the boundary, and that the listing keeps the exact
    per-vector shape (k rows each, ranks 1..k)."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        KNN_K,
        knn_graph_ivf_listing,
    )

    exact = {
        (r.vec_id, r.neighbor_id)
        for r in registry.QUERIES["knn_graph"](spark, sf_correct).collect()
    }
    rows = knn_graph_ivf_listing(spark, sf_correct).collect()
    approx = {(r.vec_id, r.neighbor_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF knn recall {recall:.3f} < 0.6"
    per_vec = {}
    for r in rows:
        per_vec.setdefault(r.vec_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, KNN_K + 1)) for v in per_vec.values())


# Hand-built corpus for the IVF k-NN graph (dim 4, integer components so
# every sum and label mean is exact in float32 and float64). Cells are the
# labels. Each row is (vec_id, embedding, label).
_IVF_KNN_ROWS = [
    # labels 0 and 4 cancel to zero-norm centroids: no vector has a cosine
    # to them, so cell 0 holds only the zero-norm vector (ties go to the
    # lowest cell) and cell 4 holds nothing, its group receiving only
    # candidate rows. Their adjacency rows are all zeros, so they probe the
    # lowest cell ids rather than their nearest ones.
    (0, [0, 0, 0, 5], 0),
    (1, [0, 0, 0, -5], 0),
    (40, [0, 5, 0, 0], 4),
    (41, [0, -5, 0, 0], 4),
    # label 1: vec 10's neighbours 13 and 14 are exact duplicates, so their
    # 6dp cosines tie at ranks KNN_K and KNN_K + 1 and neighbor_id decides.
    (10, [8, 1, 0, 0], 1),
    (11, [8, 2, 0, 0], 1),
    (12, [8, 1, 1, 0], 1),
    (13, [8, 0, 0, 3], 1),
    (14, [8, 0, 0, 3], 1),
    (15, [8, 1, 2, 0], 1),
    (16, [8, 0, 4, 4], 1),
    (17, [7, 1, 0, 1], 1),
    # label 2 holds the zero-norm vector: it has no cosine, is never a
    # neighbour and gets no row of its own.
    (20, [0, 8, 1, 0], 2),
    (21, [1, 8, 0, 0], 2),
    (22, [0, 8, 0, 1], 2),
    (23, [0, 0, 0, 0], 2),
    (24, [2, 8, 2, 0], 2),
    (25, [0, 7, 1, 1], 2),
    # cell 3 (these three rows plus vec 41) has fewer than KNN_K + 1 rows:
    # at nprobe 1 its vectors have fewer than KNN_K neighbours.
    (30, [0, 1, 8, 0], 3),
    (31, [1, 0, 8, 1], 3),
    (32, [0, 0, 8, 2], 3),
]


def _ivf_knn_brute_force(rows, nprobe):
    """numpy brute force over each vector's probed cells: label-mean
    centroids; nearest centroid by cosine with ties and zero-norm vectors to
    the lowest cell; each cell probes its ``nprobe`` nearest cells by
    centroid cosine (ties to the lower cell id); every vector is scored
    against every vector of its cell's probed cells, rounded to 6dp and
    ranked by (cos desc, neighbor_id asc)."""
    import math

    import numpy as np

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.array([r[1] for r in rows], dtype=np.float64)
    labels = np.array([r[2] for r in rows])
    cids = sorted(set(labels.tolist()))
    C = np.array([X[labels == c].mean(axis=0) for c in cids])

    def dot(a, b):
        acc = 0.0
        for p, q in zip(a.tolist(), b.tolist()):
            acc += p * q
        return acc

    def cos(a, b):
        norms = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
        return dot(a, b) / norms if norms > 0 else None

    cell = []
    for x in X:
        sims = [cos(x, c) for c in C]
        scored = [(s, -cid) for s, cid in zip(sims, cids) if s is not None]
        cell.append(-max(scored)[1] if scored else cids[0])
    cell = np.array(cell)

    cn = np.linalg.norm(C, axis=1)
    cn = np.where(cn > 0, cn, 1.0)
    cS = (C @ C.T) / np.outer(cn, cn)
    cid_arr = np.array(cids)
    probe = min(nprobe if nprobe is not None else S.KNN_IVF_NPROBE, len(cids))
    probes = {
        cids[i]: set(cid_arr[np.lexsort((cid_arr, -cS[i]))[:probe]].tolist())
        for i in range(len(cids))
    }

    norms = np.linalg.norm(X, axis=1)
    want = set()
    for i in range(len(ids)):
        if norms[i] == 0:
            continue
        cands = []
        for j in range(len(ids)):
            if j == i or norms[j] == 0 or cell[j] not in probes[cell[i]]:
                continue
            c = float(np.round((X[i] @ X[j]) / (norms[i] * norms[j]), 6))
            cands.append((-c, int(ids[j])))
        for rk, (negc, nb) in enumerate(sorted(cands)[: S.KNN_K], start=1):
            want.add((int(ids[i]), nb, rk, -negc))
    return want


@pytest.mark.parametrize("nprobe", [None, 1, 2])
def test_knn_graph_ivf_matches_probed_brute_force(spark, tmp_path, nprobe):
    """``knn_graph_ivf_listing`` equals a numpy brute force limited to each
    vector's probed cells, row for row: the zero-norm vector, the exact 6dp
    tie at rank KNN_K, the small cell and the zero-norm centroid all keep
    the rows the brute force gives them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in _IVF_KNN_ROWS], pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in r[1]] for r in _IVF_KNN_ROWS],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([r[2] for r in _IVF_KNN_ROWS], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    want = _ivf_knn_brute_force(_IVF_KNN_ROWS, nprobe)
    # the fixture holds the cases it claims to
    by_vec = {}
    for v, nb, rk, c in want:
        by_vec.setdefault(v, {})[rk] = (nb, c)
    emb = {r[0]: r[1] for r in _IVF_KNN_ROWS}
    assert emb[0] == [-x for x in emb[1]] and emb[40] == [-x for x in emb[41]]
    assert 23 not in by_vec and all(nb != 23 for _, nb, _, _ in want)
    assert emb[13] == emb[14]
    assert by_vec[10][S.KNN_K][0] == 13 and (10, 14) not in {
        (v, nb) for v, nb, _, _ in want
    }
    if nprobe == 1:
        assert all(len(by_vec[v]) < S.KNN_K for v in (30, 31, 32))
    got = {
        (r.vec_id, r.neighbor_id, r.rank, r.cos_sim)
        for r in S.knn_graph_ivf_listing(spark, str(tmp_path), nprobe=nprobe).collect()
    }
    assert got == want


def test_knn_graph_ivf_listing_starts_three_jobs_before_its_action(spark, sf_dir):
    """Building the IVF k-NN listing runs at most 3 Spark jobs before the
    caller's action: the stats aggregate and one collect of the training
    sample, whose label means are taken on the driver (no posexplode and
    two shuffles feeding a centroid collect)."""
    sc = spark.sparkContext._jsc.sc()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def job_ids():
        sc.listenerBus().waitUntilEmpty()
        return {j.jobId() for j in conv.asJava(sc.statusStore().jobsList(None))}

    before = job_ids()
    S.knn_graph_ivf_listing(spark, sf_dir)
    started = job_ids() - before
    assert len(started) <= 3, sorted(started)
