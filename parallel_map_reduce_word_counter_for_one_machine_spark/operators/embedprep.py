"""Embedding-side training-data preparation.

Three pipeline steps an LLM/embedding training corpus needs beyond the
dedup/ANN tiers already in :mod:`dedup` / :mod:`similarity` /
:mod:`annindex` (extension surface beyond the reference word counter,
reference src/main.cpp:78-281 — cited for parity audit only):

- ``decontaminate_semantic`` — the embedding-level twin of the n-gram
  ``decontaminate`` key: flag corpus vectors whose cosine to ANY held-out
  benchmark vector reaches the contamination threshold. The n-gram tier
  catches verbatim leaks; this tier catches paraphrased/near-semantic
  leakage (the eval-contamination sweep run before every pretrain).
- ``triplet_mining`` — contrastive training-pair construction: for each
  anchor, the hardest positive (same label, highest cosine) and hardest
  negative (different label, highest cosine) with a deterministic
  tiebreak — the (anchor, positive, hard-negative) triplets an
  embedding-model trainer consumes.
- ``doc_embedding_hashed`` — feature-hashing ("hashing trick",
  Weinberger et al. ICML'09) doc vectors from raw text: K signed
  hash-bucket sums in sparse long form. The in-engine bridge from the
  ``documents`` table to vector-space ops when no learned encoder is
  available (or as the cheap first-pass representation).

Scale shapes (100 TB):

- decontamination joins the corpus against a BROADCAST benchmark side —
  real eval benchmarks are tiny (1e3–1e6 rows) next to the corpus, so the
  plan is one linear corpus scan with a broadcast nested-loop cosine
  check and a map-side partial max/count; no corpus shuffle at all. If
  the benchmark ever outgrows broadcast, the blocked-GEMM tiling of
  ``dedup_embedding`` is the fallback shape.
- triplet mining broadcasts the anchor set and reduces corpus × anchors
  to one row per anchor with a HASH AGGREGATE (max over a (cos, -id)
  struct — argmax with tiebreak as a partial-aggregable max), not a
  window: the corpus-sized scored relation is combined map-side and only
  |anchors| rows cross the wire.
- feature hashing is explode → (doc_id, dim) hash agg: one exchange,
  partials combine map-side, output is |docs| × ≤K rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load_table
from .similarity import _vectors, cosine

# Contamination threshold: on the isotropic synthetic embeddings 0.3 sits
# at the same operating point as dedup_embedding's COSINE_THRESHOLD (the
# top ~1% of the pair-cosine distribution). Production thresholds are
# calibrated per encoder; the plan is threshold-independent.
CONTAM_TAU = 0.3
BENCH_MOD = 10  # vec_id % 10 == 0 is the held-out "benchmark" split
N_ANCHORS = 20  # triplet anchors: vec_id < 20
HASH_DIMS = 16  # feature-hashing output dimensionality


def hashed_cte_sql(src: str) -> str:
    """The DuckDB spelling of ``hashed_features`` over a (doc_id, word)
    relation named ``src`` — THE one definition of the md5 bucket/sign
    idiom on the oracle side (doc_embedding_hashed and the hybrid-rerank
    oracle both splice it in, so the hash scheme cannot drift apart)."""
    return (
        f"SELECT doc_id, "
        "CAST(CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) "
        f"% {HASH_DIMS} AS INT) AS dim, "
        "CAST(sum(CASE WHEN CAST(('0x' || substr(md5(word), 9, 1)) "
        "AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS val "
        f"FROM {src} GROUP BY doc_id, dim"
    )


@query(
    "decontaminate_semantic",
    oracle=(
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), "
        f"b AS (SELECT vec_id, e FROM v WHERE vec_id % {BENCH_MOD} = 0), "
        f"c AS (SELECT vec_id, e FROM v WHERE vec_id % {BENCH_MOD} <> 0) "
        "SELECT c.vec_id AS vec_id, count(*) AS n_bench_hits, "
        "max(round(list_cosine_similarity(c.e, b.e), 6)) AS max_bench_cos "
        "FROM c JOIN b ON round(list_cosine_similarity(c.e, b.e), 6) "
        f">= {CONTAM_TAU} GROUP BY c.vec_id"
    ),
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vectors semantically contaminated by the benchmark split:
    (vec_id, n_bench_hits, max_bench_cos) for every corpus vector with at
    least one benchmark neighbor at cosine ≥ CONTAM_TAU.

    The benchmark side is broadcast (eval sets are small by nature); the
    corpus is scanned once, the cosine check runs inside the broadcast
    join condition, and the per-vector max/count aggregate combines
    map-side — the whole query is one linear pass with no corpus shuffle.
    Cosines are the same sequential-double ``zip_with`` accumulation as
    ``similarity_topk`` (bit-for-bit with DuckDB's DOUBLE[] cosine before
    the shared 6dp rounding)."""
    v = _vectors(spark, sf_dir)
    bench = v.filter(F.col("vec_id") % BENCH_MOD == 0).select(
        F.col("vec_id").alias("bench_id"), F.col("v").alias("bv")
    )
    corpus = v.filter(F.col("vec_id") % BENCH_MOD != 0)
    cos6 = F.round(cosine("v", "bv"), 6)
    return (
        corpus.join(F.broadcast(bench), cos6 >= CONTAM_TAU)
        .select("vec_id", cos6.alias("cos6"))
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_bench_hits"),
            F.max("cos6").alias("max_bench_cos"),
        )
    )


@query(
    "triplet_mining",
    oracle=(
        # Oracle spells argmax as a row_number window — result-equivalent
        # to the engine's max-over-(cos, -id)-struct hash aggregate.
        "WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e "
        "FROM embeddings), "
        f"a AS (SELECT * FROM v WHERE vec_id < {N_ANCHORS}), "
        "scored AS (SELECT a.vec_id AS anchor_id, v.vec_id AS cand_id, "
        "a.label = v.label AS is_pos, "
        "round(list_cosine_similarity(a.e, v.e), 6) AS cos FROM a JOIN v "
        "ON v.vec_id <> a.vec_id "
        # zero-norm guard: DuckDB's list_cosine_similarity returns -1.0
        # (NOT NULL) for a zero-norm operand, while the engine's cosine()
        # is NULL there and the row is filtered — so the oracle must
        # exclude zero-norm vectors explicitly, not via IS NOT NULL.
        "WHERE list_inner_product(a.e, a.e) > 0 "
        "AND list_inner_product(v.e, v.e) > 0), "
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY anchor_id, "
        "is_pos ORDER BY cos DESC, cand_id ASC) AS rn FROM scored) "
        "SELECT anchor_id, "
        "max(CASE WHEN is_pos THEN cand_id END) AS pos_id, "
        "max(CASE WHEN is_pos THEN cos END) AS pos_cos, "
        "max(CASE WHEN NOT is_pos THEN cand_id END) AS neg_id, "
        "max(CASE WHEN NOT is_pos THEN cos END) AS neg_cos, "
        "round(max(CASE WHEN is_pos THEN cos END) "
        "- max(CASE WHEN NOT is_pos THEN cos END), 6) AS margin "
        "FROM ranked WHERE rn = 1 GROUP BY anchor_id"
    ),
)
def triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, hardest positive, hardest negative) triplets for
    contrastive training: per anchor, the same-label candidate and the
    different-label candidate with the highest cosine (tiebreak: lowest
    cand_id), plus the margin between them.

    Plan shape: anchors broadcast, ONE corpus scan; the argmax-with-
    tiebreak is a ``max`` over a ``struct(cos, -cand_id)`` — an ordinary
    partial-aggregable hash aggregate, so corpus × anchors rows combine
    map-side and only |anchors| rows shuffle. The window formulation
    (``row_number() ... rn = 1``) would shuffle the whole scored relation
    on (anchor, is_pos); the oracle uses it only because it is the
    clearest SQL spelling of the same result."""
    v = _vectors(spark, sf_dir)
    anchors = v.filter(F.col("vec_id") < N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("alabel"),
        F.col("v").alias("av"),
    )
    cos6 = F.round(cosine("av", "v"), 6)
    scored = (
        v.join(F.broadcast(anchors), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("cand_id"),
            (F.col("label") == F.col("alabel")).alias("is_pos"),
            cos6.alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
    )
    # argmax with (cos DESC, cand_id ASC) tiebreak as a max over a struct:
    # struct comparison is field-ordered, so max picks highest cos, then
    # highest -cand_id (= lowest cand_id).
    best = F.struct(F.col("cos"), (-F.col("cand_id")).alias("nid"))
    agg = scored.groupBy("anchor_id").agg(
        F.max(F.when(F.col("is_pos"), best)).alias("p"),
        F.max(F.when(~F.col("is_pos"), best)).alias("n"),
    )
    return agg.select(
        "anchor_id",
        (-F.col("p.nid")).alias("pos_id"),
        F.col("p.cos").alias("pos_cos"),
        (-F.col("n.nid")).alias("neg_id"),
        F.col("n.cos").alias("neg_cos"),
        F.round(F.col("p.cos") - F.col("n.cos"), 6).alias("margin"),
    )


@query(
    "doc_embedding_hashed",
    oracle=(
        "WITH w AS (SELECT doc_id, unnest(list_filter(string_split(text, "
        "' '), t -> t <> '')) AS word FROM documents) "
        + hashed_cte_sql("w")
    ),
)
def doc_embedding_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed doc vectors (the hashing trick, Weinberger et al.
    ICML'09): every token lands in bucket md5[0:8] % K with sign from the
    parity of md5 hex digit 9; per-doc bucket sums are the K-dim sparse
    representation, emitted long-form as (doc_id, dim, val) — dims a doc
    never touches are implicit zeros.

    One explode + one (doc_id, dim) hash aggregate: partials combine
    map-side, a single exchange, output |docs| × ≤K rows. md5-derived
    bucket/sign are engine-exact (the repo's hex→int idiom), so the
    representation is reproducible across engines, partitioning, and
    retries — the property that makes hashed features safe to recompute
    anywhere in the pipeline rather than materialize."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "word"
        ),
    )
    return hashed_features(w)


def hashed_features(tok: DataFrame, weight: str | None = None) -> DataFrame:
    """(doc_id, word) token stream → (doc_id, dim, val) hashed features
    (the body of ``doc_embedding_hashed``, reusable by retrieval/rerank
    stages). With ``weight`` (a count column, e.g. a term-frequency
    relation's ``tf``), each row contributes sign × weight — identical to
    summing over the expanded token stream, but computable from the much
    smaller (doc, word, count) relation without re-exploding the corpus."""
    h = F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
    parity = F.conv(F.substring(F.md5("word"), 9, 1), 16, 10).cast("long")
    sgn = F.when(parity % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    contrib = sgn * F.col(weight) if weight else sgn
    return (
        tok.select(
            "doc_id",
            F.pmod(h, F.lit(HASH_DIMS)).cast("int").alias("dim"),
            contrib.alias("s"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").cast("long").alias("val"))
    )


@query(
    "embedding_quantize_int8",
    oracle=(
        "WITH v AS (SELECT vec_id, label, g.i AS dim, "
        "CAST(embedding[g.i + 1] AS DOUBLE) AS val FROM embeddings, "
        "LATERAL unnest(generate_series(0, len(embedding) - 1)) AS g(i)), "
        "s AS (SELECT dim, max(abs(val)) AS scale FROM v GROUP BY dim), "
        "dq AS (SELECT label, vec_id, val, CASE WHEN s.scale > 0 THEN "
        "floor(val / s.scale * 127 + 0.5) * s.scale / 127 "
        "ELSE 0.0 END AS deq FROM v JOIN s USING (dim)), "
        "e AS (SELECT label, vec_id, (val - deq) * (val - deq) AS err "
        "FROM dq) "
        "SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs, "
        "CAST(round(avg(err) * 1e12) AS BIGINT) AS mse_e12, "
        "CAST(round(max(err) * 1e12) AS BIGINT) AS max_err_e12 "
        "FROM e GROUP BY label"
    ),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 scalar quantization of the embedding
    column with a per-label reconstruction-error report — the storage
    step a large vector corpus takes before anything else touches it
    (4× over float32; the SQ8 tier of FAISS/Milvus/pgvector): per
    dimension d, scale_d = max|v_d| over the corpus, each value encodes
    to round(v/scale·127) ∈ [−127, 127] and reconstructs as q·scale/127.
    The report (n_vecs, mean/max squared reconstruction error per label)
    is the acceptance gate a quantized store ships with — mse far below
    the inter-vector distance scale means downstream ANN recall is
    unaffected (verified empirically in tests against recall on the
    quantized vectors).

    Scale shape: one posexplode pass → a DIM-sized (64-row) max
    aggregate, broadcast back over a second linear pass; both error
    statistics are plain partial+final aggregates — no corpus-sized
    shuffle, driver state = the scale vector. Cross-engine floats: the
    float32→double cast is exact, quantization uses floor(x + 0.5) (NOT
    round() — Spark HALF_UP vs DuckDB banker's disagree at .5
    boundaries) with identical op order, so per-row err is bit-identical
    on both engines; the order-dependent avg emits as fixed-point e12
    (max is order-independent and exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "val"),
    )
    v = v.localCheckpoint()  # consumed by the scale agg AND the encode pass
    scales = v.groupBy("dim").agg(F.max(F.abs("val")).alias("scale"))
    deq = F.when(
        F.col("scale") > 0,
        F.floor(F.col("val") / F.col("scale") * 127 + 0.5)
        * F.col("scale")
        / 127,
    ).otherwise(F.lit(0.0))
    err = (F.col("val") - F.col("deq")) * (F.col("val") - F.col("deq"))
    return (
        v.join(F.broadcast(scales), "dim")
        .withColumn("deq", deq)
        .withColumn("err", err)
        .groupBy("label")
        .agg(
            F.countDistinct("vec_id").cast("long").alias("n_vecs"),
            F.round(F.avg("err") * 1e12).cast("long").alias("mse_e12"),
            F.round(F.max("err") * 1e12).cast("long").alias("max_err_e12"),
        )
    )


# --- Skip-gram training pairs -------------------------------------------------

SKIPGRAM_WIN = 2  # context window radius (word2vec's default shape)


@query(
    "skipgram_pairs",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        "list_filter(string_split(text, ' '), x -> x <> '') AS w "
        "FROM documents), "
        "pr AS (SELECT unnest(flatten(list_transform(range(1, len(w)+1), i -> "
        f"list_transform(range(greatest(i-{SKIPGRAM_WIN},1), "
        f"least(i+{SKIPGRAM_WIN},len(w))+1), j -> "
        "CASE WHEN j <> i THEN {'center': w[i], 'context': w[j]} "
        "ELSE NULL END)))) AS p FROM t) "
        "SELECT p.center AS center, p.context AS context, "
        "CAST(count(*) AS BIGINT) AS n "
        "FROM pr WHERE p IS NOT NULL GROUP BY 1, 2"
    ),
)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(center, context) skip-gram pair counts with a ±SKIPGRAM_WIN token
    window — the training relation of word2vec/GloVe-style embedding
    pretraining (Mikolov et al. 2013), and the co-occurrence matrix the
    ``pmi_bigrams`` key specializes to adjacent pairs.

    Scale shape: pair GENERATION is entirely in the array domain — a
    per-doc transform-with-index builds each position's windowed struct
    list, flattened and exploded map-side; no posexplode self-join (the
    naive layout joins the token stream to itself on doc_id + a pos range
    — a corpus-sized join both sides). The only exchange is the final
    (center, context) hash aggregate, which partial-combines map-side —
    word_count economics with a two-word key. Output is vocabulary²-
    bounded (and window-limited in practice), never corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    w = F.filter(F.split("text", " "), lambda x: x != "")
    n = F.size(w)
    pairs = F.flatten(
        F.transform(
            w,
            lambda x, i: F.filter(
                F.transform(
                    F.sequence(i - SKIPGRAM_WIN, i + SKIPGRAM_WIN),
                    lambda j: F.when(
                        (j >= 0) & (j < n) & (j != i),
                        F.struct(
                            x.alias("center"),
                            F.element_at(w, j + 1).alias("context"),
                        ),
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )
    return (
        d.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.center").alias("center"), F.col("p.context").alias("context")
        )
        .agg(F.count("*").alias("n"))
    )


@query(
    "word2vec_negative_table",
    oracle=(
        "WITH wc AS (SELECT unnest(list_filter(string_split(text, ' '), "
        "x -> x <> '')) AS word FROM documents), "
        "c AS (SELECT word, count(*) AS cnt FROM wc GROUP BY word) "
        "SELECT word, CAST(cnt AS BIGINT) AS cnt, "
        "CAST(round(sqrt(sqrt(CAST(cnt AS DOUBLE) * cnt * cnt)) * 1e6) "
        "AS BIGINT) AS weight_e6 FROM c"
    ),
)
def word2vec_negative_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The negative-sampling table word2vec draws from: per-word unigram
    count raised to the 3/4 power (Mikolov et al. 2013's smoothing — it
    up-weights rare words relative to raw frequency), in integer micro
    units. UN-normalized on purpose: the sampler normalizes at load, and
    emitting w = cnt^0.75 per row keeps every value a function of ONE
    row — a normalized weight would divide by a float SUM whose
    accumulation order differs between engines.

    Cross-engine exactness: ``pow(x, 0.75)`` is NOT guaranteed identical
    across libm implementations, but ``sqrt`` is CORRECTLY ROUNDED by
    IEEE 754 — so cnt^0.75 is computed as sqrt(sqrt(cnt·cnt·cnt)). The
    load-bearing invariant (ADVICE r09) is NOT exactness of cnt³ — a
    count past 2^17 makes cnt³ inexact — but that BOTH engines evaluate
    the same left-associated double chain ``(cnt·cnt)·cnt`` (the Spark
    expression and the oracle SQL are written in that order), so the
    (possibly rounded) intermediate is bit-identical, and the two
    correctly-rounded sqrts on top of it are bit-identical everywhere.
    Plan: the word_count aggregate (map-side partials, one exchange) + a
    per-row expression."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(
            F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    c = F.col("cnt").cast("double")
    return cnt.select(
        "word",
        "cnt",
        F.round(F.sqrt(F.sqrt(c * c * c)) * 1e6).cast("long").alias("weight_e6"),
    )
