"""Deduplication operators for training-data pipelines (driver contract
§ north-star extensions; absent from the reference, whose only keyed
structure is the word→count map — SURVEY.md §2b).

The dedup tiers, all pure DataFrame/JVM expressions in the row paths
(the only Python is the Arrow-batched hyperplane sketch matmul):

1. ``dedup_exact`` / ``dedup_exact_normalized`` — hash-groupBy on a
   (possibly normalized) content fingerprint; one 16-byte shuffle.
2. ``dedup_incremental`` / ``dedup_incremental_fuzzy`` — per-batch
   ingest gates against the standing corpus (exact fingerprint index /
   banded MinHash index + exact verify; the fuzzy gate also runs as a
   real stream — streaming/fuzzygate.py).
3. ``minhash_lsh_pairs`` (+ registered verdict ``dedup_minhash_lsh``) —
   shingle → MinHash signature (shuffle-free array-domain map) → band →
   bucket groupBy → exact-Jaccard verify. THE 100 TB near-dup path:
   candidate generation is linear + one shuffle, never all-pairs;
   ``lsh_verified_pairs`` is the exact-collapse production edge source
   for the clustering operators (graphdedup.py).
4. ``dedup_simhash``      — 64-bit SimHash + chunk-LSH + hamming verify.
5. ``dedup_ngram_jaccard``— exact all-pairs Jaccard on token sets;
   oracle-checkable ground truth for the LSH tiers (O(n²) — test scale
   only; the LSH tiers are the scale path).
6. ``dedup_embedding`` (blocked-GEMM exact tier) and
   ``dedup_embedding_lsh`` (hyperplane-sketch semantic tier, cos ≥ 0.9).
7. ``dedup_spans``        — rolling-span repetition statistics.
8. ``dedup_spans_trim``   — cross-doc repeated-span REMOVAL (the
   ExactSubstr apply step: covered tokens dropped, survivors rejoined).

MinHash math: h_i(S) = min over shingles s of xxhash64(s, seed_i); the
band trick (b bands × r rows) makes P[candidate] ≈ 1-(1-J^r)^b — with
b=8, r=2: J=0.8 → 0.98, J=0.3 → 0.53. Banding/verify thresholds chosen
for the small-vocabulary synthetic corpus; both are constructor args.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load_table

N_HASHES = 16
N_BANDS = 8  # => rows per band r = N_HASHES // N_BANDS = 2
SHINGLE_K = 3
# Operating point for the CLUSTER-edge path (lsh_verified_pairs): 32 hashes
# in 16 bands of 2 rows → P[miss a J=0.8 pair] = (1-0.8²)^16 ≈ 8e-8, and a
# 256-doc bucket cap. Closure-equality against the exact O(n²) truth was
# measured at sf0.001 AND sf0.01 (exact match, tests/test_pipeline_graph.py);
# the driver corpus is adversarially dense (one ~350-doc near-dup component),
# so these are the smallest parameters that reproduce the truth closure.
CLUSTER_N_HASHES = 32
CLUSTER_N_BANDS = 16
CLUSTER_MAX_BUCKET = 256
JACCARD_THRESHOLD = 0.5
HAMMING_MAX = 8
# Cosine near-dup threshold. The driver's synthetic embeddings are
# near-random (no engineered duplicate pairs), so a production-style 0.9
# matches zero pairs at sf0.01 and the oracle would compare empty sets;
# 0.3 yields a ~1k-pair result the hash comparison actually exercises.
COSINE_THRESHOLD = 0.3


def _tokens(col: str = "text") -> Column:
    return F.filter(F.split(F.col(col), " "), lambda w: w != "")


def _shingles(col: str = "text", k: int = SHINGLE_K) -> Column:
    """Word k-gram shingle set, built inside the array domain (no explode).

    Documents with fewer than k tokens yield an EMPTY shingle set — the
    guard matters: ``sequence(1, 0)`` would produce the descending [1, 0]
    (Spark auto-steps -1) and ``slice(w, 0, k)`` then throws."""
    w = _tokens(col)
    n = F.size(w) - (k - 1)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(w, i, k), " "))
    )


@query(
    "dedup_exact",
    oracle=(
        "SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies "
        "FROM documents GROUP BY md5(text)"
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as hash-groupBy on a content fingerprint, keeping the
    smallest doc_id per group (deterministic winner — ``dropDuplicates``
    keeps an arbitrary row). Grouping on md5(text) rather than raw text
    keeps shuffle rows ~16 bytes wide at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


@query(
    "dedup_exact_normalized",
    oracle=(
        "SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp, "
        "min(doc_id) AS keep_id, count(*) AS n_copies "
        "FROM documents GROUP BY 1"
    ),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a NORMALIZED content fingerprint (casefold +
    whitespace collapse + trim) — the tier between byte-exact dedup and
    MinHash: catches the re-encoded/re-wrapped/recapitalized copies that
    dominate scraped corpora without any candidate generation. Same
    16-byte-fingerprint shuffle shape as ``dedup_exact``; the
    normalization is a per-row JVM regex, zero extra passes. Collapse
    semantics (case + whitespace variants hash together, distinct content
    does not) are unit-tested on a synthetic corpus in
    tests/test_dedup_similarity.py."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.groupBy(F.md5(norm).alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    k: int = SHINGLE_K,
    carry: tuple = (),
    with_size: bool = False,
) -> DataFrame:
    """(doc_id, sig: array<long>[n_hashes]) — MinHash over the doc's
    distinct k-token shingle set, entirely in HASH SPACE and entirely in
    the ARRAY DOMAIN (shuffle-free; the signature is a pure map operation,
    the right 100 TB shape — no groupBy anywhere):

    1. Each token is string-hashed ONCE (``xxhash64``), staged as a
       projected column so downstream uses don't duplicate the pass.
    2. Shingle hashes are a rolling ``zip_with`` chain over the token-hash
       array and its k-1 shifted tails (h(h(h₁,h₂),h₃) for k=3) —
       shingle identity = the token-hash k-tuple, which equals string
       shingle identity unless 64-bit token hashes collide (P ≈
       |vocab|²/2⁶⁵; a collision perturbs one signature position).
    3. sig_i = array_min(transform(hs, h → xxhash64(i, h))) — n_hashes
       cheap long-hash passes over the (distinct'd) shingle-hash array.

    A/B at sf0.1 (5 000 docs, ~1 400 tokens/doc): 2.28 s (previous
    explode → 16 × min(string-hash) + groupBy shuffle) → 0.69 s, equal
    candidate semantics. Two formulations that LOOK equivalent are traps,
    both measured: per-seed lambdas over unprojected shingles re-evaluate
    shingle construction n_hashes× (26 s), and dynamic-index
    ``element_at`` k-gramming evaluates ~10× slower than the zip_with
    chain (5.6 s). Docs with < k tokens have an empty shingle set and are
    dropped (no signature), as before."""
    docs = _fan_out_small_input(docs)
    hw = docs.select(
        "doc_id",
        *carry,
        F.transform(_tokens(), lambda t: F.xxhash64(t)).alias("hw"),
    )
    col, sz = F.col("hw"), F.size("hw")
    chain = col
    for j in range(1, k):
        tail = F.slice(col, j + 1, F.greatest(sz - j, F.lit(0)))
        chain = F.zip_with(
            chain, tail, lambda a, b: F.when(b.isNotNull(), F.xxhash64(a, b))
        )
    sh = F.array_distinct(F.filter(chain, lambda x: x.isNotNull()))
    hs = hw.select("doc_id", *carry, sh.alias("hs")).filter(F.size("hs") > 0)
    if with_size:
        # shingle-set cardinality rides along for the PPJoin size bound in
        # lsh_candidate_pairs (size_ratio). Opt-in: pay for it only where
        # the size distribution actually varies relative to the verify
        # threshold (see minhash_lsh_pairs for the measured negative).
        hs = hs.withColumn("n", F.size("hs"))
        carry = carry + ("n",)
    return _sig_from_hash_sets(hs, n_hashes, carry=carry)


def _signatures_of_sets(
    sets: DataFrame, n_hashes: int, carry: tuple = ()
) -> DataFrame:
    """(doc_id, elems: array<string>) → (doc_id, sig: array<long>): hash
    each element string once (staged projection), then the shared
    array-domain min pass. Empty sets yield no signature row (they cannot
    be near-dup candidates), matching the historical explode semantics."""
    hs = sets.filter(F.size("elems") > 0).select(
        "doc_id",
        *carry,
        F.transform("elems", lambda s: F.xxhash64(s)).alias("hs"),
    )
    return _sig_from_hash_sets(hs, n_hashes, carry=carry)


def _sig_from_hash_sets(
    hs: DataFrame, n_hashes: int, carry: tuple = ()
) -> DataFrame:
    """(doc_id, hs: array<long>) → (doc_id, sig: array<long>[n_hashes]);
    sig_i = min over the set of xxhash64(i, element hash). Pure per-row
    array expressions — no explode, no shuffle; the i-th pass re-keys the
    already-hashed elements with a cheap fixed-width hash, the standard
    one-hash-k-rekeys MinHash construction.

    The seed is bound through a SINGLE-parameter lambda factory: a
    two-parameter lambda (e.g. ``lambda h, i=i``) is introspected by
    PySpark as the (element, index) form, so the array INDEX silently
    shadows the captured seed and every signature position evaluates the
    same function — measured as sig-match 0.09 vs true J 0.76 before the
    property test below caught it (tests/test_dedup_similarity.py)."""

    return hs.select(
        "doc_id", *carry, minhash_sig_column("hs", n_hashes).alias("sig")
    )


def minhash_sig_column(hs_col: str, n_hashes: int = N_HASHES) -> Column:
    """Column form of the signature: array<long>[n_hashes] from an
    element-hash array column — reusable wherever the hash set must ride
    along with other columns (e.g. the streaming gate's probe frame)."""

    def rekey(i: int):
        return lambda h: F.xxhash64(F.lit(i), h)

    return F.array(
        *[F.array_min(F.transform(hs_col, rekey(i))) for i in range(n_hashes)]
    )


def _fan_out_small_input(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the scan is smaller than one split per core —
    a small single-file input otherwise runs the whole expensive map side
    (shingling, hashing) in one task. Measured: the sf0.1 documents parquet
    is 1 split, serializing ~1.5s of shingle construction. At 100 TB the
    input has thousands of splits and this is a no-op (no shuffle added).

    Sizing uses ``inputFiles()`` (driver-side file listing, no job) rather
    than ``df.rdd.getNumPartitions()`` — the RDD conversion forced a full
    plan re-analysis per call (VERDICT r03 minor 4). Files undercount
    splits (one big file = many splits), so the check errs toward adding a
    repartition for medium single-file inputs — correct-direction: the
    shuffle it adds is one row-pass, the skew it prevents is a full
    single-thread map stage. Inputs with no file provenance (in-memory
    test DataFrames) count as 0 files and fan out."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # provenance unavailable — treat as small
        n_files = 0
    if n_files < cores:
        return df.repartition(cores)
    return df


# Hard ceiling on the pair product any EXACT-truth arm may compare
# (VERDICT r08 item 6). The O(n²) truth relations in this module are
# sf-bounded VERIFIERS — the verdict side of a key, never the production
# path (that is always the banded/LSH listing). The guard turns a
# mistaken production-scale invocation into an immediate named error
# instead of a quadratic job. 1e8 pairs ≈ sf1-scale documents (~50k
# docs²) — an order of magnitude above every driver/test corpus, two
# below anything production.
TRUTH_ARM_MAX_PAIRS = 100_000_000


def _assert_truth_arm_scale(n_left: int, n_right: int, what: str) -> None:
    """Refuse to run an exact all-pairs truth arm past test scale."""
    if n_left * n_right > TRUTH_ARM_MAX_PAIRS:
        raise ValueError(
            f"{what}: exact-truth arm would compare {n_left}x{n_right} "
            f"pairs (> cap {TRUTH_ARM_MAX_PAIRS}). This arm is an "
            "sf-bounded verifier; at scale run the banded/LSH production "
            "listing instead."
        )


# Cap on docs considered per LSH bucket: a degenerate bucket (e.g. empty
# shingle sets all hashing identically) would otherwise emit O(bucket²)
# pairs. Capped buckets keep their MAX_BUCKET smallest doc_ids — truncation
# is deterministic, and true near-dup clusters that large are found via
# transitive pairs among the kept members.
MAX_BUCKET = 64
# Over-cap bucket members are NOT dropped: every bucket member additionally
# pairs with its NEIGHBOR_W successors in rotated-signature sort order
# (sketch sorting à la Broder — near-dups agree on ~J of their signature
# positions, so they sort adjacently; each band rotates the signature by its
# own offset, giving n_bands quasi-independent orderings). Linear cost via a
# window lead(), sort-based and spillable — no giant arrays, survives a
# million-doc degenerate bucket. Measured at sf0.1 (round 2): one ~3.9k-doc
# colliding bucket overflowed the 256 cap; pure truncation lost all pairs
# for 422 docs (closure diverged on 604), random-anchor probing still left
# ~36 docs whose ONLY near-dup partner was also over-cap, sketch-sort
# neighbors reduced the divergence to the noise documented in ROUND2_NOTES.
NEIGHBOR_W = 4
# Rotated-signature prefix length used as the neighbor sort key: enough
# positions to discriminate within a bucket (the band's own r positions are
# constant there) while keeping the banded shuffle row narrow at scale.
NEIGHBOR_SORT_PREFIX = 16


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_bands: int = N_BANDS,
    n_hashes: int = N_HASHES,
    max_bucket: int = MAX_BUCKET,
    sort_prefix: int = NEIGHBOR_SORT_PREFIX,
    dedupe: bool = True,
    size_ratio: float | None = None,
) -> DataFrame:
    """Band the signatures and emit unordered candidate pairs (a < b).
    ``dedupe=False`` skips the final distinct, leaving cross-band
    duplicates for the caller's own downstream distinct to absorb.

    ``size_ratio`` (requires a set-size column ``n`` on ``sigs``) applies
    the EXACT length filter of the similarity-join literature (PPJoin's
    size bound): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so J ≥ t is
    impossible unless min·1 ≥ t·max — pairs outside the band are dropped
    INSIDE the bucket enumeration, before they are ever emitted. Provably
    zero recall loss at verify threshold t (measured at sf0.1 cluster
    params: −50% candidates, 1.31 M → 0.65 M — the corpus's mid-J mass is
    largely cross-size).
    Measured NEGATIVE at sf0.1 cluster params (interleaved A/B: 5.0 s vs
    10.0 s end-to-end): the duplicated candidates cost ~2× through the
    per-pair verify join, far more than the 16-byte-row distinct saves —
    keep the default unless the verify stage disappears entirely.

    Shape: explode each doc into n_bands (band_id, band_hash) keys, then
    ONE groupBy on the band key collects each bucket's doc list; pairs are
    enumerated inside the bucket array (i<j nested transform) and exploded.
    Compared to a banded self-join this computes the signature subtree once
    (a self-join evaluates it per side) and gives a natural place for the
    bucket-size skew cap — the all-pairs blowup of a degenerate bucket is
    bounded at MAX_BUCKET² locally, never at join time.

    Bucket members beyond the cap are covered by a second, linear candidate
    source: sketch-sort neighbors. Each member pairs with its NEIGHBOR_W
    successors in rotated-signature order within the bucket (window lead(),
    sort-based/spillable — works on a bucket of any size). Near-dup pairs
    agree on ~J of their signature positions, so they sort adjacently; the
    per-band rotation gives n_bands quasi-independent orderings, so a true
    pair both of whose docs are over-cap in every shared bucket still
    surfaces (measured at sf0.1 — see ROUND2_NOTES.md)."""
    if n_hashes % n_bands != 0:
        raise ValueError(f"n_hashes={n_hashes} not divisible by n_bands={n_bands}")
    r = n_hashes // n_bands
    # SIGS is the materialization point (r08 — flipped from the historical
    # banded checkpoint): the signature relation is N rows × n_hashes
    # longs, while the banded explode is N × n_bands rows — checkpointing
    # the COMPACT side and re-deriving the explode per consumer (three
    # potential consumers: bucket groupBy, over-cap size aggregate, and
    # the rot-bearing over-cap recovery stream) moves ~n_bands× fewer
    # bytes through storage, and the re-derives are pure map passes off
    # the checkpoint (explode + r-value hash), never a recompute of the
    # expensive shingle/tokenize subtree beneath sigs.
    # ONE transform over a band-index sequence, not n_bands hand-unrolled
    # struct literals: the unrolled form was n_bands × ~7 Column objects —
    # ~700 py4j round-trips PER CALL at 96 bands, profiled as ~1.5 s of
    # pure driver-side plan construction — and its per-band rot used
    # slice(concat(slice, slice)) which copies O(n_hashes) elements per
    # band per row. Here the expression tree is O(r + sort_prefix) nodes
    # regardless of n_bands, element_at reads exactly the positions needed,
    # and band_hash hashes the r values directly (multi-arg xxhash64, no
    # array→string cast). rot values are position-identical to the old
    # formulation (rotated prefix starting at the band's own slice);
    # band_hash values differ but bucket MEMBERSHIP is unchanged — docs
    # sharing the band's r signature values land together under either
    # formulation (hash collisions across distinct values merge buckets:
    # harmless extra candidates at 2⁻⁶⁴ odds).
    p = min(sort_prefix, n_hashes)

    def band_struct(b: Column, with_rot: bool) -> Column:
        base = b * r
        fields = [
            b.cast("int").alias("band_id"),
            F.xxhash64(
                *[F.element_at("sig", (base + F.lit(i + 1)).cast("int")) for i in range(r)]
            ).alias("band_hash"),
        ]
        if with_rot:
            # Band-rotated sort key for sketch-sort neighbors. Starts at
            # the band's own slice (constant within a bucket — harmless)
            # and wraps; prefix-truncated to keep the shuffled row narrow.
            fields.append(
                F.array(
                    *[
                        F.element_at(
                            "sig",
                            (F.pmod(base + F.lit(i), F.lit(n_hashes)) + 1).cast("int"),
                        )
                        for i in range(p)
                    ]
                ).alias("rot")
            )
        return F.struct(*fields)

    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: band_struct(b, False),
    )
    size_cols = ["n"] if size_ratio is not None else []
    sigs = sigs.localCheckpoint()
    # The main banded stream is NARROW — (doc_id[, n], band_id, band_hash),
    # no rot (r08, the measured x100 fix): rot is 16 longs per row and
    # exists ONLY for over-cap sketch-sort recovery, yet it used to ride
    # through a full-stream checkpoint and the count-window shuffle+SORT of
    # EVERY banded row — ~4 GB of state at 1.5 M docs × 16 bands in one
    # shared local[32] heap, profiled (tools/stage_profile.py) as the heart
    # of the 16.6×-for-10×-data candidates stage. The rot-bearing stream is
    # re-derived below only for buckets that actually overflow.
    banded = sigs.select(
        "doc_id", *size_cols, F.explode(bands).alias("band")
    ).select("doc_id", *size_cols, "band.band_id", "band.band_hash")
    member = (
        F.struct("doc_id", "n") if size_ratio is not None else F.col("doc_id")
    )
    buckets = banded.groupBy("band_id", "band_hash").agg(
        # struct sort orders by the first field (doc_id), so the cap keeps
        # the same "smallest doc_ids" prefix in both shapes
        F.slice(F.array_sort(F.collect_list(member)), 1, max_bucket).alias(
            "docs"
        )
    )
    # Deduplicate bucket MEMBERSHIP LISTS before pair enumeration: docs
    # with identical signatures (exact/near-exact duplicate families — the
    # bulk of a scraped corpus) produce the SAME capped bucket in every
    # band, so enumerating per (band_id, band_hash) emits the same
    # O(cap²) pairs n_bands times and leaves the final distinct a stream
    # n_bands× larger than its output (measured at sf0.1 cluster params:
    # ~20M pre-distinct rows for 1.27M unique pairs — the dominant
    # candidate cost). Distinct-ing the docs arrays first shuffles one
    # bounded row per bucket (≤ max_bucket longs) and provably preserves
    # the candidate SET (the pair stream it feeds is order-insensitive
    # within a bucket and the final distinct is unchanged).
    if size_ratio is not None:
        # exact size bound applied INSIDE the enumeration: incompatible
        # pairs are never emitted (the -1e-9 absorbs float rounding at
        # exact-ratio boundaries, e.g. 0.8*25 > 20 in binary floating
        # point — erring toward keeping is always recall-safe)
        pairs = F.flatten(
            F.transform(
                F.col("docs"),
                lambda a, i: F.transform(
                    F.filter(
                        F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                        lambda b: F.least(a["n"], b["n"]).cast("double")
                        >= F.lit(size_ratio) * F.greatest(a["n"], b["n"])
                        - F.lit(1e-9),
                    ),
                    lambda b: F.struct(
                        a["doc_id"].alias("doc_a"), b["doc_id"].alias("doc_b")
                    ),
                ),
            )
        )
    else:
        pairs = F.flatten(
            F.transform(
                F.col("docs"),
                lambda a, i: F.transform(
                    F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                    lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
                ),
            )
        )
    core = (
        buckets.filter(F.size("docs") > 1)
        .select("docs")
        .distinct()
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    # Over-cap keys from a PARTIAL-AGGREGABLE count over the narrow
    # checkpoint — not a whole-partition count window, which exchanged +
    # SORTED every banded row just to learn bucket sizes (r08; the sort of
    # the full rot-bearing stream was the dominant candidates-stage cost
    # at the x100 decade). Map-side combine collapses this to one row per
    # (partition, bucket) before the exchange.
    overcap_keys = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") > max_bucket)
        .select("band_id", "band_hash")
    )
    # The rot-bearing stream is re-derived ONLY for over-cap buckets: a
    # map pass off the sigs checkpoint, executed at all only when the
    # overcap_keys AQE stage materializes non-empty (empty-relation
    # propagation prunes it otherwise — see _overcap_neighbor_pairs).
    banded_wide = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: band_struct(b, True),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash", "band.rot")
    # Tie-break by a BAND-SEEDED hash of doc_id, not doc_id itself: docs
    # with equal sort prefixes (e.g. signature-identical groups) form tie
    # blocks, and a global doc_id tie-break would order every band's block
    # identically — the band fan-out would add zero diversity inside blocks
    # (measured at sf0.1: a 32/32-identical-signature pair colliding in all
    # 16 bands was still missed under doc_id tie-break). A per-band shuffle
    # gives each band an independent 2W-window shot at every tie-block pair.
    neighbors = _overcap_neighbor_pairs(
        banded_wide,
        part_keys=["band_id", "band_hash"],
        order_cols=[F.col("rot"), F.xxhash64("doc_id", "band_id")],
        max_bucket=max_bucket,
        overcap_keys=overcap_keys,
    )
    out = core.union(neighbors)
    return out.distinct() if dedupe else out


def _overcap_neighbor_pairs(
    df: DataFrame,
    part_keys: list,
    order_cols: list,
    carry: tuple = (),
    max_bucket: int = MAX_BUCKET,
    n_neighbors: int = NEIGHBOR_W,
    overcap_keys: DataFrame | None = None,
) -> DataFrame:
    """Shared over-cap recovery for capped-bucket LSH (MinHash bands AND
    SimHash chunks): chain every bucket member to its ``n_neighbors``
    successors in ``order_cols`` order (a locality-preserving sketch sort
    plus a partition-seeded tie-break), keeping ONLY pairs where at least
    one end sits beyond ``max_bucket`` in doc_id rank — kept×kept chains
    are redundant by construction with the capped core enumeration, so the
    filter provably does not change the candidate set while cutting the
    neighbor volume from O(N · buckets/doc · W) to O(tail · W).

    Over-cap detection (r08 — the measured x100 fix, tools/
    stage_profile.py): a PARTIAL-AGGREGABLE groupBy count (``overcap_
    keys`` — callers that already aggregated bucket sizes pass theirs),
    NOT the previous whole-partition count window, which exchanged AND
    sorted every banded row of the corpus just to learn bucket sizes —
    the dominant candidates-stage cost at the 1.5 M-doc decade tier.
    When no bucket overflows — the common case for a band key space
    sized to the corpus — the recovery subtree is skipped at RUNTIME:
    overcap_keys is its own AQE query stage, and an empty stage
    propagates through the inner join below, so neither ``df`` (the
    re-derived wide stream) nor the two sorts ever run (r11: this
    replaced an eager limit(1).count() driver probe that cost one full
    banded-aggregation job per LSH invocation). With overflow, ``df``
    is joined against the over-cap key set (AQE broadcasts it when
    small) and only those buckets pay the two sorts + lead/explode
    machinery. Dropping whole ≤cap buckets is exactly
    result-preserving: the output filter keeps only pairs with one end
    beyond ``max_bucket`` in doc_id rank, and lead() pairs never cross
    buckets.

    ``df`` needs columns ``doc_id``, ``part_keys``, and whatever
    ``order_cols``/``carry`` reference. Output: (doc_a, doc_b) with
    doc_a < doc_b, plus ``{c}_a``/``{c}_b`` for every carried column."""
    from pyspark.sql.window import Window

    if overcap_keys is None:
        overcap_keys = (
            df.groupBy(*part_keys)
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .select(*part_keys)
        )
    # NO eager existence probe (optimization r11): the previous
    # ``overcap_keys.limit(1).count() == 0`` early-exit ran one full
    # banded-aggregation JOB at query-construction time, per invocation,
    # for every LSH caller — just to decide whether to include this
    # subtree. The decision now happens at RUNTIME for free: overcap_keys
    # sits behind an exchange, so it is its own AQE query stage, and when
    # it materializes EMPTY, AQE's empty-relation propagation replaces
    # the inner join below with an empty relation and never evaluates
    # ``df`` (the deliberately re-derived wide stream) or the two window
    # sorts — the same skip the probe bought, without the extra job.
    # With overflow present the aggregate is computed once inside the
    # main job instead of once in the probe and once in the plan.
    # Verified output-identical on both regimes (overflowing cluster
    # buckets at sf0.1; overflow-free rhp bands) — see
    # OPTIMIZATION_r11.md.
    df = df.join(overcap_keys, part_keys)

    w_rank = Window.partitionBy(*part_keys).orderBy("doc_id")
    w_sort = Window.partitionBy(*part_keys).orderBy(*order_cols)
    me = F.struct(
        F.col("doc_id").alias("id"),
        *[F.col(c).alias(c) for c in carry],
        (F.row_number().over(w_rank) > max_bucket).alias("tail"),
    )
    nbr = df.withColumn("m", me).select(
        "m",
        *[F.lead("m", k).over(w_sort).alias(f"n{k}") for k in range(1, n_neighbors + 1)],
    )
    a_is_m = F.col("m.id") < F.col("o.id")

    def pick(field: str, first: bool):
        lo, hi = ("m", "o") if first else ("o", "m")
        return F.when(a_is_m, F.col(f"{lo}.{field}")).otherwise(F.col(f"{hi}.{field}"))

    out = [pick("id", True).alias("doc_a"), pick("id", False).alias("doc_b")]
    for c in carry:
        out.append(pick(c, True).alias(f"{c}_a"))
        out.append(pick(c, False).alias(f"{c}_b"))
    return (
        nbr.select(
            "m",
            F.explode(
                F.array(*[F.col(f"n{k}") for k in range(1, n_neighbors + 1)])
            ).alias("o"),
        )
        .filter(F.col("o").isNotNull() & (F.col("m.tail") | F.col("o.tail")))
        .select(*out)
    )


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, sigs: DataFrame | None = None
) -> DataFrame:
    """Near-dup pair LISTING: MinHash-LSH candidates verified by exact
    shingle Jaccard ≥ 0.5. Raw (unregistered) form — the driver-checked
    key is the ``dedup_minhash_lsh`` verdict below, which re-proves this
    listing against the exact all-pairs truth every round. Correctness vs
    brute force is also asserted in tests/test_dedup.py (recall on
    high-similarity pairs).

    ``sigs`` lets a caller supply a PERSISTED signature table (the
    production two-stage layout — ``dedup_minhash_persisted``); None
    computes signatures in-query (the fused form)."""
    docs = load_table(spark, sf_dir, "documents")
    if sigs is None:
        sigs = minhash_signatures(docs)
    # NO broadcast hint on the candidate list: it grows O(N · bands) with
    # the corpus, so a hard-coded F.broadcast is a driver-OOM at 100×
    # (VERDICT r03). AQE promotes the join to broadcast at runtime when the
    # list actually fits (same pattern as lsh_verified_pairs below).
    # NO size_ratio here (A/B'd NEGATIVE at sf0.1: 2.7 → 4.1 s warm, same
    # 256 pairs): shingle counts are near-uniform on this corpus, so the
    # J ≥ 0.5 bound (>2× size gap) cuts almost nothing while the struct-
    # member bucket machinery costs real time. The bound pays exactly
    # where sizes vary relative to the threshold — the t=0.8 cluster path
    # (lsh_verified_pairs), where it halves candidates.
    cands = lsh_candidate_pairs(sigs)
    # Materialized shingle table: both verify sides consume it; without
    # the checkpoint each side re-scans the corpus and recomputes the
    # shingling (2 extra scans). Production equivalent: the shingle table
    # written once between signature and verify stages.
    # HASH DOMAIN (optimization r11, guide §2.3): shingles are xxhash64'd
    # once here, so the checkpoint stores 8-byte longs and the per-pair
    # verify intersects longs instead of ~25-byte strings — the same
    # contract as _jaccard_verify's hashed-token intersect (|A∩B| on
    # hashed DISTINCT shingles equals |A∩B| on the shingles unless two
    # distinct shingles collide in 64 bits, P ≈ |shingle vocab|²/2⁶⁵).
    # Interleaved A/B at sf0.1: wall-neutral HERE (3.05 → 2.95 s — the
    # J ≥ 0.5 candidate volume is only ~1k pairs, so verify is not this
    # key's bottleneck, unlike dedup_containment's 0.5 M-candidate
    # verify where the same move halved the key); kept for the ~5-10×
    # narrower checkpointed shingle table — at 100 TB that table is a
    # persisted artifact and its width is the stage's shuffle/storage
    # footprint.
    hsh = F.transform(_shingles(), lambda g: F.xxhash64(g))
    sh = (
        _fan_out_small_input(docs)
        .select("doc_id", hsh.alias("sh"), F.size(hsh).alias("n"))
        .localCheckpoint()
    )
    a = sh.alias("a")
    b = sh.alias("b")
    # |A∪B| = |A|+|B|−|A∩B| — exact (shingle sets are array_distinct'd in
    # _shingles), dropping the array_union pass from the per-candidate
    # verify. NULL (dropped by the >= filter) when both sets are empty —
    # ANSI mode (Spark 4 default) would otherwise raise DIVIDE_BY_ZERO.
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a.n") + F.col("b.n") - inter
    jac = F.when(union > 0, inter.cast("double") / union)
    return (
        cands.join(a, cands.doc_a == F.col("a.doc_id"))
        .join(b, cands.doc_b == F.col("b.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# Exact shingle-Jaccard truth for the MinHash verdict, as oracle SQL: the
# same k=3 word shingles (_shingles) built via generate_series, then the
# O(n²) pair Jaccard — test-scale only, like every truth relation here.
_SHINGLE_TRUTH_SQL = (
    "WITH toks AS (SELECT doc_id, "
    "  list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents), "
    "sh AS (SELECT doc_id, "
    f"  array_to_string(t[i:i+{SHINGLE_K - 1}], ' ') AS s "
    f"  FROM toks, LATERAL unnest(generate_series(1, len(t) - {SHINGLE_K - 1}))"
    f" AS g(i) WHERE len(t) >= {SHINGLE_K}), "
    "sets AS (SELECT doc_id, list(DISTINCT s) AS sh FROM sh GROUP BY doc_id), "
    "truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) "
    "  / NULLIF(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 0)"
    "  AS jaccard "
    "  FROM sets a JOIN sets b ON a.doc_id < b.doc_id) "
    f"SELECT * FROM truth WHERE jaccard >= {JACCARD_THRESHOLD}"
)

# Recall floor for the verdict's high-similarity band: at J ≥ 0.8 the band
# math gives per-pair P[miss] = (1-J²)^8 ≤ 2.8e-4 (16 hashes, 8 bands of 2),
# so the LSH must find every such truth pair on the fixed driver corpus.
VERDICT_RECALL_J = 0.8


def _minhash_verdict(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """One-row verdict re-proving the ``minhash_lsh_pairs`` listing against
    the exact all-pairs shingle-Jaccard truth (the simhash/IVF verdict
    pattern — VERDICT r03 item 4): the truth side is computed in-query
    (O(n²), test-scale — the verdict is the verifier, not the production
    listing) and cross-checked value-wise by the DuckDB oracle.

    - ``n_truth``: exact count of J ≥ 0.5 pairs — the oracle recomputes it
      independently, certifying the engine's shingle/Jaccard machinery.
    - ``precision_ok``: every LSH-emitted pair is in the truth relation
      (exact verify means precision 1.0 by construction; a broken verify
      or corrupted shingle table flips this).
    - ``recall_ok``: every truth pair at J ≥ VERDICT_RECALL_J (where band
      math makes misses ~impossible) appears in the listing — a dropped
      bucket or broken over-cap recovery flips this."""
    docs = _fan_out_small_input(load_table(spark, sf_dir, "documents"))
    sets = docs.select("doc_id", _shingles().alias("sh")).withColumn(
        "n", F.size("sh")
    )
    sets = sets.localCheckpoint()  # consumed by both truth sides
    n_docs = sets.count()
    _assert_truth_arm_scale(n_docs, n_docs, "minhash verdict")
    a, b = sets.alias("a"), sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a.n") + F.col("b.n") - inter
    jac = F.when(union > 0, inter.cast("double") / union)
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .localCheckpoint()
    )
    if pairs is None:
        pairs = minhash_lsh_pairs(spark, sf_dir).localCheckpoint()
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_false = (
        pairs.join(truth, ["doc_a", "doc_b"], "left_anti")
        .agg(F.count("*").alias("n_false"))
    )
    n_missed_high = (
        truth.filter(F.col("jaccard") >= VERDICT_RECALL_J)
        .join(pairs, ["doc_a", "doc_b"], "left_anti")
        .agg(F.count("*").alias("n_missed"))
    )
    return (
        n_truth.crossJoin(n_false)
        .crossJoin(n_missed_high)
        .select(
            "n_truth",
            (F.col("n_false") == 0).alias("precision_ok"),
            (F.col("n_missed") == 0).alias("recall_ok"),
        )
    )


_MINHASH_VERDICT_ORACLE = (
    f"WITH truth AS ({_SHINGLE_TRUTH_SQL}) "
    "SELECT count(*) AS n_truth, TRUE AS precision_ok, TRUE AS recall_ok "
    "FROM truth"
)


@query("dedup_minhash_lsh", oracle=_MINHASH_VERDICT_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked verdict for the MinHash-LSH near-dup pipeline; the
    pair listing itself is ``minhash_lsh_pairs`` (see ``_minhash_verdict``
    for the three checks)."""
    return _minhash_verdict(spark, sf_dir)


@query("dedup_fuzzy", oracle=_MINHASH_VERDICT_ORACLE)
def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §2c checklist name for fuzzy (near-duplicate) dedup via
    shingle MinHash-LSH — same verdict as ``dedup_minhash_lsh``; the raw
    listing is ``minhash_lsh_pairs``."""
    return _minhash_verdict(spark, sf_dir)


def lsh_verified_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    n_hashes: int = CLUSTER_N_HASHES,
    n_bands: int = CLUSTER_N_BANDS,
    max_bucket: int = CLUSTER_MAX_BUCKET,
    docs: DataFrame | None = None,
) -> DataFrame:
    """PRODUCTION near-dup edge source for the clustering operators: the
    same pair semantics as the exact O(n²) truth (token-set Jaccard ≥
    ``threshold``, the ``dedup_ngram_jaccard`` definition) computed without
    any all-pairs join (``docs`` overrides the corpus — the incremental
    cluster maintenance path closes over a SPLIT of the table):

    1. Exact-collapse: group docs by an md5 fingerprint of their sorted
       distinct token set; same-fingerprint docs have J = 1.0 by definition,
       so each group contributes rep→member STAR edges (O(group), verified
       by construction) and only the group representative enters LSH. This
       is the standard scale move — exact dup mass (the bulk at 100 TB)
       never reaches the quadratic-ish stage.
    2. Token-set MinHash over representatives → band buckets → in-bucket
       pair enumeration (``lsh_candidate_pairs``, bucket-capped).
    3. Exact-Jaccard verify of candidates at ``threshold`` — precision 1.0
       vs the truth by construction; recall set by (n_hashes, n_bands,
       max_bucket), closure-equality-tested at the defaults.

    Empty-token docs are excluded (their truth Jaccard is NULL — never a
    pair), so md5('') cannot weld unrelated empty docs together.
    """
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    docs = _fan_out_small_input(docs)
    toks = docs.select(
        "doc_id", F.array_sort(F.array_distinct(_tokens())).alias("toks")
    ).filter(F.size("toks") > 0)
    groups = toks.groupBy(F.md5(F.array_join("toks", "\x01")).alias("fp")).agg(
        F.min("doc_id").alias("rep"),
        F.collect_list("doc_id").alias("members"),
        F.first("toks").alias("toks"),
    )
    # Materialize the collapsed-representative table ONCE: four downstream
    # subtrees consume it (star edges, signatures, both verify sides) and
    # without this the lineage re-reads + re-tokenizes the corpus per
    # subtree — the plan showed 8 parquet scans. This is the in-session
    # form of persisting the rep/shingle table, which is exactly what a
    # 100 TB pipeline writes out between the collapse and LSH stages.
    groups = groups.localCheckpoint()
    star = groups.select(
        F.col("rep").alias("doc_a"), F.explode("members").alias("doc_b")
    ).filter(F.col("doc_a") != F.col("doc_b"))

    reps = groups.select(
        F.col("rep").alias("doc_id"), "toks", F.size("toks").alias("n")
    )
    sigs = _signatures_of_sets(
        reps.withColumnRenamed("toks", "elems"), n_hashes, carry=("n",)
    )
    # Verify representation is ADAPTIVE on vocabulary size (one bounded
    # limit(64) driver probe): when the rep vocabulary fits in 63 bits,
    # each token set dictionary-encodes into ONE BIGINT and the per-pair
    # |A∩B| / |A∪B| are two bit_count() calls in whole-stage codegen —
    # EXACT set semantics with no 64-bit-collision caveat at all, and
    # ~3× cheaper than per-element array intersection. Natural-language
    # corpora blow past 63 distinct tokens and take the general path
    # (the bitmask form generalizes to k longs for V ≤ 64k, but the
    # fallback already scales, so one word is all we keep).
    small_vocab = _small_vocab(reps)
    bitmask_verify = small_vocab is not None
    # size_ratio=threshold: the exact PPJoin length bound (J ≤ min/max)
    # drops cross-size candidates inside the bucket enumeration — measured
    # −50% candidates at sf0.1 with provably zero recall loss at t=0.8.
    # dedupe flips with the verify cost (A/B'd at sf0.1): bit-op verify is
    # so cheap that pushing ~1.1 M cross-band duplicate candidates through
    # it and distinct-ing the VERIFIED set beats a 0.65 M-row pre-verify
    # distinct (−1.7 s); with the heavier array verify the r04 measurement
    # stands and the pre-verify distinct stays.
    cands = lsh_candidate_pairs(
        sigs,
        n_bands=n_bands,
        n_hashes=n_hashes,
        max_bucket=max_bucket,
        size_ratio=threshold,
        dedupe=False,
    )
    if not bitmask_verify:
        # ONE exchange serves both the cross-band dedupe and verify join 1
        # (r08, second-decade fix): hash-partitioning by doc_a ALONE
        # satisfies the distinct's (doc_a, doc_b) clustering requirement
        # (identical pairs share doc_a — Spark's subset rule; plan-checked:
        # partial+final HashAggregate with no second exchange) and is
        # exactly the distribution verify join 1 requires, so the
        # (a,b)-keyed distinct exchange of the ~10-bands-per-pair
        # candidate stream disappears. The bitmask path keeps its
        # measured no-pre-distinct economics (bit-op verify is cheaper
        # than the dedupe, r04 A/B).
        cands = cands.repartition("doc_a").distinct()
    verified = _jaccard_verify(reps, cands, threshold, small_vocab)
    out = star.union(verified)
    # On the array-verify path the final distinct is PROVABLY redundant —
    # and one less 35 M-row exchange at the x100 decade (r08): star and
    # verified are DISJOINT (a star edge's doc_b is a non-rep member,
    # and only reps appear in candidates), star is unique by construction
    # (one row per (group, member)), and verified is unique because the
    # pre-verify distinct made cands unique and the verify joins are 1:1
    # on a unique-keyed reps relation. The bitmask path skips the
    # pre-verify distinct (measured cheaper), so ITS duplicates are
    # collapsed here as before.
    return out.distinct() if bitmask_verify else out


def incremental_cluster_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    n_hashes: int = CLUSTER_N_HASHES,
    n_bands: int = CLUSTER_N_BANDS,
    max_bucket: int = CLUSTER_MAX_BUCKET,
) -> DataFrame:
    """BATCH-INCIDENT near-dup edges for incremental cluster maintenance
    (graphdedup.dedup_clusters_incremental): every verified pair with at
    least one endpoint in the incoming batch (doc_id % INCREMENTAL_MOD ==
    0), at the same token-set-Jaccard ≥ ``threshold`` semantics as
    ``lsh_verified_pairs`` — the shared ``_jaccard_verify`` makes drift
    impossible.

    Shape (the fuzzy_gate_flags production pattern, lifted from gate flags
    to edge emission): the STANDING corpus keeps a banded index of its
    collapsed representatives' signatures (band key → capped member list —
    persisted and bucketed by band key at 100 TB, so per-batch probes join
    shuffle-free on the big side); the batch computes signatures (pure
    map), probes the index for batch↔standing candidates, runs
    ``lsh_candidate_pairs`` over itself for batch↔batch candidates, and
    exact-verifies both streams. Per-batch work is O(batch × bands +
    candidates) — the standing corpus is scanned only to BUILD the index,
    never per batch. Standing-member edges inside a fingerprint group are
    NOT re-emitted here: they live in the standing cluster map the caller
    merges with (its closure already contains the collapse stars)."""
    d = _fan_out_small_input(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.array_sort(F.array_distinct(_tokens())).alias("toks")
    ).filter(F.size("toks") > 0)
    standing = toks.filter(F.col("doc_id") % INCREMENTAL_MOD != 0)
    batch = toks.filter(F.col("doc_id") % INCREMENTAL_MOD == 0)

    groups = (
        standing.groupBy(F.md5(F.array_join("toks", "\x01")).alias("fp"))
        .agg(F.min("doc_id").alias("rep"), F.first("toks").alias("toks"))
        .localCheckpoint()
    )
    sreps = groups.select(
        F.col("rep").alias("doc_id"), "toks", F.size("toks").alias("n")
    )
    ssigs = _signatures_of_sets(
        sreps.withColumnRenamed("toks", "elems"), n_hashes, carry=("n",)
    )
    index = (
        banded_keys(ssigs, n_bands, n_hashes, carry=("n",))
        .groupBy("band_id", "band_hash")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("doc_id", "n"))),
                1,
                max_bucket,
            ).alias("docs")
        )
    )
    brel = batch.withColumn("n", F.size("toks"))
    bsigs = _signatures_of_sets(
        brel.withColumnRenamed("toks", "elems"), n_hashes, carry=("n",)
    ).localCheckpoint()  # two consumers: the probe stream + batch↔batch
    probes = banded_keys(bsigs, n_bands, n_hashes, carry=("n",)).select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
        "band_id", "band_hash",
    )
    cross = (
        probes.join(index, ["band_id", "band_hash"])
        .select("doc_a", "na", F.explode("docs").alias("m"))
        # the PPJoin size bound, post-explode (exact; the −1e-9 absorbs
        # float rounding at exact-ratio boundaries, erring toward keep)
        .filter(
            F.least("na", F.col("m.n")).cast("double")
            >= F.lit(threshold) * F.greatest("na", F.col("m.n")) - F.lit(1e-9)
        )
        .select("doc_a", F.col("m.doc_id").alias("doc_b"))
        .distinct()
    )
    relation = sreps.unionByName(brel.select("doc_id", "toks", "n"))
    # same dedupe economics as lsh_verified_pairs: skip the pre-verify
    # distinct only when the verify is bit-ops
    small_vocab = _small_vocab(relation)
    within = lsh_candidate_pairs(
        bsigs,
        n_bands=n_bands,
        n_hashes=n_hashes,
        max_bucket=max_bucket,
        size_ratio=threshold,
        dedupe=small_vocab is None,
    )
    verified = _jaccard_verify(
        relation, cross.unionByName(within), threshold, small_vocab
    )
    return verified.distinct()


def _small_vocab(relation: DataFrame) -> list | None:
    """The ≤63-token vocabulary of a (doc_id, toks, n) relation, or None
    when it doesn't fit one long — ONE bounded limit(64) driver probe."""
    probe = (
        relation.select(F.explode("toks").alias("tok"))
        .distinct()
        .limit(64)
        .collect()
    )
    return sorted(r.tok for r in probe) if len(probe) <= 63 else None


def _jaccard_verify(
    relation: DataFrame,
    cands: DataFrame,
    threshold: float,
    small_vocab: list | None,
) -> DataFrame:
    """Exact token-set Jaccard ≥ threshold filter of a candidate pair list
    against a (doc_id, toks array_distinct'd, n) relation. Representation
    per ``small_vocab`` (see lsh_verified_pairs): one-BIGINT dictionary
    bitmask when the vocabulary fits 63 bits, hashed-long arrays otherwise.
    Shared by the full edge source and the incremental maintenance path so
    their pair semantics cannot drift."""
    if small_vocab is not None:
        tok_bit = F.create_map(
            *[
                c
                for i, t in enumerate(small_vocab)
                for c in (F.lit(t), F.lit(1 << i))  # token → its bit, as a long
            ]
        )
        mask = F.aggregate(
            F.transform("toks", lambda t: F.element_at(tok_bit, t)),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(x),
        )
        repv = relation.select("doc_id", mask.alias("mk"))
        a, b = repv.alias("a"), repv.alias("b")
        inter = F.bit_count(F.col("a.mk").bitwiseAND(F.col("b.mk")))
        union = F.bit_count(F.col("a.mk").bitwiseOR(F.col("b.mk")))
    else:
        # Verify intersects 64-bit TOKEN HASHES, not token strings: the
        # verify join is the hot loop and per-element long compares
        # measured 2.5× faster than string compares with identical output
        # (A/B'd: same 116,472 pairs). |A∩B| on xxhash64'd distinct tokens
        # equals |A∩B| on the tokens themselves unless two DISTINCT
        # vocabulary tokens collide in 64 bits — P ≈ |vocab|²/2⁶⁵, and a
        # collision only shifts one pair's Jaccard by ~1/|A∪B|.
        # |A∪B| = |A|+|B|−|A∩B| — EXACT because toks is array_distinct'd.
        reph = relation.select(
            "doc_id",
            F.transform("toks", lambda t: F.xxhash64(t)).alias("th"),
            "n",
        )
        a, b = reph.alias("a"), reph.alias("b")
        inter = F.size(F.array_intersect(F.col("a.th"), F.col("b.th")))
        union = F.col("a.n") + F.col("b.n") - inter
    jac = F.when(union > 0, inter.cast("double") / union)
    return (
        cands.join(a, cands.doc_a == F.col("a.doc_id"))
        .join(b, cands.doc_b == F.col("b.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b")
    )


def simhash_column(hashes: Column, n_bits: int = 64) -> Column:
    """64-bit SimHash from an array of 64-bit token hashes: bit b of the
    fingerprint is the sign of Σ_tokens (±1 per token's bit b). Pure array
    expressions; the OR-fold avoids ANSI overflow on bit 63."""
    def bit_of(b: int) -> Column:
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        return F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )

    out = F.lit(0).cast("long")
    for b in range(n_bits):
        out = out.bitwiseOR(bit_of(b))
    return out


def simhash_pairs(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """SimHash near-dup pairs: fingerprint → 4×16-bit chunk LSH (a pair
    within hamming distance 3 must share ≥1 exact chunk — pigeonhole;
    best-effort above that, verified up to HAMMING_MAX) → exact hamming
    verify ≤ HAMMING_MAX via bit_count(xor). Candidate generation is again
    a linear groupBy-shaped join on chunk keys, with the same over-cap
    recovery as the MinHash path: bucket members beyond the cap chain to
    their NEIGHBOR_W successors in fingerprint order (each chunk's shared
    bits tie out, so the varying 48 bits decide — a DIFFERENT 48 bits per
    chunk, giving four orderings; identical-fingerprint tie blocks are
    re-shuffled per chunk by a chunk-seeded hash, so the all-same-fp
    degenerate bucket — e.g. every empty doc fingerprinting to 0 — chains
    into full transitive coverage at hamming 0). ``max_bucket`` is a
    parameter so tests can force the over-cap path on a small corpus."""
    docs = _fan_out_small_input(load_table(spark, sf_dir, "documents"))
    tok_hashes = F.transform(_tokens(), lambda w: F.xxhash64(w))
    fps = docs.select("doc_id", simhash_column(tok_hashes).alias("fp"))
    # Two consumers below (bucket groupBy + neighbor window) — materialize
    # the fingerprint pass once, as in lsh_candidate_pairs.
    fps = fps.localCheckpoint()

    # Python-level loop: shiftrightunsigned requires an int literal shift,
    # so the 4 chunk extractors are unrolled rather than transform()'d.
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftrightunsigned(F.col("fp"), i * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("chunk_val"),
            )
            for i in range(4)
        ]
    )
    chunked = fps.select("doc_id", "fp", F.explode(chunks).alias("c")).select(
        "doc_id", "fp", "c.chunk_id", "c.chunk_val"
    )
    # Same bucket-capped groupBy shape as lsh_candidate_pairs: a degenerate
    # chunk value (e.g. every empty doc fingerprinting to 0) would blow up
    # O(bucket²) in a self-join; here it is bounded at max_bucket² locally.
    buckets = chunked.groupBy("chunk_id", "chunk_val").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("doc_id", "fp"))), 1, max_bucket
        ).alias("docs")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda a, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                lambda b: F.struct(
                    a.getField("doc_id").alias("doc_a"),
                    b.getField("doc_id").alias("doc_b"),
                    a.getField("fp").alias("fp_a"),
                    b.getField("fp").alias("fp_b"),
                ),
            ),
        )
    )
    core = (
        buckets.filter(F.size("docs") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.fp_a", "p.fp_b")
    )
    # Over-cap recovery (shared machinery — see _overcap_neighbor_pairs):
    # chain in fp order with a chunk-seeded tie-break; each chunk's shared
    # bits tie out so a different 48 bits decide per chunk, and pairs are
    # kept only when one end is beyond the cap.
    neighbors = _overcap_neighbor_pairs(
        chunked,
        part_keys=["chunk_id", "chunk_val"],
        order_cols=[F.col("fp"), F.xxhash64("doc_id", "chunk_id")],
        carry=("fp",),
        max_bucket=max_bucket,
    )
    pairs = core.union(neighbors).distinct()
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= HAMMING_MAX
    )


# Hamming radius inside which 4×16-bit chunk LSH is COMPLETE by pigeonhole
# (≤3 flipped bits cannot touch all 4 chunks).
PIGEONHOLE_HAMMING = 3


@query(
    "dedup_simhash",
    oracle="SELECT TRUE AS pigeonhole_complete, TRUE AS precision_ok",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked verdict for the SimHash pipeline (r02 upgrade from
    rows-only, the approx_distinct pattern — the xxhash64-based
    fingerprints are not DuckDB-expressible, but their GUARANTEES are
    checkable in-query):

    - ``pigeonhole_complete``: every pair within PIGEONHOLE_HAMMING of
      fingerprint distance (where chunk LSH is provably complete) appears
      in ``simhash_pairs``'s output. The truth side is an all-pairs
      hamming join over the fp table — two longs per row, test-scale only
      (the verdict query is the verifier, not the production listing).
    - ``precision_ok``: every emitted pair's hamming recomputes correctly
      from the fingerprints and respects HAMMING_MAX.

    A dropped bucket, broken over-cap recovery, or corrupted fingerprint
    flips a flag → driver hash mismatch. The listing itself is
    ``simhash_pairs``."""
    docs = _fan_out_small_input(load_table(spark, sf_dir, "documents"))
    tok_hashes = F.transform(_tokens(), lambda w: F.xxhash64(w))
    fps = docs.select("doc_id", simhash_column(tok_hashes).alias("fp")).localCheckpoint()
    pairs = simhash_pairs(spark, sf_dir).localCheckpoint()

    n_docs = fps.count()
    _assert_truth_arm_scale(n_docs, n_docs, "simhash verdict")
    a, b = fps.alias("a"), fps.alias("b")
    truth_h = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    truth = a.join(
        b,
        (F.col("a.doc_id") < F.col("b.doc_id")) & (truth_h <= PIGEONHOLE_HAMMING),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    n_missing = (
        truth.join(pairs, ["doc_a", "doc_b"], "left_anti")
        .agg(F.count("*").alias("n_missing"))
    )

    fa = fps.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fpa"))
    fb = fps.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fpb"))
    recomputed = F.bit_count(F.col("fpa").bitwiseXOR(F.col("fpb")))
    n_bad = (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .filter((recomputed != F.col("hamming")) | (F.col("hamming") > HAMMING_MAX))
        .agg(F.count("*").alias("n_bad"))
    )
    return n_missing.crossJoin(n_bad).select(
        (F.col("n_missing") == 0).alias("pigeonhole_complete"),
        (F.col("n_bad") == 0).alias("precision_ok"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=(
        # NULLIF: two empty token sets give union size 0 — NULL, not a crash.
        "WITH s AS (SELECT doc_id, list_distinct(list_filter("
        "string_split(text, ' '), w -> w <> '')) AS toks FROM documents) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) "
        "/ NULLIF(len(list_distinct(list_concat(a.toks, b.toks))), 0) AS jaccard "
        "FROM s a JOIN s b ON a.doc_id < b.doc_id "
        "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) "
        "/ NULLIF(len(list_distinct(list_concat(a.toks, b.toks))), 0) >= 0.8"
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over all pairs — the oracle-checkable ground
    truth the LSH tiers are validated against. O(n²) by construction: run
    at test scale only; at 100 TB use dedup_minhash_lsh (this query exists
    precisely so the LSH recall is measurable).

    Size-ratio prefilter (result-preserving): |A∩B| ≤ min(|A|,|B|) and
    |A∪B| ≥ max(|A|,|B|), so J ≤ min/max — any pair with
    min(|A|,|B|) < t·max(|A|,|B|) cannot reach the threshold. The two
    integer comparisons sit INSIDE the (nested-loop) join condition, where
    codegen's short-circuit And rejects most pairs before the per-pair
    array_intersect/array_union ever evaluates."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", F.array_distinct(_tokens()).alias("toks")
    ).withColumn("n", F.size("toks"))
    n_docs = docs.count()  # cheap parquet count-star
    _assert_truth_arm_scale(n_docs, n_docs, "dedup_ngram_jaccard")
    a, b = s.alias("a"), s.alias("b")
    # 0.8 = this query's threshold (filter below + the oracle SQL literal),
    # NOT the module-wide JACCARD_THRESHOLD (0.5, the LSH verify point).
    ratio_ok = (F.col("a.n").cast("double") >= 0.8 * F.col("b.n")) & (
        F.col("b.n").cast("double") >= 0.8 * F.col("a.n")
    )
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    jac = F.when(
        union > 0,
        F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks"))).cast("double")
        / union,
    )
    return (
        a.join(b, (F.col("a.doc_id") < F.col("b.doc_id")) & ratio_ok)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


@query(
    "dedup_embedding",
    oracle=(
        # ::DOUBLE[] casts: DuckDB evaluates FLOAT[] cosine in float32,
        # ~1e-7 error vs our double math — above the 1e-6 rounding quantum.
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)"
        " AS cos_sim "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]"
        f"), 6) >= {COSINE_THRESHOLD}"
    ),
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine pairs at the registered threshold, executed as a
    BLOCKED GEMM rather than a theta join (the r02 plan was
    ``a.join(b, a.vec_id < b.vec_id)`` — flagged as the scale-killer).

    Why not LSH here: at t=0.3 the threshold sits INSIDE the bulk of the
    isotropic cosine distribution (measured sf0.01: pairs are continuous
    down through 0.3 — 990 at ≥0.3, 1828 more in [0.25,0.3); the bit-match
    probability of a hyperplane sketch is 0.597 at θ=72.5° vs 0.5 for a
    random pair, so ANY sketch tuned for recall→1 admits ~all pairs), and
    concentration of measure kills metric/pivot pruning the same way
    (unit 64-d vectors all sit ~√2 apart vs an ε of 1.18). Exact
    low-threshold similarity is inherently ~quadratic compute; what CAN
    scale is the execution shape. This is the Faiss/SemDeDup brute tier:
    group vectors into ``_GEMM_BLOCKS`` row-blocks, join the B×(B+1)/2
    block pairs (a tiny broadcast join on block ids), and evaluate each
    tile as one Arrow-batched numpy matmul — O(B²) independent tasks,
    each a dense GEMM over two bounded matrices, no per-pair row shuffle.
    At 100 TB, B scales with the corpus so a tile fits an executor; the
    shuffle volume is corpus × B (block replication), not corpus².

    True NEAR-dup semantics (t≥0.9) live in ``dedup_embedding_lsh``,
    where a hyperplane sketch genuinely prunes.

    Numeric parity: tiles emit raw float64 cosines (pairwise summation;
    differs from sequential by ~1e-16 — far below the 6dp quantum, same
    argument as similarity_topk_pandas); rounding + thresholding happen in
    Spark exactly as before, so the output relation and oracle are
    unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))
    raw = _blocked_cosine_pairs(e, prefilter=COSINE_THRESHOLD - 1e-6)
    return raw.select(
        "vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim")
    ).filter(F.col("cos_sim") >= COSINE_THRESHOLD)


_GEMM_BLOCKS = 8


def _blocked_cosine_pairs(e: DataFrame, prefilter: float) -> DataFrame:
    """(vec_id, v) → (vec_a < vec_b, cos_sim: raw double ≥ ``prefilter``)
    via per-tile numpy GEMM. ``prefilter`` should sit ≥ one rounding
    quantum BELOW the caller's threshold so the caller's post-round filter
    is the semantic one. Zero-norm vectors never emit a pair (their cosine
    is undefined — NULL in the expression formulation)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def gemm_tiles(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for xr, yr, same in zip(pdf["xr"], pdf["yr"], pdf["same"]):
                if len(xr) == 0 or (not same and len(yr) == 0):
                    continue  # empty tile: shape-(0,) array breaks axis=1
                xid = np.array([r["vec_id"] for r in xr], dtype=np.int64)
                X = np.array([r["v"] for r in xr], dtype=np.float64)
                xn = np.linalg.norm(X, axis=1)
                if same:
                    yid, Y, yn = xid, X, xn
                else:
                    yid = np.array([r["vec_id"] for r in yr], dtype=np.int64)
                    Y = np.array([r["v"] for r in yr], dtype=np.float64)
                    yn = np.linalg.norm(Y, axis=1)
                ok = np.outer(xn > 0, yn > 0)
                denom = np.outer(np.where(xn > 0, xn, 1.0), np.where(yn > 0, yn, 1.0))
                S = (X @ Y.T) / denom
                lo = np.minimum.outer(xid, yid)
                hi = np.maximum.outer(xid, yid)
                mask = ok & (S >= prefilter) & (lo < hi)
                if same:
                    # keep each unordered pair once (upper triangle by id)
                    mask &= np.less.outer(xid, yid)
                ia, ib = np.nonzero(mask)
                out_a.extend(lo[ia, ib])
                out_b.extend(hi[ia, ib])
                out_c.extend(S[ia, ib])
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cos_sim": out_c})

    blocks = e.groupBy((F.pmod(F.xxhash64("vec_id"), _GEMM_BLOCKS)).alias("blk")).agg(
        F.collect_list(F.struct("vec_id", "v")).alias("rows")
    )
    # Two consumers (both tile sides) of a groupBy whose input is the full
    # corpus — materialize once, as with every reused subtree in this module.
    blocks = blocks.localCheckpoint()
    x, y = blocks.alias("x"), blocks.alias("y")
    tiles = (
        x.join(y, F.col("x.blk") <= F.col("y.blk"))
        .select(
            F.col("x.rows").alias("xr"),
            F.col("y.rows").alias("yr"),
            (F.col("x.blk") == F.col("y.blk")).alias("same"),
        )
        # one tile per task: the GEMM is the unit of parallelism
        .repartition(_GEMM_BLOCKS * (_GEMM_BLOCKS + 1) // 2)
    )
    return tiles.mapInPandas(gemm_tiles, schema=out_schema)


# Operating point for SEMANTIC near-dup dedup (SemDeDup-style): far outside
# the isotropic bulk, where a hyperplane sketch has real pruning power
# (bit-match prob p = 1-acos(t)/π = 0.856 at cos 0.9 vs 0.5 random).
#
# Band sizing is corpus-relative — the r03 shape (24 bands × 8 bits) had a
# 2⁸ = 256-value band key space for 50 k vectors, so EVERY band bucket held
# ~200 docs and random collisions flooded ~12 M candidate pairs into the
# verify join (profiled: 5.1 s of the key's 7.5 s at sf0.1). A band must
# carry ≈ log₂(N) + margin bits so that a random pair collides with prob
# ≪ 1/N per band: at 16 bits, P[random band collision] = 2⁻¹⁶ = 1.5e-5 →
# ~1.8 M expected candidates at N = 50 k (C(N,2)·L·2⁻¹⁶), and recall at
# cos 0.9 stays certified: band match q = 0.856¹⁶ = 0.084, per-pair miss
# (1-q)⁹⁶ ≈ 2.3e-4. At 1 B+ docs, raise bits_per_band toward ~30 (and L
# with it) or nest the sketch under a coarse quantizer (IVF cell, then
# LSH within cell) — the knob is a constructor arg for exactly that.
SEMANTIC_COSINE = 0.9
RHP_BITS_PER_BAND = 16
RHP_BANDS = 96


def rhp_signatures(
    e: DataFrame,
    n_bands: int = RHP_BANDS,
    bits_per_band: int = RHP_BITS_PER_BAND,
) -> DataFrame:
    """(vec_id, v) → (doc_id, sig: array<long>[n_bands]) — random-hyperplane
    (SimHash for vectors) sketch with each band's ``bits_per_band`` sign
    bits PACKED into one integer, computed as ONE Arrow-batched matmul per
    batch against a fixed ±1 projection matrix (deterministic seed; a JVM
    expression formulation would need n_bits × dim nested lambdas — this is
    the vectorized-UDF spot). Packing in the same numpy pass keeps the
    shuffled signature row at n_bands longs instead of n_bands ×
    bits_per_band, and turns the downstream band construction into
    single-element slices. Output column is named doc_id so
    ``lsh_candidate_pairs`` (bands, bucket caps, over-cap sketch-sort
    recovery) applies unchanged with r = 1."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    n_bits = n_bands * bits_per_band
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )

    def project(batches):
        planes = {}
        weights = 1 << np.arange(bits_per_band, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["v"]), dtype=np.float64)
            dim = V.shape[1]
            if dim not in planes:
                rng = np.random.RandomState(0xC0FFEE)
                planes[dim] = np.where(rng.rand(n_bits, dim) < 0.5, -1.0, 1.0)
            bits = (V @ planes[dim].T > 0).astype(np.int64)
            packed = bits.reshape(len(V), n_bands, bits_per_band) @ weights
            yield pd.DataFrame(
                {"doc_id": pdf["vec_id"].astype("int64"), "sig": list(packed)}
            )

    return e.mapInPandas(project, schema=out_schema)


def embedding_lsh_pairs(
    e: DataFrame,
    threshold: float = SEMANTIC_COSINE,
    n_bands: int = RHP_BANDS,
    bits_per_band: int = RHP_BITS_PER_BAND,
) -> DataFrame:
    """(vec_id, v) → near-dup pairs (vec_a, vec_b, cos_sim ≥ threshold):
    hyperplane-sketch candidates through the shared banded-bucket machinery
    (caps + over-cap recovery included), then exact JVM-side cosine verify
    — precision 1.0 by construction, recall set by (n_bands,
    bits_per_band) and asserted against brute force on a planted-duplicate
    corpus in tests.

    Verify-side economics: vectors are L2-NORMALIZED ONCE in the
    checkpointed table, so the per-candidate cosine is a single zip_with
    dot product instead of dot + two norms — the candidate stream is the
    O(N·L) hot path, the normalization pass is O(N). Zero-norm vectors are
    dropped up front (their cosine is undefined — they can never emit a
    pair, same semantics as the NULL-propagating expression form)."""
    norm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, t: acc + t
        )
    )
    unit = e.select(
        "vec_id", F.col("v"), norm.alias("nrm")
    ).filter(F.col("nrm") > 0).select(
        "vec_id", F.transform("v", lambda x: x / F.col("nrm")).alias("u")
    )
    unit = unit.localCheckpoint()  # consumed by the sketch and both verify sides
    sigs = rhp_signatures(
        unit.withColumnRenamed("u", "v"), n_bands=n_bands, bits_per_band=bits_per_band
    )
    # NO broadcast hint: the candidate list is O(N · bands) in the corpus —
    # a hard-coded F.broadcast OOMs the driver at 100× (VERDICT r03). AQE
    # promotes to broadcast at runtime when the list actually fits.
    # sort_prefix 4: with r = 1 the rot key is other bands' 16-bit values —
    # 3 discriminating values (48 bits) order an over-cap bucket fine, and
    # the banded shuffle row stays narrow at 96 bands.
    cands = lsh_candidate_pairs(sigs, n_bands=n_bands, n_hashes=n_bands, sort_prefix=4)

    a, b = unit.alias("a"), unit.alias("b")
    cos = F.aggregate(
        F.zip_with(F.col("a.u"), F.col("b.u"), lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        cands.join(a, cands.doc_a == F.col("a.vec_id"))
        .join(b, cands.doc_b == F.col("b.vec_id"))
        .select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


@query(
    "dedup_embedding_lsh",
    oracle=(
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)"
        " AS cos_sim "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]"
        f"), 6) >= {SEMANTIC_COSINE}"
    ),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC near-dup pairs (cos ≥ 0.9) — the production embedding-dedup
    tier: hyperplane-sketch LSH candidates + exact verify, never all-pairs.
    The oracle is the exact relation at the same threshold: on isotropic
    test data it is empty (max observed pair cosine ≈ 0.51 at sf0.01), so
    the driver row certifies no false positives; recall is certified by the
    planted-duplicate test (tests/test_dedup_similarity.py), where the
    sketch must reproduce brute force exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return embedding_lsh_pairs(emb.select("vec_id", v.alias("v")))


# Rolling-span width for dedup_spans, in tokens. 8 is small enough that the
# synthetic corpus's near-dup families overlap heavily on spans and large
# enough that independent docs essentially never collide.
SPAN_K = 8


@query(
    "dedup_spans",
    oracle=(
        "WITH toks AS (SELECT doc_id, "
        "  list_filter(string_split(text, ' '), w -> w <> '') AS t "
        "  FROM documents), "
        "spans AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS span "
        "  FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS g(i) "
        "  WHERE len(t) >= 8), "
        "rep AS (SELECT span FROM spans GROUP BY span "
        "  HAVING count(DISTINCT doc_id) > 1) "
        "SELECT s.doc_id, count(*) AS n_spans, "
        "count(r.span) AS n_repeated, "
        "round(count(r.span) * 1.0 / count(*), 6) AS repeated_frac "
        "FROM spans s LEFT JOIN rep r ON s.span = r.span GROUP BY s.doc_id"
    ),
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span statistics: for every doc, the fraction of its rolling
    SPAN_K-token windows that also occur in at least one OTHER doc — the
    signal behind span/substring-level dedup of training corpora (drop or
    trim documents that are mostly copied text). Near-dup family members
    score near 1.0 here; unique docs score 0.

    Scale shape: explode is linear in corpus tokens; spans shuffle by an
    8-byte xxhash of the span (the oracle groups the span STRING — outputs
    carry only counts, so the engines agree unless two distinct spans
    collide in 64 bits, odds ~n²/2⁶⁵). The repeated-span join lands on the
    same span-hash partitioning the groupBy just produced, and per-doc
    counts are one further exchange on doc_id. No all-pairs anything."""
    docs = _fan_out_small_input(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", _tokens().alias("t"))
    starts = F.when(
        F.size("t") >= SPAN_K, F.sequence(F.lit(1), F.size("t") - SPAN_K + 1)
    ).otherwise(F.array().cast("array<int>"))
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.xxhash64(F.array_join(F.slice(F.col("t"), i, SPAN_K), " ")),
            )
        ).alias("span_h"),
    )
    # Two consumers (repeated-span agg + per-doc join side) — materialize
    # the span stream once instead of re-scanning and re-hashing the corpus
    # per subtree, the in-session analog of writing the span table out
    # between pipeline stages (same move as lsh_verified_pairs' groups).
    spans = spans.localCheckpoint()
    # "occurs in >1 DISTINCT doc" ⇔ min(doc_id) ≠ max(doc_id) within the
    # span group — same relation as count_distinct(doc_id) > 1 without the
    # distinct-expand pass (count_distinct plans a two-phase distinct
    # aggregate; min/max are plain partial-aggregable functions, so the
    # span shuffle carries one combiner row per (partition, span) straight
    # into the final agg).
    rep = (
        spans.groupBy("span_h")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("span_h", F.lit(True).alias("is_rep"))
    )
    return (
        spans.join(rep, "span_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count("is_rep").alias("n_repeated"),
            F.round(F.count("is_rep") / F.count("*"), 6).alias("repeated_frac"),
        )
    )


# Incoming-batch membership for dedup_incremental: doc_id % 10 == 0 plays
# the "newly scraped batch" role against the rest of the corpus.
INCREMENTAL_MOD = 10


@query(
    "dedup_incremental",
    oracle=(
        "WITH corpus AS (SELECT md5(text) AS fp FROM documents "
        f"WHERE doc_id % {INCREMENTAL_MOD} <> 0), "
        "incoming AS (SELECT doc_id, md5(text) AS fp FROM documents "
        f"WHERE doc_id % {INCREMENTAL_MOD} = 0) "
        "SELECT i.doc_id, "
        "(EXISTS (SELECT 1 FROM corpus c WHERE c.fp = i.fp)) AS dup_of_corpus "
        "FROM incoming i"
    ),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup gate: flag each INCOMING document whose exact
    fingerprint already exists in the standing corpus — the check every
    continuous-crawl pipeline runs per batch before anything expensive
    touches the new data. Shape: the corpus side reduces to DISTINCT
    16-byte fingerprints (combiner-friendly), the incoming side LEFT
    SEMI-joins against it; at 100 TB the corpus fingerprint table is the
    persisted dedup index, bucketed by fp so the per-batch join is
    shuffle-free on the big side. Membership split here is doc_id % 10
    (the driver tables have no ingest-time column)."""
    d = load_table(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("doc_id") % INCREMENTAL_MOD != 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    incoming = d.filter(F.col("doc_id") % INCREMENTAL_MOD == 0).select(
        "doc_id", F.md5("text").alias("fp")
    )
    hits = corpus.withColumn("dup", F.lit(True))
    return incoming.join(hits, "fp", "left").select(
        "doc_id", F.coalesce("dup", F.lit(False)).alias("dup_of_corpus")
    )


def banded_keys(
    sigs: DataFrame,
    n_bands: int = N_BANDS,
    n_hashes: int = N_HASHES,
    carry: tuple = (),
) -> DataFrame:
    """(doc_id, sig, *carry) → (doc_id, band_id, band_hash, *carry): the
    banded bucket KEYS of a signature table, without the self-pair
    machinery — the probe (and index-build) side of an incremental LSH
    gate. Same band hashing as ``lsh_candidate_pairs`` (multi-arg
    xxhash64 over the band's r signature positions), and a pure per-row
    map: works on STREAMING frames too, which is what makes the streaming
    fuzzy gate possible (streaming/fuzzygate.py — ``carry`` exists so the
    stream can ride its verify payload along instead of self-joining)."""
    if n_hashes % n_bands != 0:
        raise ValueError(f"n_hashes={n_hashes} not divisible by n_bands={n_bands}")
    r = n_hashes // n_bands

    def band_struct(b: Column) -> Column:
        base = b * r
        return F.struct(
            b.cast("int").alias("band_id"),
            F.xxhash64(
                *[F.element_at("sig", (base + F.lit(i + 1)).cast("int")) for i in range(r)]
            ).alias("band_hash"),
        )

    bands = F.transform(F.sequence(F.lit(0), F.lit(n_bands - 1)), band_struct)
    return sigs.select(
        "doc_id", *carry, F.explode(bands).alias("band")
    ).select("doc_id", *carry, "band.band_id", "band.band_hash")


def fuzzy_gate_flags(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Near-dup INGEST GATE listing: (doc_id, dup_of_corpus) for every
    incoming document (doc_id % INCREMENTAL_MOD == 0), where the flag
    means "some standing-corpus document has shingle Jaccard ≥ threshold".
    The fuzzy tier of ``dedup_incremental`` — what a continuous-crawl
    pipeline runs per batch to drop re-scrapes/re-wraps BEFORE expensive
    processing.

    Production shape: the standing corpus keeps a PERSISTED banded index
    (band_id, band_hash → capped member list — built once, bucketed by
    the band key so per-batch probes join shuffle-free on the big side);
    each incoming batch computes signatures (a pure map since the r04
    rewrite), probes the index, and exact-verifies the candidates against
    the corpus shingle table. Incoming batch work is O(batch × bands),
    never O(corpus).

    Bucket caps bound a degenerate band value (e.g. a boilerplate family
    colliding everywhere): capped members are the ones candidates can
    see, so gate recall on an incoming doc whose ONLY witnesses are
    over-cap is best-effort — same tradeoff, same knob as
    ``lsh_candidate_pairs``; the registered verdict holds recall to
    high-J witnesses."""
    d = load_table(spark, sf_dir, "documents")
    incoming_docs = d.filter(F.col("doc_id") % INCREMENTAL_MOD == 0)
    corpus_docs = d.filter(F.col("doc_id") % INCREMENTAL_MOD != 0)

    # Standing index: banded keys of corpus signatures, bucket-capped.
    corpus_sigs = minhash_signatures(corpus_docs)
    index = (
        banded_keys(corpus_sigs)
        .groupBy("band_id", "band_hash")
        .agg(
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, max_bucket).alias(
                "docs"
            )
        )
    )
    probes = banded_keys(minhash_signatures(incoming_docs)).withColumnRenamed(
        "doc_id", "in_id"
    )
    cands = (
        probes.join(index, ["band_id", "band_hash"])
        .select("in_id", F.explode("docs").alias("corpus_id"))
        .distinct()
    )

    # Exact shingle-Jaccard verify (hashed-long arrays, the
    # lsh_verified_pairs economics; string semantics mod 2^-64 collisions).
    def hsh(docs_df: DataFrame, idc: str) -> DataFrame:
        return docs_df.select(
            F.col("doc_id").alias(idc),
            F.transform(_shingles(), lambda s: F.xxhash64(s)).alias(f"sh_{idc}"),
            F.size(_shingles()).alias(f"n_{idc}"),
        )

    a = hsh(incoming_docs, "in_id").localCheckpoint()
    b = hsh(corpus_docs, "corpus_id").localCheckpoint()
    inter = F.size(F.array_intersect(F.col("sh_in_id"), F.col("sh_corpus_id")))
    union = F.col("n_in_id") + F.col("n_corpus_id") - inter
    jac = F.when(union > 0, inter.cast("double") / union)
    dup_ids = (
        cands.join(a, "in_id")
        .join(b, "corpus_id")
        .filter(jac >= threshold)
        .select("in_id")
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    return (
        incoming_docs.select("doc_id")
        .join(dup_ids, incoming_docs.doc_id == dup_ids.in_id, "left")
        .select("doc_id", F.coalesce("dup", F.lit(False)).alias("dup_of_corpus"))
    )


# Exact incoming-vs-corpus truth as oracle SQL (shingle sets via
# generate_series, the _SHINGLE_TRUTH_SQL pattern, crossed over the split).
_GATE_TRUTH_SQL = (
    "WITH toks AS (SELECT doc_id, "
    "  list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents), "
    "sh AS (SELECT doc_id, "
    f"  array_to_string(t[i:i+{SHINGLE_K - 1}], ' ') AS s "
    f"  FROM toks, LATERAL unnest(generate_series(1, len(t) - {SHINGLE_K - 1}))"
    f" AS g(i) WHERE len(t) >= {SHINGLE_K}), "
    "sets AS (SELECT doc_id, list(DISTINCT s) AS sh FROM sh GROUP BY doc_id), "
    f"inc AS (SELECT * FROM sets WHERE doc_id % {INCREMENTAL_MOD} = 0), "
    f"corp AS (SELECT * FROM sets WHERE doc_id % {INCREMENTAL_MOD} <> 0), "
    "dup AS (SELECT DISTINCT i.doc_id FROM inc i JOIN corp c ON "
    "  CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE) "
    "  / NULLIF(len(i.sh) + len(c.sh) - len(list_intersect(i.sh, c.sh)), 0)"
    f"  >= {JACCARD_THRESHOLD})"
)

_GATE_VERDICT_ORACLE = (
    f"{_GATE_TRUTH_SQL} "
    "SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents "
    f"WHERE doc_id % {INCREMENTAL_MOD} = 0) AS n_incoming, "
    "(SELECT CAST(count(*) AS BIGINT) FROM dup) AS n_dup_truth, "
    "TRUE AS precision_ok, TRUE AS recall_ok"
)


@query("dedup_incremental_fuzzy", oracle=_GATE_VERDICT_ORACLE)
def dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked verdict for the fuzzy ingest gate (the listing is
    ``fuzzy_gate_flags``; the minhash-verdict pattern):

    - ``n_incoming``: incoming batch size (both engines count it).
    - ``n_dup_truth``: EXACT count of incoming docs with a J ≥ 0.5 corpus
      witness — the oracle recomputes it independently via its own
      shingle/Jaccard pipeline (cross-engine check of the truth relation).
      The truth side is an incoming×corpus cross join: O(n_in · n_corpus)
      BY DESIGN, test-scale only — the verdict is the verifier, never the
      production path (that's ``fuzzy_gate_flags``), same convention as
      every truth relation in this module.
    - ``precision_ok``: every gate-flagged doc is in the truth set (the
      exact verify makes this structural; a broken index or candidate
      join flips it).
    - ``recall_ok``: every truth doc with a HIGH-J witness (≥ 0.8, where
      the band math makes a miss ~impossible) is flagged."""
    flags = fuzzy_gate_flags(spark, sf_dir).localCheckpoint()
    flagged = flags.filter(F.col("dup_of_corpus")).select("doc_id")
    n_incoming = flags.agg(F.count("*").cast("long").alias("n_incoming"))
    return _gate_verdict_vs_truth(spark, sf_dir, flagged, n_incoming)


def _gate_verdict_vs_truth(
    spark: SparkSession, sf_dir: str, flagged: DataFrame, n_incoming: DataFrame
) -> DataFrame:
    """Shared verdict builder for BOTH fuzzy-gate faces (batch listing and
    the real stream): exact incoming×corpus truth, then the four-column
    (n_incoming, n_dup_truth, precision_ok, recall_ok) relation the
    ``_GATE_VERDICT_ORACLE`` recomputes. The truth arm is guarded by
    ``_assert_truth_arm_scale`` — sf-bounded by contract, never shipped
    as a production path."""
    docs = _fan_out_small_input(load_table(spark, sf_dir, "documents"))
    sets = docs.select(
        "doc_id",
        F.transform(_shingles(), lambda s: F.xxhash64(s)).alias("sh"),
        F.size(_shingles()).alias("n"),
    ).localCheckpoint()
    inc = sets.filter(F.col("doc_id") % INCREMENTAL_MOD == 0).alias("i")
    corp = sets.filter(F.col("doc_id") % INCREMENTAL_MOD != 0).alias("c")
    _assert_truth_arm_scale(inc.count(), corp.count(), "fuzzy-gate verdict")
    inter = F.size(F.array_intersect(F.col("i.sh"), F.col("c.sh")))
    union = F.col("i.n") + F.col("c.n") - inter
    jac = F.when(union > 0, inter.cast("double") / union)
    truth_pairs = (
        inc.crossJoin(corp)
        .filter(jac.isNotNull())
        .select(
            F.col("i.doc_id").alias("doc_id"), jac.alias("j")
        )
    )
    truth = (
        truth_pairs.filter(F.col("j") >= JACCARD_THRESHOLD)
        .groupBy("doc_id")
        .agg(F.max("j").alias("max_j"))
        .localCheckpoint()
    )
    n_dup_truth = truth.agg(F.count("*").cast("long").alias("n_dup_truth"))
    n_false = (
        flagged.join(truth, "doc_id", "left_anti")
        .agg(F.count("*").alias("n_false"))
    )
    n_missed_high = (
        truth.filter(F.col("max_j") >= VERDICT_RECALL_J)
        .join(flagged, "doc_id", "left_anti")
        .agg(F.count("*").alias("n_missed"))
    )
    return (
        n_incoming.crossJoin(n_dup_truth)
        .crossJoin(n_false)
        .crossJoin(n_missed_high)
        .select(
            "n_incoming",
            "n_dup_truth",
            (F.col("n_false") == 0).alias("precision_ok"),
            (F.col("n_missed") == 0).alias("recall_ok"),
        )
    )


@query(
    "dedup_spans_trim",
    oracle=(
        "WITH toks AS (SELECT doc_id, "
        "list_filter(string_split(text, ' '), w -> w <> '') AS t "
        "FROM documents), "
        f"x AS (SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_K} + 2)) AS i "
        f"FROM toks WHERE len(t) >= {SPAN_K}), "
        f"spans AS (SELECT doc_id, i AS start, "
        f"array_to_string(t[i : i + {SPAN_K - 1}], ' ') AS span FROM x), "
        "rep AS (SELECT span FROM spans GROUP BY span "
        "HAVING min(doc_id) <> max(doc_id)), "
        "cov AS (SELECT DISTINCT s.doc_id, s.start + k.k AS idx "
        "FROM spans s JOIN rep USING (span) "
        f"CROSS JOIN (SELECT unnest(range(0, {SPAN_K})) AS k) k), "
        "tok AS (SELECT doc_id, unnest(t) AS token, "
        "generate_subscripts(t, 1) AS idx FROM toks) "
        "SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
        "CAST(count(c.idx) AS BIGINT) AS n_removed, "
        "coalesce(string_agg(t.token, ' ' ORDER BY t.idx) "
        "FILTER (WHERE c.idx IS NULL), '') AS clean_text "
        "FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx "
        "GROUP BY t.doc_id"
    ),
)
def dedup_spans_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span REMOVAL — the ExactSubstr dedup of Lee
    et al., "Deduplicating Training Data Makes Language Models Better"
    (ACL'22), at span granularity: every token covered by at least one
    SPAN_K-token window that also occurs verbatim in another document is
    dropped; the survivors re-join into ``clean_text``. ``dedup_spans``
    measures the signal; this op applies it.

    Scale shape — everything is linear and relational, no per-row
    quadratic scans: span stream (with start offsets) explodes once;
    repeated spans fall out of the same min≠max groupBy as
    ``dedup_spans``; covered token indexes are repeated-span rows × SPAN_K
    exploded and deduped on (doc_id, idx); the final pass left-joins the
    token stream against the covered set and re-assembles survivors with a
    sorted collect per doc. Shuffles key on span hash, (doc_id, idx), and
    doc_id — each carries O(corpus tokens) narrow rows, the same plan at
    100 TB. Spark groups an 8-byte xxhash64 of the span while the oracle
    groups the span string (the ``dedup_spans`` convention: a 64-bit
    collision, odds ~n²/2⁶⁵, is the only way they diverge).

    Docs with zero tokens have no token rows and drop out (same as the
    chunker); docs shorter than SPAN_K tokens have no spans and come back
    unmodified."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens().alias("t"))
    starts = F.when(
        F.size("t") >= SPAN_K, F.sequence(F.lit(1), F.size("t") - SPAN_K + 1)
    ).otherwise(F.array().cast("array<int>"))
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("start"),
                    F.xxhash64(
                        F.array_join(F.slice(F.col("t"), i, SPAN_K), " ")
                    ).alias("span_h"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.start", "s.span_h")
    # Two consumers (rep agg + cover join): one materialization, as in
    # dedup_spans.
    spans = spans.localCheckpoint()
    rep = (
        spans.groupBy("span_h")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("span_h")
    )
    # Covered indexes are aggregated PER DOC (collect_set dedupes
    # in-aggregate, so the old standalone (doc_id, idx) distinct exchange
    # is gone), and survivors are re-assembled by a PURE MAP over the
    # doc's token array — a positional filter against a covered-index
    # map — instead of re-exploding the token stream into a
    # (doc_id, idx) join and re-collecting it with a sorted
    # collect_list per doc (optimization r11, guide §2.3/§2.4: the two
    # corpus-token-width shuffles of the old tail — the cover join and
    # the final groupBy — are replaced by one covered-index-width
    # aggregate + a 1-row-per-doc join). Interleaved A/B at sf0.1 on a
    # quiet box: 1.81 → 1.60 s warm with every adjacent pair agreeing,
    # identical 5000-row output. element_at on the map is a hash
    # lookup, so per-doc work stays O(tokens), not O(tokens·|cov|).
    covd = (
        spans.join(rep, "span_h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + SPAN_K - 1)
            ).alias("idx"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("cov"))
    )
    cv = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    cvm = F.map_from_arrays(cv, F.transform(cv, lambda x: F.lit(True)))
    keep = F.filter("t", lambda x, i: F.element_at(cvm, i + 1).isNull())
    return (
        toks.filter(F.size("t") > 0)
        .join(covd, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.size(cv).cast("long").alias("n_removed"),
            F.array_join(keep, " ").alias("clean_text"),
        )
    )


@query("dedup_minhash_persisted", oracle=_MINHASH_VERDICT_ORACLE)
def dedup_minhash_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-STAGE production layout of the MinHash pipeline, driver-
    gated: signatures are WRITTEN to a parquet table and the LSH
    candidate/verify stages consume the table from disk — the restart
    point SCALE.md prescribes for multi-stage dedup runs at 100 TB
    (recompute-from-lineage across stage boundaries is exactly what a
    checkpointed signature table exists to avoid). The verdict proves
    two things under one oracle: (1) the persisted-signature pair
    listing is IDENTICAL to the fused in-query listing (distributed
    exceptAll both ways — a signature that doesn't round-trip through
    parquet, e.g. via a type widening, fails here), and (2) the listing
    still clears the exact-truth precision/recall bars (the standard
    minhash verdict, recomputed by DuckDB)."""
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(tempfile.mkdtemp(prefix="pmrwc_sigtab_"), "signatures")
    minhash_signatures(docs).write.parquet(path)
    persisted_sigs = spark.read.parquet(path)
    pairs_persisted = minhash_lsh_pairs(
        spark, sf_dir, sigs=persisted_sigs
    ).localCheckpoint()
    pairs_fused = minhash_lsh_pairs(spark, sf_dir).localCheckpoint()
    same = (
        pairs_persisted.exceptAll(pairs_fused).limit(1).count() == 0
        and pairs_fused.exceptAll(pairs_persisted).limit(1).count() == 0
    )
    if not same:  # fail loudly: the verdict must not paper over a diff
        raise AssertionError(
            "persisted-signature pair listing diverged from the fused form"
        )
    return _minhash_verdict(spark, sf_dir, pairs=pairs_persisted)


# --- Containment dedup (asymmetric near-dup) ---------------------------------

# Blocking-key df band: a shingle generates candidate pairs only when its
# document frequency is in [2, CONTAIN_DF_CAP]. The cap bounds per-shingle
# pair fan-out at CONTAIN_DF_CAP² rows, which is what makes candidate
# generation linear-with-a-constant instead of quadratic — the same role the
# LSH band structure plays for Jaccard, played here by rarity.
CONTAIN_DF_CAP = 16
CONTAIN_T = 0.8  # containment(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|


@query(
    "dedup_containment",
    oracle=(
        "WITH sh AS (SELECT doc_id, list_distinct(list_transform("
        "range(1, greatest(len(w) - 1, 1)), "
        "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles FROM ("
        "SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w "
        "FROM documents) s), "
        "sd AS (SELECT doc_id, unnest(shingles) AS g FROM sh), "
        f"rare AS (SELECT g FROM sd GROUP BY g "
        f"HAVING count(*) BETWEEN 2 AND {CONTAIN_DF_CAP}), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM sd a JOIN rare USING (g) JOIN sd b USING (g) "
        "WHERE a.doc_id <> b.doc_id), "
        "sc AS (SELECT c.doc_a, c.doc_b, "
        "len(list_intersect(sa.shingles, sb.shingles)) AS inter, "
        "len(sa.shingles) AS na "
        "FROM cand c JOIN sh sa ON c.doc_a = sa.doc_id "
        "JOIN sh sb ON c.doc_b = sb.doc_id WHERE len(sa.shingles) > 0) "
        "SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / na, 6) AS containment "
        f"FROM sc WHERE CAST(inter AS DOUBLE) / na >= {CONTAIN_T}"
    ),
)
def dedup_containment(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Asymmetric near-dup detection by SHINGLE CONTAINMENT — the pairs
    Jaccard-LSH structurally misses: a short document embedded verbatim in
    a much longer one has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, below
    any banded-MinHash threshold (the banding math in this file's header
    gives such pairs ~zero collision probability). Wrapper pages, quote
    expansions, and boilerplate-padded mirrors are exactly this shape, so a
    curation pipeline runs containment ALONGSIDE ``dedup_minhash_lsh``, not
    instead of it.

    Production-shaped throughout — this is NOT a truth arm:
    1. Candidate generation blocks on RARE shingles (df ∈ [2, CONTAIN_DF_CAP]):
       one df aggregate + one self-equi-join on the shingle key, emitting at
       most df² ≤ CONTAIN_DF_CAP² pairs per blocking shingle — linear in the
       shingle stream with a constant, never all-pairs, and skew-bounded by
       the same cap (a stopword shingle has df ≫ cap and generates nothing).
    2. Verification joins the DISTINCT candidate pairs back to the two
       docs' shingle ARRAYS (two hash joins on doc_id) and intersects
       in-expression — candidate-bounded work, no second corpus pass.

    The df band is the recall contract: a contained pair is found iff the
    small doc shares ≥1 shingle that is rare corpus-wide. Pairs all of
    whose shared shingles are commoner than the cap are not candidates —
    the knob a deployment turns is the cap, and the oracle recomputes the
    SAME contract exactly (blocking is deterministic set algebra, unlike
    LSH), so the driver verdict covers candidate generation AND scoring.

    Measured recall contract (VERDICT r09 item 7, recorded at sf0.01 vs
    the sf-guarded exact all-pairs truth arm): recall 1.0, precision 1.0
    at cap=16 — regression-tested in tests/test_dedup_similarity.py,
    which also proves the embedded-needle class (short doc verbatim
    inside a long doc, each needle shingle df=2) is found at recall 1.0
    BY CONSTRUCTION: a verbatim-embedded doc's shingles appear in
    exactly the two docs of its pair, df=2 ≤ cap, so every such pair is
    always a candidate regardless of cap setting.

    The returned DataFrame owns its shingle checkpoint; Spark frees it
    once the DataFrame is unreachable.

    ``docs`` overrides the table load for fixture-shaped tests."""
    docs = (
        _fan_out_small_input(load_table(spark, sf_dir, "documents"))
        if docs is None
        else docs
    )
    # three consumers (shingle stream + both verify sides): materialize once.
    # HASH DOMAIN end-to-end (optimization r11, guide §2.3 "narrower
    # types"): each k-gram shingle string is xxhash64'd ONCE here, so the
    # checkpoint stores 8-byte longs instead of ~25-byte strings and every
    # downstream stage — the exploded df aggregate, the rare-key joins,
    # and the verify array_intersect — moves and compares longs. Same
    # collision contract as _jaccard_verify: |A∩B| on xxhash64'd DISTINCT
    # shingles equals |A∩B| on the shingles themselves unless two distinct
    # shingles collide in 64 bits (P ≈ |shingle vocab|²/2⁶⁵; a collision
    # perturbs one df count or one containment by ~1/|sh(A)|). Interleaved
    # A/B at sf0.1 (4 alternations, every adjacent pair agrees): string
    # min 4.20 s → hash min 2.49 s warm, identical 512-row output; plan
    # shape (exchange/join counters) unchanged — only the bytes narrowed.
    sh = docs.select(
        "doc_id",
        F.transform(_shingles(), lambda g: F.xxhash64(g)).alias("shingles"),
    ).localCheckpoint()
    sd = sh.select("doc_id", F.explode("shingles").alias("g"))
    rare = (
        sd.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= CONTAIN_DF_CAP))
        .select("g")
    )
    rsd = sd.join(rare, "g")
    cand = (
        rsd.alias("a")
        .join(rsd.alias("b"), "g")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.size("sha") > 0)
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sha", "shb")).cast("double")
                / F.size("sha")
            ).alias("c"),
        )
    )
    return scored.filter(F.col("c") >= CONTAIN_T).select(
        "doc_a", "doc_b", F.round("c", 6).alias("containment")
    )
