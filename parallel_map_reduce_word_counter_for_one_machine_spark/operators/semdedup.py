"""SemDeDup — semantic deduplication with k-means-cell candidate scoping
and centroid-distance keeper selection (Abbas et al., arXiv:2303.09540;
the embedding-space dedup step of large pretraining pipelines, downstream
of the exact/MinHash tiers in ``operators.dedup``).

What this adds over ``dedup_embedding_lsh`` (hyperplane-sketch PAIR
listing): the full dedup DECISION — vectors are clustered with the same
Lloyd's coarse quantizer the IVF index uses, pairwise cosine is evaluated
only WITHIN a cell (Σ|cell|² work, never corpus²), and each semantic-dup
relation removes the member closer to its cell centroid. The paper's
released implementation orders a cluster by similarity-to-centroid and
drops any item with a ≥ τ neighbor earlier in that order — equivalently,
per τ-edge the endpoint with HIGHER centroid similarity is dominated,
whether or not its dominator itself survives. (On a chain a–b–c this
removes both b and c; a clique keeps exactly its centroid-farthest
member. That over-removal-on-chains is the paper's semantics, pinned by
tests/test_semdedup.py, not an accident.) Keeping the centroid-FAR member
is the paper's finding: edge-of-cluster examples help downstream models
more than prototypical ones.

Scale shape (100 TB): centroid training is the existing bounded-driver
Lloyd's (k·dim floats of driver state); assignment is one broadcast scan;
the within-cell self-join shuffles each partition once on cell_id and
evaluates Σ|cell|² exact cosines — at the paper's operating point
(k ≈ √N cells) that is N^1.5 dot products spread over k independent
tasks, and an oversized cell is bounded the same way the IVFPQ build
bounds training (hash-subsample within the cell or split the cell) rather
than ever going all-pairs. The dedup decision is a single anti-join on
the dominated set — no iteration, no driver state beyond the centroids.

Correctness protocol: the registered relation is the KEPT corpus. On the
driver tables the exact τ = 0.9 pair relation is empty (isotropic
embeddings — max observed pair cosine ≈ 0.51 at sf0.01, the same
measured fact documented at ``dedup.dedup_embedding``), so the oracle
pins "every vector survives": any false-positive removal — a cosine bug,
a domination bug, an accidental lower threshold — flips the driver hash.
Recall and keeper semantics are certified by the planted-duplicate tests
(tests/test_semdedup.py) against an independent numpy reference, the
same split used by ``dedup_embedding_lsh``.

Reference parity note: the reference engine (src/main.cpp) has no vector
surface; this key belongs to the LLM-pipeline extension mandated by the
driver brief alongside the other dedup tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from .similarity import _vectors, cosine, kmeans_centroids

# Semantic-dup threshold — same operating point as dedup.SEMANTIC_COSINE
# (near-duplicate tier; the paper sweeps ε around this value).
SEMDEDUP_TAU = 0.9
# Coarse cells for candidate scoping; k ≈ √N at the driver SF keeps
# Σ|cell|² ≈ N^1.5. kmeans_centroids' deterministic init makes the whole
# key reproducible run-to-run.
SEMDEDUP_CELLS = 10


def assign_cells_with_sim(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment that KEEPS the winning similarity —
    SemDeDup's keeper rule needs sim-to-own-centroid, so this is
    ``similarity._assign_cells`` plus the ``cent_sim`` column."""
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "cell_id",
        cosine("v", "centroid").alias("cent_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_sim"), F.asc("cell_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "v", "cell_id", "cent_sim")
    )


def semdedup_kept(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """The SemDeDup decision: (vec_id, cell_id, cent_sim) for every
    SURVIVING vector. A vector is dominated (removed) iff some same-cell
    neighbor at cosine ≥ SEMDEDUP_TAU has strictly lower centroid
    similarity (tie → lower vec_id wins), per the paper's
    triangular-order rule."""
    # Three consumers (both self-join sides + the anti-join base), and the
    # assignment lineage contains the kmeans crossJoin + window — without
    # materialization every consumer re-runs it (measured 16.7 s → 6.5 s
    # warm at sf0.1). Same move as the token-stream checkpoints in text.py.
    assigned = assign_cells_with_sim(vecs, cents).localCheckpoint()
    a = assigned.alias("a")
    b = assigned.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell_id") == F.col("b.cell_id"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).filter(cosine("a.v", "b.v") >= SEMDEDUP_TAU)
    # Per τ-edge the endpoint CLOSER to the centroid loses; priority is
    # (cent_sim ASC, vec_id ASC) so every pair names exactly one loser.
    a_wins = (F.col("a.cent_sim") < F.col("b.cent_sim")) | (
        (F.col("a.cent_sim") == F.col("b.cent_sim"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    dominated = pairs.select(
        F.when(a_wins, F.col("b.vec_id")).otherwise(F.col("a.vec_id")).alias("vec_id")
    ).distinct()
    return assigned.join(dominated, "vec_id", "left_anti").select(
        "vec_id", "cell_id", "cent_sim"
    )


@query(
    "dedup_semdedup",
    oracle="SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face: the kept-vector relation at τ = 0.9 over the
    driver embeddings. Exact pairs at this threshold are empty on the
    isotropic driver corpus, so the oracle pins zero false-positive
    removals; planted-duplicate recall + keeper selection are pinned by
    tests/test_semdedup.py (module docstring, correctness protocol)."""
    vecs = _vectors(spark, sf_dir)
    cents = kmeans_centroids(vecs, k=SEMDEDUP_CELLS)
    return semdedup_kept(vecs, cents).select("vec_id")
