"""Bulk-scale exercise of the persisted IVFPQ index with a √N-sized
k-means coarse quantizer — the configuration the sf tables are too small
to show (2 000 vectors cap n_cells at ~16): 50 k clustered vectors,
n_cells = 224 ≈ √N, n_probe = 16, so a probe LISTS ≈ 7% of the cell
directories — the two-orders-of-magnitude scan reduction that is the
whole point of the IVF layer — while clearing the package recall bound
against the exact brute-force top-k.

The corpus is deterministic (per-id seeded numpy): 32 well-separated
Gaussian clusters, so nearest neighbors genuinely concentrate in cell
space and recall is a meaningful (and reproducible) number, not luck.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
    build_ivfpq_index,
    ivfpq_pruned_topk_listing,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
    ANN_RECALL_BOUND,
    similarity_topk,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.session import (
    session_artifact,
)

N_VECS = 50_000
DIM = 64
N_TRUE_CLUSTERS = 32
BULK_CELLS = 224  # ≈ sqrt(50k)
BULK_PROBE = 16


@pytest.fixture(scope="module")
def bulk_dir(spark, tmp_path_factory):
    """Write the synthetic clustered embeddings table in the sf-dir layout
    so every existing ANN entry point runs against it unchanged."""
    import numpy as np
    import pandas as pd

    root = str(tmp_path_factory.mktemp("ann_bulk"))

    def gen(batches):
        centers = np.stack(
            [
                np.random.RandomState(1000 + c).standard_normal(DIM)
                for c in range(N_TRUE_CLUSTERS)
            ]
        )
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            noise = np.stack(
                [np.random.RandomState(int(i)).standard_normal(DIM) for i in ids]
            )
            v = centers[ids % N_TRUE_CLUSTERS] + 0.3 * noise
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": [row.astype(np.float32) for row in v],
                    "label": (ids % 10).astype("int32"),
                }
            )

    (
        spark.range(N_VECS)
        .repartition(8)
        .mapInPandas(
            gen, schema="vec_id long, embedding array<float>, label int"
        )
        .write.mode("overwrite")
        .parquet(os.path.join(root, "embeddings.parquet"))
    )
    return root


def test_sqrt_n_cells_prune_to_single_digit_percent(spark, bulk_dir, tmp_path):
    index_root = str(tmp_path / "idx")
    # 32-byte codes: the bulk corpus's intra-cluster gaps are inside
    # 16-byte quantization noise (recall 0.42 measured); doubling the code
    # budget is the standard FAISS move and the tradeoff this test pins
    build_ivfpq_index(spark, bulk_dir, index_root, n_cells=BULK_CELLS, pq_m=32)
    cell_dirs = [
        d
        for d in os.listdir(os.path.join(index_root, "codes"))
        if d.startswith("cell=")
    ]
    # k-means on clustered data keeps most of the 224 cells populated
    assert len(cell_dirs) > 100
    frac = BULK_PROBE / len(cell_dirs)
    assert frac < 0.1, frac  # single-digit-percent scan per query

    # register the built index as the session's artifact so the probe
    # reuses it instead of rebuilding
    key = ("ivfpq_index", bulk_dir, BULK_CELLS)
    assert session_artifact(spark, key, lambda: index_root) == index_root

    # n_probe/shortlist are THE two recall knobs (FAISS): at 50 k vectors
    # the intra-cluster cosine gaps sit inside residual-PQ quantization
    # noise, so the bulk configuration probes 16 cells (still 7% of the
    # directories) and re-ranks a 30×k shortlist exactly
    approx = ivfpq_pruned_topk_listing(
        spark, bulk_dir, n_cells=BULK_CELLS, n_probe=BULK_PROBE, shortlist=300
    )
    got = {(r.query_id, r.cand_id) for r in approx.collect()}
    exact = {
        (r.query_id, r.cand_id)
        for r in similarity_topk(spark, bulk_dir).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= ANN_RECALL_BOUND, recall

    # code payload: 32 B/vector at this corpus (see build note)
    codes = spark.read.parquet(os.path.join(index_root, "codes"))
    assert codes.count() == N_VECS
    assert codes.select(F.length("code").alias("n")).distinct().collect()[0].n == 32


def test_bulk_append_keeps_recall_and_gate_quiet(spark, bulk_dir, tmp_path):
    """The lifecycle at bulk scale: build on a 40k hash-split of the 50k
    clustered corpus, append the other 10k against the FROZEN quantizers,
    and require (a) the drift gate stays quiet (same distribution),
    (b) every vector indexed exactly once, (c) probe recall over the
    GROWN corpus still clears the bound — i.e. appended vectors are both
    findable and cannot poison ranking for the rest."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
        append_to_ivfpq_index,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _vectors,
    )

    index_root = str(tmp_path / "app_idx")
    vecs = _vectors(spark, bulk_dir)
    in_base = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(5)) != 0  # ~80%
    build_ivfpq_index(
        spark,
        bulk_dir,
        index_root,
        n_cells=BULK_CELLS,
        pq_m=32,
        vecs=vecs.filter(in_base),
    )
    gate = append_to_ivfpq_index(spark, vecs.filter(~in_base), index_root)
    assert gate["retrain"] is False, gate
    assert 0.5 < gate["drift_ratio"] < 1.5, gate

    codes = spark.read.parquet(os.path.join(index_root, "codes"))
    assert codes.count() == N_VECS
    assert codes.select("vec_id").distinct().count() == N_VECS

    approx = ivfpq_pruned_topk_listing(
        spark,
        bulk_dir,
        n_cells=BULK_CELLS,
        n_probe=BULK_PROBE,
        shortlist=300,
        index_root=index_root,
    )
    got = {(r.query_id, r.cand_id) for r in approx.collect()}
    exact = {
        (r.query_id, r.cand_id)
        for r in similarity_topk(spark, bulk_dir).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= ANN_RECALL_BOUND, recall
