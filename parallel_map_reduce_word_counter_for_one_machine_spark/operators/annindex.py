"""Persisted IVFPQ index with partition-pruned probes — ANN index
LIFECYCLE management (VERDICT r04 next-round item 3; extension surface,
the reference has no vector ops at all, src/main.cpp:78-281).

``similarity.py``'s PQ/IVFPQ tiers re-train codebooks and re-encode the
corpus inside every query — fine for a verdict, wrong for a deployment.
A real 100 TB vector store builds the index ONCE and ships three tables
(FAISS IVFPQ on disk, Jégou et al. TPAMI'11, re-expressed relationally):

* ``codebooks``  — M×KSUB rows (m, k, sub: array<double>), a few KB.
* ``centroids``  — one row per IVF cell (cell, centroid), the coarse
  quantizer.
* ``codes``      — one row per vector (vec_id, code: 16-byte BINARY),
  written ``partitionBy(cell)`` — hive-style ``cell=<id>/`` directories.

A probe then reads ``codes`` with ``cell IN (probed…)``: Spark resolves
the filter at file-listing time (``PartitionFilters`` in the plan,
asserted by tests/test_annindex.py), so a 10 B-vector index with 4096
cells opens nprobe/4096 of the files and reads 16 B/vector — the two
compoundings that make full-corpus ANN affordable. Raw embeddings
surface only for the |queries|×shortlist exact re-rank.

The ADC scan here scores codes by per-query LOOKUP TABLES (lut[m][k] =
q_m · codeword — M·KSUB dots per query, computed once) instead of
reconstructing candidate vectors; same math as similarity.py's in-query
ADC, evaluated the FAISS way.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import session_artifact
from .similarity import (
    _IVF_VERDICT_ORACLE,
    _kmeans_rows,
    _pq_encode,
    _pq_pairs,
    _pq_rerank,
    _probe_mask,
    _query_matrix,
    _recall_verdict,
    _train_sample,
    _train_subspace_codebooks,
    _unit_centroids,
    _unit_rows,
    _vectors,
    IVFPQ_N_PROBE,
    kmeans_centroids,
    label_centroids,
    PQ_M,
    PQ_SHORTLIST,
    PQ_TRAIN_CAP,
    similarity_topk,
)


def _write_driver_table(path: str, table) -> None:
    """Write a DRIVER-STATE sidecar table (codebooks, centroids, stats —
    k×dim artifacts that never leave the driver) as one parquet file via
    pyarrow, bypassing the Spark job entirely. A ``createDataFrame(rows)
    .coalesce(1).write`` of the same rows costs ~5 s at local[32]: the
    local relation pickles into defaultParallelism slices and the single
    coalesced write task decodes all 32 SEQUENTIALLY through the Python
    worker (measured; at local[4] the same write is 0.9 s). Spark reads
    the pyarrow file identically (standard parquet LIST/primitive types;
    round-trip pinned in tests/test_annindex.py).

    Overwrite is ATOMIC-ish (ADVICE r07): the file is written into a temp
    sibling dir and renamed over the target — a crash mid-write leaves the
    previous table intact (plus a stale ``._tmp`` the next write clobbers),
    never a half-written or missing component. The only residual window is
    between the two renames, where the aside copy (``._old``) still holds
    the previous table."""
    import shutil

    import pyarrow.parquet as pq

    tmp, old = path + "._tmp", path + "._old"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _read_driver_table(path: str) -> list[dict]:
    """Read a driver-state sidecar table back as row dicts via pyarrow —
    the read twin of ``_write_driver_table`` (r08): these k×dim artifacts
    never leave the driver, yet the probe/append paths read them through
    ``spark.read.parquet(...).collect()`` — three scheduler round-trips
    (~1 s of the cold probe) for a few KB. Reads every part file so
    Spark-written dirs (e.g. pre-r07 indexes) stay readable; Spark can
    still read these tables itself (round-trip pinned in tests)."""
    import pyarrow.parquet as pqt

    rows: list[dict] = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet") and not name.startswith("_"):
            rows.extend(pqt.read_table(os.path.join(path, name)).to_pylist())
    return rows


# kmeans coarse quantizer: more cells than the 10 labels ⇒ deeper
# partition pruning (a probe opens n_probe/n_cells of the files instead of
# IVFPQ_N_PROBE/10). At 100 TB the knob is n_cells ≈ sqrt(N) (FAISS
# guidance) with n_probe tuned to the recall target; n_probe/n_cells IS
# the fraction of the index scanned per query.
IVFPQ_KMEANS_CELLS = 16
IVFPQ_KMEANS_PROBE = 5


# Residual codebooks use the SAME deterministic Lloyd's loop as the
# in-query PQ tier (similarity._train_subspace_codebooks — one shared
# implementation), just WITHOUT input normalization: residuals are small
# off-center offsets, not unit vectors, and normalizing them would destroy
# exactly the magnitude information the quantizer must keep.
_train_residual_codebooks = _train_subspace_codebooks


def _coarse_centroids(vecs: DataFrame, n_cells: int | None, full_sample=None):
    """(cell_ids, C raw, Cn normalized) for either quantizer mode: trained
    k-means cells on a ``similarity._train_sample`` of ``vecs``, or the
    label column's per-label means (distributed agg, collected — cells×dim
    driver state either way).

    ``full_sample``: rows the caller ALREADY collected that are known to
    cover the whole corpus (build_ivfpq_index's residual-training sample
    when limit(cap) returned fewer than cap rows) — k-means then runs
    straight on them (similarity._kmeans_rows, same values as the
    DataFrame path's literal round-trip), skipping the count + re-collect
    jobs. At scale the sample never covers the corpus and the subsampled
    distributed path runs instead (r08, ivfpq_kmeans_probe cold)."""
    import numpy as np

    if n_cells is not None and full_sample is not None:
        ids, C = _kmeans_rows(full_sample, k=n_cells, iters=3)
        cell_ids = np.array([int(c) for c in ids])
    else:
        if n_cells is None:
            cents = label_centroids(vecs)
        else:
            train = _train_sample(vecs, vecs.count(), n_cells)
            cents = kmeans_centroids(train, k=n_cells, iters=3)
        crows = cents.collect()  # (cell_id, centroid) rows
        cell_ids = np.array([int(r.cell_id) for r in crows])
        C = np.array([r.centroid for r in crows], dtype=np.float64)
    return cell_ids, C, _unit_centroids(C)


def _cell_rows(Xn, labels, cell_ids, Cn, use_kmeans: bool):
    """Row in ``cell_ids``/``Cn`` of each unit vector's coarse cell: its
    most similar centroid (k-means quantizer, first row on ties) or the
    cell of its label (label quantizer)."""
    import numpy as np

    if use_kmeans:
        return np.argmax(Xn @ Cn.T, axis=1)
    row_of = {int(c): i for i, c in enumerate(cell_ids)}
    return np.array([row_of[int(l)] for l in labels], dtype=np.int64)


def _read_quantizers(index_root: str):
    """The persisted quantizers of an index, read from its codebooks and
    centroids sidecars: (books (M, KSUB, dsub), cell ids, unit-norm
    centroids) — the frozen state every append and probe uses."""
    import numpy as np

    cb = _read_driver_table(os.path.join(index_root, "codebooks"))
    books = np.zeros(
        (max(r["m"] for r in cb) + 1, max(r["k"] for r in cb) + 1, len(cb[0]["sub"]))
    )
    for r in cb:
        books[r["m"], r["k"]] = r["sub"]
    crows = _read_driver_table(os.path.join(index_root, "centroids"))
    cell_ids = np.array([int(r["cell"]) for r in crows], dtype=np.int64)
    C = np.array([r["centroid"] for r in crows], dtype=np.float64)
    return books, cell_ids, _unit_centroids(C)


def _encode_codes(vecs: DataFrame, books, cell_ids, Cn, use_kmeans: bool) -> DataFrame:
    """ONE distributed Arrow encode pass: assign each vector to its coarse
    cell (nearest trained centroid, or the label column) and PQ-encode the
    residual x̂ − ĉ_cell against the given codebooks (``_pq_encode``, the
    in-query PQ tiers' encoder). Shared by the one-off build and the
    incremental append — an appended vector must be encoded against the
    FROZEN quantizers bit-identically to a built one."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.LongType()),
            T.StructField("code", T.BinaryType()),
            T.StructField("qerr", T.DoubleType()),
        ]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue  # empty Arrow batch: shape-(0,) array breaks axis=1
            # zero-norm rows are unindexable (NULL cosine)
            ok, X = _unit_rows(np.array(list(pdf["v"]), dtype=np.float64))
            ids = pdf["vec_id"].to_numpy()[ok]
            if len(X) == 0:
                continue  # all-zero-norm batch: empty index arrays below
            rows = _cell_rows(X, pdf["label"].to_numpy()[ok], cell_ids, Cn, use_kmeans)
            codes, qerr = _pq_encode(X - Cn[rows], books)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": cell_ids[rows],
                    "code": [c.tobytes() for c in codes],
                    # per-vector squared PQ reconstruction error — the
                    # drift statistic's raw material, queryable per slice
                    "qerr": qerr,
                }
            )

    return vecs.select("vec_id", "label", "v").mapInPandas(
        encode, schema=out_schema
    )


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    index_root: str,
    n_cells: int | None = None,
    pq_m: int = PQ_M,
    vecs: DataFrame | None = None,
    train_cap: int = PQ_TRAIN_CAP,
) -> None:
    """One-off index build: train codebooks (bounded driver sample), write
    codebooks + per-cell centroids + cell-partitioned 16-byte codes. The
    encode is ONE distributed Arrow pass over the corpus; nothing here is
    proportional to corpus size on the driver.

    ``n_cells=None`` uses the label column as the coarse cell (the
    pre-clustered case); an int trains a k-means coarse quantizer
    (``kmeans_centroids``, distributed Lloyd's) and assigns each vector to
    its nearest-centroid cell inside the same encode pass — only the
    k×dim centroid matrix rides into the Arrow workers.

    PQ encodes RESIDUALS (x̂ − ĉ_cell), the Jégou et al. IVFADC form, not
    raw vectors: within a tight cluster every member shares the centroid
    direction, so raw-vector codes are near-identical and ADC cannot rank
    neighbors INSIDE the probed cell — measured on the 50 k clustered
    corpus (tests/test_annindex_bulk.py), raw encoding scored shortlist
    recall ≈0.06 with PERFECT cell recall; residual encoding restores it.
    Score algebra: q̂·x̂ = q̂·ĉ_cell + q̂·r, so the probe adds one scalar
    per (query, cell) to the residual LUT sums."""
    import numpy as np

    if vecs is None:
        vecs = _vectors(spark, sf_dir)
    # residual training sample (bounded, deterministic — same cap/policy
    # as similarity._pq_codebooks); the vector dimension comes from the
    # sample's first row, so no separate dim-probe job runs
    srows = (
        vecs.orderBy("vec_id")
        .limit(train_cap)
        .select("vec_id", "v", "label")
        .collect()
    )
    if not srows:
        raise ValueError(
            "build_ivfpq_index: no vectors were indexed (empty corpus) — "
            "an index needs ≥1 encodable vector"
        )
    dim = len(srows[0].v)
    assert dim % pq_m == 0
    # limit(train_cap) returning FEWER than train_cap rows means srows IS
    # the whole corpus — hand it to the kmeans so training skips its own
    # count + collect jobs (bench-visible on the cold build)
    cell_ids, C, Cn = _coarse_centroids(
        vecs, n_cells, full_sample=srows if len(srows) < train_cap else None
    )
    train_max_id = max((int(r.vec_id) for r in srows), default=-1)
    use_kmeans = n_cells is not None
    keep, Sn = _unit_rows(np.array([r.v for r in srows], dtype=np.float64))
    labels = np.array([r.label for r in srows])[keep]
    s_cells = _cell_rows(Sn, labels, cell_ids, Cn, use_kmeans)
    # pq_m is the bytes/vector ↔ recall knob (the probe reads M and dsub
    # back from the codebooks table, so no reader change): 16 B suffices
    # at sf scale; the 50 k clustered corpus needs 32 B for recall ≥ the
    # package bound because intra-cluster cosine gaps sit inside 16-B
    # quantization noise (measured in tests/test_annindex_bulk.py).
    books = _train_residual_codebooks(Sn - Cn[s_cells], n_m=pq_m)

    import pyarrow as pa

    # 1. codebooks table (driver-state sidecar: pyarrow write, no job)
    _write_driver_table(
        os.path.join(index_root, "codebooks"),
        pa.table(
            {
                "m": pa.array(
                    [m for m in range(books.shape[0]) for _ in range(books.shape[1])],
                    pa.int32(),
                ),
                "k": pa.array(
                    [k for _ in range(books.shape[0]) for k in range(books.shape[1])],
                    pa.int32(),
                ),
                "sub": pa.array(
                    [
                        [float(x) for x in books[m, k]]
                        for m in range(books.shape[0])
                        for k in range(books.shape[1])
                    ],
                    pa.list_(pa.float64()),
                ),
            }
        ),
    )

    # 2. coarse-quantizer centroids (raw; every consumer re-normalizes the
    # same float64 values, so encode and probe see bit-identical ĉ)
    _write_driver_table(
        os.path.join(index_root, "centroids"),
        pa.table(
            {
                "cell": pa.array([int(c) for c in cell_ids], pa.int64()),
                "centroid": pa.array(
                    [[float(x) for x in row] for row in C],
                    pa.list_(pa.float64()),
                ),
            }
        ),
    )

    # 3. codes, one distributed encode pass (shared with append),
    # partitioned by cell — persisted so the stats aggregate below reads
    # the in-memory codes instead of re-listing + re-scanning the fresh
    # parquet (same values: qerr is a written column)
    enc = _encode_codes(vecs, books, cell_ids, Cn, use_kmeans).persist()
    enc.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_root, "codes")
    )

    # 4. stats: the build-time reference point for the append drift gate —
    # quantizer mode plus the indexed corpus's mean residual quantization
    # error, aggregated from the written codes over HELD-OUT rows (vec_id
    # beyond the training sample's horizon) so an appended batch compares
    # apples-to-apples: in-sample error is optimistic — with KSUB
    # codewords per subspace a small training set is memorized near-
    # exactly — and using it falsely trips the gate on every append.
    # A corpus small enough to sit entirely inside train_cap has no
    # held-out rows; fall back to the full mean (the gate is then
    # conservative, which tiny corpora can afford — re-training is cheap).
    held = enc.filter(F.col("vec_id") > train_max_id)
    index_err = held.agg(F.avg("qerr").alias("e")).collect()[0].e
    if index_err is None:
        index_err = enc.agg(F.avg("qerr").alias("e")).collect()[0].e
    enc.unpersist()
    if index_err is None:  # both averages NULL ⇔ zero rows were indexed
        raise ValueError(
            "build_ivfpq_index: no vectors were indexed (empty corpus or "
            "all zero-norm embeddings) — an index needs ≥1 encodable vector"
        )
    _write_driver_table(
        os.path.join(index_root, "stats"),
        pa.table(
            {
                "quantizer": pa.array(
                    ["kmeans" if use_kmeans else "label"], pa.string()
                ),
                "pq_m": pa.array([int(pq_m)], pa.int32()),
                "dim": pa.array([int(dim)], pa.int32()),
                "index_err": pa.array([float(index_err)], pa.float64()),
            }
        ),
    )


# Drift gate: re-train trigger when an appended batch's mean residual
# quantization error exceeds this multiple of the indexed corpus's mean
# (both out-of-sample w.r.t. the training subset). Same-distribution
# appends measure ratio ≈ 1.0 (tested); a mean shift of ~1
# unit-vector-norm measures ≳ 2 on the isotropic corpus.
DRIFT_RETRAIN_RATIO = 1.5


def append_to_ivfpq_index(
    spark: SparkSession, new_vecs: DataFrame, index_root: str
) -> dict:
    """Incremental index maintenance — the lifecycle step after the one-off
    build (VERDICT r05 item 3): encode an incoming vector batch against the
    FROZEN codebooks/centroids (the identical ``_encode_codes`` pass the
    build ran) and APPEND the codes into the existing ``cell=<id>/``
    partitions; codebooks/centroids/stats are untouched, so every probe
    ever issued stays valid and readers never see a half-swapped index.

    Returns the drift-gate verdict ``{"drift_ratio", "retrain"}``: the
    batch's mean residual quantization error (computed DISTRIBUTED inside
    the same encode pass, no driver-side vector traffic) relative to the
    indexed corpus's mean recorded in ``stats`` at build time — both
    out-of-sample w.r.t. the training subset, so same-distribution appends
    measure ≈ 1. ``retrain=True`` (ratio > DRIFT_RETRAIN_RATIO) means the
    frozen quantizers no longer fit the incoming distribution — the weekly
    re-train trigger of a real 100 TB vector store; the append itself
    still lands (a drifted batch is still searchable, just at degraded
    recall, which beats being invisible).

    Heals any torn delete swap FIRST (ADVICE r07): an append into a
    crash-to-heal-window index would otherwise recreate ``cell=N`` with
    only the new batch, making the next heal's dst-exists ⇒ swap-landed
    inference silently drop the cell's pre-existing codes. Every entry
    point of the index (append, delete, probe scan) heals on entry, so
    that inference is always valid when heal itself runs."""
    _heal_delete_swap(index_root)
    books, cell_ids, Cn = _read_quantizers(index_root)
    stats = _read_driver_table(os.path.join(index_root, "stats"))[0]
    use_kmeans = stats["quantizer"] == "kmeans"

    enc = _encode_codes(new_vecs, books, cell_ids, Cn, use_kmeans).persist()
    try:
        enc.write.mode("append").partitionBy("cell").parquet(
            os.path.join(index_root, "codes")
        )
        agg = enc.agg(
            F.avg("qerr").alias("e"), F.count("*").alias("n")
        ).collect()[0]
    finally:
        enc.unpersist()
    if not agg.n:
        return {"drift_ratio": 0.0, "retrain": False}
    ratio = float(agg.e) / max(float(stats["index_err"]), 1e-12)
    return {"drift_ratio": ratio, "retrain": bool(ratio > DRIFT_RETRAIN_RATIO)}


def delete_from_ivfpq_index(
    spark: SparkSession, vec_ids: list[int], index_root: str
) -> dict:
    """The third lifecycle verb (build → append → DELETE): remove vectors
    from the persisted index by rewriting ONLY the cell partitions that
    contain them — the deleted ids' cells are found with one partition-
    pruned scan, those `cell=<id>/` directories are rewritten without the
    doomed rows, and every other partition is untouched bytes (the
    Delta/Iceberg delete-file granularity, expressed as hive partitions).
    Codebooks/centroids/stats stay frozen: removal never changes the
    quantizers, so outstanding probes remain valid and recall on the
    survivors is unaffected.

    Returns {"deleted": n, "cells_rewritten": [...]}. At 10 B vectors a
    delete touches |affected cells|/n_cells of the files; a tombstone
    column would defer even that rewrite, but then every probe pays the
    anti-join forever — rewrite-on-delete is the right trade for
    ANN-index churn rates (deletes are rare vs probes).

    Crash consistency (same contract as the upsert sink's marker ledger):
    the swap never deletes a cell's only copy. Each original partition is
    renamed ASIDE into ``_codes_old/`` before the staged replacement moves
    in, and the aside copies are dropped only after every swap landed; a
    ``_STAGED_COMPLETE`` marker (written after the staging write finishes)
    tells ``_heal_delete_swap`` — run at EVERY index entry point (append,
    delete, probe scan; ADVICE r07) — whether to roll a torn swap FORWARD
    from the staged dir or BACK from the aside copy. Torn-swap recovery is
    tested in tests/test_annindex.py::test_delete_swap_crash_recovery."""
    codes_root = os.path.join(index_root, "codes")
    _heal_delete_swap(index_root)
    doomed = spark.createDataFrame(
        [(int(v),) for v in vec_ids], "vec_id LONG"
    )
    cells = [
        int(r.cell)
        for r in spark.read.parquet(codes_root)
        .join(F.broadcast(doomed), "vec_id")
        .select("cell")
        .distinct()
        .collect()
    ]
    if not cells:
        return {"deleted": 0, "cells_rewritten": []}
    affected = spark.read.parquet(codes_root).filter(
        F.col("cell").isin(cells)  # partition-pruned file listing
    )
    survivors = affected.join(F.broadcast(doomed), "vec_id", "left_anti")
    n_deleted = affected.count() - survivors.count()
    _stage_and_swap_cells(index_root, survivors, cells)
    return {"deleted": int(n_deleted), "cells_rewritten": sorted(cells)}


def _stage_and_swap_cells(index_root: str, replacement: DataFrame, cells) -> None:
    """Crash-safe replacement of the given ``cell=<id>/`` partitions with
    ``replacement``'s rows (must carry a ``cell`` column covering ONLY
    those cells) — the staged-swap shared by delete and compaction: stage
    the rewritten partitions, marker LAST (its presence certifies the
    staged dir is complete, so a torn swap rolls FORWARD from it; absence
    rolls BACK), then per cell rename the original ASIDE before moving
    the staged partition in, and drop the aside copies only after every
    swap landed — no point in time has zero copies of a cell's surviving
    codes. Torn states heal at every index entry point
    (``_heal_delete_swap``)."""
    import shutil

    codes_root = os.path.join(index_root, "codes")
    staged = os.path.join(index_root, "_codes_staged")
    oldroot = os.path.join(index_root, "_codes_old")
    replacement.write.mode("overwrite").partitionBy("cell").parquet(staged)
    open(os.path.join(staged, _STAGED_MARKER), "w").close()
    os.makedirs(oldroot, exist_ok=True)
    for c in cells:
        dst = os.path.join(codes_root, f"cell={c}")
        src = os.path.join(staged, f"cell={c}")
        os.rename(dst, os.path.join(oldroot, f"cell={c}"))
        if os.path.isdir(src):  # a cell can empty out entirely
            shutil.move(src, dst)
    # every swap landed — only now is it safe to drop the aside copies
    shutil.rmtree(oldroot)
    shutil.rmtree(staged, ignore_errors=True)


def _cell_file_census(index_root: str) -> dict[int, int]:
    """{cell_id: number of parquet part files} — driver-side dir listing
    of the hive layout, no job."""
    codes_root = os.path.join(index_root, "codes")
    out: dict[int, int] = {}
    for name in os.listdir(codes_root):
        if name.startswith("cell="):
            d = os.path.join(codes_root, name)
            out[int(name.split("=", 1)[1])] = sum(
                1
                for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith("_")
            )
    return out


def compact_ivfpq_index(
    spark: SparkSession, index_root: str, max_files_per_cell: int = 1
) -> dict:
    """The FOURTH index lifecycle verb (build → append → delete →
    COMPACT; new r08): every ``append_to_ivfpq_index`` lands the batch as
    NEW part files inside the touched ``cell=<id>/`` partitions, so a
    weekly-ingest index accumulates small files and every probe pays
    per-file open/footer costs — the same decay Delta/Iceberg counter
    with OPTIMIZE. Cells holding more than ``max_files_per_cell`` part
    files are rewritten as one partition-worth of rows each (a
    ``repartition(n, "cell")`` puts each cell's rows in exactly one task,
    so the partitioned write emits ONE file per cell) through the SAME
    crash-safe staged swap as delete — codebooks/centroids/stats frozen,
    rows bit-identical, torn states heal at every entry point.

    Returns {"cells_compacted", "files_before", "files_after"}. At 10 B
    vectors the rewrite touches only over-threshold cells — maintenance
    cost is proportional to accumulated append churn, never index size."""
    _heal_delete_swap(index_root)
    census = _cell_file_census(index_root)
    cells = sorted(c for c, n in census.items() if n > max_files_per_cell)
    files_before = sum(census.values())
    if not cells:
        return {
            "cells_compacted": [],
            "files_before": files_before,
            "files_after": files_before,
        }
    codes_root = os.path.join(index_root, "codes")
    affected = spark.read.parquet(codes_root).filter(F.col("cell").isin(cells))
    _stage_and_swap_cells(
        index_root, affected.repartition(len(cells), "cell"), cells
    )
    return {
        "cells_compacted": cells,
        "files_before": files_before,
        "files_after": sum(_cell_file_census(index_root).values()),
    }


_STAGED_MARKER = "_STAGED_COMPLETE"


def _heal_delete_swap(index_root: str) -> None:
    """Recover a delete whose partition swap was torn by a crash. The
    aside dir (``_codes_old/``) only ever holds cells whose swap was in
    flight; for each one: if the live partition exists the swap finished
    (drop the aside copy — valid ONLY because every index entry point
    heals before touching ``codes/``, so nothing can have recreated the
    live partition between the crash and this heal); else roll forward
    from the staged dir when its
    completeness marker is present (a missing staged cell then means the
    cell legitimately emptied out), or roll the aside copy back when it
    is not. Idempotent — safe to run on a clean index or re-run after a
    crash mid-heal (every branch restores the one-copy invariant)."""
    import shutil

    codes_root = os.path.join(index_root, "codes")
    staged = os.path.join(index_root, "_codes_staged")
    oldroot = os.path.join(index_root, "_codes_old")
    if os.path.isdir(oldroot):
        staged_ok = os.path.isfile(os.path.join(staged, _STAGED_MARKER))
        for name in os.listdir(oldroot):
            old = os.path.join(oldroot, name)
            dst = os.path.join(codes_root, name)
            src = os.path.join(staged, name)
            if os.path.isdir(dst):
                shutil.rmtree(old)  # swap finished; aside copy is stale
            elif staged_ok and os.path.isdir(src):
                shutil.move(src, dst)  # roll forward: finish the swap
                shutil.rmtree(old)
            elif staged_ok:
                shutil.rmtree(old)  # cell emptied out: absent is correct
            else:
                shutil.move(old, dst)  # stage incomplete: roll back
        shutil.rmtree(oldroot, ignore_errors=True)
    # leftover staging area from a crash after the swaps all landed
    shutil.rmtree(staged, ignore_errors=True)


def ivfpq_index_dir(
    spark: SparkSession, sf_dir: str, n_cells: int | None = None
) -> str:
    """One built index per (session, sf_dir, quantizer) — build is the
    one-off ingest step."""

    def build() -> str:
        base = tempfile.mkdtemp(
            prefix="pmrwc_ivfpq_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        )
        build_ivfpq_index(spark, sf_dir, base, n_cells=n_cells)
        return base

    return session_artifact(spark, ("ivfpq_index", sf_dir, n_cells), build)


def probed_codes_scan(
    spark: SparkSession, index_root: str, cells: list[int]
) -> DataFrame:
    """The pruned scan: only ``cell=<id>/`` directories in ``cells`` are
    listed/opened (PartitionFilters; plan-asserted). Projects the probe's
    three columns so the per-vector ``qerr`` drift column never rides
    along the hot path (column pruning reaches the parquet scan).

    Heals any torn delete swap first (ADVICE r07): a probe in the
    crash-to-heal window would otherwise silently return results missing
    the mid-swap cell. The heal is an os.path.isdir no-op on a clean
    index — no per-probe cost."""
    _heal_delete_swap(index_root)
    return (
        spark.read.parquet(os.path.join(index_root, "codes"))
        .filter(F.col("cell").isin([int(c) for c in cells]))
        .select("vec_id", "cell", "code")
    )


def ivfpq_pruned_topk_listing(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int | None = None,
    n_probe: int = IVFPQ_N_PROBE,
    shortlist: int = PQ_SHORTLIST,
    index_root: str | None = None,
) -> DataFrame:
    """IVFPQ probe against the PERSISTED index: top-k per query via
    partition-pruned ADC scan + exact re-rank. First call per session pays
    the index build (the ingest step); steady-state queries touch only
    codebooks (KB), centroids (cells×dim), and the probed code partitions.
    Unregistered listing; the driver-checked faces are the
    ``similarity_topk_ivfpq_pruned`` / ``_kmeans_pruned`` recall verdicts.

    The probe reads NOTHING index-shaped from the build besides the three
    tables, so the same code serves both quantizers — ``n_cells`` only
    selects which persisted index to open."""
    import numpy as np

    root = index_root or ivfpq_index_dir(spark, sf_dir, n_cells=n_cells)

    # small index tables -> driver state (M·KSUB codewords, cells×dim),
    # read driver-side via pyarrow — no Spark jobs for a few KB (r08)
    books, cells_arr, Cn = _read_quantizers(root)
    n_m, _, dsub = books.shape
    vecs = _vectors(spark, sf_dir)
    q_ids, Qn = _query_matrix(vecs)

    # per-query probe sets as a boolean query×cell MEMBERSHIP MATRIX
    # (vectorized candidate filtering below — r05 advice) + the union
    # that drives partition pruning
    cell_sims = Qn @ Cn.T
    probe_mask = _probe_mask(cell_sims, n_probe)
    probed = sorted(int(c) for c in cells_arr[probe_mask.any(axis=0)])
    # vectorized cell-id -> centroid-row lookup for arbitrary cell ids
    cell_order = np.argsort(cells_arr)
    cells_sorted = cells_arr[cell_order]

    # per-query ADC lookup tables over the RESIDUAL codebooks:
    # lut[q, m, k] = q_m · codeword(m, k); the candidate's full score is
    # q̂·ĉ_cell + Σ_m lut[q, m, code_m] (see build_ivfpq_index docstring)
    lut = np.einsum(
        "qmd,mkd->qmk", Qn.reshape(len(Qn), n_m, dsub), books
    )
    m_idx = np.arange(n_m)

    def adc(batches):
        # fully vectorized: the probe filter is a boolean matrix slice and
        # scores are gathered ONLY for surviving (query, candidate) pairs —
        # no dense |queries|×|batch| frame, no per-row Python (r05 advice)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            cls = pdf["cell"].to_numpy()
            codes = np.frombuffer(
                b"".join(pdf["code"]), dtype=np.uint8
            ).reshape(len(ids), n_m)
            cand_rows = cell_order[np.searchsorted(cells_sorted, cls)]
            qi, ci = np.nonzero(probe_mask[:, cand_rows])
            if len(qi) == 0:
                continue
            # score[pair] = q̂·ĉ_cell(cand) + sum_m lut[q, m, code_m]
            s = lut[qi[:, None], m_idx[None, :], codes[ci]].sum(axis=1)
            s = s + cell_sims[qi, cand_rows[ci]]
            yield _pq_pairs(q_ids[qi], ids[ci], s)

    # exact re-rank: raw vectors only for |queries|×L shortlist rows
    return _pq_rerank(vecs, probed_codes_scan(spark, root, probed), adc, shortlist)


@query("similarity_topk_ivfpq_pruned", oracle=_IVF_VERDICT_ORACLE)
def similarity_topk_ivfpq_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked recall verdict for the PERSISTED-index IVFPQ path —
    same contract as the other ANN verdicts. Distinct from
    ``similarity_topk_ivfpq`` in every way that matters at scale: codes
    are encoded once at build time and read back as a 16 B/vector binary
    column, the probe is partition-pruned file listing (not a row filter),
    and codebooks/centroids come from tables, not in-query training."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = ivfpq_pruned_topk_listing(spark, sf_dir).select("query_id", "cand_id")
    return _recall_verdict(exact, approx)


@query("similarity_topk_ivfpq_kmeans_pruned", oracle=_IVF_VERDICT_ORACLE)
def similarity_topk_ivfpq_kmeans_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall verdict for the persisted index under a TRAINED k-means
    coarse quantizer (IVFPQ_KMEANS_CELLS cells, IVFPQ_KMEANS_PROBE probed)
    instead of the 10 label cells — the deeper-pruning configuration the
    r05 watch list called for: a probe opens n_probe/n_cells = 5/16 of the
    code files (vs 7/10 label-cells), and the ratio keeps falling as
    n_cells grows with the corpus (FAISS guidance n_cells ≈ sqrt(N); a
    1 B-vector index at 4096 cells probes <0.2% of files). Same persisted
    layout, same probe code — only the quantizer training differs."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = ivfpq_pruned_topk_listing(
        spark, sf_dir, n_cells=IVFPQ_KMEANS_CELLS, n_probe=IVFPQ_KMEANS_PROBE
    ).select("query_id", "cand_id")
    return _recall_verdict(exact, approx)


def _appended_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Index built on HALF the corpus (deterministic hash split), then
    grown to full size through ``append_to_ivfpq_index`` — the corpus the
    appended-maintenance verdict probes. Cached per session like the
    build-once indexes."""

    def build() -> str:
        base = tempfile.mkdtemp(
            prefix="pmrwc_ivfpq_app_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        )
        vecs = _vectors(spark, sf_dir)
        in_base = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(2)) == 0
        build_ivfpq_index(spark, sf_dir, base, vecs=vecs.filter(in_base))
        append_to_ivfpq_index(spark, vecs.filter(~in_base), base)
        return base

    return session_artifact(spark, ("ivfpq_appended", sf_dir), build)


@query("similarity_topk_ivfpq_appended", oracle=_IVF_VERDICT_ORACLE)
def similarity_topk_ivfpq_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall verdict for a persisted index GROWN 2× AFTER BUILD (VERDICT
    r05 item 3): codebooks/centroids are trained on a hash-half of the
    corpus, the other half arrives later through ``append_to_ivfpq_index``
    (frozen quantizers, codes appended into the existing cell partitions),
    and the probe must still clear ANN_RECALL_BOUND against the exact
    top-k over the FULL corpus — the weekly-ingest contract of a real
    vector store. The drift gate on the same append path is unit-tested
    (ratio ≈ 1 on same-distribution appends, trips on a mean shift)."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = ivfpq_pruned_topk_listing(
        spark, sf_dir, index_root=_appended_index_dir(spark, sf_dir)
    ).select("query_id", "cand_id")
    return _recall_verdict(exact, approx)


_COMPACT_BATCH = 50
_COMPACT_OFFSET = 50_000_000


@query(
    "ivfpq_compaction",
    oracle=(
        "SELECT CAST("
        "(SELECT count(*) FROM embeddings WHERE "
        "list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)"
        " + (SELECT count(*) FROM "
        f"(SELECT * FROM embeddings ORDER BY vec_id LIMIT {_COMPACT_BATCH}) t "
        "WHERE list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)"
        " AS BIGINT) AS n_vectors, "
        "TRUE AS rows_preserved_ok, TRUE AS files_reduced_ok"
    ),
)
def ivfpq_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked verdict for index COMPACTION (new r08 — the fourth
    lifecycle verb): build a fresh index, append a re-keyed batch (which
    necessarily lands as EXTRA part files inside the touched cells), run
    ``compact_ivfpq_index``, and certify (1) the surviving row multiset —
    (vec_id, cell, code) — is IDENTICAL before/after (distributed
    exceptAll both ways over a pre-compaction localCheckpoint snapshot),
    and (2) files genuinely shrank: at least one cell was multi-file
    before, every compacted cell is single-file after. ``n_vectors`` is
    the cross-engine anchor: the index holds exactly the encodable
    (norm > 0) base corpus plus the encodable batch rows, recomputed
    independently by DuckDB."""
    root = tempfile.mkdtemp(prefix="pmrwc_compact_")
    build_ivfpq_index(spark, sf_dir, root)
    batch = (
        _vectors(spark, sf_dir)
        .orderBy("vec_id")
        .limit(_COMPACT_BATCH)
        .select(
            (F.col("vec_id") + _COMPACT_OFFSET).alias("vec_id"), "v", "label"
        )
    )
    append_to_ivfpq_index(spark, batch, root)
    codes_root = os.path.join(root, "codes")
    before = (
        spark.read.parquet(codes_root)
        .select("vec_id", "cell", "code")
        .localCheckpoint()
    )
    census_before = _cell_file_census(root)
    res = compact_ivfpq_index(spark, root)
    after = spark.read.parquet(codes_root).select("vec_id", "cell", "code")
    rows_preserved = (
        before.exceptAll(after).limit(1).count() == 0
        and after.exceptAll(before).limit(1).count() == 0
    )
    census_after = _cell_file_census(root)
    files_reduced = (
        any(n > 1 for n in census_before.values())
        and res["files_after"] < res["files_before"]
        and all(n <= 1 for n in census_after.values())
    )
    return spark.createDataFrame(
        [(after.count(), bool(rows_preserved), bool(files_reduced))],
        "n_vectors BIGINT, rows_preserved_ok BOOLEAN, files_reduced_ok BOOLEAN",
    )


_DELETE_N = 40


@query(
    "ivfpq_delete",
    oracle=(
        "WITH doomed AS "
        f"(SELECT * FROM embeddings ORDER BY vec_id LIMIT {_DELETE_N}) "
        "SELECT CAST("
        "(SELECT count(*) FROM embeddings WHERE "
        "list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)"
        " - (SELECT count(*) FROM doomed WHERE "
        "list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)"
        " AS BIGINT) AS n_vectors, "
        "CAST((SELECT count(*) FROM doomed WHERE "
        "list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)"
        " AS BIGINT) AS n_deleted, "
        "TRUE AS deleted_absent_ok, TRUE AS survivors_intact_ok, "
        "TRUE AS untouched_cells_ok"
    ),
)
def ivfpq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked verdict for the THIRD lifecycle verb, DELETE — the
    one verb that until now had only unit tests (build/append/compact all
    have registered verdicts): build a fresh index, delete the first
    ``_DELETE_N`` vec_ids, and certify (1) no deleted id survives in the
    index, (2) every OTHER row is bit-identical (the expected survivor
    relation ``before ⋉̸ doomed`` equals the post-delete codes, distributed
    exceptAll both ways), and (3) cells the delete did not claim to touch
    are untouched BYTES — per-file (name, size) stats identical, i.e. the
    partition-pruned rewrite really rewrote only the affected ``cell=``
    dirs. ``n_vectors``/``n_deleted`` are the cross-engine anchors: the
    index holds exactly the encodable (norm > 0) corpus minus the
    encodable doomed rows, both counts recomputed independently by DuckDB.
    Zero-norm doomed ids exercise the no-op edge: they never entered the
    index, so deleting them must not inflate ``n_deleted``."""
    root = tempfile.mkdtemp(prefix="pmrwc_idxdel_")
    build_ivfpq_index(spark, sf_dir, root)
    codes_root = os.path.join(root, "codes")
    before = (
        spark.read.parquet(codes_root)
        .select("vec_id", "cell", "code")
        .localCheckpoint()
    )
    doomed_ids = [
        int(r.vec_id)
        for r in _vectors(spark, sf_dir)
        .orderBy("vec_id")
        .limit(_DELETE_N)  # bounded collect: _DELETE_N ids
        .select("vec_id")
        .collect()
    ]
    stats_before = _cell_file_stats(root)
    res = delete_from_ivfpq_index(spark, doomed_ids, root)
    after = spark.read.parquet(codes_root).select("vec_id", "cell", "code")
    doomed = spark.createDataFrame([(v,) for v in doomed_ids], "vec_id LONG")
    deleted_absent = (
        after.join(F.broadcast(doomed), "vec_id").limit(1).count() == 0
    )
    expected = before.join(F.broadcast(doomed), "vec_id", "left_anti")
    survivors_intact = (
        expected.exceptAll(after).limit(1).count() == 0
        and after.exceptAll(expected).limit(1).count() == 0
    )
    stats_after = _cell_file_stats(root)
    rewritten = set(res["cells_rewritten"])
    untouched_ok = all(
        stats_after.get(c) == files
        for c, files in stats_before.items()
        if c not in rewritten
    )
    return spark.createDataFrame(
        [
            (
                after.count(),
                int(res["deleted"]),
                bool(deleted_absent),
                bool(survivors_intact),
                bool(untouched_ok),
            )
        ],
        "n_vectors BIGINT, n_deleted BIGINT, deleted_absent_ok BOOLEAN, "
        "survivors_intact_ok BOOLEAN, untouched_cells_ok BOOLEAN",
    )


def _cell_file_stats(index_root: str) -> dict[int, list[tuple[str, int]]]:
    """{cell_id: sorted [(file name, size bytes)]} — driver-side stat of
    the hive layout, no job; the byte-level evidence behind the
    untouched-cells claim (``_cell_file_census`` counts files, this pins
    their identity)."""
    codes_root = os.path.join(index_root, "codes")
    out: dict[int, list[tuple[str, int]]] = {}
    for name in os.listdir(codes_root):
        if name.startswith("cell="):
            d = os.path.join(codes_root, name)
            out[int(name.split("=", 1)[1])] = sorted(
                (f, os.path.getsize(os.path.join(d, f)))
                for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith("_")
            )
    return out


def stream_append_to_index(
    spark: SparkSession, sf_dir: str, index_root: str, n_batches: int = 3
) -> list[dict]:
    """STREAMING ingest into the persisted index — the online leg of the
    lifecycle (build → append → delete): the non-base vectors arrive as a
    Structured Streaming file source processed one file per micro-batch
    (``maxFilesPerTrigger=1`` + AvailableNow), and ``foreachBatch`` routes
    every micro-batch through the SAME ``append_to_ivfpq_index`` pass the
    batch leg uses — frozen quantizers, codes appended into the existing
    cell partitions, per-batch drift verdicts collected. The final index
    is the union of appends, so probe results are independent of how the
    stream happened to batch the files.

    Exactly-once caveat, stated not hidden: ``foreachBatch`` replays a
    batch after a crash, and a replayed append would double-insert its
    codes. Production hardening is the commit-marker ledger pattern of
    ``streaming/upsertsink.py`` (skip batch_ids already marked applied in
    this checkpoint lineage); the drift/recall contract here is about the
    encode-append path itself.

    Returns the per-batch drift verdicts in processing order."""
    import shutil

    stage = tempfile.mkdtemp(prefix="pmrwc_vecstream_")
    ckpt = os.path.join(stage, "_ckpt")
    data = os.path.join(stage, "data")
    vecs = _vectors(spark, sf_dir)
    in_base = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(2)) == 0
    vecs.filter(~in_base).repartition(n_batches).write.parquet(data)

    verdicts: list[dict] = []

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        verdicts.append(
            append_to_ivfpq_index(batch_df.sparkSession, batch_df, index_root)
        )

    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(stage, ignore_errors=True)
    return verdicts


def _stream_appended_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[dict]]:
    """Index built on the hash-half base, then grown to full size by the
    STREAMING append path (one micro-batch per staged file), with the
    per-micro-batch drift verdicts of that ingest. Cached per session like
    the other build-once indexes."""

    def build() -> tuple[str, list[dict]]:
        base = tempfile.mkdtemp(
            prefix="pmrwc_ivfpq_strm_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        )
        vecs = _vectors(spark, sf_dir)
        in_base = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(2)) == 0
        build_ivfpq_index(spark, sf_dir, base, vecs=vecs.filter(in_base))
        return base, stream_append_to_index(spark, sf_dir, base)

    return session_artifact(spark, ("ivfpq_stream_appended", sf_dir), build)


@query("stream_index_append", oracle=_IVF_VERDICT_ORACLE)
def stream_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall verdict for an index grown 2× through the STREAMING append
    path: base half built once, the rest ingested micro-batch by
    micro-batch via foreachBatch → ``append_to_ivfpq_index``, probe must
    clear ANN_RECALL_BOUND against the exact top-k over the full corpus.
    Same contract as ``similarity_topk_ivfpq_appended`` with the online
    ingest in the loop — batching boundaries must not change the index
    (union semantics), which is exactly what this verdict re-proves."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = ivfpq_pruned_topk_listing(
        spark, sf_dir, index_root=_stream_appended_index(spark, sf_dir)[0]
    ).select("query_id", "cand_id")
    return _recall_verdict(exact, approx)
