"""Persisted IVFPQ index lifecycle: layout on disk, partition-pruned probe
plan, ADC/recall correctness, and the registered verdict's oracle."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parallel_map_reduce_word_counter_for_one_machine_spark import registry
from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
    ivfpq_index_dir,
    ivfpq_pruned_topk_listing,
    probed_codes_scan,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
    ANN_RECALL_BOUND,
    PQ_M,
    similarity_topk,
)
from parallel_map_reduce_word_counter_for_one_machine_spark.plans.inspect import (
    plan_string,
)

from .oracle import assert_matches_oracle

registry.load_all()


def test_index_layout_on_disk(spark, sf_dir):
    """The build writes the three FAISS-shaped tables; codes are hive-
    partitioned by cell and exactly PQ_M bytes per vector."""
    root = ivfpq_index_dir(spark, sf_dir)
    assert os.path.isdir(os.path.join(root, "codebooks"))
    assert os.path.isdir(os.path.join(root, "centroids"))
    cell_dirs = [
        d for d in os.listdir(os.path.join(root, "codes")) if d.startswith("cell=")
    ]
    assert len(cell_dirs) >= 2, "codes not partitioned by cell"
    codes = spark.read.parquet(os.path.join(root, "codes"))
    lens = codes.select(F.length("code").alias("n")).distinct().collect()
    assert [r.n for r in lens] == [PQ_M]
    # every nonzero vector is indexed exactly once
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert codes.select("vec_id").distinct().count() == codes.count() <= n_vecs


def test_probe_scan_is_partition_pruned(spark, sf_dir):
    """The probed read resolves the cell filter at file-listing time:
    PartitionFilters carries `cell`, and the data schema read from disk is
    codes-only (16 B/vector), never raw embeddings."""
    root = ivfpq_index_dir(spark, sf_dir)
    df = probed_codes_scan(spark, root, [0, 1, 2])
    plan = plan_string(df)
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1].splitlines()[0]
    assert "embedding" not in plan  # raw vectors never touched by the probe
    got_cells = sorted(r.cell for r in df.select("cell").distinct().collect())
    assert got_cells == [0, 1, 2]


def test_pruned_listing_recall_vs_exact(spark, sf_dir):
    """End-to-end probe recall over the persisted index clears the same
    bound the registered verdict enforces, and the listing keeps the
    shared (query_id, cand_id, cos_sim, rk) contract."""
    exact = {
        (r.query_id, r.cand_id)
        for r in similarity_topk(spark, sf_dir).collect()
    }
    approx = ivfpq_pruned_topk_listing(spark, sf_dir)
    rows = approx.collect()
    assert rows and set(approx.columns) == {"query_id", "cand_id", "cos_sim", "rk"}
    got = {(r.query_id, r.cand_id) for r in rows}
    assert len(exact & got) >= ANN_RECALL_BOUND * len(exact)


def test_registered_verdict_matches_oracle(spark, sf_correct):
    assert_matches_oracle(
        spark,
        sf_correct,
        "similarity_topk_ivfpq_pruned",
        registry.QUERIES["similarity_topk_ivfpq_pruned"],
        registry.ORACLES["similarity_topk_ivfpq_pruned"],
    )


def test_kmeans_index_deepens_pruning(spark, sf_dir):
    """The trained coarse quantizer spreads codes over more cells than the
    10 labels, so a fixed-n_probe probe opens a SMALLER fraction of the
    partition directories — the pruning-depth knob the label-cell index
    can't turn. Asserts the kmeans index has more cell dirs than labels
    and that a single probe's file fraction is below the label-cell one."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
        IVFPQ_KMEANS_CELLS,
        IVFPQ_KMEANS_PROBE,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        IVFPQ_N_PROBE,
    )

    root_km = ivfpq_index_dir(spark, sf_dir, n_cells=IVFPQ_KMEANS_CELLS)
    cell_dirs = [
        d for d in os.listdir(os.path.join(root_km, "codes")) if d.startswith("cell=")
    ]
    n_labels = 10
    assert len(cell_dirs) > n_labels
    # per-query scan fraction: n_probe / n_cells, strictly deeper pruning
    assert IVFPQ_KMEANS_PROBE / len(cell_dirs) < IVFPQ_N_PROBE / n_labels
    # every nonzero vector still indexed exactly once
    codes = spark.read.parquet(os.path.join(root_km, "codes"))
    assert codes.select("vec_id").distinct().count() == codes.count()


def test_kmeans_pruned_verdict_matches_oracle(spark, sf_correct):
    assert_matches_oracle(
        spark,
        sf_correct,
        "similarity_topk_ivfpq_kmeans_pruned",
        registry.QUERIES["similarity_topk_ivfpq_kmeans_pruned"],
        registry.ORACLES["similarity_topk_ivfpq_kmeans_pruned"],
    )


def test_append_freezes_quantizers_and_lands_in_cells(spark, sf_dir, tmp_path):
    """Incremental maintenance: an append encodes against the FROZEN
    codebooks/centroids (bit-identical tables before/after), lands its
    codes inside the existing cell partitions, and a same-distribution
    batch does NOT trip the drift gate (ratio ≈ 1)."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
        append_to_ivfpq_index,
        build_ivfpq_index,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _vectors,
    )

    root = str(tmp_path / "app_idx")
    vecs = _vectors(spark, sf_dir)
    in_base = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(2)) == 0
    # small train_cap: the drift baseline needs HELD-OUT indexed rows
    # (a corpus entirely inside the training sample is memorized by the
    # KSUB codewords and its in-index error is ~0)
    build_ivfpq_index(
        spark, sf_dir, root, vecs=vecs.filter(in_base), train_cap=12
    )
    books_before = sorted(
        map(tuple, spark.read.parquet(os.path.join(root, "codebooks")).collect())
    )
    cents_before = sorted(
        map(tuple, spark.read.parquet(os.path.join(root, "centroids")).collect())
    )
    n_before = spark.read.parquet(os.path.join(root, "codes")).count()

    gate = append_to_ivfpq_index(spark, vecs.filter(~in_base), root)
    assert gate["retrain"] is False, gate
    assert 0.5 < gate["drift_ratio"] < 1.5, gate

    books_after = sorted(
        map(tuple, spark.read.parquet(os.path.join(root, "codebooks")).collect())
    )
    cents_after = sorted(
        map(tuple, spark.read.parquet(os.path.join(root, "centroids")).collect())
    )
    assert books_after == books_before and cents_after == cents_before
    codes = spark.read.parquet(os.path.join(root, "codes"))
    assert codes.count() > n_before
    # full corpus indexed exactly once (minus zero-norm rows)
    assert codes.select("vec_id").distinct().count() == codes.count()


def test_drift_gate_trips_on_distribution_shift(spark, sf_correct, tmp_path):
    """The re-train trigger: a batch whose energy concentrates in one
    subspace (e.g. an embedding-model swap changing the coordinate
    distribution) puts residual slices far outside the trained per-
    subspace codeword cloud and must trip DRIFT_RETRAIN_RATIO. (A plain
    constant offset does NOT trip it on this isotropic corpus — vectors
    are re-normalized and residual magnitudes barely move, measured ratio
    ≈ 1.08 — which is correct behavior: recall there is unharmed.)"""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        DRIFT_RETRAIN_RATIO,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _vectors,
    )

    root = str(tmp_path / "drift_idx")
    vecs = _vectors(spark, sf_correct)
    # train_cap below the corpus so the baseline is held-out-calibrated
    # (measured here: same-distribution append ratio 0.74, the one-slice
    # concentration below 1.92 — the gate separates them cleanly)
    build_ivfpq_index(spark, sf_correct, root, vecs=vecs, train_cap=256)
    shifted = vecs.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        "label",
        F.transform(
            F.col("v"),
            lambda x, i: F.when(i < 4, x + F.lit(10.0)).otherwise(x * 0.05),
        ).alias("v"),
    )
    gate = append_to_ivfpq_index(spark, shifted, root)
    assert gate["retrain"] is True, gate
    assert gate["drift_ratio"] > DRIFT_RETRAIN_RATIO


def test_appended_verdict_matches_oracle(spark, sf_correct):
    assert_matches_oracle(
        spark,
        sf_correct,
        "similarity_topk_ivfpq_appended",
        registry.QUERIES["similarity_topk_ivfpq_appended"],
        registry.ORACLES["similarity_topk_ivfpq_appended"],
    )


def test_delete_rewrites_only_affected_cells(spark, sf_dir, tmp_path):
    """Lifecycle verb 3: deleting vectors rewrites ONLY the cell
    partitions containing them (other partition directories byte-
    identical on disk), removes exactly the doomed ids, keeps quantizer
    tables frozen, and the probe never returns a deleted candidate."""
    import shutil

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_pruned_topk_listing,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _vectors,
    )

    root = str(tmp_path / "del_idx")
    build_ivfpq_index(spark, sf_dir, root, vecs=_vectors(spark, sf_dir))
    codes_root = os.path.join(root, "codes")
    before = {
        r.vec_id: r.cell
        for r in spark.read.parquet(codes_root).select("vec_id", "cell").collect()
    }
    # pick two indexed non-query ids from different cells when possible
    by_cell = {}
    for vid, cell in sorted(before.items()):
        if vid >= 5:  # keep the query vectors
            by_cell.setdefault(cell, vid)
    doomed = list(by_cell.values())[:2]
    doomed_cells = {before[v] for v in doomed}
    untouched_cell = next(c for c in set(before.values()) if c not in doomed_cells)
    untouched_files = sorted(
        os.listdir(os.path.join(codes_root, f"cell={untouched_cell}"))
    )
    untouched_mtime = os.path.getmtime(
        os.path.join(codes_root, f"cell={untouched_cell}")
    )

    res = delete_from_ivfpq_index(spark, doomed, root)
    assert res["deleted"] == len(doomed)
    assert set(res["cells_rewritten"]) == doomed_cells

    after = {
        r.vec_id for r in spark.read.parquet(codes_root).select("vec_id").collect()
    }
    assert after == set(before) - set(doomed)
    # untouched partition: same files, same mtime (never rewritten)
    assert sorted(
        os.listdir(os.path.join(codes_root, f"cell={untouched_cell}"))
    ) == untouched_files
    assert os.path.getmtime(
        os.path.join(codes_root, f"cell={untouched_cell}")
    ) == untouched_mtime
    # probe over the shrunken index: no deleted candidate ever surfaces
    got = ivfpq_pruned_topk_listing(spark, sf_dir, index_root=root).collect()
    assert got and not ({r.cand_id for r in got} & set(doomed))
    shutil.rmtree(root, ignore_errors=True)


def test_delete_swap_crash_recovery(spark, sf_dir, tmp_path):
    """Torn-swap healing (ADVICE r6): a crash inside the delete's
    partition swap must never lose a cell's surviving codes. Three torn
    states are constructed on a real index and healed by the next delete:
    (a) swap fully landed but the aside copy not yet dropped → heal drops
    the stale aside; (b) original renamed aside, staged replacement not
    yet moved in, staging COMPLETE (marker present) → heal rolls forward
    from the staged dir; (c) original renamed aside with an INCOMPLETE
    staging area (no marker) → heal rolls the aside copy back. In every
    case the replayed delete converges to exactly original-minus-doomed."""
    import shutil

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
        _STAGED_MARKER,
        build_ivfpq_index,
        delete_from_ivfpq_index,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _vectors,
    )

    root = str(tmp_path / "torn_idx")
    build_ivfpq_index(spark, sf_dir, root, vecs=_vectors(spark, sf_dir))
    codes_root = os.path.join(root, "codes")
    staged = os.path.join(root, "_codes_staged")
    oldroot = os.path.join(root, "_codes_old")
    before = {
        r.vec_id: r.cell
        for r in spark.read.parquet(codes_root).select("vec_id", "cell").collect()
    }
    by_cell: dict = {}
    for vid, cell in sorted(before.items()):
        by_cell.setdefault(cell, []).append(vid)
    two_cells = [c for c, vs in sorted(by_cell.items()) if len(vs) >= 2][:2]
    assert len(two_cells) == 2, "fixture needs two multi-vector cells"
    cell_a, cell_b = two_cells
    doomed1 = [by_cell[cell_a][0], by_cell[cell_b][0]]

    # construct the mid-crash state the real swap loop passes through:
    # survivors staged (marker last), cell_a fully swapped but its aside
    # copy not yet dropped, cell_b renamed aside and nothing moved in
    codes = spark.read.parquet(codes_root)
    codes.filter(F.col("cell").isin([cell_a, cell_b])).filter(
        ~F.col("vec_id").isin([int(v) for v in doomed1])
    ).write.mode("overwrite").partitionBy("cell").parquet(staged)
    open(os.path.join(staged, _STAGED_MARKER), "w").close()
    os.makedirs(oldroot)
    for c in (cell_a, cell_b):
        os.rename(
            os.path.join(codes_root, f"cell={c}"),
            os.path.join(oldroot, f"cell={c}"),
        )
    shutil.move(
        os.path.join(staged, f"cell={cell_a}"),
        os.path.join(codes_root, f"cell={cell_a}"),
    )

    # the replayed delete heals first, then finds the doomed ids gone
    res = delete_from_ivfpq_index(spark, doomed1, root)
    assert res["deleted"] == 0 and res["cells_rewritten"] == []
    after1 = {
        r.vec_id for r in spark.read.parquet(codes_root).select("vec_id").collect()
    }
    assert after1 == set(before) - set(doomed1)
    assert not os.path.exists(oldroot) and not os.path.exists(staged)

    # (c) incomplete staging (no marker): heal must roll the aside copy
    # BACK, and the replayed delete then runs to completion normally
    doomed2 = [by_cell[cell_b][1]]
    os.makedirs(oldroot)
    os.rename(
        os.path.join(codes_root, f"cell={cell_b}"),
        os.path.join(oldroot, f"cell={cell_b}"),
    )
    os.makedirs(staged)  # torn before any parquet (and before the marker)
    res2 = delete_from_ivfpq_index(spark, doomed2, root)
    assert res2["deleted"] == 1 and res2["cells_rewritten"] == [cell_b]
    after2 = {
        r.vec_id for r in spark.read.parquet(codes_root).select("vec_id").collect()
    }
    assert after2 == after1 - set(doomed2)
    assert not os.path.exists(oldroot) and not os.path.exists(staged)
    shutil.rmtree(root, ignore_errors=True)


def test_heal_runs_at_append_and_probe_entry(spark, sf_dir, tmp_path):
    """ADVICE r07 (medium): healing only at the next DELETE's entry left a
    window where (a) an append into a torn index recreated ``cell=N`` with
    only the new batch — making the eventual heal's dst-exists ⇒
    swap-landed inference silently drop the cell's pre-existing codes —
    and (b) a probe silently returned results missing the whole mid-swap
    cell. Every index entry point now heals first; this constructs the
    torn state twice and drives it through append and the probe scan."""
    import shutil

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
        _STAGED_MARKER,
        append_to_ivfpq_index,
        build_ivfpq_index,
        probed_codes_scan,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _vectors,
    )

    root = str(tmp_path / "entry_heal_idx")
    build_ivfpq_index(spark, sf_dir, root, vecs=_vectors(spark, sf_dir))
    codes_root = os.path.join(root, "codes")
    staged = os.path.join(root, "_codes_staged")
    oldroot = os.path.join(root, "_codes_old")
    before = {
        r.vec_id: r.cell
        for r in spark.read.parquet(codes_root).select("vec_id", "cell").collect()
    }
    by_cell: dict = {}
    for vid, cell in sorted(before.items()):
        by_cell.setdefault(cell, []).append(vid)
    cell_b = next(c for c, vs in sorted(by_cell.items()) if len(vs) >= 2)
    doomed = [by_cell[cell_b][0]]

    def tear():
        """cell_b renamed aside, staged replacement complete but not yet
        moved in — the exact mid-swap crash point."""
        codes = spark.read.parquet(codes_root)
        codes.filter(F.col("cell") == cell_b).filter(
            ~F.col("vec_id").isin([int(v) for v in doomed])
        ).write.mode("overwrite").partitionBy("cell").parquet(staged)
        open(os.path.join(staged, _STAGED_MARKER), "w").close()
        os.makedirs(oldroot, exist_ok=True)
        os.rename(
            os.path.join(codes_root, f"cell={cell_b}"),
            os.path.join(oldroot, f"cell={cell_b}"),
        )

    # (a) append into the torn index: heal must roll cell_b forward FIRST,
    # then land the batch — nothing pre-existing is lost
    tear()
    batch = _vectors(spark, sf_dir).limit(3).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "v", "label"
    )
    batch_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    append_to_ivfpq_index(spark, batch, root)
    after_append = {
        r.vec_id for r in spark.read.parquet(codes_root).select("vec_id").collect()
    }
    assert after_append == (set(before) - set(doomed)) | batch_ids
    assert not os.path.exists(oldroot) and not os.path.exists(staged)

    # (b) probe scan of the torn index: heal first, so the probed cell's
    # surviving rows are all present (not silently missing)
    doomed2 = [by_cell[cell_b][1]]
    cellb_now = {
        r.vec_id
        for r in spark.read.parquet(codes_root)
        .filter(F.col("cell") == cell_b)
        .select("vec_id")
        .collect()
    }
    codes = spark.read.parquet(codes_root)
    codes.filter(F.col("cell") == cell_b).filter(
        ~F.col("vec_id").isin([int(v) for v in doomed2])
    ).write.mode("overwrite").partitionBy("cell").parquet(staged)
    open(os.path.join(staged, _STAGED_MARKER), "w").close()
    os.makedirs(oldroot, exist_ok=True)
    os.rename(
        os.path.join(codes_root, f"cell={cell_b}"),
        os.path.join(oldroot, f"cell={cell_b}"),
    )
    got = {
        r.vec_id
        for r in probed_codes_scan(spark, root, [cell_b]).select("vec_id").collect()
    }
    assert got == cellb_now - set(doomed2)
    assert not os.path.exists(oldroot) and not os.path.exists(staged)
    shutil.rmtree(root, ignore_errors=True)


def test_write_driver_table_atomic_overwrite(tmp_path):
    """ADVICE r07 (low): _write_driver_table used rmtree-then-write, so a
    crash between the two left the component missing. Now temp-sibling +
    rename: an overwrite replaces content atomically-ish, stale temp dirs
    from a previous crash are clobbered, and no ._tmp/._old residue
    survives a successful write."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
        _write_driver_table,
    )

    path = str(tmp_path / "stats")
    _write_driver_table(path, pa.table({"x": pa.array([1, 2], pa.int64())}))
    assert pq.read_table(path).column("x").to_pylist() == [1, 2]

    # stale temp dir from a torn previous write must not block or corrupt
    os.makedirs(path + "._tmp", exist_ok=True)
    open(os.path.join(path + "._tmp", "garbage"), "w").write("x")
    _write_driver_table(path, pa.table({"x": pa.array([7], pa.int64())}))
    assert pq.read_table(path).column("x").to_pylist() == [7]
    assert not os.path.exists(path + "._tmp")
    assert not os.path.exists(path + "._old")


def test_compaction_merges_append_files_and_preserves_rows(spark, sf_correct):
    """r08 lifecycle verb #4: the registered verdict must match its
    DuckDB oracle, and the underlying compaction must merge multi-file
    cells to one file each with a bit-identical row multiset."""
    assert_matches_oracle(
        spark,
        sf_correct,
        "ivfpq_compaction",
        registry.QUERIES["ivfpq_compaction"],
        registry.ORACLES["ivfpq_compaction"],
    )
    row = registry.QUERIES["ivfpq_compaction"](spark, sf_correct).collect()[0]
    assert row.rows_preserved_ok and row.files_reduced_ok


def test_compaction_torn_swap_heals_at_entry(spark, sf_dir, tmp_path):
    """A compaction torn mid-swap must heal exactly like a torn delete
    (same staged-swap machinery): construct the mid-crash state from a
    REAL compaction's staged dir, then drive it through the probe-scan
    entry point and a fresh compaction — rows identical to the untorn
    outcome, no aside/staged residue."""
    import shutil

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.annindex import (
        _STAGED_MARKER,
        _cell_file_census,
        append_to_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_index,
        probed_codes_scan,
    )
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _vectors,
    )

    root = str(tmp_path / "compact_torn_idx")
    build_ivfpq_index(spark, sf_dir, root, vecs=_vectors(spark, sf_dir))
    batch = _vectors(spark, sf_dir).limit(40).select(
        (F.col("vec_id") + 70_000_000).alias("vec_id"), "v", "label"
    )
    append_to_ivfpq_index(spark, batch, root)
    codes_root = os.path.join(root, "codes")
    want = sorted(
        (r.vec_id, r.cell)
        for r in spark.read.parquet(codes_root).select("vec_id", "cell").collect()
    )
    census = _cell_file_census(root)
    multi = sorted(c for c, n in census.items() if n > 1)
    assert multi, "append must create multi-file cells for this fixture"

    # construct the torn state: stage the compacted partitions (marker
    # last, as the real swap does), rename ONE cell aside, crash before
    # its staged partition moves in
    staged = os.path.join(root, "_codes_staged")
    oldroot = os.path.join(root, "_codes_old")
    affected = spark.read.parquet(codes_root).filter(F.col("cell").isin(multi))
    affected.select("vec_id", "cell", "code", "qerr").repartition(
        len(multi), "cell"
    ).write.mode("overwrite").partitionBy("cell").parquet(staged)
    open(os.path.join(staged, _STAGED_MARKER), "w").close()
    os.makedirs(oldroot)
    torn_cell = multi[0]
    os.rename(
        os.path.join(codes_root, f"cell={torn_cell}"),
        os.path.join(oldroot, f"cell={torn_cell}"),
    )

    # a probe heals first, so the scan sees the complete cell
    got_cell = {
        r.vec_id
        for r in probed_codes_scan(spark, root, [torn_cell]).select("vec_id").collect()
    }
    assert got_cell == {v for v, c in want if c == torn_cell}
    # a follow-up compaction completes the job; rows identical throughout
    compact_ivfpq_index(spark, root)
    got = sorted(
        (r.vec_id, r.cell)
        for r in spark.read.parquet(codes_root).select("vec_id", "cell").collect()
    )
    assert got == want
    assert all(n <= 1 for n in _cell_file_census(root).values())
    assert not os.path.exists(oldroot) and not os.path.exists(staged)
    shutil.rmtree(root, ignore_errors=True)


def test_delete_verdict_matches_oracle(spark, sf_correct):
    """r08 continuation: the registered ``ivfpq_delete`` verdict must
    match its DuckDB oracle (n_vectors / n_deleted recomputed
    independently as encodable-corpus minus encodable-doomed), and every
    in-verdict certification — deleted ids absent, survivors
    bit-identical, unclaimed cells untouched bytes — must hold."""
    assert_matches_oracle(
        spark,
        sf_correct,
        "ivfpq_delete",
        registry.QUERIES["ivfpq_delete"],
        registry.ORACLES["ivfpq_delete"],
    )
    row = registry.QUERIES["ivfpq_delete"](spark, sf_correct).collect()[0]
    assert row.deleted_absent_ok
    assert row.survivors_intact_ok
    assert row.untouched_cells_ok
    assert row.n_deleted > 0


def test_assign_cells_pure_map_matches_aggregate(spark):
    """Equality pin for the r11 pure-map nearest-centroid assignment
    (similarity._assign_cells): the array_max-over-literal-centroids form
    must pick the EXACT winner the old broadcast-crossJoin +
    groupBy(vec_id).agg(max(struct(sim, -cell_id, v))) aggregate picked —
    including the edge classes that exercise the struct total order:
    an exact cosine TIE between two cells (lowest cell_id must win), a
    ZERO-NORM vector (all sims NULL: lowest cell_id must win) and a
    ZERO-NORM centroid (its sims are NULL, so it never wins over a
    scoring cell, not even over a negative sim)."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _assign_cells,
        _cell_sims_sql,
        _dot_sql,
        cosine,
    )

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),        # exactly on centroid 0
            (1, [0.0, 1.0]),        # exactly on centroid 1
            (2, [1.0, 1.0]),        # equidistant: cosine tie -> cell 0
            (3, [0.0, 0.0]),        # zero norm: NULL sims -> cell 0
            (4, [-1.0, -1.0]),      # negative quadrant tie -> cell 0
        ],
        "vec_id LONG, v ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0])],
        "cell_id LONG, centroid ARRAY<DOUBLE>",
    )

    # the pre-r11 aggregate formulation, verbatim
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.struct(
            cosine("v", "centroid").alias("sim"),
            (-F.col("cell_id")).alias("negc"),
            F.col("v"),
        ).alias("cand"),
    )
    old = (
        scored.groupBy("vec_id")
        .agg(F.max("cand").alias("b"))
        .select("vec_id", (-F.col("b.negc")).alias("cell_id"))
    )
    new = _assign_cells(vecs, cents).select("vec_id", "cell_id")
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )
    # and the documented edge-class outcomes explicitly
    got = {r.vec_id: r.cell_id for r in new.collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 0, 4: 0}
    sims = vecs.select(
        "vec_id", "v", F.expr(f"sqrt({_dot_sql('v', 'v')})").alias("nv")
    ).select(F.expr(_cell_sims_sql(cents.collect())).alias("s"))
    assert all(r.s[2].sim is None and r.s[2].negc == -2 for r in sims.collect())


def test_assign_cells_k_bound_falls_back_to_aggregate(spark):
    """r12 (VERDICT r11 what's-wrong 3): above ASSIGN_LITERAL_CELL_CAP the
    assignment must NOT bake k×dim literals into the plan — it falls back
    to the broadcast-crossJoin aggregate, which degrades gracefully at any
    k. Also pins the ADVICE r11 empty-centroid guard."""
    import pytest

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        ASSIGN_LITERAL_CELL_CAP,
        _assign_cells,
    )

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id LONG, v ARRAY<DOUBLE>"
    )
    k = ASSIGN_LITERAL_CELL_CAP + 2
    cents = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(k)],
        "cell_id LONG, centroid ARRAY<DOUBLE>",
    )
    out = _assign_cells(vecs, cents)
    # the fallback is a join; the pure-map plan has none
    assert "Join" in out._jdf.queryExecution().analyzed().toString()
    got = {r.vec_id: r.cell_id for r in out.collect()}
    # centroid i = [i+1, 1]: cosine with [1,0] rises with i (→ cell k-1),
    # cosine with [0,1] falls with i (→ cell 0)
    assert got[0] == k - 1 and got[1] == 0
    # small k keeps the literal pure map (no join in the plan)
    small = _assign_cells(vecs, cents.limit(2))
    assert "Join" not in small._jdf.queryExecution().analyzed().toString()
    with pytest.raises(ValueError):
        _assign_cells(vecs, cents.filter("cell_id < 0"))


def test_assign_cells_literal_plan_does_not_grow_with_k(spark):
    """The literal branch scores every centroid with one lambda set: its
    analyzed plan holds as many ``lambdafunction`` nodes at k=2 as at k=8,
    so building the plan costs the same py4j round trips at any k under
    ASSIGN_LITERAL_CELL_CAP."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _assign_cells,
    )

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id LONG, v ARRAY<DOUBLE>"
    )
    cents = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(8)],
        "cell_id LONG, centroid ARRAY<DOUBLE>",
    )

    def lambdas(k):
        out = _assign_cells(vecs, cents.filter(F.col("cell_id") < k))
        return out._jdf.queryExecution().analyzed().toString().count("lambdafunction")

    assert lambdas(2) == lambdas(8) > 0


def test_assign_cells_plan_build_py4j_calls_do_not_grow_with_k(spark, monkeypatch):
    """Building the literal-branch plan costs a small, fixed number of py4j
    round trips whatever k is: the argmax is one SQL text handed over in
    one call, not a Python lambda built through the gateway."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _assign_cells,
    )

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id LONG, v ARRAY<DOUBLE>"
    )
    crows = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(8)],
        "cell_id LONG, centroid ARRAY<DOUBLE>",
    ).collect()
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting_send(command, *args, **kwargs):
        # reference releases of collected Python objects go through here too
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)

    def build_calls(k):
        calls.clear()
        _assign_cells(vecs, None, crows=crows[:k])
        return len(calls)

    build_calls(1)  # first use of a JVM class or method costs extra calls
    n2, n8 = build_calls(2), build_calls(8)
    assert n2 == n8 < 40, (n2, n8)


def test_hoisted_norms_keep_the_cosine_bits(spark):
    """The driver-side centroid norm equals the JVM's ``sqrt(dot(c, c))``
    bit for bit, down to subnormals and through overflow to inf, and the
    hoisted-norm sims of ``_assign_cells`` equal ``cosine``'s: a centroid
    whose sum of squares overflows rides as NULL and is computed in the
    plan instead. With finite norms the optimized plan holds two dot
    products: the row's norm and the one dot product per centroid."""
    import struct

    from pyspark.sql import Row

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _assign_cells,
        _cell_sims_sql,
        _dot_sql,
        _norm,
        cosine,
    )

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    cents = [
        [0.1] * 64,
        [1e-300, 3.0, -1e-300],
        [5e-324, 5e-324, 0.0],
        [1.7976931348623157e308, 1.0],
        [1.3e154, 1.3e154],  # each square finite, their sum overflows
        [0.0, 0.0],
    ]
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell_id LONG, c ARRAY<DOUBLE>"
    )
    jvm = cdf.select("cell_id", F.expr(f"sqrt({_dot_sql('c', 'c')})").alias("n"))
    got = {r.cell_id: bits(r.n) for r in jvm.collect()}
    assert got == {i: bits(_norm(c)) for i, c in enumerate(cents)}
    assert _norm(cents[3]) == _norm(cents[4]) == float("inf")

    rows = [[0.3, -0.2], [1e-300, 2.0], [1.3e154, -1.3e154], [0.0, 0.0]]
    vecs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)], "vec_id LONG, v ARRAY<DOUBLE>"
    )
    crows = [Row(cell_id=i, centroid=c) for i, c in enumerate(cents[1:])]
    hoisted = vecs.select(
        "vec_id", "v", F.expr(f"sqrt({_dot_sql('v', 'v')})").alias("nv")
    ).select("vec_id", F.expr(_cell_sims_sql(crows)).alias("s"))
    plain = vecs.crossJoin(cdf.filter("cell_id > 0")).select(
        "vec_id", "cell_id", cosine("v", "c").alias("sim")
    )
    want = {(r.vec_id, r.cell_id - 1): bits(r.sim) for r in plain.collect()}
    have = {
        (r.vec_id, -s.negc): bits(s.sim) for r in hoisted.collect() for s in r.s
    }
    assert have == want
    assert want[(2, 3)] is not None  # the overflow pair has a sim to compare
    # finite norms: the row norm once per row and one dot per centroid
    plan = _assign_cells(vecs, None, crows=crows[:2])._jdf.queryExecution()
    assert plan.optimizedPlan().toString().count("aggregate(zip_with") == 2


def test_label_means_match_label_centroids_bits(spark):
    """``_label_means`` over collected rows equals ``label_centroids`` bit
    for bit on a one-partition relation — sequential sums divided by the
    count, which is what ``avg`` does over one scan partition — and skips
    a NULL vector as ``avg`` does. A NULL label, a NULL element and
    vectors of different lengths raise ValueError."""
    import struct

    from pyspark.sql import Row

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        _label_means,
        label_centroids,
    )

    rows = [
        (i, i % 3, [0.1 * i + 1e-17 * j, 1.0 / (i + 1), -(0.7**i), 3e-310 * j])
        for i, j in zip(range(40), range(40, 0, -1))
    ]
    rows.append((40, 1, None))
    df = spark.createDataFrame(rows, "vec_id LONG, label INT, v ARRAY<DOUBLE>")
    df = df.coalesce(1)
    assert df.rdd.getNumPartitions() == 1

    def bits(crows):
        return [
            (r.cell_id, [struct.pack("<d", x) for x in r.centroid]) for r in crows
        ]

    want = sorted(label_centroids(df).collect(), key=lambda r: r.cell_id)
    got = _label_means(df.select("label", "v").collect())
    assert bits(got) == bits(want)
    assert [r.cell_id for r in got] == [0, 1, 2]

    for bad in (
        [Row(label=1, v=[1.0, 2.0]), Row(label=None, v=[1.0, 2.0])],
        [Row(label=1, v=[1.0, 2.0]), Row(label=2, v=[1.0])],
        [Row(label=1, v=[1.0, None])],
    ):
        with pytest.raises(ValueError):
            _label_means(bad)


def test_plan_literal_round_trips_float64_bits(spark):
    """``plan_literal`` keeps every float64 bit — signed zero, the
    smallest subnormal, the largest finite double — and refuses values
    that have no SQL literal instead of planning a wrong one."""
    import struct

    from pyspark.sql import Row

    from parallel_map_reduce_word_counter_for_one_machine_spark.operators.similarity import (
        plan_literal,
    )

    vals = [-0.0, 5e-324, 0.1, 1.7976931348623157e308, -1e-300]
    got = spark.range(1).select(plan_literal(vals).alias("a")).collect()[0].a
    assert [struct.pack("<d", x) for x in got] == [struct.pack("<d", x) for x in vals]
    route = {7: [Row(grp=7, is_x=True)], -2: [Row(grp=7, is_x=False)]}
    assert spark.range(1).select(plan_literal(route).alias("m")).collect()[0].m == route
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError):
            plan_literal([0.5, bad])
