"""Similarity search over the ``embeddings`` table (array<float>[64]).

Tiers of the query × corpus top-k (driver contract § north-star
extensions), each with an unregistered listing and a registered face:

- Exact: ``similarity_topk`` — brute-force cosine top-k, the correctness
  baseline. Query side is broadcast (|queries| ≪ |corpus|), the corpus
  scan is linear, ranking is a per-query window — no all-pairs shuffle.
  ``similarity_topk_pandas`` is its Arrow/numpy twin.
- IVF (inverted file): a coarse quantizer assigns every vector to a cell;
  queries probe only the ``nprobe`` nearest cells. The cells are the
  labels (``ivf_topk_listing``) or trained k-means centroids
  (``ivf_kmeans_topk_listing``). At 100 TB the corpus is partitioned by
  cell id so a probe touches only matching partitions.
- PQ (product quantization): ``pq_topk_listing`` scores reconstructed
  16-code vectors, then re-ranks a shortlist exactly.
- IVF ∘ PQ: ``ivfpq_topk_listing`` does both in the query; the persisted,
  partition-pruned index form is ``annindex.ivfpq_pruned_topk_listing``.

The corpus × corpus k-NN graph has an exact (``knn_graph``) and an IVF
(``knn_graph_ivf_listing``) tier.

A listing is its quantizer plus calls into the shared stages below: the
query relation (``_queries``) and its driver twin (``_query_matrix``),
the exact top-k tail (``_exact_topk``), the numpy probe choice
(``_probe_mask``), the PQ encode (``_pq_encode``/``_pq_decode``) and the
shortlist → exact re-rank (``_pq_rerank``).

All JVM-side vector math is ``zip_with``/``aggregate`` in double —
sequential accumulation matching the DuckDB oracle bit-for-bit before the
6dp rounding that stabilizes rank boundaries.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..session import session_artifact
from ..sources.tables import load_table

TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors
# The synthetic embeddings are near-random (measured intra-label cosine
# 0.009 vs inter-label -0.004), so the coarse quantizer carries little
# signal and IVF recall ~ fraction-of-corpus probed (0.74 at 5/10 cells).
# On genuinely clustered corpora the same plan probes 1-2 cells at high
# recall; nprobe is the knob.
N_PROBE = 5


def _dot_sql(x: str, y: str) -> str:
    """SQL text of the dot product of two array<double> expressions: the
    products summed left to right from 0.0, one IEEE rounding each. The
    lambda variables are named as PySpark names those of Python lambdas."""
    return f"aggregate(zip_with({x}, {y}, (x, y) -> x * y), 0D, (x, y) -> x + y)"


def _cosine_sql(x: str, y: str, nx: str | None = None, ny: str | None = None) -> str:
    """SQL text of the cosine of ``x`` and ``y``, NULL unless the product
    of their norms is > 0. ``nx``/``ny`` replace the default norm text
    ``sqrt(dot(x, x))`` when a caller already holds that value."""
    nx = nx or f"sqrt({_dot_sql(x, x)})"
    ny = ny or f"sqrt({_dot_sql(y, y)})"
    return f"CASE WHEN {nx} * {ny} > 0 THEN {_dot_sql(x, y)} / ({nx} * {ny}) END"


def dot(x: str, y: str) -> Column:
    """Dot product of the array<double> columns named ``x`` and ``y``."""
    return F.expr(_dot_sql(x, y))


def cosine(x: str, y: str) -> Column:
    """Cosine of the array<double> columns named ``x`` and ``y`` (SQL
    names, qualified ones such as ``"a.v"`` included), built as one SQL
    text parsed by one ``F.expr`` call: a Python lambda build would cost
    hundreds of py4j round trips per call.

    NULL for zero-norm inputs (ANSI mode — Spark 4 default — would raise
    DIVIDE_BY_ZERO). The top-k rankers additionally FILTER these NULLs out
    before ranking: NULL sorts last, but when a query has fewer than k
    scored candidates a zero-norm row would otherwise pad the tail of the
    listing with an undefined similarity (and the numpy twin drops them) —
    caught by tests/test_edge_cases.py on a synthetic zero-vector corpus."""
    return F.expr(_cosine_sql(x, y))


def _norm(c) -> float:
    """Driver-side ``sqrt(dot(c, c))`` with the JVM's operations in the
    JVM's order (products summed left to right from 0.0, then a correctly
    rounded sqrt), so it returns the same float64 bits."""
    acc = 0.0
    for x in c:
        acc += x * x
    return math.sqrt(acc)


def plan_literal(value) -> Column:
    """Driver-side ``value`` as ONE JVM literal column, built with a
    constant number of py4j calls however many floats it holds: the value
    is printed as Spark SQL text and parsed once by ``F.expr`` (``F.lit``
    on a list pays one py4j call per element). Floats print as
    ``repr(x) + "D"`` — the shortest text that round-trips — so the plan
    holds the same float64 bits; NaN and ±inf have no SQL literal and
    raise ``ValueError``. Lists become ``array``, dicts ``map``, ``Row``s
    ``named_struct``, ints ``bigint``, bools ``boolean`` and None
    ``NULL``."""
    return F.expr(_sql_text(value))


def _sql_text(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, Row):
        return "named_struct(" + ", ".join(
            f"'{k}', {_sql_text(x)}" for k, x in v.asDict().items()
        ) + ")"
    if isinstance(v, dict):
        return "map(" + ", ".join(
            f"{_sql_text(k)}, {_sql_text(x)}" for k, x in v.items()
        ) + ")"
    if isinstance(v, list):
        return "array(" + ", ".join(_sql_text(x) for x in v) + ")"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError(f"plan_literal: non-finite float {v!r}")
        return repr(v) + "D"
    raise TypeError(f"plan_literal: unsupported value {v!r}")


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.selectExpr(
        "vec_id", "label", "transform(embedding, x -> cast(x as double)) AS v"
    )


def _queries(vecs: DataFrame, nq: int) -> DataFrame:
    """The query side of every top-k listing: the vectors with
    ``vec_id < nq``, as (query_id, qv)."""
    return vecs.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def _exact_topk(pairs: DataFrame) -> DataFrame:
    """The exact tail of every top-k listing: over (query_id, cand_id, qv,
    cv) candidate pairs, the 6dp-rounded cosine, zero-norm pairs dropped
    (see ``cosine``), and each query's TOP_K under (cos_sim desc, cand_id
    asc) — one window exchange keyed by query_id."""
    sim = F.round(cosine("qv", "cv"), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        pairs.select("query_id", "cand_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
    )


def _unit_rows(X):
    """(keep, X[keep] scaled to unit L2 norm): zero-norm rows have no
    cosine (``cosine`` is NULL for them), so the numpy kernels drop them
    as the JVM listings filter their NULLs."""
    import numpy as np

    norm = np.linalg.norm(X, axis=1, keepdims=True)
    keep = norm[:, 0] > 0
    return keep, X[keep] / norm[keep]


def _query_matrix(vecs: DataFrame):
    """Driver twin of ``_queries(vecs, N_QUERIES)`` for the numpy kernels:
    (query ids, unit-norm query matrix), zero-norm queries dropped. With
    no query ids in the corpus the matrix has 0 rows but the corpus's
    width (read with one ``first()`` only then), so every product with it
    is empty and the listing is empty, as ``similarity_topk`` is."""
    import numpy as np

    rows = _queries(vecs, N_QUERIES).collect()
    if rows:
        Q = np.array([r.qv for r in rows], dtype=np.float64)
    else:
        first = vecs.select("v").first()
        Q = np.zeros((0, len(first.v) if first else 0))
    keep, Qn = _unit_rows(Q)
    return np.array([r.query_id for r in rows], dtype=np.int64)[keep], Qn


# Shared by similarity_topk and its Arrow/numpy twin: both produce the
# identical rounded-6dp top-k relation, so both are held to the same hard
# value oracle (the numpy path's different float summation order has never
# crossed a 6dp rounding boundary on the fixed corpus — deterministic, and
# the twin-equivalence test would catch it before the driver does).
# ::DOUBLE[] casts: DuckDB computes FLOAT[] cosine in float32 (error
# ~1e-7 > our 1e-6 rounding quantum) and float round() stays float.
_TOPK_ORACLE = (
    f"SELECT q.vec_id AS query_id, c.vec_id AS cand_id, "
    f"round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)"
    f" AS cos_sim, "
    f"row_number() OVER (PARTITION BY q.vec_id ORDER BY "
    f"round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)"
    f" DESC, c.vec_id) AS rk "
    f"FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id "
    f"WHERE q.vec_id < {N_QUERIES} "
    f"QUALIFY rk <= {TOP_K}"
)


@query("similarity_topk", oracle=_TOPK_ORACLE)
def similarity_topk(
    spark: SparkSession, sf_dir: str, n_queries: int | None = None
) -> DataFrame:
    """Exact cosine top-k per query vector. Plan shape: broadcast the tiny
    query set against the corpus scan (one linear pass), then one window
    exchange keyed by query_id for the per-query top-k — the distributed
    form of 'scan once, keep a k-heap per query'. ``n_queries`` overrides
    N_QUERIES (the clustered-fixture recall measurement widens the query
    sample so a 0.9 recall bound isn't judged on 50 edges)."""
    vecs = _vectors(spark, sf_dir)
    queries = _queries(vecs, n_queries if n_queries is not None else N_QUERIES)
    cands = vecs.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    return _exact_topk(
        F.broadcast(queries).join(cands, F.col("cand_id") != F.col("query_id"))
    )


@query("similarity_topk_pandas", oracle=_TOPK_ORACLE)
def similarity_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact top-k via a vectorized Arrow/numpy ``mapInPandas``
    path: queries are closed over as a small numpy matrix; each Arrow batch
    of candidates does one (batch × 64) @ (64 × q) matrix multiply. This is
    the documented fallback shape for vector math the built-in array
    lambdas can't express (and a perf comparison point for when they can).
    Equivalence with ``similarity_topk`` is asserted in tests."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    vecs = _vectors(spark, sf_dir)
    q_ids, Qn = _query_matrix(vecs)  # tiny query set

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue  # empty Arrow batch: shape-(0,) array breaks axis=1
            # Zero-norm candidates (padding/failed-encode rows) would give
            # NaN cosine, and NaN sorts ABOVE all values in Spark's desc
            # order — they'd dominate every top-k. Drop them instead, which
            # matches the JVM twin (cosine() → NULL → sorted last, never in
            # a top-k).
            ok, Cn = _unit_rows(np.array(list(pdf["v"]), dtype=np.float64))
            ids = pdf["vec_id"].to_numpy()[ok]
            S = Cn @ Qn.T  # (batch, n_queries)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, len(ids)),
                    "cand_id": np.tile(ids, len(q_ids)),
                    "cos_sim": S.T.reshape(-1),
                }
            )
            yield out[out.query_id != out.cand_id]

    scored = vecs.select("vec_id", "v").mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos_sim", 6)), F.asc("cand_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "cand_id", F.round("cos_sim", 6).alias("cos_sim"), "rk")
    )


def label_centroids(vecs: DataFrame) -> DataFrame:
    """Coarse-quantizer centroids: per-label element-wise mean, computed by
    posexplode → (label, dim) avg → collect back to arrays. Two narrow
    shuffles over |corpus|·64 rows; at 100 TB this is the one-off index
    build step (or replaced by k-means emitting the same schema)."""
    return _key_means(vecs, "label").withColumnRenamed("label", "cell_id")


def _key_means(vecs: DataFrame, key: str) -> DataFrame:
    """(key, centroid): the element-wise mean of ``v`` per value of the
    column ``key`` — posexplode → (key, dim) ``avg`` → the means collected
    back into an array in dim order. The one per-key mean pipeline of the
    label cells, the k-means loop and ``embedding_outliers``."""
    exploded = vecs.select(key, F.posexplode("v").alias("dim", "val"))
    means = exploded.groupBy(key, "dim").agg(F.avg("val").alias("mean"))
    return (
        means.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean"))).alias("dm"))
        .select(key, F.expr("transform(dm, x -> x.mean)").alias("centroid"))
    )


def _label_means(rows) -> list:
    """The driver twin of ``label_centroids`` for a collected, bounded
    sample of (label, v) rows: (cell_id, centroid) Rows sorted by cell_id.
    Each label's vectors are summed element-wise in ``rows`` order from
    0.0 and divided by their count — the float64 operations of Spark's
    ``avg`` over one scan partition, so the means have its bits (numpy's
    pairwise ``mean`` would move the last bits). Rows with NULL ``v`` are
    skipped as ``avg`` skips them; a NULL label, a NULL element or vectors
    of different lengths raise ValueError."""
    sums: dict = {}
    counts: dict = {}
    dim = None
    for r in rows:
        if r.v is None:
            continue
        if r.label is None:
            raise ValueError("_label_means: NULL label")
        dim = len(r.v) if dim is None else dim
        if len(r.v) != dim or None in r.v:
            raise ValueError(
                f"_label_means: vector of label {r.label} is not {dim} non-NULL numbers"
            )
        acc = sums.setdefault(r.label, [0.0] * dim)
        for i, x in enumerate(r.v):
            acc[i] += x
        counts[r.label] = counts.get(r.label, 0) + 1
    return [
        Row(cell_id=c, centroid=[x / counts[c] for x in sums[c]]) for c in sorted(sums)
    ]


# Coarse-quantizer training subsample: ~128 points per centroid —
# measured on the 50 k bulk corpus, 36/cell under-trains (recall 0.52 →
# 0.32) while ~128/cell matches full-corpus training; FAISS guidance is
# the same 39–256/centroid band.
KMEANS_TRAIN_PER_CELL = 128


def _train_sample(vecs: DataFrame, n: int, n_cells: int) -> DataFrame:
    """The coarse quantizer's training rows out of ``vecs``' ``n`` rows:
    all of them up to KMEANS_TRAIN_PER_CELL·n_cells, else the rows whose
    xxhash64(vec_id) is 0 modulo n // cap (at least 2), about cap rows.
    A deterministic HASH-of-id sample (not .sample(): reproducible across
    runs and partitionings; not raw ``vec_id % step``: a sparse or
    strided id domain — e.g. the re-keyed doc_id + copy·1e6 pattern used
    elsewhere in this repo — would make a modulo sample far off the cap
    or empty, degenerating the quantizer (r05 advice)). The sample is
    label-blind, so a rare label can miss its cell's training points."""
    cap = KMEANS_TRAIN_PER_CELL * n_cells
    if n <= cap:
        return vecs
    step = max(2, n // cap)
    return vecs.filter(F.pmod(F.xxhash64("vec_id"), F.lit(step)) == 0)


# Bound under which Lloyd's runs driver-side in numpy (r08, VERDICT item
# 7): the coarse-quantizer TRAINING input is cap-bounded by construction
# (annindex subsamples to KMEANS_TRAIN_PER_CELL×n_cells ≈ 2k rows), yet
# the DataFrame loop paid ~12 Spark jobs (3 iterations × assign/explode/
# two groupBys + checkpoints) of pure scheduling overhead — the dominant
# slice of the ivfpq_kmeans_probe COLD gap vs its label-quantizer
# sibling. Same design as _train_subspace_codebooks: training-scale work
# on a bounded sample belongs on the driver; corpus-scale ASSIGNMENT
# stays distributed (_assign_cells).
KMEANS_DRIVER_CAP = 4096

# Cells above which _assign_cells abandons the literal-struct-array pure
# map for the aggregate formulation (r12): the literal plan is O(k·dim)
# expression nodes — fine at the documented k ≲ 100 doctrine, hostile at
# √N-scale cell counts. 128 covers every current caller (10 label cells,
# 16 kmeans cells) with headroom.
ASSIGN_LITERAL_CELL_CAP = 128


def _kmeans_rows(rows, k: int, iters: int):
    """The numpy Lloyd's core over collected (vec_id, v) rows → (cell_ids
    list, C ndarray). Semantics mirror the DataFrame loop: init = the k
    lowest vec_ids; assignment = max cosine with ties to the lowest
    surviving cell_id (zero-norm vectors follow the struct-max NULL
    ordering: they land in the lowest surviving cell); cells that empty
    out DROP; per-cell mean, ``iters`` rounds."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r.vec_id)
    X = np.array([r.v for r in rows], dtype=np.float64)
    k = min(k, len(rows))
    cell_ids = list(range(k))
    C = X[:k].copy()
    for _ in range(iters):
        xn = np.linalg.norm(X, axis=1, keepdims=True)
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        sim = (X / np.maximum(xn, 1e-300)) @ (C / np.maximum(cn, 1e-300)).T
        sim[:, cn[:, 0] == 0] = -np.inf
        assign = sim.argmax(axis=1)  # first max = lowest cell index
        assign[xn[:, 0] == 0] = 0
        new_c, new_ids = [], []
        for i, cid in enumerate(cell_ids):
            mask = assign == i
            if mask.any():
                new_c.append(X[mask].mean(axis=0))
                new_ids.append(cid)
        C, cell_ids = np.array(new_c), new_ids
    return cell_ids, C


def _kmeans_driver(spark, rows, k: int, iters: int) -> DataFrame:
    """DataFrame face of ``_kmeans_rows``. Float sums differ from the
    distributed aggregate at ulp level (numpy vs partial-agg order) —
    every consumer is a threshold-shaped recall/semdedup verdict,
    tolerant by design. The result relation is built from JVM literals
    (range(1) + explode), never a pickled local relation decoded through
    a Python worker; the literal round-trip preserves float64 exactly,
    so collecting this relation equals using ``_kmeans_rows`` directly."""
    cell_ids, C = _kmeans_rows(rows, k, iters)
    return _cents_literal_df(spark, cell_ids, C)


def _cents_literal_df(spark, cell_ids, C) -> DataFrame:
    """(cell_id, centroid) relation from driver-side values via one JVM
    literal (``plan_literal``, range(1) + explode) — float64-exact, never
    a pickled local relation decoded through a Python worker."""
    rows = [
        Row(cell_id=int(cid), centroid=[float(x) for x in c])
        for cid, c in zip(cell_ids, C)
    ]
    return (
        spark.range(1)
        .select(F.explode(plan_literal(rows)).alias("s"))
        .select(F.col("s.cell_id").cast("int").alias("cell_id"), "s.centroid")
    )


def _cents_df(spark, crows) -> DataFrame:
    """Collected centroid rows → (cell_id, centroid) relation (literal
    round-trip, exact)."""
    return _cents_literal_df(
        spark, [r.cell_id for r in crows], [r.centroid for r in crows]
    )


def kmeans_centroids(
    vecs: DataFrame, k: int = 10, iters: int = 3, dim: int = 64
) -> DataFrame:
    """Lloyd's k-means for the IVF coarse quantizer. Two tiers by input
    size, decided with ONE bounded limit(cap+1) probe: at or under
    KMEANS_DRIVER_CAP rows, train driver-side in numpy (the
    _train_subspace_codebooks pattern — the probe returned the WHOLE
    input, so no second scan); above it, the plain-DataFrame loop — a
    small centroid table broadcast each iteration against one linear
    corpus scan, only k×dim floats ever reaching the driver.
    Deterministic init (the k lowest vec_ids) so results are reproducible
    on both tiers.

    At 100 TB: the index build trains on a KMEANS_TRAIN_PER_CELL-bounded
    subsample (annindex._coarse_centroids), so training takes the driver
    tier by construction; a full-corpus call (the ivf_kmeans listing at
    scale) takes the distributed tier — per iteration one scan + one
    (cell,dim)-keyed aggregation."""
    probe = vecs.select("vec_id", "v").limit(KMEANS_DRIVER_CAP + 1).collect()
    if len(probe) <= KMEANS_DRIVER_CAP:
        return _kmeans_driver(vecs.sparkSession, probe, k, iters)
    init = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(F.row_number().over(Window.orderBy("vec_id")).alias("rn"), "v")
        .select((F.col("rn") - 1).alias("cell_id"), F.col("v").alias("centroid"))
    )
    # Centroids ride the loop as COLLECTED rows (r12, ADVICE r11): the
    # pure-map _assign_cells collects its centroid input anyway, so keeping
    # a DataFrame alive between iterations paid one localCheckpoint
    # materialization job per iteration ON TOP of that collect. Collecting
    # the k×dim relation once per iteration truncates lineage for free
    # (the next plan starts from literals), halving the per-iteration
    # driver actions (checkpoint+collect → collect). The k rows re-enter
    # the plan as JVM literals (_cents_df — float64-exact, the
    # _kmeans_driver round-trip), never a pickled local relation.
    crows = init.collect()
    for _ in range(iters):
        crows = _key_means(_assign_cells(vecs, None, crows=crows), "cell_id").collect()
    return _cents_df(vecs.sparkSession, crows)


def _assign_cells(
    vecs: DataFrame, cents: DataFrame, crows: list | None = None
) -> DataFrame:
    """Nearest-centroid assignment as a PURE MAP (optimization r11, guide
    §2.4/§8 — assignment is a per-row decision against a small reference
    relation, so neither a join nor a corpus-wide exchange belongs here):
    the centroid table is collected to the driver (k rows of dim floats —
    bounded by construction everywhere this is called, the
    KMEANS_DRIVER_CAP doctrine) and the argmax is ONE SQL expression,
    ``-array_max(transform(cells, s -> named_struct('sim', …, 'negc',
    s.negc))).negc``, over a k-element literal array of (centroid, norm,
    -cell_id) structs (``_cell_sims_sql``). The expression is one SQL
    text handed to one ``selectExpr`` call, so neither the plan nor the
    py4j round trips that build it grow with k (pinned in
    tests/test_annindex.py::test_assign_cells_literal_plan_does_not_grow_with_k
    and ::test_assign_cells_plan_build_py4j_calls_do_not_grow_with_k).

    One dot product per (row, centroid): the row norm ``nv`` is computed
    once per row in the projection below, and each centroid's norm is
    computed on the driver by ``_norm`` with the JVM's operations in the
    JVM's order, so it has the JVM's bits. The cosine arithmetic is
    ``cosine``'s, term for term, so every sim and assignment is the one
    the unhoisted form gives. array_max uses the same struct total order
    as a max aggregate (sim DESC first, then -cell_id → lowest cell on
    ties, NULL sims ordered first so zero-norm vectors land in the lowest
    surviving cell and zero-norm centroids never win over a scoring cell
    — equality-tested against the aggregate in tests/test_annindex.py::
    test_assign_cells_pure_map_matches_aggregate), and the centroid
    floats round-trip the driver exactly (collect → ``_sql_text``
    preserves float64). The pre-r11 formulation crossJoined a broadcast
    of cents and ran ``groupBy(vec_id).agg(max(struct(sim, -cell_id,
    v)))``, whose hash exchange carried every corpus row with its
    payload for no semantic effect.

    ``crows`` lets a caller that already holds the centroid rows
    (knn_graph_ivf_listing, kmeans_centroids) pass them instead of a
    relation to collect.

    k-bound (r12): the literal struct array bakes k × dim float literals
    into the expression tree, which is fine at the documented bounds
    (k ≲ 100, dim 64) but would explode plan/codegen size if n_cells
    ever scaled toward √N. Above ``ASSIGN_LITERAL_CELL_CAP`` the
    function falls back to the broadcast-crossJoin + partial-aggregable
    ``max(struct(sim, -cell_id))`` formulation, which degrades gracefully
    at any k (same winner per the struct total order; equality pinned in
    tests/test_annindex.py). Empty centroid input raises instead of
    silently assigning NULL cells."""
    if crows is None:
        crows = cents.collect()
    if not crows:
        raise ValueError("_assign_cells: empty centroid relation")
    if len(crows) > ASSIGN_LITERAL_CELL_CAP:
        if cents is None:
            cents = _cents_df(vecs.sparkSession, crows)
        scored = vecs.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            F.struct(
                cosine("v", "centroid").alias("sim"),
                (-F.col("cell_id")).cast("long").alias("negc"),
                F.col("v"),
            ).alias("cand"),
        )
        best = scored.groupBy("vec_id").agg(F.max("cand").alias("b"))
        return best.select(
            "vec_id", F.col("b.v").alias("v"), (-F.col("b.negc")).alias("cell_id")
        )
    # nv stays its own projection because the argmax references it twice
    # and the optimizer does not inline an expensive expression into two
    # places; with finite centroid norms the coalesce fallback folds away,
    # so the optimized plan holds two dot products (tests/test_annindex.py::
    # test_hoisted_norms_keep_the_cosine_bits).
    return vecs.selectExpr(
        "vec_id", "v", f"sqrt({_dot_sql('v', 'v')}) AS nv"
    ).selectExpr("vec_id", "v", f"-array_max({_cell_sims_sql(crows)}).negc AS cell_id")


def _cell_sims_sql(crows) -> str:
    """SQL text of the k-element ``(sim, negc)`` struct array whose
    ``array_max`` ``_assign_cells`` takes: the cosine of column ``v``
    with each centroid of ``crows`` and its -cell_id. The row norm is
    read from column ``nv`` (``sqrt(dot(v, v))``). Each centroid's norm
    rides in the literal; one whose sum of squares overflows to inf has
    no SQL literal, so it rides as NULL and the plan computes it."""
    cells = []
    for r in crows:
        c = [float(x) for x in r.centroid]
        n = _norm(c)
        cells.append(Row(c=c, n=n if math.isfinite(n) else None, negc=-int(r.cell_id)))
    nc = f"coalesce(s.n, sqrt({_dot_sql('s.c', 's.c')}))"
    sim = _cosine_sql("v", "s.c", nx="nv", ny=nc)
    return (
        f"transform({_sql_text(cells)}, "
        f"s -> named_struct('sim', {sim}, 'negc', s.negc))"
    )


def _ivf_topk(
    vecs: DataFrame,
    cents: DataFrame,
    cells: DataFrame,
    nprobe: int | None,
    n_queries: int | None,
) -> DataFrame:
    """The IVF listing body, whatever the quantizer: ``cents`` (cell_id,
    centroid) are the coarse cells and ``cells`` (vec_id, cell_id, v) the
    corpus assigned to them. Per query, the ``nprobe`` (default N_PROBE)
    nearest cells by centroid cosine, ties to the lowest cell_id, are
    probed, and only their vectors reach the exact top-k."""
    queries = _queries(vecs, n_queries if n_queries is not None else N_QUERIES)
    qc = (
        F.broadcast(queries)
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id", "qv", "cell_id",
            cosine("qv", "centroid").alias("cell_sim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cell_sim"), F.asc("cell_id"))
    probes = (
        qc.withColumn("cell_rk", F.row_number().over(wq))
        .filter(F.col("cell_rk") <= (nprobe if nprobe is not None else N_PROBE))
        .select("query_id", "qv", "cell_id")
    )
    cands = cells.select(
        F.col("vec_id").alias("cand_id"), "cell_id", F.col("v").alias("cv")
    )
    return _exact_topk(
        F.broadcast(probes)
        .join(cands, "cell_id")
        .filter(F.col("cand_id") != F.col("query_id"))
    )


def ivf_kmeans_topk_listing(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF top-k with a TRAINED coarse quantizer (3 Lloyd iterations)
    instead of the label-derived cells — the full self-contained ANN path:
    train centroids → assign corpus to cells → probe nprobe nearest cells
    per query → exact cosine + per-query top-k among probed candidates.
    Unregistered listing form; the driver-checked face is the
    ``similarity_topk_ivf_kmeans`` recall verdict. ``nprobe``/``n_queries``
    override the module constants (clustered-fixture recall runs)."""
    vecs = _vectors(spark, sf_dir)
    cents = kmeans_centroids(vecs)
    return _ivf_topk(vecs, cents, _assign_cells(vecs, cents), nprobe, n_queries)


def ivf_topk_listing(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: (1) build/broadcast centroids, (2) per query
    pick the nprobe nearest cells, (3) join candidates ONLY from those
    cells (cell assignment = vector's label ≙ nearest-centroid assignment),
    (4) exact cosine + per-query top-k among probed candidates.
    Unregistered listing form; the driver-checked face is the
    ``similarity_topk_ivf`` recall verdict. ``nprobe`` overrides N_PROBE
    (the clustered-fixture recall measurements probe 2-3 cells)."""
    vecs = _vectors(spark, sf_dir)
    cells = vecs.withColumnRenamed("label", "cell_id")
    return _ivf_topk(vecs, label_centroids(vecs), cells, nprobe, n_queries)


@query(
    "embedding_centroids",
    oracle=(
        # Long-form (cell_id, dim, mean) rather than arrays: hash-stable and
        # exactly what the IVF build step aggregates. ::DOUBLE[] cast +
        # round(4): avg summation order differs between engines. `+ 0.0`
        # normalizes IEEE negative zero: a near-zero mean whose SIGN
        # differs across engine summation orders rounds to -0.0 on one
        # side and 0.0 on the other (repr/hash mismatch observed at
        # sf0.001, cell 8 dim 27); -0.0 + 0.0 = +0.0 and every other
        # value is unchanged.
        "WITH e AS (SELECT label, unnest(embedding::DOUBLE[]) AS val, "
        "generate_subscripts(embedding, 1) AS dim FROM embeddings) "
        "SELECT label AS cell_id, CAST(dim AS INT) AS dim, "
        "round(avg(val), 4) + 0.0 AS mean FROM e GROUP BY label, dim"
    ),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form — the registered,
    oracle-checked face of the IVF coarse-quantizer build (label_centroids
    collects the same means back into arrays). One posexplode (|corpus|×64
    narrow rows) and one (label, dim)-keyed partial+final aggregate; the
    shuffle carries k×dim aggregate states, not the corpus."""
    vecs = _vectors(spark, sf_dir)
    ex = vecs.select("label", F.posexplode("v").alias("dim0", "val"))
    return (
        ex.groupBy(
            F.col("label").alias("cell_id"),
            (F.col("dim0") + 1).cast("int").alias("dim"),
        )
        .agg((F.round(F.avg("val"), 4) + 0.0).alias("mean"))
    )


# ANN recall bound for the driver verdicts. Measured recall at nprobe 5/10
# on the isotropic corpus is ~0.74 (≈ fraction probed + own-cell bias);
# 0.5 sits ~6σ below the binomial mean over the 50 scored items, so the
# verdict is stable across data regenerations while still failing loudly
# if the probe machinery breaks (a broken probe scores ~0). The REAL
# pruning claim (high recall at few probes) is measured on the clustered
# fixture instead, where the quantizer has signal: 0.936/0.965 at nprobe
# 2/3 (SCALE_ivf_clustered.json, tests/test_ivf_clustered.py).
ANN_RECALL_BOUND = 0.5

# Exact-count + bound-check oracle shared by both IVF verdicts (the
# approx_distinct pattern): DuckDB pins the exact top-k cardinality and
# asserts TRUE for the recall bound; the Spark side emits the actually
# evaluated bound, so a broken ANN path flips the hash match.
_IVF_VERDICT_ORACLE = (
    "SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok "
    f"FROM ({_TOPK_ORACLE})"
)


def _recall_verdict(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """One-row (n_exact, recall_ok) verdict: what fraction of the exact
    listing's rows the ANN listing recovered, matched on all of
    ``exact``'s columns (the (query_id, cand_id) or (vec_id, neighbor_id)
    edge), checked against ANN_RECALL_BOUND in-query (both counts are
    scalar aggregates — the only 'collect-like' state is two longs)."""
    hit = exact.join(approx, exact.columns, "left_semi").agg(
        F.count("*").alias("n_hit")
    )
    tot = exact.agg(F.count("*").alias("n_exact"))
    return tot.crossJoin(hit).select(
        "n_exact",
        (F.col("n_hit") >= ANN_RECALL_BOUND * F.col("n_exact")).alias("recall_ok"),
    )


@query("similarity_topk_ivf", oracle=_IVF_VERDICT_ORACLE)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked recall verdict for the label-cell IVF path (r02
    upgrade from rows-only, the approx_distinct pattern): runs the exact
    top-k and the IVF listing in one job and emits (n_exact, recall_ok).
    The listing itself is ``ivf_topk_listing``."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = ivf_topk_listing(spark, sf_dir).select("query_id", "cand_id")
    return _recall_verdict(exact, approx)


@query("similarity_topk_ivf_kmeans", oracle=_IVF_VERDICT_ORACLE)
def similarity_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked recall verdict for the trained-quantizer IVF path —
    same contract as ``similarity_topk_ivf``; the listing itself is
    ``ivf_kmeans_topk_listing``."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = ivf_kmeans_topk_listing(spark, sf_dir).select("query_id", "cand_id")
    return _recall_verdict(exact, approx)


# How many least-typical vectors to surface per label cell.
OUTLIER_K = 10


@query(
    "embedding_outliers",
    oracle=(
        # Centroid dims rounded to 4dp BEFORE the cosine (avg summation
        # order differs between engines; the rounded grid is identical),
        # then the 64-term cosine rounded to 6dp (≤ few-ulp engine skew,
        # same rationale as _TOPK_ORACLE).
        "WITH m AS (SELECT label, generate_subscripts(embedding, 1) AS dim, "
        "unnest(embedding::DOUBLE[]) AS val FROM embeddings), "
        "c AS (SELECT label, dim, round(avg(val), 4) AS mean "
        "FROM m GROUP BY label, dim), "
        "cent AS (SELECT label, list(mean ORDER BY dim) AS centroid "
        "FROM c GROUP BY label), "
        "s AS (SELECT e.vec_id, e.label, "
        "round(list_cosine_similarity(e.embedding::DOUBLE[], cent.centroid), 6) "
        "AS cos_centroid FROM embeddings e JOIN cent USING (label)) "
        "SELECT vec_id, label, cos_centroid, "
        "row_number() OVER (PARTITION BY label "
        "ORDER BY cos_centroid ASC, vec_id) AS rk "
        "FROM s WHERE cos_centroid IS NOT NULL "
        f"QUALIFY rk <= {OUTLIER_K}"
    ),
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the K vectors least similar to their
    own label's centroid — the mislabeled-example / contamination sweep an
    embedding-curation pipeline runs before training a classifier head.

    Shape: centroid build is the ``embedding_centroids`` aggregation
    (posexplode → (label, dim) avg → re-collect; k×dim states on the
    shuffle), then the k-row centroid table is BROADCAST against one linear
    corpus scan and a per-label bottom-K window keys the only data shuffle
    by label. No all-pairs anything — cost is O(corpus · dim) + one window
    exchange, the same plan at 100 TB."""
    vecs = _vectors(spark, sf_dir)
    cent = _key_means(vecs, "label").selectExpr(
        "label", "transform(centroid, x -> round(x, 4)) AS centroid"
    )
    scored = vecs.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(cosine("v", "centroid"), 6).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_centroid"), F.asc("vec_id"))
    return (
        scored.filter(F.col("cos_centroid").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= OUTLIER_K)
    )


# --- Product quantization (PQ) ANN tier -----------------------------------
# The memory-compressed scan: each 64-dim float32 vector (256 B) becomes
# PQ_M uint8 codes (8 B, 32x), and query scoring reads codes + per-query
# lookup tables instead of raw vectors — the FAISS IVFPQ representation
# (Jégou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI'11). At 100 TB of embeddings this is what makes a full-corpus
# rescan affordable: the scan touches 1/32 the bytes and the per-vector
# score is PQ_M table lookups, not a 64-term dot product.
PQ_M = 16  # subspaces (64 dims -> 4 dims each)
PQ_KSUB = 64  # codewords per subspace (6-bit codes; 16 B/vector total)
PQ_TRAIN_CAP = 2048  # deterministic training-sample bound (driver-side)
PQ_ITERS = 10
# ADC shortlist size before exact re-rank. Swept on the isotropic corpus
# (the hardest case for PQ — no cluster structure to exploit):
# recall@shortlist of the exact top-10 at sf0.1 was 0.42 @L=10, 0.82
# @L=50 for (M=16,KSUB=16); 0.90 @L=50 at the chosen (16,64). Re-ranking
# the shortlist exactly makes recall@10 = recall@L, the standard
# FAISS-style two-stage scan.
PQ_SHORTLIST = 50


def _train_subspace_codebooks(X, n_m: int = PQ_M, n_k: int = PQ_KSUB):
    """Per-subspace numpy Lloyd's over a sample matrix — THE one PQ
    training loop (the in-query tier trains on normalized vectors, the
    persisted index's residual books on raw residuals; both call here).
    Deterministic: evenly-spaced init, PQ_ITERS iterations, empty cells
    keep their old codeword, argmin ties to the lowest index."""
    import numpy as np

    dim = X.shape[1]
    dsub = dim // n_m
    books = []
    for m in range(n_m):
        S = X[:, m * dsub : (m + 1) * dsub]
        init_idx = np.linspace(0, len(S) - 1, n_k).astype(int)
        C = S[init_idx].copy()
        for _ in range(PQ_ITERS):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(n_k):
                mask = assign == k
                if mask.any():  # empty cell keeps its old codeword
                    C[k] = S[mask].mean(axis=0)
        books.append(C)
    return np.stack(books)  # (n_m, n_k, dsub)


def _pq_codebooks(vecs: DataFrame):
    """Train per-subspace codebooks on a BOUNDED deterministic sample
    (lowest vec_ids; at scale: a hash-sample with the same cap) —
    driver work is O(cap · dim · iters), independent of corpus size, like
    ``kmeans_centroids``' k×dim state. Vectors are L2-normalized before
    training so the quantizer approximates the unit sphere the cosine
    scan operates on. Callers training on the embeddings table memoize
    the tensor per session (``session_artifact``): training is the
    one-off ingest step of the PQ lifecycle, and re-deriving the same
    tensor per query re-ran ~1.1 s of driver-side work per probe."""
    import numpy as np

    rows = vecs.orderBy("vec_id").limit(PQ_TRAIN_CAP).select("v").collect()
    return _train_subspace_codebooks(
        _unit_rows(np.array([r.v for r in rows], dtype=np.float64))[1]
    )


def _pq_encode(X, books):
    """PQ codes of the rows of ``X`` against ``books`` (M, KSUB, dsub):
    per subspace m, the index of the codeword nearest to ``X``'s m-th
    dsub-wide slice (argmin ties to the lowest index), as uint8 (KSUB ≤
    256). Returns (codes (n, M), qerr (n,)), where qerr is the squared
    reconstruction error, the per-subspace minimum distances summed in
    subspace order."""
    import numpy as np

    n_m, _, dsub = books.shape
    codes = np.empty((len(X), n_m), dtype=np.uint8)
    qerr = np.zeros(len(X))
    for m in range(n_m):
        S = X[:, m * dsub : (m + 1) * dsub]
        d2 = ((S[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = d2.argmin(axis=1)
        qerr += d2.min(axis=1)
    return codes, qerr


def _pq_decode(codes, books):
    """The reconstruction of PQ ``codes``: row i is the concatenation over
    m of ``books[m][codes[i, m]]``."""
    import numpy as np

    n_m, _, dsub = books.shape
    return books[np.arange(n_m), codes].reshape(len(codes), n_m * dsub)


def _unit_centroids(C):
    """Coarse centroids scaled to unit norm for the numpy probes; the
    1e-12 floor keeps a zero centroid at zero instead of NaN."""
    import numpy as np

    return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)


def _probe_mask(cell_sims, n_probe: int):
    """Boolean (query, cell) mask of each query's ``n_probe`` most similar
    cells (``np.argsort`` order of the negated similarities) — the numpy
    probe choice of the IVF∘PQ listings."""
    import numpy as np

    mask = np.zeros(cell_sims.shape, dtype=bool)
    np.put_along_axis(
        mask, np.argsort(-cell_sims, axis=1)[:, :n_probe], True, axis=1
    )
    return mask


def _pq_pairs(query_id, cand_id, pq_score):
    """The (query_id, cand_id, pq_score) frame of scored pairs with the
    self-pairs dropped."""
    import pandas as pd

    keep = query_id != cand_id
    return pd.DataFrame(
        {
            "query_id": query_id[keep],
            "cand_id": cand_id[keep],
            "pq_score": pq_score[keep],
        }
    )


def _pq_rerank(vecs: DataFrame, scan: DataFrame, adc, shortlist: int) -> DataFrame:
    """The second stage of every PQ listing. ``adc``, a ``mapInPandas``
    kernel over ``scan``, emits approximate (query_id, cand_id, pq_score)
    pairs; each query keeps its top ``shortlist`` under (pq_score at 6dp
    desc, cand_id asc), and only those candidates' raw vectors are
    fetched — a |queries|×shortlist relation, broadcast — for the exact
    top-k (``_exact_topk``)."""
    scored = scan.mapInPandas(adc, "query_id LONG, cand_id LONG, pq_score DOUBLE")
    w_short = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("pq_score", 6)), F.asc("cand_id")
    )
    short = (
        scored.withColumn("srk", F.row_number().over(w_short))
        .filter(F.col("srk") <= shortlist)
        .select("query_id", "cand_id")
    )
    cands = vecs.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    return _exact_topk(
        cands.join(F.broadcast(short), "cand_id").join(
            F.broadcast(_queries(vecs, N_QUERIES)), "query_id"
        )
    )


def pq_topk_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-approximated cosine top-k (UNREGISTERED listing; the registered
    key is the ``similarity_topk_pq`` recall verdict), two stages:

    1. ADC scan: one Arrow ``mapInPandas`` pass encodes each batch to
       codes and scores it against the broadcast query set through the
       reconstructed codewords (at scale the encode is a one-off
       materialized 16-byte column and the scan reads codes only) →
       per-query top-PQ_SHORTLIST by approximate score.
    2. Exact re-rank (``_pq_rerank``): raw vectors are fetched ONLY for
       shortlist members (a |queries|×L relation — broadcast) and the
       final top-k uses true cosine. Same window contract as every other
       listing.
    """
    import numpy as np
    import pandas as pd

    vecs = _vectors(spark, sf_dir)
    books = session_artifact(
        spark, ("pq_codebooks", sf_dir), lambda: _pq_codebooks(vecs)
    )  # (M, KSUB, dsub) — closed over, ~4 KB
    q_ids, Qn = _query_matrix(vecs)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue  # empty Arrow batch: shape-(0,) array breaks axis=1
            ok, X = _unit_rows(np.array(list(pdf["v"]), dtype=np.float64))
            ids = pdf["vec_id"].to_numpy()[ok]
            # ADC + PER-BATCH PARTIAL TOP-PQ_SHORTLIST (VERDICT r06 item
            # 3): emitting the full |Q|×batch scored relation made the
            # downstream per-query window land N rows on each of |Q|
            # tasks — the one shuffle in this listing that grows with the
            # corpus. The global top-S over per-batch top-S equals the
            # global top-S over everything PROVIDED the batch cut uses
            # the window's exact total order — (score@6dp DESC, cand_id
            # ASC) — so the cut keeps every row tying the S-th score
            # before the tiebreak sort, and the shuffle shrinks from
            # |Q|×N to |Q|×S×n_batches rows.
            # Half-UP at 6dp — floor(x·1e6 + 0.5), NOT np.round: np.round
            # is half-EVEN, while the module's stated float policy is
            # F.round's HALF_UP (ADVICE r07). (Exact F.round equality is
            # unattainable in numpy — BigDecimal rounds the double's
            # shortest DECIMAL form, and ties-toward-+inf differs from
            # away-from-zero on negative halves — but one half-up mode
            # module-wide beats mixing half-even in. The cut and the
            # downstream window use these same rounded values, so the
            # partial-top-S proof is unaffected: the window's 6dp
            # rounding maps a value already on the 6dp grid to itself.
            # The only registered consumer is the recall-bounded verdict.)
            P = _pq_decode(_pq_encode(X, books)[0], books) @ Qn.T
            Sc = np.floor(P * 1e6 + 0.5) / 1e6
            frames = []
            for qi in range(len(q_ids)):
                m_self = ids != q_ids[qi]
                c_ids, c_sc = ids[m_self], Sc[m_self, qi]
                if len(c_ids) > PQ_SHORTLIST:
                    kth = np.partition(c_sc, len(c_sc) - PQ_SHORTLIST)[
                        len(c_sc) - PQ_SHORTLIST
                    ]
                    tied = c_sc >= kth  # keep boundary ties for the sort
                    c_ids, c_sc = c_ids[tied], c_sc[tied]
                order = np.lexsort((c_ids, -c_sc))[:PQ_SHORTLIST]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "cand_id": c_ids[order],
                            "pq_score": c_sc[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return _pq_rerank(vecs, vecs.select("vec_id", "v"), score, PQ_SHORTLIST)


@query("similarity_topk_pq", oracle=_IVF_VERDICT_ORACLE)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked recall verdict for the product-quantization path —
    same contract as the IVF verdicts: run the exact top-k and the PQ
    listing in one job, emit (n_exact, recall_ok) against
    ANN_RECALL_BOUND. The listing itself is ``pq_topk_listing``."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = pq_topk_listing(spark, sf_dir).select("query_id", "cand_id")
    return _recall_verdict(exact, approx)


IVFPQ_N_PROBE = 7


def ivfpq_topk_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ∘ PQ — the full FAISS IVFPQ scan shape: probe the N_PROBE
    nearest cells per query (coarse quantizer = label centroids), PQ-score
    ONLY vectors in probed cells through the reconstructed codewords, then
    exact-re-rank the shortlist. At 10 B vectors this composes both
    savings: the scan touches nprobe/k of the corpus AND reads 16-byte
    codes instead of raw vectors; raw vectors surface only for the
    |queries|×L shortlist. Unregistered listing; the driver-checked face
    is the ``similarity_topk_ivfpq`` recall verdict."""
    import numpy as np

    vecs = _vectors(spark, sf_dir)
    books = session_artifact(
        spark, ("pq_codebooks", sf_dir), lambda: _pq_codebooks(vecs)
    )
    # coarse quantizer state: k×dim label centroids, driver-side
    crows = sorted(label_centroids(vecs).collect(), key=lambda r: r.cell_id)
    labels = np.array([r.cell_id for r in crows], dtype=np.int64)
    Cn = _unit_centroids(np.array([r.centroid for r in crows], dtype=np.float64))
    q_ids, Qn = _query_matrix(vecs)
    # probe set per query: top-IVFPQ_N_PROBE cells by centroid cosine.
    # The composed path probes more cells than plain IVF (7/10 vs 5/10):
    # its end-to-end recall is bounded by probe recall × shortlist recall,
    # and on this isotropic corpus the probe ceiling is the binding term —
    # measured end-to-end 0.56 at sf0.1 with 5 probes vs the 0.5 driver
    # bound, too thin a margin for a verdict that must stay green.
    probe = _probe_mask(Qn @ Cn.T, IVFPQ_N_PROBE)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue  # empty Arrow batch: shape-(0,) array breaks axis=1
            ok, X = _unit_rows(np.array(list(pdf["v"]), dtype=np.float64))
            ids = pdf["vec_id"].to_numpy()[ok]
            # probe filter: the candidate's cell must be probed by the query
            rows = np.searchsorted(labels, pdf["label"].to_numpy()[ok])
            qi, ci = np.nonzero(probe[:, rows])
            S = _pq_decode(_pq_encode(X, books)[0], books) @ Qn.T
            yield _pq_pairs(q_ids[qi], ids[ci], S[ci, qi])

    return _pq_rerank(
        vecs, vecs.select("vec_id", "label", "v"), score, PQ_SHORTLIST
    )


@query("similarity_topk_ivfpq", oracle=_IVF_VERDICT_ORACLE)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked recall verdict for the composed IVF∘PQ path — same
    contract as the other ANN verdicts. Expected recall ≈ the product of
    the stages' recalls (IVF probe ~0.74 at nprobe 5/10 on this isotropic
    corpus × PQ shortlist ~0.9), still well above ANN_RECALL_BOUND."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = ivfpq_topk_listing(spark, sf_dir).select("query_id", "cand_id")
    return _recall_verdict(exact, approx)


# --- All-pairs k-NN graph -----------------------------------------------------

KNN_K = 5

# Exact k-NN graph relation in DuckDB — shared by knn_graph's hard value
# oracle and the IVF variant's verdict oracle (which pins its exact-edge
# cardinality).
_KNN_EXACT_ORACLE = (
    "SELECT vec_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, cos_sim "
    "FROM ("
    "SELECT vec_id, neighbor_id, cos_sim, row_number() OVER ("
    "PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rnk "
    "FROM (SELECT a.vec_id, b.vec_id AS neighbor_id, "
    "round(list_cosine_similarity(a.embedding::DOUBLE[], "
    "b.embedding::DOUBLE[]), 6) AS cos_sim "
    "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)"
    f") WHERE rnk <= {KNN_K}"
)


def _knn_rank(xid, X, yid, Y):
    """The k-NN graph's one scoring and ordering convention, shared by the
    exact tile kernel and the IVF cell kernel: float64 cosine of every
    (x, y) pair rounded to 6dp, self-pairs and zero-norm vectors masked,
    and each x row's first KNN_K columns under (cos desc, neighbor_id asc)
    — lexsort keys apply last-first. Returns flat (vec_id, neighbor_id,
    cos_sim, rank) arrays; masked pairs sort last, so ``rank`` counts
    1..KNN_K over the unmasked pairs of each x row."""
    import numpy as np

    xn = np.linalg.norm(X, axis=1)
    yn = np.linalg.norm(Y, axis=1)
    denom = np.outer(np.where(xn > 0, xn, 1.0), np.where(yn > 0, yn, 1.0))
    S = np.round((X @ Y.T) / denom, 6)
    S[~np.outer(xn > 0, yn > 0) | np.equal.outer(xid, yid)] = -np.inf
    k = min(KNN_K, S.shape[1])
    order = np.lexsort((np.broadcast_to(yid, S.shape), -S), axis=1)[:, :k]
    cos = np.take_along_axis(S, order, axis=1)
    keep = cos != -np.inf
    rank = np.broadcast_to(np.arange(1, k + 1, dtype=np.int64), order.shape)
    vec = np.broadcast_to(xid[:, None], order.shape)
    return vec[keep], yid[order][keep], cos[keep], rank[keep]


def _knn_tile_topk(batches):
    """mapInPandas kernel of the exact k-NN graph: each input row is one
    (xr rows, yr columns) tile; emit every x-row's LOCAL top-KNN_K columns
    under the GLOBAL final ordering (``_knn_rank``). Local-contains-global:
    a tile's top-k under the exact final ordering is a superset of that
    tile's contribution to the global top-k."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        out = []
        for xr, yr in zip(pdf["xr"], pdf["yr"]):
            if len(xr) == 0 or len(yr) == 0:
                continue
            xid = np.array([r["vec_id"] for r in xr], dtype=np.int64)
            X = np.array([r["v"] for r in xr], dtype=np.float64)
            yid = np.array([r["vec_id"] for r in yr], dtype=np.int64)
            Y = np.array([r["v"] for r in yr], dtype=np.float64)
            out.append(_knn_rank(xid, X, yid, Y))
        cols = [np.concatenate(c) for c in zip(*out)] if out else [[]] * 4
        yield pd.DataFrame(
            {"vec_id": cols[0], "neighbor_id": cols[1], "cos_sim": cols[2]}
        )


def _knn_cell_topk(pdf):
    """applyInPandas kernel of the IVF k-NN graph: one group is one cell's
    x rows plus, as y rows, every row of the cells that cell probes, so it
    already holds every candidate of its x rows; emit each x row's final
    neighbours with their rank (``_knn_rank``)."""
    import numpy as np
    import pandas as pd

    x, y = pdf[pdf["is_x"]], pdf[pdf["is_y"]]
    if x.empty or y.empty:  # e.g. an empty cell's group holds only y rows
        return pd.DataFrame(
            {"vec_id": [], "neighbor_id": [], "rank": [], "cos_sim": []}
        )
    i, j, c, r = _knn_rank(
        x["vec_id"].to_numpy(np.int64),
        np.stack(x["v"].to_list()).astype(np.float64),
        y["vec_id"].to_numpy(np.int64),
        np.stack(y["v"].to_list()).astype(np.float64),
    )
    return pd.DataFrame({"vec_id": i, "neighbor_id": j, "rank": r, "cos_sim": c})


def _knn_out_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )


def _global_topk(cands: DataFrame) -> DataFrame:
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "neighbor_id", F.col("rank").cast("long"), "cos_sim")
    )


@query("knn_graph", oracle=_KNN_EXACT_ORACLE)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed exact k-NN GRAPH over the whole embedding corpus —
    every vector's KNN_K most-similar OTHER vectors with rank. This is the
    corpus×corpus sibling of ``similarity_topk`` (queries×corpus) and the
    input artifact of half the semantic-curation toolbox: SemDeDup-style
    cluster pruning, kNN label propagation, diversity/coverage sampling,
    and graph-connectivity audits all start from exactly this relation.

    Scale shape — the naive formulations both die at 100 TB: a theta
    self-join emits corpus² rows into a window, and even the blocked-GEMM
    pair stream of ``dedup_embedding`` is only viable because a THRESHOLD
    prunes it. A k-NN graph has no threshold, so the pruning must be the
    TOP-K ITSELF, pushed inside the tiles (the Faiss brute-force tier's
    shape):

    1. Block the corpus into ``_GEMM_BLOCKS`` row-blocks (hash on vec_id);
       join the full B×B block grid — a broadcast join on two tiny block
       relations, one tile per task.
    2. Each tile is one Arrow-batched numpy GEMM that emits ONLY the
       per-row LOCAL top-k against that tile's columns (``_knn_tile_topk``):
       ≤ |rows|·k rows per tile, so the exchanged candidate stream is
       corpus·B·k rows — linear in the corpus with a B·k constant — never
       corpus².
    3. One hash exchange on vec_id + a window keeps the global top-k of
       each vector's B·k candidates.

    Local and global selection use the SAME ordering — 6dp-rounded cosine
    desc, neighbor_id asc (the cross-engine float convention of
    ``dedup_embedding``: DuckDB's float32 list math differs from our
    float64 GEMM by ~1e-7, above 1e-6 only when unrounded). Zero-norm
    vectors have undefined cosine: they emit no rows and are never
    neighbors (the oracle's list_cosine_similarity likewise NULLs out).
    At 1 B+ vectors the blocks become a coarse quantizer's cells and each
    cell is scored only against the cells it probes — that scale path is
    ``knn_graph_ivf_listing`` below, measured by ``knn_graph_ivf``.

    The returned DataFrame owns its block checkpoint; Spark frees it
    once the DataFrame is unreachable."""
    from .dedup import _GEMM_BLOCKS

    e = _vectors(spark, sf_dir).select("vec_id", "v")
    blocks = e.groupBy(
        (F.pmod(F.xxhash64("vec_id"), _GEMM_BLOCKS)).alias("blk")
    ).agg(F.collect_list(F.struct("vec_id", "v")).alias("rows"))
    blocks = blocks.localCheckpoint()  # two consumers (both tile sides)
    tiles = (
        blocks.alias("x")
        .join(blocks.alias("y"), F.lit(True))
        .select(F.col("x.rows").alias("xr"), F.col("y.rows").alias("yr"))
        .repartition(_GEMM_BLOCKS * _GEMM_BLOCKS)
    )
    return _global_topk(tiles.mapInPandas(_knn_tile_topk, _knn_out_schema()))


# IVF-celled approximate k-NN graph: probe width (nearest cells by
# centroid cosine, self included). On the ISOTROPIC driver corpus the
# coarse quantizer carries little signal, so edge recall ≈ the probed
# corpus fraction (~nprobe/10 cells) — that key is a machinery check. On
# clustered data the same plan's pruning is MEASURED, not assumed
# (VERDICT r10 item 1): edge recall 0.932/0.951 at nprobe 2/3 of 10
# cells on the mixture-of-clusters fixture (SCALE_ivf_clustered.json,
# pinned in tests/test_ivf_clustered.py) — the "few probes, high recall"
# regime real text embeddings operate in.
KNN_IVF_NPROBE = 7


def knn_graph_ivf_listing(
    spark: SparkSession, sf_dir: str, nprobe: int | None = None
) -> DataFrame:
    """The SCALE PATH of ``knn_graph``: blocks are coarse-quantizer CELLS
    (label centroids — same quantizer as similarity_topk_ivf) and each
    cell's rows are scored only against its ``KNN_IVF_NPROBE`` nearest
    cells by centroid cosine, in one map → shuffle → reduce:

    1. Map: ``explode(element_at(route, cell_id))`` against a literal
       route map ``cell_id → [(grp, is_x, is_y)]``, built on the driver
       (``plan_literal``), sends every vector to its own cell's group as
       an x row, and as a y row to every group whose probe list holds its
       cell (itself included when the cell is in its own probe list; a
       cell missing from it still gets its x rows). Routing is a per-row
       lookup inside the map: no join, so no broadcast job, and no
       ``isnotnull`` filter the optimizer would infer from a join key and
       evaluate the cell argmax for a second time.
    2. Shuffle: one hash exchange on ``grp``. A group holds one cell plus
       the cells it probes, i.e. every candidate of its x rows, so the
       corpus is replicated about nprobe times — half of the earlier
       (cell, probed cell) tile grid, which shipped each row in about
       nprobe tiles per side.
    3. Reduce: ``groupBy(grp).applyInPandas(_knn_cell_topk)`` scores each
       group with one GEMM under the ``_knn_rank`` convention and emits
       ranks 1..KNN_K directly — no local top-k, no window exchange.

    Before the plan, two driver actions (3 Spark jobs): a stats aggregate
    sizes a hash-of-id training sample bounded by KMEANS_TRAIN_PER_CELL
    per label, and one collect brings that sample to the driver, where
    ``_label_means`` computes the label centroids with the bits of
    ``label_centroids`` over a one-partition scan, without its two
    shuffles. The argmax of the map is one SQL expression
    (``_assign_cells``). Cell adjacency is driver-side numpy over the
    centroids (n_cells rows — the KMEANS_DRIVER_CAP doctrine), and every
    centroid's cell must be a key of the route map, or raise: an unmapped
    cell would route to NULL and explode would drop its rows silently.
    Nothing is checkpointed: the returned DataFrame is a plain lazy
    plan."""
    import numpy as np

    vecs = _vectors(spark, sf_dir)
    # Quantizer trained on a KMEANS_TRAIN_PER_CELL-bounded subsample (r12,
    # VERDICT r11 item 4, guide §1/§5): the r11 shape ran label_centroids
    # over the FULL corpus — a |corpus|·dim posexplode feeding the (label,
    # dim) aggregate — inside the timed listing, profiled at ~55% of the
    # key. With ~128 points per cell the build cost drops from O(corpus)
    # to O(cells·128) while assignment/tiling stay corpus-wide and exact
    # within probed cells. One bounded stats pass sizes the sample, which
    # is small enough to train from on the driver; recall pins re-verified
    # on the clustered fixture (tests/test_ivf_clustered.py) and the
    # isotropic driver corpus (knn_graph_ivf's oracle verdict).
    stats = vecs.agg(
        F.count("*").alias("n"), F.approx_count_distinct("label").alias("nl")
    ).collect()[0]
    train = _train_sample(vecs, int(stats.n), max(int(stats.nl), 1))
    crows = _label_means(train.select("label", "v").collect())
    assigned = _assign_cells(vecs, None, crows=crows)
    cid = np.array([r.cell_id for r in crows], dtype=np.int64)
    C = np.array([r.centroid for r in crows], dtype=np.float64)
    n = np.linalg.norm(C, axis=1)
    S = (C @ C.T) / np.outer(np.where(n > 0, n, 1.0), np.where(n > 0, n, 1.0))
    probe = min(nprobe if nprobe is not None else KNN_IVF_NPROBE, len(cid))
    # cell_id → the groups its rows go to; grp is the cell whose x rows
    # the group scores
    route: dict[int, list] = {}
    for i, c in enumerate(cid.tolist()):
        probed = cid[np.lexsort((cid, -S[i]))[:probe]].tolist()
        route.setdefault(c, []).append(Row(grp=c, is_x=True, is_y=c in probed))
        for p in probed:
            if p != c:
                route.setdefault(p, []).append(Row(grp=c, is_x=False, is_y=True))
    # An unmapped cell would route to NULL and explode would drop its rows.
    missing = {r.cell_id for r in crows} - set(route)
    if missing:
        raise ValueError(f"knn_graph_ivf_listing: cells {sorted(missing)} unrouted")
    groups = F.element_at(plan_literal(route), F.col("cell_id"))
    routed = assigned.select("vec_id", "v", F.explode(groups).alias("r")).select(
        "r.grp", "vec_id", "v", "r.is_x", "r.is_y"
    )
    return routed.groupBy("grp").applyInPandas(
        _knn_cell_topk,
        "vec_id LONG, neighbor_id LONG, rank LONG, cos_sim DOUBLE",
    )


@query(
    "knn_graph_ivf",
    oracle=(
        "SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok "
        f"FROM ({_KNN_EXACT_ORACLE})"
    ),
)
def knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked recall verdict for the IVF-celled k-NN graph (the
    similarity_topk_ivf contract): DuckDB pins the exact edge cardinality
    and asserts TRUE for the bound; the Spark side emits the actually
    evaluated bound over (exact knn_graph edges ∩ IVF edges), so a broken
    cell/probe path flips the hash match."""
    exact = knn_graph(spark, sf_dir).select("vec_id", "neighbor_id")
    approx = knn_graph_ivf_listing(spark, sf_dir).select(
        "vec_id", "neighbor_id"
    )
    return _recall_verdict(exact, approx)
