"""Similarity search over embedding columns (array<float>).

Two paths:
- ``brute_force_topk``: exact cosine top-k of the corpus against a query
  set — the corpus is scanned once, queries are broadcast, per-query
  ranking is a hash-partitioned window. The right baseline, and at 100 TB
  still the right answer when the query set is small (one scan, no index).
- ``lsh_topk``: random-hyperplane (sign) LSH — corpus bucketed by bit
  signature once, queries probe their own bucket (+ optional multi-probe
  neighbors); exact cosine only inside buckets. The scale path for large
  query sets: candidate work ∝ bucket size, not corpus size.

Hyperplanes are generated driver-side from a fixed seed (numpy) and
shipped as literal arrays — deterministic, no UDFs anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.vectors import cosine_from_norms, l2_norm


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, cos_sim, rank).

    ``queries`` must be small enough to broadcast (it is pinned with a
    broadcast hint); ranking shuffles once on query_id. Ties break on
    vec_id for determinism.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            l2_norm(F.col(vec_col)).alias("_qn"),
        )
    )
    # norms projected per row on each side BEFORE the cross join: the
    # per-(query, doc) cost is only the dot product
    scored = (
        corpus.withColumn("_cn", l2_norm(F.col(vec_col)))
        .crossJoin(q)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            F.round(
                cosine_from_norms(F.col(vec_col), F.col("_qvec"), "_cn", "_qn"), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(float).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bit signature as bigint: bit i = 1 iff dot(v, plane_i)>0."""
    sig = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, lit_plane, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(0)
    return sig


def _bounded_fit(
    c_vec: DataFrame,
    fit_fraction: float | None,
    seed: int,
    fit_target_rows: int,
) -> DataFrame:
    """The DataFrame the KMeans coarse quantizer fits on.

    Explicit ``fit_fraction`` wins. Default (``None``) is a size-aware
    bound: one narrow ``count()`` of the corpus, then a
    ``min(1.0, fit_target_rows / n)`` sample — so at test scale (n ≤
    target) the fit sees every row and results are unchanged, while at
    100 TB the quantizer fit stays a bounded job instead of becoming
    THE job. KMeans only needs representative centers; 100k rows
    estimate n_clusters ≤ a few hundred centroids to well within the
    cell-assignment noise floor.
    """
    if fit_fraction is not None:
        return (
            c_vec.sample(fit_fraction, seed=seed)
            if fit_fraction < 1.0
            else c_vec
        )
    n = c_vec.count()
    if n <= fit_target_rows:
        return c_vec
    return c_vec.sample(fit_target_rows / n, seed=seed)


GRID_QUANT = 1 << 20  # quantization scale for the replayable KMeans path


def _quantized_vec(vec_col: str, impl: str):
    """The vector expression centroid/drift math runs on: grid
    centroids live in quantized units (coordinate × ``GRID_QUANT``),
    so grid-impl measurements re-quantize the stored floats to match;
    mllib uses the raw vector. ONE definition shared by the drift
    baseline (:func:`_commit_rotation`) and the per-append drift
    measure (:func:`ivf_append_index`) — a drifted copy in either
    would silently break comparability between build stats and
    append batches."""
    if impl == "grid":
        return F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(float(GRID_QUANT)), 0),
        )
    return F.col(vec_col)


def grid_kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 2,
    quant: int = GRID_QUANT,
) -> list[list[float]]:
    """Deterministic, cross-engine-replayable Lloyd KMeans — the md5
    family's answer to "KMeans cells are engine internals" (same
    pattern as the minhash/CMS/HLL md5 impls): every step is a pure
    function of the data that any ANSI engine reproduces bit for bit,
    so IVF/SemDeDup cell boundaries become oracle-checkable.

    - **Init**: the ``k`` vectors with the smallest
      ``(md5(cast(id as string)), id)`` — a seeded sample any engine
      can order identically.
    - **Quantized geometry**: coordinates are ``round(x * 2^20)``
      BIGINTs, so per-cell centroid SUMS are exact integers — no float
      aggregation order exists to drift between engines (the HLL
      register trick). Centroids are ``float(s)/float(n)`` doubles:
      one correctly-rounded division of exact integers, identical in
      Python, Spark, and DuckDB (sums stay far below 2^53).
    - **Assignment**: squared-L2 fold over the quantized coords in
      array order (deterministic IEEE sequence), ties broken by cell
      id, as a plain broadcast join + row_number — no UDF.
    - **Fixed ``iters``** Lloyd rounds; an empty cell keeps its
      previous centroid.

    Returns centroids in QUANTIZED units (divide by ``quant`` for raw
    space). MLlib KMeans remains the scale-path default everywhere —
    this trainer exists for oracle parity and costs ``iters`` extra
    n×k assignment passes, fine on the bounded fit samples it runs on.
    """
    spark = df.sparkSession
    vq = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(quant)), 0).cast(
            "long"
        ),
    )
    base = df.select(F.col(id_col).alias("_id"), vq.alias("_vq"))
    init = (
        base.select(
            "_id", "_vq", F.md5(F.col("_id").cast("string")).alias("_h")
        )
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    centroids = [[float(v) for v in r["_vq"]] for r in init]
    dim = len(centroids[0])
    for _ in range(iters):
        asg = grid_assign_cells(base, "_id", "_vq", centroids, quantized=True)
        sums = (
            asg.select("cell", F.posexplode("_vq").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = (r["s"], r["n"])
        centroids = [
            [
                float(by_cell[ci][p][0]) / float(by_cell[ci][p][1])
                for p in range(dim)
            ]
            if ci in by_cell
            else centroids[ci]  # empty cell keeps its previous centroid
            for ci in range(k)
        ]
    return centroids


def _grid_centroids_df(spark, centroids: list[list[float]]) -> DataFrame:
    return spark.createDataFrame(
        [(ci, [float(v) for v in c]) for ci, c in enumerate(centroids)],
        "cell int, _cvec array<double>",
    )


def grid_assign_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    quant: int = GRID_QUANT,
    quantized: bool = False,
    n_probe: int = 1,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Assign every row its ``n_probe`` nearest centroids (quantized
    squared-L2, ties by cell id) — the replayable twin of the MLlib
    transform / numpy probe. Broadcast k-row centroid table, one
    row_number window keyed by the row id; no UDF, no Python in the
    scan. ``quantized=True`` means ``vec_col`` already holds the
    round(x·quant) BIGINT coords."""
    spark = df.sparkSession
    vqc = (
        F.col(vec_col)
        if quantized
        else F.transform(
            F.col(vec_col),
            lambda x: F.round(
                x.cast("double") * F.lit(float(quant)), 0
            ).cast("long"),
        )
    )
    extra = [F.col(c) for c in (keep_cols or [])]
    dist = (
        df.select(F.col(id_col), *extra, vqc.alias("_vq"))
        .crossJoin(F.broadcast(_grid_centroids_df(spark, centroids)))
        .select(
            F.col(id_col),
            *extra,
            "_vq",
            "cell",
            F.aggregate(
                F.zip_with(
                    F.col("_vq"),
                    F.col("_cvec"),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("_d"),
        )
    )
    w = Window.partitionBy(id_col).orderBy("_d", "cell")
    return (
        dist.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .drop("_d", "_rn")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    fit_fraction: float | None = None,
    fit_target_rows: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    impl: str = "mllib",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    MLlib KMeans learns ``n_clusters`` centroids on a bounded sample —
    ``fit_fraction`` if given, else a size-aware
    ``min(1.0, fit_target_rows / n)`` default (see :func:`_bounded_fit`;
    the model only needs representative centers, not every row, and an
    unbounded fit over a 100 TB corpus would dominate the query). Each
    corpus vector is assigned to its nearest centroid (one JVM-side
    model.transform pass). A query probes its ``n_probe`` nearest cells
    — centroid distances are computed in one numpy matmul per Arrow
    batch since the centroid matrix is tiny — and exact cosine runs
    only inside probed cells. The classic recall/compute dial:
    n_probe/n_clusters bounds the fraction of the corpus scanned per
    query. At 100 TB, persist the assigned corpus as a bucketed table
    partitioned by cell id so probes prune partitions.

    ``impl="grid"`` swaps the trainer for
    :func:`grid_kmeans_fit` and both assignment passes for
    :func:`grid_assign_cells`, making cell boundaries — and therefore
    the whole approximate result — replayable by any ANSI engine (the
    DuckDB oracle recomputes the init, every Lloyd round, both
    assignments, and the in-cell cosine ranking). MLlib stays the
    scale-path default.
    """
    if impl == "grid":
        centroids_q = grid_kmeans_fit(
            corpus, id_col, vec_col, k=n_clusters,
        )
        indexed = grid_assign_cells(
            corpus, id_col, vec_col, centroids_q, keep_cols=[vec_col]
        ).drop("_vq")
        probes = grid_assign_cells(
            queries, query_id_col, vec_col, centroids_q,
            n_probe=n_probe, keep_cols=[vec_col],
        ).select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            l2_norm(F.col(vec_col)).alias("_qn"),
            "cell",
        ).withColumnRenamed("cell", "_cell")
        indexed = indexed.withColumnRenamed("cell", "_cell")
    elif impl == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        c_vec = corpus.withColumn("_v", array_to_vector(F.col(vec_col)))
        fit_df = _bounded_fit(c_vec, fit_fraction, seed, fit_target_rows)
        model = KMeans(
            k=n_clusters, seed=seed, featuresCol="_v", predictionCol="_cell"
        ).fit(fit_df)
        indexed = model.transform(c_vec).select(
            F.col(id_col), F.col(vec_col), F.col("_cell")
        )

        centroids = np.stack([np.asarray(ct, dtype=np.float64) for ct in model.clusterCenters()])

        @pandas_udf("array<int>")
        def probe_cells(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:  # empty Arrow batch: np.stack would raise
                return pd.Series([], dtype=object)
            V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            # squared euclidean to every centroid: ||v||² - 2 v·c + ||c||²
            d = (V**2).sum(1)[:, None] - 2 * V @ centroids.T + (centroids**2).sum(1)[None, :]
            nearest = np.argsort(d, axis=1)[:, :n_probe]
            return pd.Series([row.astype("int32").tolist() for row in nearest])

        probes = queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            l2_norm(F.col(vec_col)).alias("_qn"),
            F.explode(probe_cells(F.col(vec_col))).alias("_cell"),
        )
    else:
        raise ValueError(f"unknown impl: {impl!r}")
    cand = (
        indexed.withColumn("_cn", l2_norm(F.col(vec_col)))
        .join(F.broadcast(probes), "_cell")
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            F.round(
                cosine_from_norms(F.col(vec_col), F.col("_qvec"), "_cn", "_qn"), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _centroid_dist(vec_col: str, cell_col: str, centroids: list[list[float]]) -> Column:
    """Euclidean distance from a vector to its assigned centroid, as a
    pure Catalyst expression: the centroid matrix ships as a literal
    array-of-arrays (n_clusters × dim floats — tiny), indexed by the
    cell id, then a zip_with/aggregate squared-diff fold. No Python in
    the pass that scans the vectors."""
    lit_c = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    assigned = F.element_at(lit_c, F.col(cell_col) + 1)
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                assigned,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _drift_log_table(table: str) -> str:
    return f"{table}_drift_log"


def _centroids_table(table: str) -> str:
    return f"{table}_centroids"


def ivf_load_centroids(spark, table: str) -> list[list[float]]:
    """The centroid matrix ``table``'s rows are binned by, read from the
    ``{table}_centroids`` companion: the rows whose ``centroid_fp`` is
    the fingerprint the table records. The companion holds the
    recorded matrix and, during a rotation, the next one
    (:func:`_commit_rotation`), so a crash on either side of the
    commit still loads the matrix that matches the rows. The
    session-independent way for probes and appends to get the CURRENT
    matrix, including after maintenance rotated it. k × dim values —
    a driver-side collect by design."""
    from ..sources.io import read_contract

    return _load_centroids(spark, table, read_contract(spark, table, "ivf"))


def _load_centroids(spark, table: str, meta: dict) -> list[list[float]]:
    """:func:`ivf_load_centroids` for the IVF contract ``meta`` the
    caller already read."""
    comp = _centroids_table(table)
    fp = meta["centroid_fp"]
    rows = sorted(
        spark.table(comp).filter(F.col("centroid_fp") == fp).collect(),
        key=lambda r: r["cell"],
    )
    # the companion stores doubles and parquet's double roundtrip is
    # lossless, so the loaded matrix is bit-identical to the built one
    # and reproduces the recorded fingerprint
    centroids = [list(r["centroid"]) for r in rows]
    if (
        [r["cell"] for r in rows] != list(range(len(rows)))
        or _centroid_fingerprint(centroids) != fp
    ):
        raise ValueError(
            f"{comp} holds no dense 0..k-1 matrix for {table}'s recorded "
            f"centroid_fp {fp!r}; rebuild the index"
        )
    return centroids


def _centroid_fingerprint(centroids: list[list[float]]) -> str:
    """Stable md5 of the centroid matrix (values rounded to 9 dp) —
    recorded in the index contract by every rotation and validated on
    every probe/append, because both take ``centroids`` as an
    ARGUMENT: a caller passing the matrix from a different (older,
    rebuilt) run would otherwise bin/probe against cells that don't
    match the on-disk layout, silently destroying recall."""
    import hashlib
    import json

    payload = json.dumps(
        [[round(float(x), 9) for x in c] for c in centroids]
    ).encode()
    return hashlib.md5(payload).hexdigest()


def _check_centroids(spark, table: str, centroids: list[list[float]]) -> dict:
    from ..sources.io import check_table_meta

    return check_table_meta(
        spark, table, "ivf", centroid_fp=_centroid_fingerprint(centroids)
    )


def _drift_baseline(meta: dict) -> tuple:
    """``(mean_dist, p95_dist)`` the last rotation recorded in the
    contract; an empty index records 0, which leaves drift
    unmeasured."""
    return meta["mean_dist"], meta["p95_dist"]


def _cell_sizes(rows: DataFrame) -> dict[int, int]:
    return {
        r["_cell"]: r["n"]
        for r in rows.groupBy("_cell").agg(F.count("*").alias("n")).collect()
    }


def _nearest_cell_udf(C: "np.ndarray"):
    """pandas UDF: each vector's nearest row of ``C`` (squared L2, one
    numpy matmul against the tiny matrix per Arrow batch). NULL and
    wrong-dimension vectors get the sentinel cell ``-1``, so a caller
    can count and drop them from the same pass."""
    dim = C.shape[1]

    @pandas_udf("int")
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        out = np.full(len(vecs), -1, dtype=np.int32)
        ok = [i for i, v in enumerate(vecs) if v is not None and len(v) == dim]
        if ok:
            V = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64) for i in ok])
            d = (V**2).sum(1)[:, None] - 2 * V @ C.T + (C**2).sum(1)[None, :]
            out[np.asarray(ok)] = np.argmin(d, axis=1).astype("int32")
        return pd.Series(out)

    return nearest_cell


def ivf_build_index(
    corpus: DataFrame,
    table: str,
    n_clusters: int = 16,
    seed: int = 42,
    fit_fraction: float | None = None,
    fit_target_rows: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_codebook: "PQCodebook | None" = None,
    impl: str = "mllib",
    n_id_buckets: int | None = None,
) -> list[list[float]]:
    """Materialize the IVF index :func:`ivf_topk` computes on the fly:
    fit the KMeans coarse quantizer, assign every corpus vector its
    nearest cell, and write the assigned corpus as a parquet catalog
    table **partitioned by cell id** — each cell is its own directory,
    so a probe that touches ``n_probe`` of ``n_clusters`` cells lists
    and scans only those directories. This is the write-once /
    query-many form for 100 TB corpora: the KMeans fit samples
    (``fit_fraction``, else the size-aware ``fit_target_rows`` bound of
    :func:`_bounded_fit`), the assignment is one JVM model.transform pass,
    and queries (:func:`ivf_query_index`) never rescan or re-cluster.
    Returns the centroid matrix to hand to ``ivf_query_index``; probes
    in other sessions, or after maintenance rotated the matrix, recover
    it with :func:`ivf_load_centroids`.

    Rows and contract are one commit (:func:`_commit_rotation`): the
    table is created, or swapped in over an existing index, with the
    centroid fingerprint, the layout and the build-time drift baseline
    (mean / p95 distance of each vector to its centroid, which
    :func:`ivf_append_index` measures every batch against) as its
    properties. The assigned rows are pinned once, grouped by cell
    (:func:`_pinned_by_cell`): the baseline, the bucket sizing and the
    write all read that pin, so the assignment runs once and the write
    puts one file in each cell and id bucket.

    ``impl="grid"`` trains with the deterministic
    :func:`grid_kmeans_fit` and assigns with :func:`grid_assign_cells`
    instead of MLlib, making the whole index replayable by any ANSI
    engine (the v_ivf_index_topk oracle). Grid centroids — including
    the RETURNED matrix, the fingerprint, and the drift baseline — live
    in QUANTIZED units (coordinate × 2^20); the ``impl`` is recorded
    in the contract so appends re-quantize their batches to match.

    The layout is cell-partitioned AND id-bucketed
    (``n_id_buckets`` ≥ 1 hash buckets on ``id_col``, recorded in the
    contract so appends match the spec; ``None`` sizes the count from
    the pinned rows' measured bytes through ``io.rewrite_layout``, and
    retrains, splits, merges and appends keep the recorded count): probes
    prune by the ``_cell`` directories, while the streaming-ingest
    replay guard (:func:`~..streaming.events.stream_ivf_append`'s id
    anti-join) streams the id column out of the bucketed layout
    PRE-SHUFFLED — per-batch probe cost tracks the batch, not the
    monotonically growing index, the same flat-probe property the
    exact seen-set measures (``dedup.exact_build_index``).
    """
    if n_id_buckets is not None and n_id_buckets < 1:
        raise ValueError(f"n_id_buckets={n_id_buckets} must be >= 1")
    if impl == "grid":
        centroids = grid_kmeans_fit(corpus, id_col, vec_col, k=n_clusters)
        indexed = (
            grid_assign_cells(
                corpus, id_col, vec_col, centroids, keep_cols=[vec_col]
            )
            .drop("_vq")
            .withColumnRenamed("cell", "_cell")
            .select(F.col(id_col), F.col(vec_col), F.col("_cell"))
        )
    elif impl == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        c_vec = corpus.withColumn("_v", array_to_vector(F.col(vec_col)))
        fit_df = _bounded_fit(c_vec, fit_fraction, seed, fit_target_rows)
        model = KMeans(
            k=n_clusters, seed=seed, featuresCol="_v", predictionCol="_cell"
        ).fit(fit_df)
        indexed = model.transform(c_vec).select(
            F.col(id_col), F.col(vec_col), F.col("_cell")
        )
        centroids = [list(map(float, ct)) for ct in model.clusterCenters()]
    else:
        raise ValueError(f"unknown impl: {impl!r}")
    if pq_codebook is not None:
        # persist ADC codes beside the vectors: ivf_pq_index_topk then
        # reads only (id, _cell, pq_code) — the m-byte column — and
        # never touches the float vectors at query time
        indexed = pq_encode(indexed, pq_codebook, vec_col=vec_col)
    _commit_rotation(
        corpus.sparkSession,
        table,
        _pinned_by_cell(indexed),
        centroids,
        # base_n_clusters: the k of the LAST FULL FIT, kept by splits
        # and merges — maintenance's split budget is a multiple of it,
        # so repeated drift cannot ratchet the budget up
        {
            "impl": impl,
            "pq": pq_codebook is not None,
            "base_n_clusters": n_clusters,
            "n_buckets": n_id_buckets,
            "bucket_cols": id_col,
        },
        vec_col,
        pq_codebook=pq_codebook,
    )
    return centroids


def _commit_rotation(
    spark,
    table: str,
    rows: DataFrame,
    centroids: list[list[float]],
    contract: dict,
    vec_col: str,
    pq_codebook: "PQCodebook | None" = None,
) -> None:
    """Commit ``rows`` — ``(id, vec, _cell[, pq_code])`` binned by
    ``centroids`` — as the IVF index ``table``: the one path every
    verb that rotates the centroid matrix (build, retrain, split,
    merge) takes. In order:

    1. the drift baseline — mean / p95 distance of each vector to its
       cell's centroid (0 for no rows), and the row count — from one
       aggregate over ``rows``, recorded in the contract;
    2. the ``{table}_centroids`` companion is overwritten with the
       matrix the table records now AND the new one, each under its
       ``centroid_fp`` (:func:`ivf_load_centroids` reads the recorded
       one), plus a PQ index's codebook companion;
    3. the ``{table}_drift_log`` is dropped — reports measured against
       the retired matrix mean nothing — before the write, so a failed
       rotation loses only diagnostics;
    4. ``rewrite_layout`` creates the table (or the stage it swaps in)
       with the rows and the contract — centroid fingerprint included —
       in one statement.

    A crash before step 4 commits leaves the old rows under the old
    fingerprint; after it, the new rows under the new one. Probes
    never see one without the other."""
    from ..sources.io import prior_contract, rewrite_layout, write_table

    fp = _centroid_fingerprint(centroids)
    # grid centroids live in quantized units: measure in the same
    # units so the baseline and append batches stay comparable
    stats = (
        rows.select(
            F.col("_cell"),
            _quantized_vec(vec_col, contract["impl"]).alias("_qv"),
        )
        .select(_centroid_dist("_qv", "_cell", centroids).alias("_dist"))
        .agg(
            F.coalesce(F.avg("_dist"), F.lit(0.0)).alias("mean_dist"),
            F.coalesce(
                F.expr("approx_percentile(_dist, 0.95, 10000)"), F.lit(0.0)
            ).alias("p95_dist"),
            F.count("*").alias("n_vectors"),
        )
        .first()
        .asDict()
    )
    contract = {
        "kind": "ivf",
        **contract,
        "dim": len(centroids[0]),
        "n_clusters": len(centroids),
        "centroid_fp": fp,
        "partition_cols": "_cell",
        **stats,
    }

    comp = _centroids_table(table)
    matrices = spark.createDataFrame(
        [(fp, i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "centroid_fp string, cell int, centroid array<double>",
    )
    prior = prior_contract(spark, table, "ivf")
    if prior and prior["centroid_fp"] != fp and spark.catalog.tableExists(comp):
        matrices = (
            spark.table(comp)
            .filter(F.col("centroid_fp") == prior["centroid_fp"])
            .unionByName(matrices)
        )
    write_table(matrices, comp)
    if pq_codebook is not None:
        pq_save_codebook(spark, table, pq_codebook)
    spark.sql(f"DROP TABLE IF EXISTS {_drift_log_table(table)}")
    rewrite_layout(spark, table, rows, contract)


def _carried_contract(meta: dict) -> dict:
    """The contract keys a split or merge carries over; the rotation
    re-derives the rest. ``base_n_clusters`` rides through unchanged,
    so later splits cannot ratchet the budget."""
    keep = ("impl", "pq", "n_buckets", "bucket_cols", "base_n_clusters")
    return {k: meta[k] for k in keep}


# an append recommends a rebuild when its batch p95 distance exceeds
# this multiple of the recorded baseline
DRIFT_THRESHOLD = 1.5


def _pinned_by_cell(rows: DataFrame) -> DataFrame:
    """``rows`` pinned and hash-partitioned by cell. A build's
    assignment keeps its input's partitions, and a split or merge reads
    the index's own files; either way every task holds rows of every
    cell and bucket, and a rewrite from that writes a file per task,
    cell and bucket. Grouped by cell, it writes one per cell and
    bucket."""
    return rows.repartition("_cell").localCheckpoint(eager=True)


def ivf_append_index(
    new_vectors: DataFrame,
    table: str,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_threshold: float = DRIFT_THRESHOLD,
    pq_codebook: "PQCodebook | None" = None,
    log_drift: bool = True,
    build_stats: "tuple | None" = None,
) -> dict:
    """Incrementally extend a persisted :func:`ivf_build_index` table:
    assign each new vector to its nearest EXISTING centroid (one numpy
    matmul against the tiny centroid matrix per Arrow batch — no
    re-clustering, no corpus re-scan) and append into the same
    cell-partitioned layout, so :func:`ivf_query_index` probes see old
    and new vectors alike. The streaming-ingest form of the vector
    index.

    Quantizer drift: appended data is binned by the ORIGINAL centroids.
    If the new distribution shifts far from the fit, cells skew and
    probe recall decays. Every append therefore MEASURES drift — the
    batch's mean/p95 distance to its assigned centroids vs the
    baseline the last rotation recorded in the contract — and the
    returned dict carries ``rebuild_recommended=True`` when the batch
    p95 exceeds ``drift_threshold ×`` the build p95 (an
    out-of-distribution batch quantizes visibly worse; an
    in-distribution one tracks the build stats). Rebuild cost is one
    fit on a bounded sample plus one assignment pass
    (:func:`ivf_retrain_index` is that action, runnable straight off
    the standing table). An empty index records a zero baseline,
    which yields no drift ratio and no recommendation.

    ``log_drift=True`` also APPENDS the report as one row to the
    ``{table}_drift_log`` companion, so the recommendation persists
    past the caller (the streaming ingest's per-batch dict is
    otherwise dropped on the floor) and ``maintenance.table_health``
    can flag ``retrain_recommended`` from a constant-time read of the
    log instead of rescanning any data. Every rotation drops the log,
    resetting the flag. One extra one-row write per append; pass
    ``log_drift=False`` on paths that cannot afford it.

    Input hygiene: external incremental batches are the one path fed by
    arbitrary upstreams, so NULL or wrong-dimension embeddings are
    FILTERED OUT before assignment (a single NULL would otherwise fail
    the whole append inside the UDF) — the returned dict counts them in
    ``n_dropped``. Empty batches write nothing.

    Per-batch job shape: the default (mllib) path runs ONE checkpointed
    pass over the batch — invalid rows are assigned the sentinel cell
    ``-1`` inside the kernel instead of a separate Catalyst filter, so
    the single drift rollup also yields ``n_dropped`` with no count
    job. The baseline comes from the contract (no job), or from
    ``build_stats=(mean, p95)`` when the caller already holds it.
    """
    from ..sources.io import read_contract

    spark = new_vectors.sparkSession
    if centroids is None:
        # no-driver-state form: resolve the CURRENT matrix from the
        # persisted companion (also how appenders resume after a
        # maintenance rotation)
        meta = read_contract(spark, table, "ivf")
        centroids = _load_centroids(spark, table, meta)
    else:
        meta = _check_centroids(spark, table, centroids)
    return _append_assigned(
        new_vectors, table, centroids, meta, id_col, vec_col,
        build_stats if build_stats is not None else _drift_baseline(meta),
        drift_threshold, pq_codebook, log_drift,
    )


def _append_assigned(
    new_vectors: DataFrame, table: str, centroids: list[list[float]], meta: dict,
    id_col: str, vec_col: str, build_stats: tuple,
    drift_threshold: float = DRIFT_THRESHOLD,
    pq_codebook: "PQCodebook | None" = None, log_drift: bool = True,
) -> dict:
    """The body of :func:`ivf_append_index` for ``centroids`` whose
    fingerprint the IVF contract ``meta`` records: a stream that
    already read the contract this batch hands it here instead of
    reading it again."""
    from ..sources.io import append_layout

    spark = new_vectors.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]
    # grid-built indexes store centroids in quantized units (see
    # ivf_build_index impl="grid"): re-quantize batch vectors to match
    # before the nearest-centroid assignment
    _is_grid = meta["impl"] == "grid"

    if _is_grid:
        # size(NULL) is NULL, so this single predicate drops NULL and
        # ragged vectors alike before they reach the assignment
        n_input = new_vectors.count()
        valid = new_vectors.filter(F.size(F.col(vec_col)) == dim)
        # grid indexes assign through the SAME exact Catalyst path the
        # build used (quantized fold, (d, cell) tie-break) — so an
        # appended index is bit-identical to building over the union,
        # and the x1_ann_stream oracle can replay appends exactly
        stats_src = assigned = (
            grid_assign_cells(valid, id_col, vec_col, centroids, keep_cols=[vec_col])
            .drop("_vq")
            .withColumnRenamed("cell", "_cell")
            .select(F.col(id_col), F.col(vec_col), F.col("_cell"))
            .localCheckpoint(eager=True)
        )
    else:
        n_input = None  # derived from the drift rollup (no count job)
        # one narrow checkpoint so the assignment kernel runs once for
        # the write AND the drift agg (batch-sized, not corpus-sized);
        # invalid rows carry the sentinel cell -1
        stats_src = new_vectors.select(
            F.col(id_col),
            F.col(vec_col),
            _nearest_cell_udf(C)(F.col(vec_col)).alias("_cell"),
        ).localCheckpoint(eager=True)
        assigned = stats_src.filter(F.col("_cell") >= 0)
    to_write = assigned
    pq_codebook = _index_codebook(spark, table, meta, pq_codebook)
    if pq_codebook is not None:
        if not meta["pq"]:
            raise ValueError(
                f"{table} has no pq_code column; pass pq_codebook only "
                "for indexes built with one"
            )
        to_write = pq_encode(assigned, pq_codebook, vec_col=vec_col)
    # the append keeps the cell partitions and id buckets the contract
    # records (Spark rejects an unbucketed append into a bucketed table)
    append_layout(to_write, table, meta)

    _dv = _quantized_vec(vec_col, "grid" if _is_grid else "mllib")
    # ONE aggregation job for both the global drift stats and the
    # per-cell skew: rollup("_cell") emits every per-cell row PLUS the
    # grand-total grouping set (grouping()=1) — _cell is never NULL by
    # construction, but the grouping flag is what distinguishes the
    # total, not the NULL marker. The mllib path's sentinel-cell (-1)
    # rows ride the SAME rollup — their NULL-guarded _dist keeps
    # mean/p95 those of the valid rows (avg/approx_percentile ignore
    # NULLs), and their group's n IS n_dropped.
    stats_rows = (
        stats_src.withColumn("_qv", _dv)
        .withColumn(
            "_dist",
            F.when(
                F.col("_cell") >= 0, _centroid_dist("_qv", "_cell", centroids)
            ),
        )
        .rollup("_cell")
        .agg(
            F.avg("_dist").alias("mean_dist"),
            F.expr("approx_percentile(_dist, 0.95, 10000)").alias("p95_dist"),
            F.count("*").alias("n"),
            F.grouping("_cell").alias("_is_total"),
        )
        .collect()
    )
    row = next((r for r in stats_rows if r["_is_total"] == 1), None)
    if row is None:  # empty grouping-set output (no input rows at all)
        row = {"mean_dist": None, "p95_dist": None, "n": 0}
    n_invalid = sum(
        r["n"] for r in stats_rows
        if r["_is_total"] == 0 and r["_cell"] == -1
    )
    if n_input is None:
        n_input = row["n"]  # mllib path: sentinel rows make the rollup total
    cell_rows = [
        r for r in stats_rows if r["_is_total"] == 0 and r["_cell"] != -1
    ]
    build_mean, build_p95 = build_stats
    batch_p95 = row["p95_dist"]
    drift_ratio = (
        batch_p95 / build_p95 if batch_p95 is not None and build_p95 else None
    )
    # the batch's CELL SKEW — what fraction crammed into its single
    # hottest cell — is the signal that distinguishes LOCALIZED drift
    # (an out-of-distribution blob whose vectors all bin to one nearest
    # old cell: ivf_split_hot_cells fixes it by splitting that cell)
    # from GLOBAL drift (far-from-centroid vectors spread across many
    # cells: only a full ivf_retrain_index helps).
    # maintenance.table_health reads it off the log to CHOOSE the
    # remediation. cell_rows came free with the rollup above.
    n_assigned = sum(r["n"] for r in cell_rows)
    top = (
        max(cell_rows, key=lambda r: (r["n"], -r["_cell"]))
        if cell_rows
        else None
    )
    n_appended = row["n"] - n_invalid
    report = {
        "n_appended": n_appended,
        "n_dropped": n_input - n_appended,
        "batch_mean_dist": row["mean_dist"],
        "batch_p95_dist": batch_p95,
        "build_mean_dist": build_mean,
        "build_p95_dist": build_p95,
        "drift_ratio": drift_ratio,
        "rebuild_recommended": bool(
            drift_ratio is not None and drift_ratio > drift_threshold
        ),
        "batch_top_cell": int(top["_cell"]) if top is not None else None,
        "batch_top_cell_fraction": (
            top["n"] / n_assigned if top is not None and n_assigned else None
        ),
        "batch_n_cells": len(cell_rows),
    }
    if log_drift:
        ivf_append_drift_reports(spark, table, [report])
    return report


def ivf_append_drift_reports(spark, table: str, reports: list[dict]) -> None:
    """Append :func:`ivf_append_index` report dict(s) to the
    ``{table}_drift_log`` companion in ONE write job. The batch form
    exists for the streaming ingest (``stream_ivf_append``), which
    buffers its per-micro-batch reports and flushes them post-drain —
    one companion write per RUN instead of one per batch (the 1-row
    write was a whole Spark job of per-batch overhead in the steady
    state). The log is advisory (it drives ``retrain_recommended``,
    never correctness), so a crash losing an unflushed buffer only
    delays the flag until future appends re-measure the drift."""
    if not reports:
        return
    from ..sources.io import write_table

    log_row = spark.createDataFrame(
        [
            (
                int(r["n_appended"]),
                int(r["n_dropped"]),
                r["batch_mean_dist"],
                r["batch_p95_dist"],
                r["drift_ratio"],
                bool(r["rebuild_recommended"]),
                r["batch_top_cell"],
                r["batch_top_cell_fraction"],
                int(r["batch_n_cells"]),
            )
            for r in reports
        ],
        "n_appended bigint, n_dropped bigint, batch_mean_dist double, "
        "batch_p95_dist double, drift_ratio double, "
        "rebuild_recommended boolean, batch_top_cell int, "
        "batch_top_cell_fraction double, batch_n_cells int",
    ).withColumn("logged_at", F.current_timestamp())
    # through write_table for the orphan-directory retry: a prior
    # session's dropped index can leave an unregistered
    # {table}_drift_log directory behind, and a raw saveAsTable
    # append would die on LOCATION_ALREADY_EXISTS
    write_table(log_row, _drift_log_table(table), mode="append")


def ivf_retrain_index(
    spark,
    table: str,
    n_clusters: int | None = None,
    seed: int = 42,
    pq_codebook: "PQCodebook | None" = None,
    n_id_buckets: int | None = None,
) -> list[list[float]]:
    """The quantizer-drift REMEDIATION :func:`ivf_append_index`'s
    report recommends: re-fit the coarse quantizer over the standing
    index's CURRENT contents (old + every streamed append), re-assign
    every vector to the new cells, and commit the rebuilt layout —
    recall decayed by out-of-distribution appends is restored because
    the new centroids cover where the data actually lives now. It is
    :func:`ivf_build_index` over the pinned table: no raw-corpus
    access, no caller-held state, one bounded-sample fit + one
    assignment pass + one write.

    Parameters default from the table's recorded contract
    (``n_clusters`` / ``impl`` / id-bucket spec), so
    ``ivf_retrain_index(spark, table)`` is the whole runbook call;
    a PQ-coded index resolves its persisted codebook (or takes the
    SAME codebook the build used) and re-derives codes for the new
    layout. Like every rotation, rows, fingerprint and drift baseline
    are one commit (:func:`_commit_rotation`): probes still holding
    the PRE-drift matrix are REJECTED rather than silently probing the
    wrong cells, and the drift log is dropped, resetting
    ``maintenance.table_health``'s ``retrain_recommended``.
    """
    from ..sources.io import read_contract

    meta = read_contract(spark, table, "ivf")
    pq_codebook = _index_codebook(spark, table, meta, pq_codebook)
    # build writes (id_col, vec_col, _cell[, pq_code]) in that order —
    # the column order IS the contract (names are caller-chosen)
    cols = spark.table(table).columns
    id_col, vec_col = cols[0], cols[1]
    # pinned: the rebuild overwrites the very table this plan reads
    corpus = (
        spark.table(table).select(id_col, vec_col).localCheckpoint(eager=True)
    )
    return ivf_build_index(
        corpus,
        table,
        n_clusters=n_clusters or meta["n_clusters"],
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        pq_codebook=pq_codebook,
        impl=meta["impl"],
        n_id_buckets=n_id_buckets or meta["n_buckets"],
    )


def ivf_split_hot_cells(
    spark,
    table: str,
    max_cell_fraction: float = 0.25,
    seed: int = 42,
    fit_target_rows: int = 100_000,
    rounds: int = 1,
    max_cells: int | None = None,
) -> list[list[float]]:
    """The INCREMENTAL drift remediation: split only the cells that
    got hot. Where :func:`ivf_retrain_index` re-fits the WHOLE matrix
    (the right call when the quantizer is globally stale), a drifted
    ingest more often produces one or two overfull cells (every
    out-of-distribution vector crams into its nearest old cell);
    splitting those costs a bounded 2-means fit per hot cell, and no
    other row changes cell. The split runs on one pinned copy of the
    index and commits once (:func:`_commit_rotation`): rows, the new
    matrix's fingerprint and a fresh drift baseline in one create,
    with the id-bucket spec the contract records, and the drift log
    dropped.

    Mechanics per hot cell (row count > ``max_cell_fraction`` × index
    rows, needs ≥ 2 rows): fit k=2 on the cell's own vectors, impl-aware
    — grid cells re-fit with the deterministic trainer in quantized
    units over ALL of the cell's rows by design (the full-cell fit is
    what makes the DuckDB oracle replay exact; a hot cell is already a
    bounded fraction of the index), mllib cells with seeded KMeans on a
    ``fit_target_rows``-bounded sample; child A keeps the old cell id,
    child B becomes cell ``len(matrix)``; a split where one child ends
    up empty (all-identical vectors) is skipped. PQ codes ride along
    untouched — they encode the vector, not the cell. Returns the new
    centroid matrix; probes pick it up via :func:`ivf_load_centroids`.

    One pass may leave a CHILD still over the fraction (a 70% cell
    splitting 40/30 against a 0.25 bound): ``rounds > 1`` re-detects
    and re-splits until no cell is hot, every split produced no
    progress (all degenerate), or the round budget runs out. If
    nothing split at all, nothing is written (no fingerprint
    rotation).

    ``max_cells`` bounds centroid-matrix growth: splits only ever
    APPEND a cell, so a long-lived drifting ingest that is repeatedly
    split would grow k without bound — and every probe's nearest-cell
    argmin and every :func:`ivf_query_index` broadcast carries the
    full matrix. Splitting stops (mid-round if need be) once the
    matrix reaches ``max_cells``; ``maintenance.run_maintenance``
    derives it from the recorded ``base_n_clusters`` (the k of the
    last full fit) and ESCALATES to :func:`ivf_retrain_index` at the
    base k when the budget is exhausted — the fit-everything
    remediation is also the one that resets k.
    """
    from ..sources.io import read_contract

    meta = read_contract(spark, table, "ivf")
    centroids = [list(c) for c in _load_centroids(spark, table, meta)]
    impl = meta["impl"]
    cols = spark.table(table).columns
    id_col, vec_col = cols[0], cols[1]
    data_cols = [c for c in cols if c != "_cell"]
    work = _pinned_by_cell(spark.table(table))
    changed = budget_hit = False
    for _ in range(max(1, rounds)):
        sizes = _cell_sizes(work)
        total = sum(sizes.values())
        hot = sorted(
            c
            for c, n in sizes.items()
            if total and n > max_cell_fraction * total and n >= 2
        )
        children: dict[int, DataFrame] = {}
        for cell in hot:
            if max_cells is not None and len(centroids) >= max_cells:
                budget_hit = True
                break
            rows_c = work.filter(F.col("_cell") == cell)
            if impl == "grid":
                sub = grid_kmeans_fit(rows_c, id_col, vec_col, k=2, iters=2)
                assigned = (
                    grid_assign_cells(
                        rows_c,
                        id_col,
                        vec_col,
                        sub,
                        keep_cols=[c for c in data_cols if c != id_col],
                    )
                    .drop("_vq")
                    .withColumnRenamed("cell", "_child")
                )
            else:
                from pyspark.ml.clustering import KMeans
                from pyspark.ml.functions import array_to_vector

                c_vec = rows_c.withColumn("_v", array_to_vector(F.col(vec_col)))
                fit_df = _bounded_fit(c_vec, None, seed, fit_target_rows)
                model = KMeans(
                    k=2, seed=seed, featuresCol="_v", predictionCol="_child",
                ).fit(fit_df)
                assigned = model.transform(c_vec).drop("_v")
                sub = [list(map(float, ct)) for ct in model.clusterCenters()]
            assigned = assigned.localCheckpoint(eager=True)
            if assigned.select("_child").distinct().count() < 2:
                # degenerate cell (all-identical vectors): nothing to
                # split; keep the old centroid and move on
                continue
            children[cell] = assigned.select(
                *data_cols,
                F.when(F.col("_child") == 0, F.lit(cell))
                .otherwise(F.lit(len(centroids)))
                .cast("int")
                .alias("_cell"),
            )
            centroids[cell] = list(sub[0])
            centroids.append(list(sub[1]))
        if not children:
            break  # nothing hot, or every hot cell degenerate
        changed = True
        work = work.filter(~F.col("_cell").isin(list(children)))
        for out in children.values():
            work = work.unionByName(out)
        if budget_hit:
            break
    if changed:
        _commit_rotation(
            spark, table, work, centroids, _carried_contract(meta), vec_col
        )
    return centroids


def _merge_renumber_plan(
    cold: list[int], survivors: list[int]
) -> list[tuple[int, int]]:
    """The swap-remove renumbering plan, decided up front in closed
    form: holes (retired ids) below S=|survivors| ascending pair with
    survivor ids >= S descending. Provably the sequential
    swap-remove loop's outcome — hole and source slots are disjoint,
    so the batched application equals the sequential one (property-
    tested against a step-by-step simulation in
    tests/test_merge_plan_properties.py)."""
    holes, live = list(cold), sorted(survivors)
    moves: list[tuple[int, int]] = []
    while holes and live and live[-1] > holes[0]:
        moves.append((holes.pop(0), live.pop()))
    return moves


def _merged_matrix(
    centroids: list[list[float]],
    moves: list[tuple[int, int]],
    survivors: list[int],
) -> list[list[float]]:
    """The post-merge centroid matrix, in closed form from the decided
    plan: hole ``h`` takes source ``m``'s centroid (written holes and
    read survivors are disjoint, so the mapping applies from the
    ORIGINAL matrix regardless of order), then truncate to the survivor
    count."""
    new_centroids = [list(c) for c in centroids]
    for h, m in moves:
        new_centroids[h] = list(centroids[m])
    return new_centroids[: len(survivors)]


def ivf_merge_cold_cells(
    spark,
    table: str,
    min_cell_fraction: float = 0.01,
) -> list[list[float]]:
    """The defragmentation counterpart of :func:`ivf_split_hot_cells`:
    RETIRE cells that went cold (row count < ``min_cell_fraction`` ×
    index rows — the aftermath of deletes, compaction-era data aging
    out, or a retrain-then-drift cycle leaving stranded slivers) and
    fold their rows into the nearest SURVIVING cell. Where the split
    bounds k from above (with maintenance's budget), the merge pulls k
    back down when the matrix has fragmented — every probe's
    nearest-cell argmin and every broadcast carries the full matrix,
    and a directory layout of sliver partitions wastes listing and
    min-file overhead at scale. ``maintenance.table_health`` flags the
    fragmentation as ``merge_recommended`` and ``run_maintenance``
    applies this verb under the same ``retrain_ivf`` opt-in as the
    other matrix-rotating remediations.

    One pass over the index assigns each cold row its nearest
    survivor and renumbers every row: the dense 0..k-1 cell-id
    invariant (what lets the matrix be positional everywhere) is kept
    by swap-remove — each retired id below the survivor count takes
    the highest surviving id (:func:`_merge_renumber_plan`,
    :func:`_merged_matrix`). PQ codes ride through untouched — they
    encode the vector, not the cell. The pinned result commits once,
    like every rotation (:func:`_commit_rotation`), so a crash leaves
    the old index or the merged one, never a half-merged one; a merge
    that finds nothing cold writes nothing and returns the matrix
    unchanged.

    Raises if the fraction would retire EVERY cell (fraction ≥ 1/k
    territory) — a merge must leave at least one survivor."""
    from ..sources.io import read_contract

    meta = read_contract(spark, table, "ivf")
    impl = meta["impl"]
    cols = spark.table(table).columns
    id_col, vec_col = cols[0], cols[1]
    data_cols = [c for c in cols if c != "_cell"]
    centroids = [list(c) for c in _load_centroids(spark, table, meta)]
    sizes = _cell_sizes(spark.table(table))
    total = sum(sizes.values())
    # a matrix cell with no rows is maximally cold
    cold = sorted(
        c
        for c in range(len(centroids))
        if sizes.get(c, 0) < min_cell_fraction * total
    )
    if not cold:
        return centroids
    survivors = [c for c in range(len(centroids)) if c not in set(cold)]
    if not survivors:
        raise ValueError(
            f"min_cell_fraction={min_cell_fraction} would retire every "
            f"cell of {table}; a merge must leave a survivor"
        )
    moves = _merge_renumber_plan(cold, survivors)
    # each survivor's id after the renumber: itself, or the hole it fills
    renumbered = {s: s for s in survivors} | {m: h for h, m in moves}

    def cell_map(pairs):
        return F.create_map(*[F.lit(x) for pair in pairs for x in pair])

    index = spark.table(table)
    is_cold = F.col("_cell").isin(cold)
    cold_rows = index.filter(is_cold)
    surv_cents = [centroids[s] for s in survivors]
    if impl == "grid":
        moved = (
            grid_assign_cells(
                cold_rows,
                id_col,
                vec_col,
                surv_cents,
                keep_cols=[c for c in data_cols if c != id_col],
            )
            .drop("_vq")
            .withColumnRenamed("cell", "_pos")
        )
    else:
        nearest = _nearest_cell_udf(np.asarray(surv_cents, dtype=np.float64))
        moved = cold_rows.select(*data_cols, nearest(F.col(vec_col)).alias("_pos"))
    pos_to_cell = cell_map((i, renumbered[s]) for i, s in enumerate(survivors))
    rows = (
        index.filter(~is_cold)
        .select(
            *data_cols,
            cell_map(renumbered.items())[F.col("_cell")].cast("int").alias("_cell"),
        )
        .unionByName(
            moved.select(
                *data_cols, pos_to_cell[F.col("_pos")].cast("int").alias("_cell")
            )
        )
    )
    rows = _pinned_by_cell(rows)
    new_centroids = _merged_matrix(centroids, moves, survivors)
    _commit_rotation(
        spark, table, rows, new_centroids, _carried_contract(meta), vec_col
    )
    return new_centroids


def _pruned_index_scan(spark, table: str, probes: DataFrame, n_cells: int):
    """Index scan with a LITERAL ``_cell IN (...)`` static partition
    filter — short-circuited: once the probed-cell set exceeds half of
    ``n_cells`` the filter prunes (almost) nothing, so skip the driver
    round-trip and scan the whole index unfiltered. Correctness never
    depends on the filter — every caller joins the scan back to the
    (query, cell) probe pairs, which is what enforces semantics — so
    the filter is purely a directory-pruning optimization. The
    detection collect is itself bounded by ``limit(threshold + 1)``,
    never by \\|queries\\| × n_probe."""
    threshold = max(1, n_cells // 2)
    rows = probes.select("_cell").distinct().limit(threshold + 1).collect()
    if len(rows) > threshold:
        return spark.table(table)
    return spark.table(table).filter(
        F.col("_cell").isin([r["_cell"] for r in rows])
    )


def ivf_query_index(
    spark,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]] | None = None,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k against a persisted :func:`ivf_build_index` table.

    Probe cells are computed per query (one numpy matmul against the
    tiny centroid matrix per Arrow batch), then the index scan is
    filtered with a LITERAL ``_cell IN (...)`` — a static partition
    filter that prunes whole directories at file-listing time
    (asserted in ``tests/test_dedup_similarity.py``), which a
    broadcast-join-only formulation would reach just at runtime via
    dynamic partition pruning. The distinct probed-cell collect is
    bounded by ``n_cells // 2 + 1`` via a pushed-down LIMIT, and once
    the probe set exceeds half the cells the filter (which would prune
    almost nothing) is skipped entirely — the probe join alone carries
    the semantics (see :func:`_pruned_index_scan`).

    The probe follows the ``impl`` the index records. A ``"grid"``
    index (deterministic trainer, quantized-unit centroids) probes
    through :func:`grid_assign_cells` — same quantization, same
    tie-breaks — so the whole query is engine-replayable. Partition
    pruning is unchanged (layout only).

    ``centroids=None`` loads the matrix from the persisted
    ``{table}_centroids`` companion (:func:`ivf_load_centroids`) — the
    no-driver-state form, and the way probes resume after a
    maintenance retrain rotated the matrix. An explicitly passed
    matrix is still fingerprint-validated against the index.
    """
    from ..sources.io import read_contract

    if centroids is None:
        meta = read_contract(spark, table, "ivf")
        centroids = _load_centroids(spark, table, meta)
    else:
        meta = _check_centroids(spark, table, centroids)
    C = np.asarray(centroids, dtype=np.float64)

    if meta["impl"] == "grid":
        probes = (
            grid_assign_cells(
                queries, query_id_col, vec_col, centroids,
                n_probe=n_probe, keep_cols=[vec_col],
            )
            .select(
                F.col(query_id_col).alias("_qid"),
                F.col(vec_col).alias("_qvec"),
                l2_norm(F.col(vec_col)).alias("_qn"),
                F.col("cell").alias("_cell"),
            )
        )
    else:

        @pandas_udf("array<int>")
        def probe_cells(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:  # empty Arrow batch: np.stack would raise
                return pd.Series([], dtype=object)
            V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            d = (V**2).sum(1)[:, None] - 2 * V @ C.T + (C**2).sum(1)[None, :]
            nearest = np.argsort(d, axis=1)[:, :n_probe]
            return pd.Series([row.astype("int32").tolist() for row in nearest])

        probes = queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            l2_norm(F.col(vec_col)).alias("_qn"),
            F.explode(probe_cells(F.col(vec_col))).alias("_cell"),
        )
    indexed = _pruned_index_scan(spark, table, probes, len(C))
    cand = (
        indexed.withColumn("_cn", l2_norm(F.col(vec_col)))
        .join(F.broadcast(probes), "_cell")
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            F.round(
                cosine_from_norms(F.col(vec_col), F.col("_qvec"), "_cn", "_qn"), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    multiprobe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    plane_impl: str = "gaussian",
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH.

    ``n_tables`` independent hash tables, each with its own ``n_planes``
    random hyperplanes; a corpus vector lands in one bucket per table
    (posexplode → n_tables index rows per vector). A query probes, per
    table, its own bucket plus every bucket within ``multiprobe_bits``
    bit flips; exact cosine runs only inside the probed buckets, and
    duplicates across tables collapse before ranking. Recall for a pair
    with per-bit collision prob p is 1-(1-p^b)^L — the classic
    memory-for-recall trade: the index is n_tables× the corpus key set,
    but candidate work stays ∝ bucket size, never corpus². At 100 TB,
    raise n_planes to keep buckets bounded and tune n_tables to the
    recall target; the join key (table, bucket) is hash-partitioned so
    AQE handles residual bucket skew.

    Output schema matches :func:`brute_force_topk`; rank is within the
    probed candidate set, so recall < 1.0 by construction.

    ``plane_impl``: ``"gaussian"`` (default — numpy standard-normal
    hyperplanes) or ``"md5"`` (±1 Rademacher planes regenerated from
    md5 parity via ``functions.vectors.sign_matrix`` — Charikar's SRP
    is valid for any symmetric plane distribution, and the md5 family
    is recomputable by any ANSI engine, so md5-family LSH is
    DuckDB-oracle replayable bucket for bucket, the same
    pattern as the CMS/simhash hash families. ±1 planes also make
    every per-plane product EXACT in doubles — float32 × ±1 — so the
    sign of each dot is engine-stable away from exact zero).
    """
    if plane_impl == "md5":
        from ..functions.vectors import sign_matrix

        all_planes = sign_matrix(dim, n_tables * n_planes, seed)
    elif plane_impl == "gaussian":
        all_planes = _hyperplanes(dim, n_tables * n_planes, seed)
    else:
        raise ValueError(f"unknown plane_impl: {plane_impl!r}")

    # One numpy matmul per Arrow batch computes EVERY table's bucket at
    # once ((batch × dim) @ (dim × T·b) → sign bits → per-table packed
    # ints) — vs n_tables·n_planes interpreted higher-order dot products
    # per row for the pure-Catalyst form (~20× slower measured).
    P = np.asarray(all_planes, dtype=np.float64)  # (T*b, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)  # bit i = plane i

    @pandas_udf("array<bigint>")
    def sig_array_udf(vecs: pd.Series) -> pd.Series:
        ok = vecs.notna()
        if not ok.any():
            return pd.Series([None] * len(vecs))
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs[ok]])
        bits = (V @ P.T) > 0  # (n, T*b)
        packed = (bits.reshape(len(V), n_tables, n_planes) * weights).sum(axis=2)
        j = 0
        res = []
        for o in ok:
            res.append(packed[j].tolist() if o else None)
            j += 1 if o else 0
        return pd.Series(res)

    def sig_array(vec: Column) -> Column:
        return sig_array_udf(vec)

    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_cn"),
        F.posexplode(sig_array(F.col(vec_col))).alias("_tbl", "_bucket"),
    )
    probe_offsets = [0]
    if multiprobe_bits >= 1:
        probe_offsets += [1 << i for i in range(n_planes)]
    if multiprobe_bits >= 2:
        probe_offsets += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    q_sig = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        F.posexplode(sig_array(F.col(vec_col))).alias("_tbl", "_qbucket"),
    )
    probes = q_sig.select(
        "_qid",
        "_qvec",
        "_qn",
        "_tbl",
        F.explode(
            F.array(*[F.col("_qbucket").bitwiseXOR(F.lit(o)) for o in probe_offsets])
        ).alias("_bucket"),
    ).dropDuplicates(["_qid", "_tbl", "_bucket"])

    cand = (
        c.join(F.broadcast(probes), ["_tbl", "_bucket"])
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            F.round(
                cosine_from_norms(F.col(vec_col), F.col("_qvec"), "_cn", "_qn"), 6
            ).alias("cos_sim"),
        )
        .dropDuplicates([query_id_col, id_col])
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --------------------------------------------------------------- product
# quantization (Jégou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011 — method only, no code). The memory side
# of the ANN story: IVF prunes WHICH vectors are scored, PQ shrinks WHAT
# is stored/scored — a 64-dim float corpus compresses 256/m-fold
# (m=8 → one byte per 8 dims), which at 100 TB of embeddings is the
# difference between codes fitting executor memory and not.


class PQCodebook:
    """Trained product quantizer: ``m`` subspace codebooks of
    ``n_codes`` centroids each (numpy array shaped (m, n_codes,
    dim/m)), plus the geometry needed to encode/score."""

    def __init__(self, codebooks: "np.ndarray", dim: int, seed: int):
        self.codebooks = codebooks
        self.m, self.n_codes, self.sub = codebooks.shape
        self.dim = dim
        self.seed = seed


def _kmeans_lloyd(X: "np.ndarray", k: int, seed: int, iters: int) -> "np.ndarray":
    """Seeded Lloyd k-means on a driver-side sample (numpy). Bounded by
    construction (the sample is bounded); deterministic for a given
    seed. Empty clusters re-seed from the farthest points so all k
    codes stay live."""
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2)
        assign = d.argmin(1)
        newC = C.copy()
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(0)
            else:
                newC[j] = X[d.min(1).argmax()]
        if np.allclose(newC, C):
            break
        C = newC
    return C


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    fit_fraction: float | None = None,
    fit_target_rows: int = 100_000,
    seed: int = 42,
    iters: int = 20,
) -> PQCodebook:
    """Fit the product quantizer: split the vector into ``m`` equal
    subspaces and k-means each on a bounded sample (same
    ``_bounded_fit`` policy as the IVF coarse quantizer — the fit is a
    bounded job at any corpus size; codebooks total m × n_codes ×
    dim/m floats, kilobytes)."""
    sample = _bounded_fit(
        corpus.select(F.col(vec_col).alias("_v")).filter(
            F.col("_v").isNotNull()
        ),
        fit_fraction,
        seed,
        fit_target_rows,
    ).collect()
    X = np.stack([np.asarray(r._v, dtype=np.float64) for r in sample])
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    books = np.stack(
        [
            _kmeans_lloyd(X[:, j * sub : (j + 1) * sub], n_codes, seed + j, iters)
            for j in range(m)
        ]
    )
    return PQCodebook(books, dim, seed)


def _pq_codebook_table(table: str) -> str:
    return f"{table}_pq_codebook"


def pq_save_codebook(spark, table: str, codebook: PQCodebook) -> None:
    """Persist an index's product-quantizer codebook as the
    ``{table}_pq_codebook`` companion (m × n_codes rows of
    array<double> sub-centroids — kilobytes), the PQ twin of the
    ``{table}_centroids`` companion: maintenance retrains and
    other-session appends resolve it instead of requiring the caller
    to hold the trained object. Doubles round-trip parquet exactly, so
    the loaded codebook encodes bit-identically to the saved one.
    :func:`ivf_build_index` calls this whenever it writes PQ codes."""
    from ..sources.io import write_table

    rows = [
        (j, c, [float(x) for x in codebook.codebooks[j, c]])
        for j in range(codebook.m)
        for c in range(codebook.n_codes)
    ]
    write_table(
        spark.createDataFrame(
            rows, "subspace int, code int, centroid array<double>"
        ),
        _pq_codebook_table(table),
        properties={
            "kind": "pq_codebook",
            "m": codebook.m,
            "n_codes": codebook.n_codes,
            "dim": codebook.dim,
            "seed": codebook.seed,
        },
    )


def _index_codebook(
    spark, table: str, meta: dict, pq_codebook: "PQCodebook | None" = None
) -> "PQCodebook | None":
    """The codebook an IVF index's rows are coded with: ``pq_codebook``
    when the caller passes one, else — when the contract ``meta``
    records PQ codes — the persisted companion, which round-trips the
    trained object bit-identically (the codebook twin of
    ``centroids=None``). None for an index without codes."""
    if pq_codebook is not None or not meta["pq"]:
        return pq_codebook
    try:
        return pq_load_codebook(spark, table)
    except Exception:
        raise ValueError(
            f"{table} stores PQ codes and its persisted codebook companion "
            f"{_pq_codebook_table(table)} cannot be read; pass the SAME "
            "codebook the build used so new rows carry codes"
        )


def pq_load_codebook(spark, table: str) -> PQCodebook:
    """Rehydrate the :func:`pq_save_codebook` companion of ``table``.
    Raises if the companion is missing or not a dense (m × n_codes)
    grid."""
    from ..sources.io import read_contract

    companion = _pq_codebook_table(table)
    meta = read_contract(spark, companion, "pq_codebook")
    m, n_codes = meta["m"], meta["n_codes"]
    rows = spark.table(companion).orderBy("subspace", "code").collect()
    if len(rows) != m * n_codes or [
        (r["subspace"], r["code"]) for r in rows
    ] != [(j, c) for j in range(m) for c in range(n_codes)]:
        raise ValueError(f"{companion} is not a dense (m x n_codes) grid")
    books = np.asarray(
        [r["centroid"] for r in rows], dtype=np.float64
    ).reshape(m, n_codes, -1)
    return PQCodebook(books, meta["dim"], meta["seed"])


def pq_encode(
    corpus: DataFrame,
    codebook: PQCodebook,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Append ``code_col``: array<smallint> of length m — per subspace,
    the index of the nearest codebook centroid. One Arrow kernel pass
    (narrow map, no shuffle); the encoded column is what a 100 TB
    deployment PERSISTS (dim/m × compression vs the float vector), the
    raw vector column can be dropped or left cold."""
    books = codebook.codebooks  # (m, k, sub)
    sub = codebook.sub
    m = codebook.m

    @pandas_udf("array<smallint>")
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch: np.stack would raise
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        out = np.empty((len(V), m), dtype=np.int16)
        for j in range(m):
            S = V[:, j * sub : (j + 1) * sub]
            B = books[j]
            d = (S**2).sum(1)[:, None] - 2 * S @ B.T + (B**2).sum(1)[None, :]
            out[:, j] = d.argmin(1).astype(np.int16)
        return pd.Series([row.tolist() for row in out])

    return corpus.withColumn(code_col, encode(F.col(vec_col)))


def _adc_scored(
    encoded: DataFrame,
    queries: DataFrame,
    codebook: PQCodebook,
    id_col: str,
    code_col: str,
    vec_col: str,
    query_id_col: str,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """(query_id, id, adc_dist [, passthrough…]) for every (query,
    encoded row) pair: per query, the m × n_codes table of partial
    squared distances query-subvector ↔ codebook centroid is built
    driver-side (|Q| × m × n_codes doubles, broadcast with the kernel
    closure — query sets are broadcast-small by the same contract as
    :func:`brute_force_topk`); each corpus CODE then scores as m table
    lookups in one Arrow pass. No float vectors are read on the corpus
    side."""
    books = codebook.codebooks
    sub = codebook.sub
    m = codebook.m
    extra = list(passthrough or [])
    q_rows = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    ).collect()
    qids = [r._qid for r in q_rows]
    Q = np.stack([np.asarray(r._qv, dtype=np.float64) for r in q_rows])
    # (n_queries, m, n_codes) partial squared distances
    tables = np.stack(
        [
            np.stack(
                [
                    ((Q[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None, :, :]) ** 2).sum(2)[qi]
                    for j in range(m)
                ]
            )
            for qi in range(len(qids))
        ]
    )

    @pandas_udf("array<double>")
    def adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        C = np.stack([np.asarray(c, dtype=np.int64) for c in codes])  # (b, m)
        cols = np.arange(m)
        # for each query: sum over subspaces of table[j, code_j]
        dists = np.stack(
            [tables[qi][cols, C].sum(1) for qi in range(len(qids))], axis=1
        )  # (b, n_queries)
        return pd.Series([row.tolist() for row in dists])

    return (
        encoded.select(F.col(id_col), *extra, adc(F.col(code_col)).alias("_d"))
        .select(
            id_col,
            *extra,
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(q) for q in qids]).alias("qid"),
                    F.col("_d").alias("dist"),
                )
            ).alias("_z"),
        )
        .select(
            F.col("_z.qid").alias(query_id_col),
            F.col(id_col),
            *extra,
            F.round(F.col("_z.dist"), 6).alias("adc_dist"),
        )
    )


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebook: PQCodebook,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    the whole encoded corpus. Returns (query_id, vec_id, adc_dist,
    rank), ascending distance (L2; ties break on id). Approximate by
    construction (quantization distortion) — pair with the exact tier
    when recall must be 1; see :func:`_adc_scored` for the cost model
    and :func:`ivf_pq_index_topk` for the cell-pruned composition."""
    scored = _adc_scored(
        encoded, queries, codebook, id_col, code_col, vec_col, query_id_col
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_pq_index_topk(
    spark,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]],
    codebook: PQCodebook,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF × PQ — the full ANN composition over a persisted
    :func:`ivf_build_index` table: coarse cells prune WHICH vectors are
    touched (literal ``_cell IN (...)`` partition filter, directories
    skipped at file-listing time), PQ shrinks WHAT is scored (codes via
    :func:`pq_encode` — encode once and persist the ``code_col``
    alongside the index in a real deployment; this function encodes the
    pruned scan on the fly when the column is absent). Each query ranks
    only candidates from ITS probed cells (semi-join on the bounded
    (query, cell) probe pairs). Returns (query_id, vec_id, adc_dist,
    rank), ascending ADC distance."""
    _check_centroids(spark, table, centroids)
    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch: np.stack would raise
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        d = (V**2).sum(1)[:, None] - 2 * V @ C.T + (C**2).sum(1)[None, :]
        nearest = np.argsort(d, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in nearest])

    probes = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.explode(probe_cells(F.col(vec_col))).alias("_cell"),
    )
    pruned = _pruned_index_scan(spark, table, probes, len(C))
    if code_col not in pruned.columns:
        pruned = pq_encode(pruned, codebook, vec_col=vec_col, code_col=code_col)
    scored = _adc_scored(
        pruned, queries, codebook, id_col, code_col, vec_col, query_id_col,
        passthrough=["_cell"],
    )
    cand = scored.join(
        F.broadcast(probes),
        (F.col(query_id_col) == F.col("_qid")) & (scored["_cell"] == probes["_cell"]),
        "leftsemi",
    ).drop("_cell")
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc(id_col))
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    candidates: DataFrame | None = None,
    exclude_top: int = 0,
    max_sim: float | None = None,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training data
    (the DPR / Sentence-BERT recipe): per query, the top-``k``
    most-similar corpus items that are NOT known positives — the
    negatives a contrastive loss learns most from. Returns
    ``(query_id, vec_id, cos_sim, neg_rank)``.

    ``positives`` is the labeled (query_id, id) relevance set,
    anti-joined out. Two false-negative guards, both standard
    practice: ``exclude_top`` skips the N most-similar survivors per
    query (the "semi-hard" trick — unlabeled true positives
    concentrate at the very top), and ``max_sim`` drops candidates
    above a similarity ceiling (a near-duplicate of the positive is
    almost surely relevant, not a negative).

    ``candidates`` switches the retrieval tier: pass any
    (query_id, id, cos_sim) frame — ``ivf_query_index`` output for
    corpus scale, ``lsh_topk`` — or None for the exact default, which
    scores the full corpus per query (the brute-force scoring pass
    WITHOUT a pre-cut: a top-k budget cannot know how many rows the
    exclusions will drop, so cutting early would under-fill the
    negative pool). With an ANN candidate frame, over-retrieve by the
    expected exclusion count — the trade every ANN consumer makes.
    All downstream filtering is pure Catalyst — one anti-join + one
    per-query window, candidate-sized."""
    if candidates is None:
        # exact default: score the WHOLE corpus per query (the same
        # work brute_force_topk does before its rank cut) and let the
        # exclusions below pick from the full pool — a pre-cut top-k
        # budget cannot know how many rows ``max_sim`` will drop, and
        # under-filling the negative pool silently starves exactly the
        # queries with near-duplicate heads that the ceiling targets
        q = F.broadcast(
            queries.select(
                F.col(query_id_col).alias("_qid"),
                F.col(vec_col).alias("_qvec"),
                l2_norm(F.col(vec_col)).alias("_qn"),
            )
        )
        candidates = (
            corpus.withColumn("_cn", l2_norm(F.col(vec_col)))
            .crossJoin(q)
            .select(
                F.col("_qid").alias(query_id_col),
                F.col(id_col),
                F.round(
                    cosine_from_norms(
                        F.col(vec_col), F.col("_qvec"), "_cn", "_qn"
                    ),
                    6,
                ).alias("cos_sim"),
            )
        )
    neg = candidates.join(
        positives.select(query_id_col, id_col), [query_id_col, id_col], "left_anti"
    )
    if max_sim is not None:
        neg = neg.filter(F.col("cos_sim") <= max_sim)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        neg.withColumn("_r", F.row_number().over(w))
        .filter((F.col("_r") > exclude_top) & (F.col("_r") <= exclude_top + k))
        .select(
            query_id_col,
            id_col,
            "cos_sim",
            (F.col("_r") - exclude_top).alias("neg_rank"),
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    score_col: str = "cos_sim",
    sim_round: int | None = 6,
) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998)
    of per-query candidate sets: greedily pick the candidate maximizing
    ``lam · relevance − (1 − lam) · max cosine to already-picked``, so
    the final k trade relevance against diversity instead of returning
    near-duplicate neighbors. ``lam=1.0`` degenerates to plain
    relevance order (pinned against :func:`brute_force_topk` by test).

    ``candidates`` is the OUTPUT of a cheap top-N retrieval (brute
    force, IVF, LSH — any of this module's tiers, with N a few × k)
    joined with its candidate vectors: one row per (query, candidate)
    carrying ``id_col, vec_col, score_col``. NULL/empty vectors are
    dropped up front (they cannot contribute a similarity).

    Returns ``(query_id, id, score, mmr_rank)`` with ``mmr_rank``
    1-based in selection order. Deterministic: equal MMR scores break
    toward the candidate earlier in (relevance desc, id asc) order,
    and pairwise similarities are rounded to ``sim_round`` decimals
    BEFORE the greedy comparison — the same
    round-before-rank rule as :func:`mine_hard_negatives`, which makes
    the whole greedy selection replayable by a SQL engine computing
    cosines independently (6 dp ties on raw doubles would otherwise
    break on engine-specific last-ulp noise). ``sim_round=None``
    restores raw-double comparisons.

    The redundancy penalty FLOORS AT ZERO: ``max_sim`` accumulates
    from 0, so a candidate anti-similar to everything picked pays no
    penalty but earns no diversity BONUS either (raw MMR would let a
    negative max cosine inflate the score above pure relevance). The
    DuckDB oracle replays this as ``greatest(0, max(sim))``.

    Scale: greedy selection is inherently sequential PER QUERY but
    queries are independent — ``applyInPandas`` groups by query id, so
    the work distributes across queries; each group is candidate-sized
    (N ≤ a few hundred rows — the caller's retrieval already cut the
    corpus), one O(N²·dim) numpy pass per group, never corpus-sized.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    # output field types come from the candidate frame's actual schema —
    # string doc ids / float scores must round-trip untouched, not be
    # miscast through a hardcoded long/double
    from pyspark.sql.types import IntegerType, StructField, StructType

    in_fields = {f.name: f for f in candidates.schema.fields}
    out_schema = StructType(
        [
            in_fields[query_id_col],
            in_fields[id_col],
            in_fields[score_col],
            StructField("mmr_rank", IntegerType()),
        ]
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf[vec_col].notna()]
        if len(pdf) == 0:
            return pd.DataFrame(
                {query_id_col: [], id_col: [], score_col: [], "mmr_rank": []}
            )
        # stable candidate order: relevance desc, id asc (the tiebreak)
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        V = V / norms[:, None]
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        n = len(pdf)
        picked: list[int] = []
        cand = np.ones(n, dtype=bool)
        max_sim = np.zeros(n, dtype=np.float64)
        while cand.any() and len(picked) < k:
            if picked:
                score = lam * rel - (1.0 - lam) * max_sim
            else:
                score = rel.copy()
            score[~cand] = -np.inf
            # argmax with lowest-index (= lowest-id after the sort) ties
            best = int(np.argmax(score))
            picked.append(best)
            cand[best] = False
            sims = V @ V[best]
            if sim_round is not None:
                sims = np.round(sims, sim_round)
            max_sim = np.maximum(max_sim, sims)
        sel = pdf.iloc[picked]
        return pd.DataFrame(
            {
                query_id_col: sel[query_id_col].to_numpy(),
                id_col: sel[id_col].to_numpy(),
                score_col: sel[score_col].to_numpy(),
                "mmr_rank": np.arange(1, len(picked) + 1, dtype=np.int32),
            }
        )

    return candidates.groupBy(query_id_col).applyInPandas(_mmr, out_schema)


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    impl: str = "exact",
    out_col: str = "predicted_label",
    **impl_kwargs,
):
    """k-nearest-neighbor classification over an embedding corpus:
    each query takes the majority label among its k nearest neighbors
    by cosine — the label-propagation step pipelines use to spread
    curated quality/domain/topic tags from a labeled seed set to the
    whole corpus. Vote ties break deterministically: higher count,
    then (min neighbor rank among the tied labels) — i.e. the tied
    label with the closest supporting neighbor wins, matching the
    intuition that nearer evidence is stronger.

    ``impl="exact"`` retrieves via :func:`brute_force_topk` (the
    oracle-replayable baseline — ranking and voting are plain SQL);
    ``impl="ivf"`` via :func:`ivf_topk` (the sublinear scale path:
    same voting over approximate neighbors; ``impl_kwargs`` forwarded,
    e.g. n_clusters/n_probe).

    Returns one row per query: ``(query_id, out_col, n_votes)``.
    Scale: retrieval dominates (see the chosen tier); voting is k
    rows per query — a per-query groupBy on an already-tiny frame.
    """
    if impl == "exact":
        cand = brute_force_topk(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        )
    elif impl == "ivf":
        cand = ivf_topk(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, **impl_kwargs,
        )
    else:
        raise ValueError(f"unknown knn impl: {impl!r} (exact|ivf)")
    labeled = cand.join(
        corpus.select(F.col(id_col), F.col(label_col)), id_col
    )
    votes = labeled.groupBy(query_id_col, label_col).agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.min("rank").alias("_best_rank"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("n_votes"), F.asc("_best_rank"), F.asc(label_col)
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            query_id_col,
            F.col(label_col).alias(out_col),
            F.col("n_votes").cast("bigint").alias("n_votes"),
        )
    )
