"""Mergeable distinct-count sketches (Apache DataSketches HLL via the
Spark 4 ``hll_*`` built-ins).

``approx_count_distinct`` answers one query; a 100 TB standing
pipeline wants the INCREMENTAL form: sketch each partition/day/batch
ONCE at ingest, persist the sketch bytes (KBs per group), and answer
any later rollup — any coarser grouping, any date range, cross-batch
unions — by merging sketches instead of rescanning raw data. HLL
sketches merge losslessly: union-of-sketches equals
sketch-of-union EXACTLY (same bytes), which is what makes the
pattern safe (pinned by
``test_dedup_similarity.py::test_hll_sketches_merge_losslessly``).

Everything is JVM-side aggregate functions — no Python, one shuffle
per grouping, sketch bytes as ordinary ``binary`` columns in ordinary
tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_sketches(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lgk: int = 12,
    sketch_col: str = "distinct_sketch",
) -> DataFrame:
    """Per-key HLL sketches of ``value_col``'s distinct count — the
    ingest-time pass. ``lgk`` trades size for accuracy (2^lgk buckets;
    12 ≈ 1.6% rsd at a few KB). Persist the result keyed by your
    finest useful grouping (e.g. day × source)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias(sketch_col)
    )


def rollup_sketches(
    sketches: DataFrame,
    keys: list[str],
    sketch_col: str = "distinct_sketch",
) -> DataFrame:
    """Merge fine-grained sketches up to a coarser grouping (fewer
    ``keys``) — the query-time pass. Bytes in, bytes out: the result
    can be persisted and rolled up again (day → month → year)."""
    return sketches.groupBy(*keys).agg(
        F.hll_union_agg(sketch_col).alias(sketch_col)
    )


def sketch_estimate(sketch_col: Column | str = "distinct_sketch") -> Column:
    """The distinct-count estimate for a sketch column."""
    c = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    return F.hll_sketch_estimate(c)


# ---------------------------------------------------------------------------
# Register-level HLL: mergeable distinct sketches as ordinary rows
# ---------------------------------------------------------------------------
#
# The open-representation twin of the DataSketches tier above (same
# pattern as the CMS grid below): the sketch is not an opaque binary
# blob but SPARSE (key..., register, rho) rows — one row per touched
# register, absent register ⇒ rho 0 — so any engine that can hash and
# MAX can build, merge, and read it. Merge is lossless by construction
# (registers only grow: max-of-maxes == max-of-union), and the
# Flajolet et al. (2007) estimator is replayed from the register rows
# alone. ``hash_impl="md5"`` makes every piece replayable by any ANSI
# engine (the minhash/CMS md5-family pattern — this is what the DuckDB
# oracle hash-checks); ``"xxhash64"`` is the native-speed scale path.
#
# Cross-engine determinism note: the estimator's denominator
# Σ 2^(-rho) is accumulated as the INTEGER Σ 2^(51-rho) (every term a
# power of two ≤ 2^51, ≤ m terms — exact in BIGINT), so aggregation
# order can never perturb a float sum; the only floats are a fixed
# closed-form expression of that integer.


def _hll_register_cols(
    value: Column, p: int, hash_impl: str
) -> tuple[Column, Column]:
    """(register, rho) for one value: register = low ``p`` hash bits,
    rho = leading-zero count of the remaining ``60-p`` bits + 1
    (md5 path: 60-bit hash from the first 15 hex chars, the replayable
    family; xxhash64 path: low 60 bits of the native hash)."""
    m = 1 << p
    if hash_impl == "md5":
        h = F.conv(F.substring(F.md5(value.cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
    elif hash_impl == "xxhash64":
        # low 60 bits: non-negative, same register/rho geometry as md5
        h = F.xxhash64(value.cast("string")).bitwiseAND(F.lit((1 << 60) - 1))
    else:
        raise ValueError(f"unknown hash_impl: {hash_impl!r}")
    register = F.pmod(h, F.lit(m))
    # integer shift, never a float division: h is non-negative < 2^60
    w = F.shiftrightunsigned(h, p)
    # bit length via base-2 string (exact integer op in both engines;
    # floor(log2(w)) would ride a float through a 50-bit integer).
    # conv() emits no leading zeros, but conv(0) is "0" (length 1),
    # so the all-zero window is special-cased to bitlen 0.
    bitlen = F.when(w == 0, F.lit(0)).otherwise(
        F.length(F.conv(w.cast("string"), 10, 2))
    )
    rho = F.lit(61 - p) - bitlen
    return register, rho


def hll_register_sketch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p: int = 10,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Per-key register-level HLL sketch of ``value_col``'s distinct
    count — the ingest-time pass. Output: (keys..., register, rho)
    sparse rows, ≤ 2^p per group. One shuffle with map-side partial
    MAX; persist keyed by the finest useful grouping."""
    register, rho = _hll_register_cols(F.col(value_col), p, hash_impl)
    return (
        df.select(*keys, register.alias("register"), rho.alias("rho"))
        .groupBy(*keys, "register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_register_merge(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Merge register sketches up to a coarser grouping — rows in, rows
    out, re-mergeable (day → month → year). Lossless: registers only
    grow, so max-of-maxes equals the sketch of the union exactly."""
    return sketches.groupBy(*keys, "register").agg(F.max("rho").alias("rho"))


def hll_register_estimate(
    sketches: DataFrame,
    keys: list[str],
    p: int = 10,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Distinct-count estimate per key group from register rows:
    raw HLL estimate alpha_m * m^2 / Σ 2^(-rho) with the small-range
    linear-counting correction (E ≤ 2.5m and empty registers present
    ⇒ m·ln(m/zeros)), rounded to a BIGINT. The Σ 2^(-rho) denominator
    is carried as the exact integer Σ 2^(61-p-rho) (see module note;
    p=10 ⇒ Σ 2^(51-rho))."""
    m = 1 << p
    # rho <= 61 - p, so 2^(shift - rho) stays a non-negative BIGINT
    # power and the full sum is bounded by m * 2^shift = 2^61 < 2^63
    shift = 61 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = sketches.groupBy(*keys).agg(
        # F.shiftleft only takes a literal bit count; the per-row shift
        # needs the SQL form (BIGINT base so 2^50 never overflows INT)
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {shift} - rho)")).alias(
            "_s_hit"
        ),
        F.count("*").alias("_n_regs"),
    )
    s_total = F.col("_s_hit") + (F.lit(m) - F.col("_n_regs")) * F.lit(
        1 << shift
    ).cast("long")
    zeros = F.lit(m) - F.col("_n_regs")
    e_raw = (
        F.lit(alpha * m * m * float(1 << shift)) / s_total.cast("double")
    )
    e = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        *keys, F.round(e, 0).cast("long").alias(out_col)
    )


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable approximate frequencies / heavy hitters
# ---------------------------------------------------------------------------
#
# The frequency twin of the HLL tier above: sketch each batch/day ONCE
# at ingest into a depth × width counter grid, persist the grid as
# ordinary rows, and answer later point-frequency / heavy-hitter
# queries over any union of batches by SUMMING grids instead of
# rescanning raw events (Cormode & Muthukrishnan 2005). Counters only
# add, so merge is lossless by construction: sketch(A ∪ B) ==
# merge(sketch(A), sketch(B)) row for row.
#
# Representation is SPARSE — one row per touched (row, bucket) cell,
# absent cell ⇒ 0 — so a sketch of a small batch costs rows
# proportional to what it saw, bounded above by depth × width
# (depth=5, width=2048 ⇒ ≤ 10,240 rows ≈ KBs per group, any corpus
# size). Everything is xxhash64 + groupBy: JVM-side, one shuffle with
# map-side partial aggregation, no Python.


def _cms_cells(
    value: Column, depth: int, width: int, seed: int,
    hash_impl: str = "xxhash64",
) -> Column:
    """array<struct<row, bucket>> — the depth cells a value touches.

    ``hash_impl``: ``"xxhash64"`` (default — native-binary hashing,
    the fastest JVM path) or ``"md5"`` (hashes the value's STRING
    form, like curation's ``_det_bucket``) — any ANSI engine computes
    the identical grid, so md5-family sketches are DuckDB-oracle
    replayable cell for cell (the a1_cms_topk /
    x1_cms_stream registry entries use it — the pq_topk pattern:
    hash-check the counting machinery with the replayable family,
    keep the fast family as the default scale path under the pytest
    bound/merge pins). Sketch and lookup must agree on the family,
    exactly like depth/width/seed."""
    if hash_impl == "md5":
        def bucket(r: int) -> Column:
            h = F.md5(F.concat(value.cast("string"), F.lit(f"#{seed + r}")))
            return F.pmod(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"),
                F.lit(width),
            )
    elif hash_impl == "xxhash64":
        def bucket(r: int) -> Column:
            return F.pmod(F.xxhash64(value, F.lit(seed + r)), F.lit(width))
    else:
        raise ValueError(f"unknown hash_impl: {hash_impl!r}")
    return F.array(
        *[
            F.struct(F.lit(r).alias("row"), bucket(r).alias("bucket"))
            for r in range(depth)
        ]
    )


def cms_sketch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    depth: int = 5,
    width: int = 2048,
    seed: int = 42,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Per-key count-min sketch of ``value_col`` occurrence counts —
    the ingest-time pass. Returns ``keys + (row, bucket, cnt)`` cell
    rows. Error bound: a lookup overestimates by at most
    ``(e / width) · N`` with probability ``1 − e^−depth`` (N = total
    occurrences in the sketched group); never underestimates. NULL
    values are skipped (count them separately if needed)."""
    cells = F.explode(
        _cms_cells(F.col(value_col), depth, width, seed, hash_impl)
    ).alias("_cell")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, cells)
        .groupBy(*keys, F.col("_cell.row").alias("row"), F.col("_cell.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Merge sketches to a coarser grouping by summing cells — the
    query-time pass. Input sketches MUST share depth/width/seed (cell
    coordinates are only comparable under the same hashing). Output is
    again a sketch: persist and merge further (day → month → year)."""
    return sketches.groupBy(*keys, "row", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    depth: int = 5,
    width: int = 2048,
    seed: int = 42,
    est_col: str = "est_count",
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Point-frequency estimates for ``probes[value_col]`` against a
    single merged sketch (no grouping keys): min over the depth
    counters each probe hashes to, absent counter ⇒ 0. Returns probes
    + ``est_col``. Estimates are upper bounds on the true counts.

    Candidate enumeration is the caller's job (a sketch cannot list
    its keys): pair with per-batch exact top-M candidate sets, then
    rank candidates by sketch estimate over the merged history —
    probes are candidate-sized, so this join is broadcast-small."""
    exploded = probes.select(
        F.col(value_col).alias("_probe"),
        F.explode(
            _cms_cells(F.col(value_col), depth, width, seed, hash_impl)
        ).alias("_cell"),
    ).select("_probe", F.col("_cell.row").alias("row"), F.col("_cell.bucket").alias("bucket"))
    joined = exploded.join(sketch, ["row", "bucket"], "left").select(
        "_probe", F.coalesce(F.col("cnt"), F.lit(0)).alias("_c")
    )
    est = joined.groupBy("_probe").agg(F.min("_c").alias(est_col))
    return probes.join(
        est, probes[value_col] == est["_probe"], "left"
    ).select(*probes.columns, F.coalesce(F.col(est_col), F.lit(0)).alias(est_col))


# ---------------------------------------------------------------------------
# Histogram sketch: mergeable approximate quantiles
# ---------------------------------------------------------------------------
#
# The quantile member of the sketch trio (HLL = distinct, CMS =
# frequency): fixed-bin equi-width histograms over a declared value
# range. Bin counts only add, so merge is lossless by construction —
# sketch(A ∪ B) == merge(sketch(A), sketch(B)) row for row — and any
# later quantile over any union of batches is answered from bin counts
# (error ≤ one bin width) without rescanning raw data. The declared
# [lo, hi] range is part of the sketch contract (like CMS depth/width):
# values clamp to the edge bins, so a drifting distribution shows up as
# edge-bin mass — monitor it and re-range like any sketch rebuild.


def hist_sketch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """Per-key histogram sketch of ``value_col`` — the ingest-time
    pass. Returns ``keys + (bin, cnt)`` sparse rows (≤ ``n_bins`` per
    group, any corpus size). Values clamp into [lo, hi); NULLs are
    skipped. One scan-fused projection + one partial-agg shuffle."""
    if not hi > lo:
        raise ValueError("hi must be > lo")
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(lo)) / F.lit((hi - lo) / n_bins))
    b = F.greatest(F.least(raw, F.lit(n_bins - 1)), F.lit(0)).cast("int")
    return (
        df.filter(v.isNotNull())
        .select(*keys, b.alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Merge to a coarser grouping by summing bins — lossless; inputs
    must share (lo, hi, n_bins). Output is again a sketch."""
    return sketches.groupBy(*keys, "bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantile(
    sketch: DataFrame,
    keys: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """Per-key quantile estimates from a histogram sketch: for each q,
    the upper edge of the first bin whose cumulative count reaches
    q·N — error bounded by one bin width (hi−lo)/n_bins. Returns
    ``keys + (q, quantile_est)``. Group-cardinality-sized work: a
    cumulative window per key over ≤ n_bins rows, never raw data."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*keys)
    width = (hi - lo) / n_bins
    cum = sketch.withColumn("_cum", F.sum("cnt").over(w)).withColumn(
        "_tot", F.sum("cnt").over(tot)
    )
    out = None
    for q in qs:
        hit = (
            cum.filter(F.col("_cum") >= F.lit(q) * F.col("_tot"))
            .groupBy(*keys)
            .agg(F.min("bin").alias("_bin"))
            .select(
                *keys,
                F.lit(q).alias("q"),
                F.round(
                    F.lit(lo) + (F.col("_bin") + 1) * F.lit(width), 6
                ).alias("quantile_est"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def hist_health(
    sketch: DataFrame,
    keys: list[str],
    n_bins: int = 256,
    max_edge_mass: float = 0.05,
) -> DataFrame:
    """Range-drift health per key for a histogram sketch: the fraction
    of mass sitting in the two CLAMP bins (values at or beyond the
    declared [lo, hi) range land there), with ``rerange_recommended``
    when it exceeds ``max_edge_mass`` — the histogram twin of
    ``ivf_append_index``'s drift report: a distribution walking off the
    declared range degrades quantile resolution silently otherwise.
    Group-cardinality-sized aggregation over bin rows, never raw
    data."""
    edge = F.when(
        (F.col("bin") == 0) | (F.col("bin") == n_bins - 1), F.col("cnt")
    ).otherwise(F.lit(0))
    return sketch.groupBy(*keys).agg(
        F.sum("cnt").alias("n_values"),
        F.round(
            F.sum(edge) / F.sum("cnt").cast("double"), 6
        ).alias("edge_mass"),
    ).withColumn(
        "rerange_recommended", F.col("edge_mass") > max_edge_mass
    )
