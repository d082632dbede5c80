"""Star-schema join helpers (J1–J5).

Every reference join is a LEFT single-column equi-join of a fact/base
table against a dimension (gold-snowflake/dim_customers_gold.py:31-33,
dim_products_gold.py:29-30, fact_sales_gold.py:41-43). The dim side is
orders-of-magnitude smaller, so the 100 TB plan is a broadcast-hash join
— no shuffle of the big side at all. ``star_join`` makes that the
default and lets AQE take over when a dim outgrows the broadcast
threshold (it falls back to sort-merge with skew splitting).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def star_join(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Column | str, str]],
    broadcast_dims: bool = True,
) -> DataFrame:
    """Chain left equi-joins of ``fact`` against each ``(dim, on, how)``.

    ``on`` may be a join Column expression (use ``df.alias`` +
    ``F.col("a.x") == F.col("b.y")`` for self-key disambiguation, the
    reference's P9 idiom) or a common column name. ``broadcast_dims``
    force-hints a broadcast-hash join on every dim side — only pass True
    when every dim genuinely fits in executor memory (dimension tables
    do); pass False to let AQE pick broadcast-vs-sort-merge from runtime
    stats.
    """
    out = fact
    for dim, on, how in dims:
        d = F.broadcast(dim) if broadcast_dims else dim
        out = out.join(d, on=on, how=how)
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] = (),
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, attach the right row with the
    greatest ``right_ts`` ≤ ``left_ts`` (``direction="backward"``, the
    default — classic point-in-time lookup: latest click before each
    purchase, last quote before each trade) or the smallest
    ``right_ts`` ≥ ``left_ts`` (``direction="forward"`` — next
    response after each request) within the same ``on`` key.

    Spark has no ASOF JOIN; the naive encoding (equi-join on key +
    range filter + row_number) explodes on high-fanout keys — a user
    with k clicks and m purchases materializes k·m rows before ranking.
    This is the **union trick** instead: tag both sides, union on
    (key, ts), and carry the latest right values forward with
    ``last(..., ignorenulls=True)`` over a window ordered by
    (ts, tag). Cost is ONE shuffle of |L|+|R| rows partitioned by key
    and a per-key sort — no intermediate blowup, no skew amplification;
    at 100 TB this is the same shape as any groupBy on the key.

    Right rows sort before left rows at equal ts (tag 0 < 1), so a
    right row at exactly ``left_ts`` matches in either direction —
    DuckDB/pandas ``merge_asof`` semantics. Ties on ``right_ts``
    resolve to the row last in the walk order over the remaining
    columns, deterministically. ``direction="forward"`` is the same
    single-shuffle union walk with the timestamp order REVERSED —
    identical cost, no second implementation to trust.

    The matched right row is carried forward as ONE struct (not
    column-by-column): a NULL value INSIDE the matched row survives
    attachment instead of being silently replaced by the previous
    non-null value — ``last(col, ignorenulls=True)`` per column cannot
    distinguish "no match yet" from "matched row holds NULL here"
    (caught by scd2_pit_join's open-ended ``end_dt``).

    ``right_cols`` are the value columns to attach (default: all
    non-key, non-ts columns), each emitted as ``right_<name>``; the
    matched timestamp is emitted as ``right_<right_ts>``.
    ``tolerance_seconds`` nulls the attached values when the match is
    further than ``tolerance`` seconds from ``left_ts`` on the
    direction's side (pandas ``merge_asof`` tolerance semantics).
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    if not right_cols:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    attached = [f"right_{c}" for c in [right_ts, *right_cols]]

    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        F.struct(
            F.col(right_ts).alias(f"right_{right_ts}"),
            *[F.col(c).alias(f"right_{c}") for c in right_cols],
        ).alias("_rv"),
        *[F.lit(None).alias(f"_l_{c}") for c in left.columns],
    )
    rv_type = r.schema["_rv"].dataType
    l = left.select(  # noqa: E741
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(rv_type).alias("_rv"),
        *[F.col(c).alias(f"_l_{c}") for c in left.columns],
    )
    # Total order: ties on (_ts, _tag) — multiple right rows with equal
    # (key, ts) — are broken by the right-row struct itself (field-wise
    # lexicographic), so the carried-forward match is independent of
    # partition physical order; left rows' NULL struct sorts first but
    # follows right rows via _tag anyway.
    ts_ord = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy("_k")
        .orderBy(ts_ord, F.col("_tag").asc(), F.col("_rv").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = r.unionByName(l).select(
        "_k",
        "_ts",
        "_tag",
        # the whole matched row carries atomically: NULL means "no
        # right row yet", never "this field was NULL in the match"
        F.last("_rv", ignorenulls=True).over(w).alias("_rv"),
        *[f"_l_{c}" for c in left.columns],
    )
    out = filled.filter(F.col("_tag") == 1).select(
        "_k",
        "_ts",
        *[F.col(f"_rv.{c}").alias(c) for c in attached],
        *[f"_l_{c}" for c in left.columns],
    )
    if tolerance_seconds is not None:
        # via timestamp so DATE-typed ts columns work too (a direct
        # date -> double cast is invalid)
        secs = lambda c: (  # noqa: E731
            F.unix_micros(c.cast("timestamp")) / F.lit(1_000_000.0)
        )
        gap = secs(F.col("_ts")) - secs(F.col(f"right_{right_ts}"))
        if direction == "forward":
            gap = -gap
        in_tol = gap <= F.lit(float(tolerance_seconds))
        for c in attached:
            out = out.withColumn(c, F.when(in_tol, F.col(c)))
    return out.select(
        *[F.col(f"_l_{c}").alias(c) for c in left.columns], *attached
    )


def scd2_pit_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    fact_ts: str,
    start_col: str = "start_dt",
    end_col: str = "end_dt",
    dim_cols: Sequence[str] = (),
    end_inclusive: bool = True,
) -> DataFrame:
    """Point-in-time (SCD-2 validity) join: attach to each fact row the
    dimension VERSION whose validity interval covers the fact's
    timestamp — ``start <= ts AND (ts <= end OR end IS NULL)`` under
    the inclusive-end convention this engine's SCD-2 builder emits
    (``operators/windows.py::scd2_close_dates``: end = next start − 1
    day); ``end_inclusive=False`` selects the half-open convention.
    Facts before a key's first version, or falling in a validity GAP
    (key retired then re-added), attach NULLs — exactly what the
    BETWEEN predicate yields, never a stale earlier version.

    Plan shape: rides :func:`asof_join`'s single-shuffle union walk on
    the version START (one |facts|+|versions| exchange on the key — no
    fact × version blowup, no skew amplification), then a scan-fused
    validity mask nulls matches whose interval had already closed. The
    naive equi-join + BETWEEN filter materializes k·m rows per key
    before filtering; this is the same cost as any groupBy on the fact
    key. Attached columns come out as ``right_<name>`` (asof_join's
    convention), including ``right_<start_col>`` / ``right_<end_col>``
    for validity auditing.
    """
    if not dim_cols:
        dim_cols = [c for c in dim.columns if c not in (on, start_col, end_col)]
    out = asof_join(
        fact, dim, on, fact_ts, start_col,
        right_cols=[end_col, *dim_cols],
    )
    end_c = F.col(f"right_{end_col}")
    ts_c = F.col(fact_ts)
    if end_inclusive and dict(dim.dtypes)[end_col] == "date":
        # inclusive DATE end means "valid through the END of that day":
        # a TIMESTAMP fact at 10:00 on the last valid day must match,
        # but date->timestamp promotion would compare it against
        # midnight — so compare strictly below the NEXT day instead
        still_valid = ts_c < F.date_add(end_c, 1)
    elif end_inclusive:
        still_valid = ts_c <= end_c
    else:
        still_valid = ts_c < end_c
    # materialize the mask into its own column FIRST: the per-column
    # when() loop rewrites right_<end_col>, and a predicate referencing
    # it by name would silently change meaning mid-loop
    out = out.withColumn("_pit_valid", end_c.isNull() | still_valid)
    for c in [start_col, end_col, *dim_cols]:
        out = out.withColumn(
            f"right_{c}", F.when(F.col("_pit_valid"), F.col(f"right_{c}"))
        )
    return out.drop("_pit_valid")


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    max_gap_seconds: float,
    extra_on: Column | None = None,
) -> DataFrame:
    """Interval join: all (left, right) pairs with
    ``left_ts ≤ right_ts ≤ left_ts + max_gap_seconds`` — *without* an
    equality key (e.g. "every error within 5 minutes after any signup").

    A bare inequality join in Spark is a BroadcastNestedLoopJoin —
    O(|L|·|R|) comparisons, a non-starter at scale. This **bins** both
    sides into epochs of ``max_gap_seconds`` width and equi-joins on the
    bin: a right row in bin b can only match left rows in bins b and
    b−1, so the left side is exploded into (b, b+1) — bounded 2×
    duplication — and the exact range predicate filters the candidates.
    The nested loop becomes a hash/sort-merge equi-join on the bin key;
    per-bin volume is data-density-bounded, and AQE skew-split handles
    hot bins. ``extra_on`` adds any further predicate (e.g. same
    region) to the post-filter.

    Timestamp columns may be TIMESTAMP or TIMESTAMP_NTZ: ``unix_micros``
    only accepts the former, so both sides are cast (a no-op for
    TIMESTAMP; exact for NTZ under the engine's pinned UTC session zone).
    """
    width_us = int(max_gap_seconds * 1_000_000)  # exact integer micros
    l_us = F.unix_micros(F.col(left_ts).cast("timestamp"))
    r_us = F.unix_micros(F.col(right_ts).cast("timestamp"))
    lbin = F.floor(l_us / width_us)
    rbin = F.floor(r_us / width_us)
    l = left.withColumn("_bin", F.explode(F.array(lbin, lbin + 1)))  # noqa: E741
    r = right.withColumn("_bin", rbin)
    gap = r_us - l_us
    cond = (gap >= 0) & (gap <= F.lit(width_us))
    if extra_on is not None:
        cond = cond & extra_on
    return l.join(r, on="_bin").filter(cond).drop("_bin")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-defeating equi-join when BOTH sides are too big to broadcast
    and the key distribution is pathological (one customer = 30% of the
    fact table, the classic hot key).

    The skewed (left) side gets a random salt in [0, salt); the right
    side is replicated ``salt`` times (explode of a literal range) so
    every (key, salt) bucket still finds its match. The hot key's rows
    now spread over ``salt`` reducers instead of one. Cost: right side
    shuffled at salt× volume — only pay it when AQE's skew splitting
    (on by default in `session.py`) isn't enough, e.g. a single key too
    large for even a split partition.

    Join columns are salted copies; output drops the helpers and is
    column-identical to ``left.join(right, key, how)``.

    Only ``inner`` and ``left`` are semantics-preserving: the right side
    is replicated ``salt`` times, so for right/full/right-semi/anti
    joins every unmatched right row would surface ``salt`` times with
    null left columns. Those modes raise ``ValueError`` — and they're
    also the modes where salting is pointless (the *left* side is the
    skewed one by contract).
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' only, got {how!r}: "
            "right-side replication would duplicate unmatched right rows "
            "under right/full/semi/anti semantics"
        )
    lk, rk = f"_salt_{key}", f"_salt_r_{key}"
    l_salted = left.withColumn(lk, (F.rand(seed=42) * salt).cast("int"))
    r_replicated = right.withColumn(
        rk, F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    cond = (l_salted[key] == r_replicated[key]) & (l_salted[lk] == r_replicated[rk])
    dup_right = [c for c in right.columns if c == key]
    out = l_salted.join(r_replicated, cond, how)
    # drop the salt helpers and the right side's duplicate key column
    out = out.drop(lk, rk)
    for c in dup_right:
        out = out.drop(r_replicated[c])
    return out


def skew_report(
    df: DataFrame,
    keys: list[str] | str,
    top_n: int = 10,
    target_rows_per_task: int = 5_000_000,
) -> dict:
    """Diagnose shuffle-key skew BEFORE paying for a bad join/agg: one
    count-per-key aggregation (map-side partial combine, same shuffle
    the real operation would do once — the point is to pay it in a
    bounded diagnostic instead of discovering a 6-hour straggler), a
    top-``top_n`` heavy-hitter list, and a per-hot-key suggested salt
    factor ``ceil(freq / target_rows_per_task)`` sized so the hottest
    key spreads to tasks of roughly ``target_rows_per_task`` rows.

    Reading the result: ``skew_ratio`` = heaviest key count over the
    mean per-key count. Under ~8, AQE's skew-join splitting (on by
    default in session.py) handles it; above that, or when a single
    key exceeds ``target_rows_per_task``, reach for
    :func:`salted_join` with the suggested ``salt``.

    Driver-side cost: ``top_n`` rows + 3 scalars — never the key list.
    """
    import math

    key_cols = [keys] if isinstance(keys, str) else list(keys)
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("_n"))
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("_n").alias("n_rows"),
        F.max("_n").alias("max_n"),
    ).collect()[0]
    top = [
        {
            "key": {c: r[c] for c in key_cols},
            "rows": r["_n"],
            "suggested_salt": max(1, math.ceil(r["_n"] / target_rows_per_task)),
        }
        for r in counts.orderBy(F.desc("_n"), *key_cols).limit(top_n).collect()
    ]
    n_keys = stats["n_keys"] or 0
    mean = (stats["n_rows"] / n_keys) if n_keys else 0.0
    return {
        "n_rows": stats["n_rows"] or 0,
        "n_keys": n_keys,
        "mean_rows_per_key": round(mean, 2),
        "max_rows_per_key": stats["max_n"] or 0,
        "skew_ratio": round((stats["max_n"] / mean), 2) if mean else 0.0,
        "top": top,
    }


def _bloom_capacity(
    df: DataFrame, key: str, num_bits: int, bits_per_key: float = 10.0
) -> tuple[int, bool]:
    """(approx distinct keys, fits) — ``fits`` is False when the key
    set needs more than ``num_bits`` at ``bits_per_key`` density (the
    ~1-2%-FPR sizing rule for two seeds). One cheap HLL agg."""
    ndv = int(df.agg(F.approx_count_distinct(key).alias("_n")).first()["_n"])
    return ndv, ndv * bits_per_key <= num_bits


def build_key_bloom(
    df: DataFrame,
    key: str,
    num_bits: int = 1 << 16,
    seeds: Sequence[int] = (7, 13),
    check_capacity: bool = True,
) -> list[int]:
    """Build a bloom bitmask over ``df[key]`` as ``num_bits/64`` bigint
    words (xxhash64 per seed → bit position; per-row word masks
    explode → map-side ``bit_or`` combine → ≤ words-count rows to the
    driver). Deterministic for a given (num_bits, seeds), so a filter
    built once can be persisted and reused across jobs — an explicit,
    cross-pipeline form of the runtime join filter AQE injects within
    one query. Size the bits at ~10× the expected distinct keys for a
    ~1-2% false-positive rate with two seeds.

    ``check_capacity`` (default on) spends one approx_count_distinct
    pass to catch the silent failure mode: a filter sized far below
    the key set saturates toward all-ones and prunes NOTHING while
    still charging two hashes per probe row — it warns instead of
    failing, because a saturated bloom is still correct (false
    positives only). For dimensions in the 10⁸+ key range, a literal
    word array this size no longer belongs in a plan: size num_bits
    up only as far as ~10⁷ keys (200 MB of words at 10 bits/key is
    already past broadcast comfort) and beyond that let Spark's own
    runtime row-level filter handle it inside one query
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) or build a
    JVM-side sketch via ``DataFrame.stat.bloomFilter`` for driver-side
    membership tests."""
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    if check_capacity:
        ndv, fits = _bloom_capacity(df, key, num_bits)
        if not fits:
            import warnings

            warnings.warn(
                f"build_key_bloom: ~{ndv} distinct '{key}' values need "
                f"~{ndv * 10} bits for a useful FPR but num_bits="
                f"{num_bits}; the filter will saturate and prune "
                "(almost) nothing. Raise num_bits, or use Spark's "
                "runtime bloom filter / DataFrame.stat.bloomFilter for "
                "very large key sets.",
                RuntimeWarning,
                stacklevel=2,
            )
    n_words = num_bits // 64
    positions = F.array(
        *[
            F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(num_bits))
            for s in seeds
        ]
    )
    rows = (
        df.select(F.explode(positions).alias("_pos"))
        .select(
            (F.col("_pos") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, 64) AS INT))"
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("m"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["m"]
    return words


def bloom_prune(
    df: DataFrame,
    key: str,
    bloom: Sequence[int],
    seeds: Sequence[int] = (7, 13),
) -> DataFrame:
    """Filter ``df`` to rows whose ``key`` MIGHT be in the bloom built
    by :func:`build_key_bloom` (same num_bits/seeds contract as the
    index-table parameter contracts elsewhere). The test is a pure
    scan-side expression — literal word array + shiftright/AND — so it
    prunes BEFORE any exchange: the classic use is cutting a fact
    scan's shuffle volume to ~the dimension's key set ahead of a join
    the optimizer can't runtime-filter (cross-job, or through a
    barrier it won't traverse). False positives only — compose with
    the exact join for exact results."""
    num_bits = len(bloom) * 64
    arr = F.array(*[F.lit(int(w)).cast("bigint") for w in bloom])
    out = df
    tmp = []
    conds = []
    for i, s in enumerate(seeds):
        p, w = f"_bp{i}", f"_bw{i}"
        tmp += [p, w]
        out = out.withColumn(
            p, F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(num_bits))
        ).withColumn(w, F.element_at(arr, (F.col(p) / 64).cast("int") + 1))
        conds.append(
            F.expr(
                f"(shiftright({w}, CAST(pmod({p}, 64) AS INT)) "
                f"& CAST(1 AS BIGINT)) = 1"
            )
        )
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return out.filter(cond).drop(*tmp)


def bloom_semi_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    num_bits: int = 1 << 16,
    seeds: Sequence[int] = (7, 13),
    how: str = "leftsemi",
    check_capacity: bool = True,
) -> DataFrame:
    """Exact join with an explicit bloom pre-prune: build the filter
    over ``right[key]`` (one driver round-trip of ≤ num_bits/64
    words), prune ``left`` scan-side, then run the exact join — the
    bloom only reduces shuffle volume, never changes the result. Use
    when the small side is known ahead of the big scan and AQE's own
    runtime filter can't reach (separate stages/jobs).

    When the right key set is too large for ``num_bits`` (would
    saturate — prune nothing, charge two hashes per left row), the
    prune is SKIPPED and the plain exact join runs: same result,
    none of the dead-weight filter cost. ``check_capacity=False``
    skips the guard's approx_count_distinct pass for callers who
    already sized ``num_bits`` against a known cardinality (repeated
    joins against the same dim shouldn't re-pay the scan)."""
    if not check_capacity:
        bloom = build_key_bloom(
            right, key, num_bits, seeds, check_capacity=False
        )
        return bloom_prune(left, key, bloom, seeds).join(right, key, how)
    ndv, fits = _bloom_capacity(right, key, num_bits)
    if not fits:
        import warnings

        warnings.warn(
            f"bloom_semi_join: ~{ndv} distinct '{key}' values exceed "
            f"num_bits={num_bits} capacity — skipping the saturated "
            "prune and running the exact join directly.",
            RuntimeWarning,
            stacklevel=2,
        )
        return left.join(right, key, how)
    bloom = build_key_bloom(right, key, num_bits, seeds, check_capacity=False)
    return bloom_prune(left, key, bloom, seeds).join(right, key, how)
