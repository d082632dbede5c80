"""Window operators: dedup-latest (W1), surrogate keys (W2), SCD-2 close (W3).

Reference sites (intent, not code):
- W1  silver/crm_cust_info_silver.py:55,72-74 (row_number per key, keep 1)
- W2  gold-snowflake/dim_customers_gold.py:36-40, dim_products_gold.py:33-37
      (global row_number surrogate key)
- W3  silver/crm_prd_info_silver.py:50-51,67-69 (lead(start) - 1 day)

Scale notes: W1/W3 partition by the business key — Spark shuffles once on
that key and the window sort is per-partition; fine at 100 TB (AQE splits
skewed keys). The reference's W2 uses an UNPARTITIONED window = every row
through one task; ``surrogate_key`` keeps that form for small dims /
parity, ``surrogate_key_two_phase`` is the scale path (range partition →
local rank + partition offsets, no global sort on one task).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cols(cols: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cols]


def dedupe_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str | Column,
    tiebreakers: Sequence[str | Column] = (),
    keep_nulls: bool = False,
) -> DataFrame:
    """W1/R1: keep the newest row per key (``row_number() == 1`` over
    ``PARTITION BY keys ORDER BY order_col DESC [, tiebreakers DESC]``).

    Pass ``tiebreakers`` covering any ``order_col`` ties so the kept row
    is deterministic. Rows with a NULL key are dropped unless
    ``keep_nulls`` (the reference's NULL ``cst_id`` rows wash out).
    """
    order = [(F.col(order_col) if isinstance(order_col, str) else order_col).desc()]
    order += [c.desc() for c in _cols(tiebreakers)]
    w = Window.partitionBy(*keys).orderBy(*order)
    out = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if not keep_nulls:
        for k in keys:
            out = out.filter(F.col(k).isNotNull())
    return out


def scd2_close(
    df: DataFrame,
    keys: Sequence[str],
    start_col: str,
    end_col: str = "end_dt",
    step: str = "INTERVAL 1 DAY",
    tiebreakers: Sequence[str | Column] = (),
) -> DataFrame:
    """W3/R6: close each version the instant before the next one starts:
    ``end = LEAD(start) OVER (PARTITION BY keys ORDER BY start) - step``;
    the current (latest) version keeps ``end IS NULL``.
    """
    order = _cols([start_col, *tiebreakers])
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(F.col(start_col)).over(w)
    return df.withColumn(end_col, nxt - F.expr(step))


def surrogate_key(
    df: DataFrame, order_cols: Sequence[str | Column], key_col: str = "surrogate_key"
) -> DataFrame:
    """W2 (reference-faithful): dense 1-based key via global-window
    ``row_number``. ⚠ Unpartitioned window → single-task sort; use only
    for dim-sized data, or call :func:`surrogate_key_two_phase` at scale.
    ``order_cols`` must be a unique ordering for determinism.
    """
    w = Window.orderBy(*_cols(order_cols))
    return df.withColumn(key_col, F.row_number().over(w).cast("bigint"))


def _single_bucket_key(df: DataFrame, keys: list, key_col: str) -> DataFrame:
    """One partition by DESIGN (the input is known/estimated to be
    bucket-sized), not an accidental unpartitioned window. The partition
    key must be constant-valued yet NON-foldable: a bare lit(0) is
    constant-folded out of the partition spec by Catalyst, leaving an
    empty spec — semantically identical, but it trips WindowExec's
    "No Partition Defined" warning and hides the intent from plan
    audits. pmod(xxhash64(key), 1) is always 0 but references a real
    column, so it survives optimization."""
    one = F.pmod(F.xxhash64(_cols(keys)[0]), F.lit(1))
    w = Window.partitionBy(one).orderBy(*_cols(keys))
    return df.withColumn(key_col, F.row_number().over(w).cast("bigint"))


def _leaf_bytes(df: DataFrame) -> int | None:
    """Summed ``sizeInBytes`` of the optimized plan's leaf relations (the
    bytes the plan reads), or None when any leaf's size is unknown to
    Spark (at or above ``spark.sql.defaultSizeInBytes``). Starts no job."""
    try:
        unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        sizes = [
            # py4j returns a plain int for scala BigInt; str() also
            # covers a raw java.math.BigInteger
            int(str(leaves.apply(i).stats().sizeInBytes()))
            for i in range(leaves.size())
        ]
    except Exception:  # noqa: BLE001 — best-effort; fall through to count
        return None
    if any(b >= unknown for b in sizes):
        return None
    return sum(sizes)


def surrogate_key_two_phase(
    df: DataFrame,
    order_cols: Sequence[str],
    key_col: str = "surrogate_key",
    num_partitions: int | None = None,
    rows_per_bucket: int = 4_000_000,
    boundary_sample: int = 64,
    seed: int = 42,
    materialize: bool = True,
    small_bytes: int = 256 << 20,
) -> DataFrame:
    """W2 (scale path): identical output to :func:`surrogate_key` without
    a global single-task sort — and without materializing the input.

    Phase 0 (narrow, column-pruned): count rows and sample the order-key
    tuples with a fixed seed; pick range boundaries in the driver. The
    bucket count auto-scales — ``ceil(count / rows_per_bucket)`` capped
    at ``num_partitions`` — so dim-sized inputs get ONE bucket (a single
    sorted partition is the right plan below ~4M rows) and only genuinely
    large inputs pay the multi-bucket machinery.

    Phase 1 (the only wide pass): assign each row its range bucket with a
    deterministic struct-comparison expression against the literal
    boundaries — monotone in the sort key, so bucket order == global
    order. No ``repartitionByRange`` (whose boundary sampling re-executes
    the upstream plan): every re-evaluation agrees by construction.

    Phase 2: per-bucket counts (narrow) → cumulative offsets broadcast-
    joined on the bucket id (O(1) expression depth at any bucket count);
    global key = offset + local ``row_number``. ``order_cols`` must be
    non-NULL and unique per row.

    Dim-sized fast path: the bytes the plan reads — the summed
    ``sizeInBytes`` of the optimized plan's leaf relations (file bytes
    for a table scan, exact for a local relation) — are free (no job).
    When they are at most ``small_bytes`` the input fits one sorted
    bucket and the single-window plan is emitted with ZERO extra
    actions — identical job structure to the faithful form, so gold dims
    over silver tables pay nothing for being scale-safe. Catalyst's
    whole-plan estimate is not used: it multiplies join sides (a 5k-row
    left-join chain estimates at ~10^14 bytes), so a dim would never
    take the fast path. A leaf whose size Spark does not know (an RDD-
    or checkpoint-backed relation reports ``spark.sql.defaultSizeInBytes``)
    keeps the count-and-bucket path. The bytes only pick the PLAN; keys
    are the same on either path (one slow partition in the worst case,
    never a wrong answer).

    ``materialize`` (default True): the remaining phases are separate
    Spark actions, so a non-trivial upstream plan (a silver join chain
    feeding a gold dim) would otherwise re-execute once per phase — an
    eager ``localCheckpoint`` runs it exactly once and every phase reads
    the materialized blocks. Trade-off: checkpoint blocks are not
    recomputable, so an executor loss (spot nodes, dynamic-allocation
    downscale) fails the job instead of recomputing — pass
    ``materialize=False`` for bare-scan inputs (nothing worth saving;
    keeps full lineage) or on preemptible hardware (re-execution per
    phase is the price of fault tolerance).
    """
    spark = df.sparkSession
    keys = list(order_cols)

    if small_bytes > 0:  # small_bytes <= 0 opts out: always count+bucket
        read_bytes = _leaf_bytes(df)
        if read_bytes is not None and read_bytes <= small_bytes:
            return _single_bucket_key(df, keys, key_col)

    if materialize:
        # lazy: the phase-0 count below is a full scan, so it
        # materializes every checkpoint partition as a side effect —
        # one job stands up the blocks AND the count
        df = df.localCheckpoint(eager=False)
    cnt = df.select(keys[0]).count()  # narrow: column-pruned scan
    max_buckets = num_partitions or spark.sparkContext.defaultParallelism
    n_buckets = max(1, min(max_buckets, -(-cnt // rows_per_bucket)))

    if n_buckets == 1:
        return _single_bucket_key(df, keys, key_col)

    # Phase 0: seeded sample of the key columns only → driver-side
    # boundaries (n_buckets - 1 equal-spaced quantiles of the sample).
    frac = min(1.0, (n_buckets * boundary_sample) / cnt)
    sample = sorted(map(tuple, df.select(*keys).sample(False, frac, seed).collect()))
    boundaries = []
    if sample:
        step = len(sample) / n_buckets
        boundaries = [sample[int(i * step)] for i in range(1, n_buckets)]
    key_struct = F.struct(*_cols(keys))
    # boundary literals must carry the key columns' exact types: a
    # Python int samples back as an INT literal, and Spark refuses
    # STRUCT<BIGINT> >= STRUCT<INT> (no struct-wide coercion)
    key_types = [df.schema[k].dataType for k in keys]
    bucket = F.lit(0)
    for b in boundaries:
        lit_struct = F.struct(
            *[F.lit(v).cast(t) for v, t in zip(b, key_types)]
        )
        bucket = bucket + (key_struct >= lit_struct).cast("int")
    tagged = df.withColumn("_bkt", bucket)

    # Phase 2: narrow per-bucket counts → broadcast offsets.
    counts = {r["_bkt"]: r["cnt"] for r in tagged.groupBy("_bkt").agg(F.count("*").alias("cnt")).collect()}
    offsets, running = [], 0
    for b in sorted(counts):
        offsets.append((b, running))
        running += counts[b]
    offsets_df = spark.createDataFrame(offsets, schema="_bkt int, _offset bigint")
    local_w = Window.partitionBy("_bkt").orderBy(*_cols(keys))
    return (
        tagged.join(F.broadcast(offsets_df), "_bkt")
        .withColumn("_local_rn", F.row_number().over(local_w))
        .withColumn(key_col, (F.col("_offset") + F.col("_local_rn")).cast("bigint"))
        .drop("_bkt", "_local_rn", "_offset")
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str | None = None,
    prefer: str = "updates",
) -> DataFrame:
    """Merge/upsert (W4 extension): updates win over target rows with the
    same key; unmatched target rows survive; new keys are inserted. The
    incremental-load primitive the reference's full-overwrite gold jobs
    would need for CDC-style RDS→warehouse sync.

    ``prefer="updates"`` (default) makes the updates side authoritative:
    an update row replaces the target row for its key regardless of
    ``order_col`` (which then only resolves duplicates WITHIN updates).
    ``prefer="order"`` resolves by ``order_col`` FIRST across both sides
    (updates preferred only on exact ties) — required when update
    batches are not event-time ordered (e.g. a streaming change feed
    whose micro-batches arrive in file-discovery order), where an
    older-timestamp row landing later must NOT clobber a newer one.

    Implemented as union + dedup-latest instead of a join: ONE shuffle on
    the key, identical skew profile to a groupBy, and — unlike
    left-anti + union — a single pass that also dedups within
    ``updates`` (last writer wins by ``order_col``, updates preferred on
    ties). Schemas must match (``unionByName``).
    """
    if prefer not in ("updates", "order"):
        raise ValueError(f"prefer must be 'updates' or 'order', got {prefer!r}")
    if prefer == "order" and order_col is None:
        raise ValueError("prefer='order' requires order_col")
    keyed = [F.col(k) for k in keys]
    tagged = target.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    order_cols = [F.col(order_col).desc()] if order_col else []
    if prefer == "updates":
        order = [F.col("_src").desc()] + order_cols
    else:
        order = order_cols + [F.col("_src").desc()]
    w = Window.partitionBy(*keyed).orderBy(*order)
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )


def funnel_counts(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered conversion-funnel analysis: how many users reach each
    step of ``steps``, where "reaching" step i means an event of type
    ``steps[i]`` STRICTLY AFTER the user's earliest qualifying event of
    step i−1 (the standard product-analytics funnel — each stage must
    happen in order, not merely co-occur).

    Returns one row per step: ``(step_index, step, n_users,
    conversion_rate)`` with ``conversion_rate`` = n_users ÷ previous
    step's n_users (1.0 for the first step; rounded to 6 dp),
    step_index 1-based.

    Plan shape: per step, filter the scan to that event type (scan-
    fused, pruned) → join to the previous step's per-user frontier →
    min-ts aggregation keyed by user. len(steps) user-keyed shuffles of
    strictly shrinking frontiers — never a global sort, never a per-user
    event-list collect; user-key skew is bounded by one user's events of
    ONE type, and AQE handles the rest. The final per-step counts are
    len(steps) scalar aggregates unioned into a metadata-sized result.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    frontier = None
    counts = []
    for i, step in enumerate(steps):
        ev = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
        )
        if frontier is None:
            frontier = ev.groupBy("_u").agg(F.min("_ts").alias("_t"))
        else:
            frontier = (
                ev.join(frontier, "_u")
                .filter(F.col("_ts") > F.col("_t"))
                .groupBy("_u")
                .agg(F.min("_ts").alias("_t"))
            )
        counts.append(
            frontier.agg(
                F.lit(i + 1).alias("step_index"),
                F.lit(step).alias("step"),
                F.count("*").alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    w = Window.orderBy("step_index")
    return out.withColumn(
        "conversion_rate",
        F.round(
            F.col("n_users")
            / F.coalesce(F.lag("n_users").over(w), F.col("n_users")),
            6,
        ),
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    interval_seconds: int = 3600,
    value_col: str | None = None,
    max_buckets_per_key: int | None = None,
) -> DataFrame:
    """Fixed-interval time-grid resampling with gap fill — the
    hypertable-rollup shape: per key, one row for EVERY
    ``interval_seconds`` bucket between that key's first and last
    event (gaps included), carrying ``n_events`` (0 in gaps) and, when
    ``value_col`` is given, the bucket sum (``bucket_value``, NULL in
    gaps) plus ``filled_value`` — the last non-gap bucket sum carried
    FORWARD (the standard last-observation-carried-forward series a
    downstream model consumes without gap handling of its own).

    Scale: bucket assignment is scan-fused arithmetic; the per-bucket
    aggregation is one key+bucket shuffle with map-side combine; the
    grid is a per-key ``sequence`` explode bounded by each key's OWN
    time span ÷ interval (never a global calendar cross join); the
    fill is a key-partitioned window — per-key rows, no global sort.
    A key spanning years at 1-second resolution still explodes THAT
    key's span (a decade at 1 s is ~3×10⁸ rows for one key — a
    straggler task and a skewed window partition). Set
    ``max_buckets_per_key`` to fail fast instead: if ANY key's span ÷
    interval exceeds it, raise with the offending width so the caller
    coarsens ``interval_seconds`` or splits the key — an executor-side
    check (one assertion column on the spans frame), no extra driver
    round-trip or shuffle.
    """
    bucket = F.floor(F.unix_timestamp(F.col(ts_col)) / interval_seconds)
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("bucket_value"))
    per_bucket = (
        df.withColumn("_b", bucket.cast("bigint"))
        .groupBy(F.col(key_col), F.col("_b"))
        .agg(*aggs)
    )
    spans = per_bucket.groupBy(key_col).agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    hi = F.col("_hi")
    if max_buckets_per_key is not None:
        # guard feeds the sequence() input so column pruning can never
        # elide it; fires on the executor the moment an over-wide key
        # is seen, before any explosion materializes
        width = F.col("_hi") - F.col("_lo") + 1
        hi = F.when(width <= max_buckets_per_key, F.col("_hi")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("resample_ffill: key "),
                    F.col(key_col).cast("string"),
                    F.lit(" spans "),
                    width.cast("string"),
                    F.lit(
                        f" buckets > max_buckets_per_key="
                        f"{max_buckets_per_key}; coarsen interval_seconds "
                        f"or split the key"
                    ),
                )
            )
        )
    grid = spans.select(
        key_col, F.explode(F.sequence("_lo", hi)).alias("_b")
    )
    out = grid.join(per_bucket, [key_col, "_b"], "left").withColumn(
        "n_events", F.coalesce("n_events", F.lit(0))
    )
    if value_col is not None:
        w = (
            Window.partitionBy(key_col)
            .orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn(
            "filled_value", F.last("bucket_value", ignorenulls=True).over(w)
        )
    return out.withColumnRenamed("_b", "bucket")


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tiebreak_cols: Sequence[str] = (),
    chunk_seconds: int | None = None,
) -> DataFrame:
    """Per-event session ASSIGNMENT (the telemetry twin of the
    aggregate-only session window): an event starts a new session when
    its gap to the key's previous event exceeds ``gap_seconds``.
    Appends ``session_index`` (1-based per key) and ``session_id``
    (``"<key>#<index>"`` — stable across reruns).

    Gap arithmetic runs on integer MICROseconds (``unix_micros``), not
    seconds, so sub-second event streams sessionize exactly and any
    SQL engine replays it bit-identically (``epoch_us`` in DuckDB).
    ``tiebreak_cols`` pins a total order under equal timestamps —
    without it, ties make session boundaries nondeterministic.

    Plan shape (default): ONE shuffle on the key; both the lag and the
    running sum ride the same key-partitioned sort — Spark executes
    them in a single Window stage, never a global sort. Key skew = one
    key's events land in one task; for a bot/service key carrying a
    year of history that task is the straggler. Opt-in
    ``chunk_seconds`` (must be >= ``gap_seconds``) bounds it: events
    pre-sessionize per ``(key, floor(time / chunk))`` — one task per
    key-chunk, not per key — and the chunk-grain session runs are
    fused on a chunk-count-sized intermediate (a session can only span
    ADJACENT chunks when the chunk is at least the gap, so one lag
    over chunk metadata decides every cross-boundary merge). Identical
    output, exchange key widened to ``(key, _chunk)``.
    """
    if chunk_seconds is not None:
        return _sessionize_chunked(
            df, key_col, ts_col, gap_seconds, tiebreak_cols, chunk_seconds
        )
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.lag(us).over(w)
    is_new = (
        prev.isNull() | ((us - prev) > gap_seconds * 1_000_000)
    ).cast("int")
    out = df.withColumn("session_index", F.sum(is_new).over(run))
    return out.withColumn(
        "session_id",
        F.concat_ws("#", F.col(key_col).cast("string"), F.col("session_index")),
    )


def _sessionize_chunked(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak_cols: Sequence[str],
    chunk_seconds: int,
) -> DataFrame:
    """Skew-bounded sessionize: local session runs per ``(key, chunk)``
    + a chunk-grain fuse. With ``chunk >= gap``, consecutive events in
    one session are at most ``gap`` apart, so a session never skips a
    chunk: the ONLY cross-boundary decision is whether a chunk's first
    event continues the previous ADJACENT chunk's last run (gap between
    non-adjacent chunks is > chunk >= gap by construction). Global
    index of local run ``i`` in chunk ``c`` is then
    ``base(c) + i - merged(c)`` where ``base`` is the running count of
    unfused runs in earlier chunks — all computed on the
    (key x chunk)-sized aggregate, never the event grain.
    """
    if chunk_seconds < gap_seconds:
        raise ValueError(
            f"chunk_seconds ({chunk_seconds}) must be >= gap_seconds "
            f"({gap_seconds}): a session may span non-adjacent chunks "
            "otherwise and the adjacent-only fuse is unsound"
        )
    gap_us = gap_seconds * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    d = df.withColumn("_us", us).withColumn(
        "_chunk",
        F.floor(F.col("_us") / (chunk_seconds * 1_000_000)).cast("bigint"),
    )
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    wc = Window.partitionBy(key_col, "_chunk").orderBy(*order)
    run = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("_us").over(wc)
    is_new = (prev.isNull() | ((F.col("_us") - prev) > gap_us)).cast("int")
    d = d.withColumn("_local_idx", F.sum(is_new).over(run))
    # chunk-grain metadata: (key x chunk)-sized, rides the same
    # (key, chunk) exchange as the local window
    meta = d.groupBy(key_col, "_chunk").agg(
        F.max("_local_idx").alias("_n_local"),
        F.min("_us").alias("_first_us"),
        F.max("_us").alias("_last_us"),
    )
    wk = Window.partitionBy(key_col).orderBy("_chunk")
    merged = (
        (F.lag("_chunk").over(wk) == F.col("_chunk") - 1)
        & ((F.col("_first_us") - F.lag("_last_us").over(wk)) <= gap_us)
    ).cast("int")
    meta = meta.withColumn("_merged", F.coalesce(merged, F.lit(0)))
    base = F.sum(F.col("_n_local") - F.col("_merged")).over(
        wk.rowsBetween(Window.unboundedPreceding, -1)
    )
    meta = meta.select(
        key_col,
        "_chunk",
        F.coalesce(base, F.lit(0)).alias("_base"),
        "_merged",
    )
    out = d.join(meta, [key_col, "_chunk"]).withColumn(
        "session_index", F.col("_base") + F.col("_local_idx") - F.col("_merged")
    )
    out = out.withColumn(
        "session_id",
        F.concat_ws("#", F.col(key_col).cast("string"), F.col("session_index")),
    )
    # pin the default path's column order (the equi-join fronts its
    # keys) so toggling chunk_seconds never breaks positional consumers
    return out.select(*df.columns, "session_index", "session_id")


def session_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tiebreak_cols: Sequence[str] = (),
    chunk_seconds: int | None = None,
) -> DataFrame:
    """Session-level rollup over :func:`sessionize`: one row per
    ``(key, session_index)`` with ``n_events``, ``session_start``,
    ``session_end`` and ``duration_seconds`` (microsecond-exact,
    rounded to 6 dp). The rollup reuses the sessionize shuffle's
    partitioning (same key in the groupBy), so AQE plans it without a
    second full exchange. ``chunk_seconds`` passes through to
    :func:`sessionize` for the skew-bounded variant."""
    s = sessionize(df, key_col, ts_col, gap_seconds, tiebreak_cols,
                   chunk_seconds=chunk_seconds)
    return s.groupBy(key_col, "session_index").agg(
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.round(
            (
                F.unix_micros(F.max(ts_col).cast("timestamp"))
                - F.unix_micros(F.min(ts_col).cast("timestamp"))
            )
            / 1_000_000.0,
            6,
        ).alias("duration_seconds"),
    )


def retention_cohorts(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    period_seconds: int = 7 * 86400,
) -> DataFrame:
    """Cohort retention: users grouped by the fixed-width period of
    their FIRST event (the cohort); for every later period in which a
    cohort member returns, count them. Returns ``(cohort_period,
    period_offset, n_users, retention_rate)`` — offset 0 is the cohort
    size itself, ``retention_rate`` = n_users ÷ cohort size rounded to
    6 dp. Period ids are integer ``floor(epoch_seconds ÷ width)`` so
    any engine replays them exactly.

    Plan shape: distinct (user, period) pairs → per-user min-period
    (one user-keyed shuffle, map-side combined) → joined back on the
    user key (the frontier is user-count-sized, so it stays an
    unhinted sort-merge/shuffle join — AQE downgrades it to broadcast
    only when runtime stats say the frontier actually fits) → one
    (cohort, offset) count shuffle. No event-grain window, no global
    sort; the wide (user, period) dedup is the same cardinality bound
    a weekly active-users query already pays."""
    period = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / (period_seconds * 1_000_000)
    ).cast("bigint")
    up = df.select(
        F.col(key_col).alias("_u"), period.alias("_p")
    ).distinct()
    return retention_from_pairs(up, "_u", "_p")


def retention_from_pairs(
    pairs: DataFrame, user_col: str, period_col: str
) -> DataFrame:
    """Cohort rollup over ALREADY-DISTINCT (user, period) pairs — the
    shared tail of :func:`retention_cohorts`, exposed so an
    incrementally-maintained distinct-pair state table (the streaming
    twin) feeds the identical arithmetic without replaying events."""
    up = pairs.select(
        F.col(user_col).alias("_u"), F.col(period_col).alias("_p")
    )
    first = up.groupBy("_u").agg(F.min("_p").alias("_cohort"))
    counts = (
        up.join(first, "_u")
        .groupBy(
            F.col("_cohort").alias("cohort_period"),
            (F.col("_p") - F.col("_cohort")).alias("period_offset"),
        )
        # (user, period) pairs are already distinct and each maps to
        # exactly one (cohort, offset), so count(*) IS the distinct
        # user count — a countDistinct here would buy nothing but an
        # extra expand+shuffle
        .agg(F.count("*").alias("n_users"))
    )
    w = Window.partitionBy("cohort_period")
    base = F.max(
        F.when(F.col("period_offset") == 0, F.col("n_users"))
    ).over(w)
    return counts.withColumn(
        "retention_rate", F.round(F.col("n_users") / base, 6)
    )


def rolling_quantile(
    df: DataFrame,
    key_col: str,
    value_col: str,
    q: float = 0.5,
    n_rows: int = 5,
    order_cols: Sequence[str] = ("ts",),
    out_col: str = "rolling_q",
) -> DataFrame:
    """EXACT rolling quantile (default: median of the trailing
    ``n_rows`` rows per key) via Spark's exact ``percentile`` aggregate
    evaluated over a row-bounded window — no approx sketch, no Python.
    The frame holds ≤ ``n_rows`` values, so the per-row cost is
    O(n_rows log n_rows) inside the JVM; the plan is one key-partitioned
    sort shared with any other window over the same key. Rounded to
    6 dp for engine-exact replay (DuckDB: ``quantile_cont`` over the
    same frame)."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-(n_rows - 1), Window.currentRow)
    )
    return df.withColumn(
        out_col,
        F.round(F.expr(f"percentile({value_col}, {q})").over(w), 6),
    )


def interarrival_stats(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-key inter-arrival-gap profile: consecutive-event gaps
    (microsecond-exact seconds) aggregated to ``(n_gaps, avg_gap,
    p50_gap, max_gap)``, each rounded to 6 dp. The operational
    heartbeat question — "how often does each event type fire, and how
    ragged is it?" — as one window + one agg on the same key, a single
    shuffle end-to-end. Exact ``percentile`` keeps the median
    engine-replayable (no approx sketch)."""
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = (us - F.lag(us).over(w)) / 1_000_000.0
    return (
        df.withColumn("_gap", gap)
        .filter(F.col("_gap").isNotNull())
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(F.avg("_gap"), 6).alias("avg_gap"),
            F.round(F.expr("percentile(_gap, 0.5)"), 6).alias("p50_gap"),
            F.round(F.max("_gap"), 6).alias("max_gap"),
        )
    )


def event_transitions(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Markov transition counts over per-key event streams: for every
    consecutive (event, next event) pair within a key, count
    occurrences and the share of each source event's outgoing
    transitions — the path-analysis rollup behind "what do users do
    after X". One key shuffle carries the lead window; the count agg
    and the per-source share window are transition-domain-sized
    (|event types|², metadata-scale). Rounded to 6 dp."""
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    nxt = F.lead(type_col).over(w)
    pairs = (
        df.withColumn("_next", nxt)
        .filter(F.col("_next").isNotNull())
        .groupBy(F.col(type_col).alias("from_type"), F.col("_next").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    share_w = Window.partitionBy("from_type")
    return pairs.withColumn(
        "share", F.round(F.col("n") / F.sum("n").over(share_w), 6)
    )
