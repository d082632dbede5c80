"""Corpus-curation operators for training-data pipelines: sequence
packing, stratified sampling, per-group selection, mixture reweighting.

These extend the engine past the reference's ETL surface (the reference
has no corpus tooling) with the operations a large-scale LLM data
pipeline runs between dedup and tokenization. Every operator is a pure
Catalyst composition — no Python in the hot path, no global windows, no
driver-side data. Determinism is cross-engine by construction (md5
bucketing, not ``rand()``/``xxhash64``), so each has an exact DuckDB
oracle in ``__spark_entry__.py``.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _det_bucket(key: Column | str, modulus: int) -> Column:
    """Uniform deterministic bucket in [0, modulus) from the first 8 hex
    chars of md5(key) — the cross-engine primitive under the samplers.
    Residue bias for modulus 10_000 over a 16^8 domain is < 2e-6 of a
    bucket: irrelevant for sampling. md5 (not xxhash64) so any SQL
    engine computes the identical value."""
    c = key if isinstance(key, Column) else F.col(key)
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % modulus


def _rate_threshold(rate: float, modulus: int = 10_000) -> int:
    """Integer bucket threshold for a sampling rate, computed
    DRIVER-SIDE in decimal: ``floor(Decimal(str(rate)) * modulus)``.
    Multiplying the rate as a double inside the plan truncates wrong
    for fractions whose product rounds just below the integer
    (0.7 → 6999.999… → 6999), diverging from a SQL oracle's exact
    decimal ``floor(0.7 * 10000) = 7000`` — the literal int keeps both
    engines byte-identical for every representable rate."""
    return int(Decimal(str(float(rate))) * modulus)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str,
    n_shards: int = 64,
    shard_col: str | None = None,
    seq_col: str = "seq_id",
) -> DataFrame:
    """Assign every document to a fixed-token-budget training sequence:
    within each shard, documents are laid out in ``order_col`` order and
    a document belongs to the sequence where its token stream STARTS
    (``floor(tokens_before_it / budget)``) — contiguous offset binning,
    the deterministic, one-pass form of sequence packing. A straddling
    document finishes in later bins (a document longer than ``budget``
    spans several — its bin ids are simply skipped for starts); packs
    that must never overflow instead truncate/split the straddler at
    tokenization time, which needs no different plan. A NULL
    ``token_col`` yields a NULL assignment (the window sum skips it, so
    neighbors are unaffected) — coalesce upstream if every row must be
    placed.

    Scale: documents are sharded by a deterministic md5 bucket of
    ``order_col`` (or a caller-provided ``shard_col`` — e.g. a date or
    source partition), so the running sum is a window PARTITIONED by
    shard: |shard| rows per task, never a global single-task window.
    One hash shuffle total. ``seq_id`` is globally unique:
    ``shard << 32 | seq_within_shard``.

    Contract: ``order_col`` must be unique per row within a shard (the
    running sum's default RANGE frame gives tied rows identical
    offsets) and non-NULL; caller-provided ``shard_col`` values must be
    non-negative and < 2³¹ (the seq-id namespacing shifts them into the
    high bits).
    """
    shard = (
        F.col(shard_col)
        if shard_col is not None
        else _det_bucket(order_col, n_shards)
    )
    w = Window.partitionBy("_shard").orderBy(order_col)
    pre = (F.sum(token_col).over(w) - F.col(token_col)).cast("bigint")
    return (
        df.withColumn("_shard", shard.cast("bigint"))
        .withColumn(
            seq_col,
            F.shiftleft(F.col("_shard"), 32) + F.floor(pre / budget),
        )
        .withColumn("_seq_offset", pre % budget)
        .drop("_shard")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep a per-stratum fraction of rows (language/source/quality-band
    rebalancing), deterministically: a row survives iff its md5 bucket
    of ``(key, seed)`` falls under its stratum's threshold. Hash-based
    (not ``sample()``/``rand()``) so the selection is stable across
    runs, engines and repartitioning, and so the same key always gets
    the same verdict — a near-dup cluster sampled by cluster id can
    never leak across the cut.

    Scale: the fraction lookup is a literal ``create_map`` for the
    dict-sized strata this signature takes (broadcast-join a rates table
    instead if strata number in the millions); the filter fuses into the
    scan — zero shuffles, zero extra passes.

    NULL handling: a NULL ``key_col`` hashes to NULL and is DROPPED
    (the threshold comparison is never true), and a NULL stratum falls
    to ``default_fraction`` — make keys non-NULL upstream if every row
    must be eligible.
    """
    # thresholds are integer LITERALS computed driver-side in decimal
    # (see _rate_threshold) — a double multiply in the plan truncates
    # 0.7 to 6999/10000 and breaks cross-engine determinism
    pairs: list[Column] = []
    for k, v in fractions.items():
        pairs += [F.lit(k), F.lit(_rate_threshold(v))]
    threshold = F.coalesce(
        F.create_map(*pairs)[F.col(strata_col)],
        F.lit(_rate_threshold(default_fraction)),
    )
    bucket = _det_bucket(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}")), 10_000)
    return df.filter(bucket < threshold)


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep the top ``k`` rows per group (best-quality documents per
    language, newest snapshot per domain, …). ``order_by`` must be a
    total order (add a unique id tiebreak) for a deterministic answer.

    Scale: one hash shuffle on the group key; Spark's WindowGroupLimit
    pushes the per-group limit below the exchange (map-side top-k), so
    only ≤ k rows per group per mapper ever shuffle — the same shape as
    a rank-filter in any warehouse, safe at any group cardinality.
    Skewed groups still cap at k rows out per mapper, which also bounds
    hot-group reducer input.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    ranked = df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    if rank_col is None:
        return ranked.drop("_rn")
    return ranked.withColumnRenamed("_rn", rank_col)


def global_shuffle(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: int = 42,
    shard_col: str = "shard",
    pos_col: str = "shard_pos",
) -> DataFrame:
    """Deterministic pseudo-random permutation of the corpus into
    ``n_shards`` shards with a stable within-shard order — the
    shuffle-then-shard step a training-data export runs last, so
    sequential readers of shard files see documents in random order
    without any train-time shuffling.

    Each row gets ``shard_col`` = md5-bucket of ``key_col#seed`` (every
    shard is a uniform random sample of the corpus) and ``pos_col`` =
    its 0-based rank within the shard, ordered by the same hash (ties —
    md5 collisions — broken by the key itself, so the permutation is
    total). Re-runs on the same corpus + seed reproduce the identical
    layout; changing ``seed`` draws a fresh permutation. md5 rather
    than ``F.rand`` keeps it replayable cross-engine (oracle) and
    cross-run (a re-export after a crash lands every row in the same
    place). ``key_col`` must uniquely identify rows — duplicate keys
    draw the same hash, making their relative order (and thus the
    layout) nondeterministic between runs.

    Scale: one hash exchange on the shard id + a per-shard sort — an
    embarrassingly parallel ``repartition + sortWithinPartitions``
    shape, NO global sort and no single-task window. Shards are
    hash-balanced, so the per-shard sorts are uniform; size
    ``n_shards`` so a shard (corpus / n_shards) fits an executor's
    sort buffer or spills modestly.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}")))
    w = Window.partitionBy(shard_col).orderBy(
        F.col("_gs_h").asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_gs_h", h)
        # shard = the same 8-hex-prefix bucket primitive as _det_bucket
        # (cross-engine: '0x'||substr(md5,1,8) in any SQL dialect);
        # within-shard order = the full hex digest (lexicographic on
        # ASCII hex — identical collation everywhere)
        .withColumn(
            shard_col,
            (
                F.conv(F.substring("_gs_h", 1, 8), 16, 10).cast("bigint")
                % n_shards
            ).cast("int"),
        )
        .withColumn(pos_col, F.row_number().over(w) - F.lit(1))
        .drop("_gs_h")
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
    materialize: bool = False,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis, "Weighted random sampling with a reservoir", 2006): each
    row draws a uniform u from the md5 hash of its key and competes with
    priority ``u^(1/weight)``; the global top-k by priority is an exact
    weighted-without-replacement sample. The curation use: pick k
    documents with probability proportional to a quality score, without
    the rich-get-richer bias of independent per-row coin flips.

    Determinism: u derives from ``md5(key#seed)`` (same primitive as
    :func:`stratified_sample`), so re-runs and SQL oracles reproduce the
    identical sample; a different ``seed`` draws a fresh one. Rows with
    NULL or non-positive weight are excluded (they'd never win).
    ``key_col`` must uniquely identify rows — duplicate keys share a
    priority, making the boundary of the sample nondeterministic.

    Scale: priorities are a narrow projection; the selection is a
    global top-k (``orderBy(...).limit(k)`` — Spark's TakeOrdered:
    per-partition heaps of k, then a k-sized driver merge), never a
    full sort. k rows must fit the driver — this is a SAMPLE operator,
    use :func:`stratified_sample` for rate-based downsampling.

    Composition caveat: TakeOrdered applies when the limit TERMINATES
    the plan. Consumed mid-plan (more operators after the sample),
    Spark falls back to sort + single-partition GlobalLimit over the
    input — fine when upstream gates have already shrunk the set (the
    narrow (key, weight, priority) rows of a filtered candidate pool),
    wrong over a raw 100 TB corpus. Pass ``materialize=True`` to cut
    the plan there: the k-row sample is computed with the limit
    TERMINAL (per-partition heaps, k-sized merge), pinned with
    ``localCheckpoint``, and re-spread across ``defaultParallelism``
    partitions so every downstream stage runs distributed instead of
    inheriting the limit's single partition.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    w = F.col(weight_col).cast("double")
    pri = F.pow(u, F.lit(1.0) / w)
    out = (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("_pri", pri)
        .orderBy(F.col("_pri").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("_pri")
    )
    if materialize:
        out = out.localCheckpoint().repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )
    return out


def export_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    seed: int = 42,
    mode: str = "overwrite",
    format: str = "parquet",
    compression: str | None = None,
) -> None:
    """Materialize :func:`global_shuffle` as the on-disk training
    layout: ``shard``-partitioned files, rows inside every shard
    file in ``shard_pos`` order — so a sequential reader of
    ``shard=K/`` streams documents in the deterministic pseudo-random
    order with zero train-time shuffling.

    ``format="parquet"`` (default) or ``"json"`` — the latter writes
    JSON Lines, the interchange format most LLM training/tokenizer
    stacks consume directly; same layout and ordering guarantees
    (row order within a JSONL part file is the write order).
    ``compression`` e.g. ``"gzip"`` for JSONL, ``"snappy"``/``"zstd"``
    for parquet; None = the format's Spark default.

    One ``repartition(shard)`` exchange + an in-partition sort by
    (shard, pos) — the sort is local to each shard's partition, no
    global ordering pass. ``n_shards`` files of corpus/n_shards rows
    each: size it to your trainer's file-parallelism and executor sort
    memory.
    """
    if format not in ("parquet", "json"):
        raise ValueError(f"unknown export format: {format!r} (parquet|json)")
    out = global_shuffle(df, key_col, n_shards, seed)
    writer = (
        out.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "shard_pos")
        .write.mode(mode)
        .partitionBy("shard")
    )
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.format(format).save(path)


def mixture_weights(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
) -> DataFrame:
    """Per-group sampling weights that reshape the corpus toward a
    target mixture (domain/language reweighting à la published LLM data
    recipes): ``weight = target_share / observed_share``. Downstream,
    repeat-or-drop each document ``weight`` times in expectation (e.g.
    ``floor(weight) + (bucket < frac(weight))`` with
    :func:`stratified_sample`'s bucket) to hit the target mix.

    Returns one row per group: ``(group, n_rows, observed_share,
    target_share, weight)``. Groups absent from ``target_shares`` get
    weight 0 (dropped from the mixture).

    Scale: one partial-agg shuffle for the group counts (group-cardinality
    rows), then the grand total joins back as a 1-row broadcast — no
    global window, no second pass over the data.
    """
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("_total"))
    pairs: list[Column] = []
    for k, v in target_shares.items():
        pairs += [F.lit(k), F.lit(float(v))]
    target = F.coalesce(F.create_map(*pairs)[F.col(group_col)], F.lit(0.0))
    return (
        counts.join(F.broadcast(total))
        .withColumn("observed_share", F.col("n_rows") / F.col("_total"))
        .withColumn("target_share", target)
        .withColumn(
            "weight", F.col("target_share") / F.col("observed_share")
        )
        .drop("_total")
    )


def apply_mixture(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    key_col: str,
    seed: int = 42,
    copy_col: str = "copy_idx",
    max_weight: float = 100.0,
) -> DataFrame:
    """Materialize :func:`mixture_weights`: emit each row
    ``floor(weight)`` times plus one more with probability
    ``frac(weight)`` — deterministic repeat-or-drop via the same md5
    bucketing as :func:`stratified_sample`, so the expected group
    volumes hit the target mixture and re-runs emit the identical
    rows. Output gains ``copy_col`` (1-based repeat index) so
    downstream shuffles/dedup can tell copies apart.

    Scale: the (group → weight) table is group-cardinality rows,
    broadcast onto the corpus; the explode is ``weight``-bounded per
    row (upsampling factors in data recipes are single digits) and
    fuses into the scan stage — one aggregation pass for the weights,
    one map-side pass for the materialization, no extra shuffle.

    ``max_weight`` (default 100) clamps per-group upsampling: a tiny
    group given a large target share yields weight = target/observed
    that can reach thousands — one misconfigured share would then
    explode the output by that factor. The clamp bounds blast radius
    at the price of undershooting the target for that group; raise it
    deliberately when extreme upsampling is intended.
    """
    weights = mixture_weights(df, group_col, target_shares).select(
        group_col, F.least(F.col("weight"), F.lit(float(max_weight))).alias("weight")
    )
    bucket = _det_bucket(
        F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}")), 10_000
    )
    base = F.floor("weight").cast("bigint")
    frac = F.col("weight") - base
    n = base + (bucket < (frac * 10_000).cast("bigint")).cast("bigint")
    # sequence(1, 0) in Spark is the DESCENDING [1, 0] — guard n < 1
    copies = F.when(n >= 1, F.sequence(F.lit(1).cast("bigint"), n)).otherwise(
        F.array()
    )
    return (
        df.join(F.broadcast(weights), group_col)
        .withColumn(copy_col, F.explode(copies))
        .drop("weight")
    )


def percentile_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    out_col: str = "bucket",
) -> DataFrame:
    """Scalable NTILE: assign each row its n-quantile bucket (1-based)
    using exact percentile THRESHOLDS — one corpus aggregation whose
    (n_buckets − 1)-element result broadcasts into a scan-fused
    comparison — instead of ``ntile() OVER (ORDER BY …)``, whose
    unpartitioned window pins the ENTIRE table through one task.
    ``bucket = 1 + #{thresholds ≤ value}``.

    Thresholds are Spark's exact ``percentile``: for ``p = i/n_buckets``
    over the n sorted values, ``pos = p·(n − 1)``, ``lower = ⌊pos⌋``,
    ``higher = ⌈pos⌉``, and the threshold is ``(higher − pos)·lo +
    (pos − lower)·hi`` (just ``lo`` when ``lo == hi``), interpolated from
    the lower neighbour. numpy's ``linear`` method computes the same
    quantile as ``hi − (hi − lo)·(1 − t)`` for ``t ≥ 0.5``; the two can
    round apart in the last place (e.g. between 0.0 and 5e-324 this
    rule gives 0.0, numpy 5e-324).

    Semantic difference vs NTILE, deliberate: bucket membership is
    VALUE-based, so boundary-equal rows always share a bucket
    (deterministic, engine-independent) while NTILE splits ties by
    arbitrary row order to force equal populations. Calibration /
    scoring pipelines want the value-based rule. NULL values compare
    false against every threshold and land in bucket 1 — filter them
    first if that's not intended.

    Scale: one partial-agg percentile pass + a broadcast; no shuffle of
    the data itself, no global sort, no skew surface.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    ps = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    thr = df.agg(
        F.expr(f"percentile({value_col}, array({ps}))").alias("_thr")
    )
    return (
        df.crossJoin(F.broadcast(thr))
        .withColumn(
            out_col,
            (
                F.lit(1)
                + F.size(
                    F.filter(
                        F.col("_thr"), lambda t: F.col(value_col) >= t
                    )
                )
            ).cast("int"),
        )
        .drop("_thr")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Exact weighted-without-replacement sampling of ``k`` rows PER
    GROUP (Efraimidis-Spirakis priorities, same md5-uniform primitive
    as :func:`weighted_sample`) — per-language / per-source quality-
    weighted selection in one plan with NO driver-side k limit: the
    selection is a group-partitioned rank, so Spark's WindowGroupLimit
    pushes the per-group top-k below the exchange (≤ k rows per group
    per mapper ever shuffle). Scales to any group cardinality — the
    global-k sibling is for "give me THE best k overall", this one for
    "the best k of every stratum". Deterministic and oracle-replayable;
    NULL/non-positive weights are excluded (they'd never win).
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    w = F.col(weight_col).cast("double")
    pri = F.pow(u, F.lit(1.0) / w)
    scored = df.filter(w.isNotNull() & (w > 0)).withColumn("_pri", pri)
    win = Window.partitionBy(*group_cols).orderBy(
        F.col("_pri").desc(), F.col(key_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_pri", "_rn")
    )


def percentile_buckets_multi(
    df: DataFrame,
    specs: dict[str, tuple[int, str]],
) -> DataFrame:
    """:func:`percentile_buckets` for SEVERAL columns at once —
    ``specs``: ``{value_col: (n_buckets, out_col)}``. All threshold
    arrays are computed in ONE aggregation pass and broadcast together,
    so an upstream plan (e.g. an expensive rollup) is evaluated once,
    not once per bucketed column (nesting the single-column form
    re-evaluates the input subtree per column — measured 7 exchanges vs
    3 on the RFM query). Same bucket rule and NULL semantics as the
    single-column form.
    """
    aggs = []
    for col, (nb, _out) in specs.items():
        if nb < 2:
            raise ValueError("n_buckets must be >= 2")
        ps = ", ".join(str(i / nb) for i in range(1, nb))
        aggs.append(
            F.expr(f"percentile({col}, array({ps}))").alias(f"_thr_{col}")
        )
    def _ge(c):
        # closure factory: F.filter dispatches on lambda ARITY, so a
        # two-arg lambda with a default would be read as (elem, index)
        return lambda t: F.col(c) >= t

    out = df.crossJoin(F.broadcast(df.agg(*aggs)))
    for col, (_nb, out_col) in specs.items():
        out = out.withColumn(
            out_col,
            (F.lit(1) + F.size(F.filter(F.col(f"_thr_{col}"), _ge(col))))
            .cast("int"),
        )
    return out.drop(*[f"_thr_{c}" for c in specs])


def cluster_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    splits=None,
    algorithm: str = "star",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: rows are first joined
    into near-dup CLUSTERS (connected components over ``pairs`` — any
    pair generator works: n-gram Jaccard, MinHash-LSH, SimHash,
    embedding cosine), then the deterministic md5 split
    (``functions.text.hash_split``) is driven by the CLUSTER id (min
    member id; rows in no pair are their own singleton cluster). Every
    member of a near-dup cluster therefore lands in the SAME split —
    the property a plain per-document hash split lacks, where a
    near-duplicate of a test document leaks into train and inflates
    eval. Appends ``cluster_id`` and ``split``.

    Cost = the component labeling (pair-graph-sized iterations, see
    :func:`~.dedup.connected_components`) + one label join-back +
    scan-fused md5 arithmetic; the split itself adds zero shuffles.
    Deterministic across runs/engines (md5, not rand), so reruns and
    SQL oracles reproduce the identical assignment.

    ``algorithm`` defaults to ``"star"`` (diameter-INDEPENDENT, ~log n
    rounds) — deliberately stricter than ``cc_dedup``'s label default:
    a component wider than label propagation's round budget only WARNS
    there (under-deleting is a soft failure), but here a split
    component puts near-duplicates of test documents into train — the
    exact leakage this operator exists to prevent. Measured on a 200k-
    node CHAIN (the adversarial worst case, in SCALE.md): label
    propagation split it into thousands of pieces at max_iter=20 while
    star converged. Pass ``algorithm="label"`` only when the pair
    graph is known shallow (ordinary near-dup quasi-cliques).
    """
    from ..functions.text import DEFAULT_SPLITS, hash_split
    from .dedup import connected_components

    labels = connected_components(pairs, src=src, dst=dst, algorithm=algorithm)
    out = df.join(labels.withColumnRenamed("id", id_col), id_col, "left")
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return (
        out.withColumn("cluster_id", cluster)
        .withColumn("split", hash_split(cluster, splits or DEFAULT_SPLITS))
        .drop("component")
    )


def _robots_walk(df, content_col: str, domain_col: str):
    """Shared robots.txt line walk (pure Catalyst): explode lines with
    an index, strip comments, drop blanks, and attach each line to its
    ``User-agent`` group (consecutive UA lines = one group; the group
    id is a running sum over a preceding window). Returns
    ``(lines, group_agents)`` — every non-blank line with its ``grp``,
    and the lowercased agent set per group. Consumed by
    :func:`robots_rules` (Allow/Disallow) and
    :func:`robots_directives` (Crawl-delay/Sitemap)."""
    from pyspark.sql import Window

    lines = df.select(
        F.col(domain_col).alias("domain"),
        F.posexplode(F.split(F.col(content_col), "\n")).alias("idx", "line"),
    ).select(
        "domain",
        "idx",
        F.lower(F.trim(F.regexp_replace("line", "#.*$", ""))).alias("lc"),
        F.trim(F.regexp_replace("line", "#.*$", "")).alias("raw"),
    )
    # RFC 9309 allows empty lines between startgrouplines: strip them
    # (post comment-removal) BEFORE the adjacency window, or a blank
    # line inside a multi-agent run would split the group
    lines = lines.filter(F.length("lc") > 0)
    is_ua = F.col("lc").startswith("user-agent:")
    ua_val = F.when(is_ua, F.trim(F.expr("substring(raw, 12)")))
    w = (
        Window.partitionBy("domain")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # group id: a User-agent line NOT directly preceded by another
    # User-agent line starts a new group; rules attach to the latest
    prev_ua = F.lag(is_ua.cast("int"), 1, 0).over(
        Window.partitionBy("domain").orderBy("idx")
    )
    lines = lines.withColumn(
        "grp",
        F.sum((is_ua.cast("int") * (1 - prev_ua))).over(w),
    ).withColumn("ua", F.lower(ua_val))
    group_agents = (
        lines.filter(is_ua)
        .groupBy("domain", "grp")
        .agg(F.collect_set("ua").alias("agents"))
    )
    return lines, group_agents


def _select_agent_group(body, group_agents, agent: str):
    """RFC 9309 group selection over per-line rows carrying
    ``(domain, grp)``: keep lines of the chosen agent's groups, falling
    back to the ``*`` groups only for domains with NO specific group —
    a specific group shadows ``*`` by GROUP EXISTENCE (an empty
    specific group still shadows: the agent is then unrestricted)."""
    mine = F.array_contains("agents", agent.lower())
    star = F.array_contains("agents", "*")
    has_specific = (
        group_agents.filter(F.array_contains("agents", agent.lower()))
        .select("domain")
        .distinct()
        .withColumn("_has", F.lit(1))
    )
    return (
        body.join(group_agents, ["domain", "grp"])
        .filter(mine | star)
        .withColumn("_specific", mine)
        .join(has_specific, "domain", "left")
        .filter(F.col("_has").isNull() | F.col("_specific"))
        .drop("agents", "_specific", "_has")
    )


def robots_rules(
    df,
    content_col: str = "robots_txt",
    domain_col: str = "domain",
    agent: str = "*",
):
    """Parse per-domain ``robots.txt`` text into one row per
    Allow/Disallow rule for the chosen ``agent`` group — the frontier
    side of crawl compliance. Full RFC 9309 matching semantics:
    ``*`` matches any octet sequence and a trailing ``$``
    anchors the end of the path (both MUST-support per the RFC;
    elsewhere ``$`` is literal, the de-facto Google-parser reading);
    group = consecutive ``User-agent`` lines followed by rules. A
    specific agent's group SHADOWS the ``*`` group when both exist
    for a domain, per the RFC's group-selection rule.

    The line walk is pure Catalyst: lines explode with an index and
    each rule line picks up the nearest preceding ``User-agent`` run
    via a max-over-preceding window — stateful parsing expressed as a
    window, not Python; wildcard patterns compile to anchored Java
    regexes with ``regexp_replace`` chains (still Catalyst). Returns
    ``(domain, directive, path_prefix, pattern_re, spec_len)``:
    ``pattern_re`` is the compiled regex for wildcard rules (NULL for
    literal prefixes, which match faster via ``startswith``) and
    ``spec_len`` the RFC specificity = octet length of the raw
    pattern (``octet_length``, not character count — a multi-byte
    UTF-8 rule is as specific as its encoded bytes, RFC 9309 §2.2.2;
    longest wins, Allow wins ties)."""
    lines, group_agents = _robots_walk(df, content_col, domain_col)
    rules = lines.filter(
        F.col("lc").startswith("allow:") | F.col("lc").startswith("disallow:")
    ).select(
        "domain",
        "grp",
        F.when(F.col("lc").startswith("allow:"), F.lit("allow"))
        .otherwise(F.lit("disallow"))
        .alias("directive"),
        F.trim(
            F.when(
                F.col("lc").startswith("allow:"),
                F.expr("substring(raw, 7)"),
            ).otherwise(F.expr("substring(raw, 10)"))
        ).alias("path_prefix"),
    )
    rules = (
        _select_agent_group(rules, group_agents, agent)
        # an empty Disallow: means allow-all (no rule)
        .filter(F.length("path_prefix") > 0)
        .select("domain", "directive", "path_prefix")
        .distinct()
    )
    # compile wildcard patterns ('*' anywhere, '$' only as a trailing
    # anchor) to anchored Java regexes, in Catalyst: strip the trailing
    # anchor, escape every regex metachar EXCEPT '*', then turn each
    # '*' into '.*'. Literal rules keep pattern_re NULL and match via
    # the cheaper startswith in robots_allowed.
    ends_dollar = F.col("path_prefix").endswith("$")
    core = F.when(
        ends_dollar,
        F.expr("substring(path_prefix, 1, length(path_prefix) - 1)"),
    ).otherwise(F.col("path_prefix"))
    esc = F.regexp_replace(core, r"([\\\[\]{}()+?^$|.])", r"\\$1")
    body = F.regexp_replace(esc, r"\*", ".*")
    has_wild = F.col("path_prefix").contains("*") | ends_dollar
    return rules.select(
        "domain",
        "directive",
        "path_prefix",
        F.when(
            has_wild,
            F.concat(
                F.lit("^"),
                body,
                F.when(ends_dollar, F.lit("$")).otherwise(F.lit("")),
            ),
        ).alias("pattern_re"),
        F.octet_length("path_prefix").alias("spec_len"),
    )


def _url_host(url_col: str) -> Column:
    """Lowercased host[:non-default-port] of a URL column — the
    politeness/compliance key shared by :func:`robots_allowed`,
    :func:`frontier_schedule` and the streaming scheduler. Mirrors
    ``functions.text.canonicalize_url``: ``?`` binds BEFORE the first
    ``/`` (a query-no-path URL must not absorb its query into the
    host) and default ports (``:80`` http / ``:443`` https) strip."""
    rest = F.get(F.split(F.col(url_col), "://", 2), 1)
    scheme = F.lower(F.get(F.split(F.col(url_col), "://", 2), 0))
    hostpath = F.get(F.split(rest, "\\?", 2), 0)
    hp = F.lower(F.get(F.split(hostpath, "/", 2), 0))
    return (
        F.when(
            (scheme == "http") & hp.endswith(":80"),
            hp.substr(F.lit(1), F.length(hp) - 3),
        )
        .when(
            (scheme == "https") & hp.endswith(":443"),
            hp.substr(F.lit(1), F.length(hp) - 4),
        )
        .otherwise(hp)
    )


def robots_allowed(
    urls,
    rules,
    url_col: str = "url",
    out_col: str = "crawl_allowed",
    _dedup_rules: bool = True,
):
    """Append the RFC 9309 longest-match decision per URL: among the
    domain's rules matching the URL **path plus query** (RFC 9309 and
    the Google reference parser match against everything after the
    authority, so ``Disallow: /*?sessionid=`` blocks
    ``/page?sessionid=abc`` and ``Disallow: /fish.php$`` does NOT
    block ``/fish.php?id=1``; literal prefixes via ``startswith``,
    wildcard rules via their compiled ``pattern_re``), the most
    specific (longest raw pattern, in octets) wins; on a tie Allow
    wins; no matching rule (or no rules for the domain) = allowed.
    Join is domain-keyed — rule tables are tiny relative to frontiers,
    so AQE broadcasts them; the per-URL winner is one max_by
    aggregation keyed on a row id alone (caller columns ride through
    a first(struct(...)), so map-typed caller columns work and caller
    names can never collide with the rule columns, which are
    ``__rb_``-prefixed internally)."""
    # host extraction mirrors functions.text.canonicalize_url: '?'
    # binds BEFORE the first '/' (a query-no-path URL must not absorb
    # its query into the host and bypass every rule), default ports
    # are stripped, and BOTH join sides are lowercased
    # fragment stripped FIRST (like canonicalize_url): RFC 9309 and
    # the Google parser match path+query only, so a wildcard rule like
    # 'Disallow: /*?x=' must not see fragment content ('/page#?x=1')
    rest = F.get(
        F.split(F.get(F.split(F.col(url_col), "://", 2), 1), "#", 2), 0
    )
    hostpath = F.get(F.split(rest, "\\?", 2), 0)
    host = _url_host(url_col)
    clash = [c for c in urls.columns if c.startswith("__rb_")]
    if clash:
        raise ValueError(
            f"robots_allowed reserves the '__rb_' column prefix: {clash}"
        )
    # the matched string is everything after the authority, QUERY
    # INCLUDED (RFC 9309 matches path+query; the
    # query-stripped form mis-applied every '?'-bearing wildcard
    # rule). hp_raw is the raw host[:port] slice of `rest`, so the
    # tail after it is '', '/path[?q]' or '?q'; a query-only URL
    # normalizes to '/?q', an empty tail to '/'.
    hp_raw = F.get(F.split(hostpath, "/", 2), 0)
    tail = rest.substr(F.length(hp_raw) + 1, F.length(rest))
    u = urls.withColumn("__rb_dom", host).withColumn(
        "__rb_path",
        F.when(F.length(tail) == 0, F.lit("/"))
        .when(tail.startswith("?"), F.concat(F.lit("/"), tail))
        .otherwise(tail),
    ).withColumn("__rb_rid", F.monotonically_increasing_id())
    rule_side = rules.select(
        F.lower(F.col("domain")).alias("__rb_dom"),
        F.col("directive").alias("__rb_dir"),
        F.col("path_prefix").alias("__rb_prefix"),
        F.col("pattern_re").alias("__rb_re"),
        F.col("spec_len").alias("__rb_len"),
    )
    if _dedup_rules:
        # exact-duplicate rules (same domain/verdict/pattern — common
        # when several matched agent groups repeat the same lines)
        # each multiply EVERY frontier row for that domain in the
        # candidate join and re-run its regexp; the winner is a max_by
        # over the candidates, invariant to duplicates, so dropping
        # them is free semantics-wise and linear savings cost-wise
        # (A/B in SCALE.md: 8x duplication ≈ 6x candidate
        # work removed). The dedup itself is one tiny shuffle of the
        # rules table — domains × unique rules, never frontier-sized.
        rule_side = rule_side.dropDuplicates(
            ["__rb_dom", "__rb_dir", "__rb_prefix", "__rb_re", "__rb_len"]
        )
    cand = u.join(
        rule_side,
        "__rb_dom",
        "left",
    ).withColumn(
        "__rb_hit",
        F.col("__rb_prefix").isNotNull()
        & F.when(
            F.col("__rb_re").isNotNull(),
            F.regexp_like(F.col("__rb_path"), F.col("__rb_re")),
        ).otherwise(F.col("__rb_path").startswith(F.col("__rb_prefix"))),
    )
    # winner per URL: most specific matching pattern, allow beats
    # disallow on ties (encode as 2*spec_len + is_allow and take max)
    score = F.when(
        F.col("__rb_hit"),
        F.col("__rb_len") * 2 + (F.col("__rb_dir") == "allow").cast("int"),
    )
    verdict = (
        cand.groupBy("__rb_rid")
        .agg(
            F.first(F.struct(*[F.col(c) for c in urls.columns])).alias(
                "__rb_row"
            ),
            F.max_by(
                F.col("__rb_dir") == "allow", F.coalesce(score, F.lit(-1))
            ).alias("__rb_best_allow"),
            F.max(F.coalesce(score, F.lit(-1))).alias("__rb_best"),
        )
        .select(
            "__rb_row.*",
            F.when(F.col("__rb_best") < 0, F.lit(True))
            .otherwise(F.col("__rb_best_allow"))
            .alias(out_col),
        )
    )
    return verdict


def robots_directives(
    df,
    content_col: str = "robots_txt",
    domain_col: str = "domain",
    agent: str = "*",
):
    """Per-domain non-rule robots.txt directives — the other half of
    crawl compliance after :func:`robots_rules`:

    - ``crawl_delay`` (seconds, DOUBLE): from the chosen agent's
      selected group (same RFC 9309 group selection as the rules —
      a specific group shadows ``*`` even when it carries no delay);
      the de-facto Crawl-delay extension every major crawler honors.
      Multiple delay lines in the selected group(s) take the MINIMUM
      — politeness is least-permissive. Unparseable values are NULL
      (``try_cast`` — a junk delay must not crash the walk).
    - ``sitemaps`` (sorted ``array<string>``): ``Sitemap:`` lines are
      GLOBAL per the sitemaps protocol — they bind to the file, not a
      group, so they collect across all groups with original case.

    One row per input domain (domains without directives carry NULL /
    empty array). Same pure-Catalyst line walk as the rules (shared
    via ``_robots_walk``); feed the result to
    :func:`frontier_schedule` for politeness scheduling."""
    lines, group_agents = _robots_walk(df, content_col, domain_col)
    delays = _select_agent_group(
        lines.filter(F.col("lc").startswith("crawl-delay:")).select(
            "domain",
            "grp",
            F.trim(F.expr("substring(raw, 13)")).try_cast("double").alias(
                "_delay"
            ),
        ),
        group_agents,
        agent,
    ).groupBy("domain").agg(F.min("_delay").alias("crawl_delay"))
    sitemaps = (
        lines.filter(F.col("lc").startswith("sitemap:"))
        .select("domain", F.trim(F.expr("substring(raw, 9)")).alias("_sm"))
        .filter(F.length("_sm") > 0)
        .groupBy("domain")
        .agg(F.array_sort(F.collect_set("_sm")).alias("sitemaps"))
    )
    doms = df.select(F.col(domain_col).alias("domain")).distinct()
    return (
        doms.join(delays, "domain", "left")
        .join(sitemaps, "domain", "left")
        .select(
            "domain",
            "crawl_delay",
            F.coalesce("sitemaps", F.array().cast("array<string>")).alias(
                "sitemaps"
            ),
        )
    )


def dsir_importance(
    df,
    target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    smoothing: float = 1.0,
    bigrams: bool = False,
    out_col: str = "dsir_logw",
):
    """DSIR importance weights — Data Selection via Importance
    Resampling (Xie et al., NeurIPS 2023): fit hashed n-gram bucket
    distributions over a small TARGET corpus (the distribution you
    want more of) and the RAW corpus, then score each raw document by
    the sum of its tokens' per-bucket log probability ratios
    ``log p_target(b) − log p_raw(b)`` (Laplace-smoothed). High
    ``out_col`` = looks like the target. Feed to :func:`dsir_select`
    for the resampling step.

    Spark shape: one tokenize pass per corpus (scan-fused split +
    explode, zero Python), two bucket-count aggregations (B ≪ corpus,
    map-side combined), the B-row log-ratio table BROADCAST into the
    scoring join, one doc-keyed sum. Bucketing is md5-based
    (``functions.text.hash_bucket``) so any SQL engine reproduces the
    identical buckets — the oracle replays the whole pipeline.
    Documents with no tokens score 0.0 (log ratio of an empty
    product). Scores round to 6 dp so cross-engine float-sum
    association noise (~1e-12) can't flip a comparison.

    ``bigrams=True`` adds adjacent-pair features (the paper's
    unigram+bigram hashing); parity for that path is pinned by a
    Python replay in pytest rather than the SQL oracle."""
    from ..functions.text import hash_bucket

    total_buckets = n_buckets

    def feats(frame, keep_id: bool):
        toks = F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda t: t != F.lit(""),
        )
        base = frame.withColumn("_toks", toks)
        arr = F.col("_toks")
        if bigrams:
            bg = F.expr(
                "transform(slice(_toks, 1, greatest(size(_toks)-1, 0)), "
                "(t, i) -> concat(t, ' ', _toks[i+1]))"
            )
            arr = F.concat(arr, bg)
        cols = [F.col(id_col)] if keep_id else []
        return base.select(*cols, F.explode(arr).alias("_f")).withColumn(
            "_bkt", hash_bucket(F.col("_f"), total_buckets)
        )

    import math

    tfeat = feats(target, keep_id=False)
    # ONE tokenize pass over the raw corpus, materialized: the bucket
    # features feed BOTH the histogram collect below and the scoring
    # join, so without materialization the dominant cost (tokenize +
    # explode + md5 of every raw document) would run twice.
    # localCheckpoint truncates lineage and stores only the two
    # narrow columns (id, int bucket) — tokens themselves are never
    # persisted; at corpus scale that is ~16 bytes/token spilled to
    # local disk vs re-reading and re-hashing the full text corpus.
    rfeat = feats(df, keep_id=True).select(id_col, "_bkt").localCheckpoint()
    # ONE pass per corpus: the B-row bucket histograms come back to
    # the driver (bounded: B = n_buckets, a parameter — the paper uses
    # 10k; keep it ≪ 1e6) and the totals + smoothed log-ratio table
    # are built driver-side, so no corpus pass runs twice just to
    # count rows and the ratio table is a literal broadcast
    tcounts = {
        r["_bkt"]: r["_tc"]
        for r in tfeat.groupBy("_bkt").agg(F.count("*").alias("_tc")).collect()
    }
    rcounts = {
        r["_bkt"]: r["_rc"]
        for r in rfeat.groupBy("_bkt").agg(F.count("*").alias("_rc")).collect()
    }
    t_tot, r_tot = sum(tcounts.values()), sum(rcounts.values())
    a, b_ = float(smoothing), float(total_buckets)
    ratio = df.sparkSession.createDataFrame(
        [
            (
                b,
                math.log((tcounts.get(b, 0) + a) / (t_tot + a * b_))
                - math.log((rcounts.get(b, 0) + a) / (r_tot + a * b_)),
            )
            for b in range(total_buckets)
        ],
        "_bkt int, _lr double",
    )
    scores = (
        rfeat.join(F.broadcast(ratio), "_bkt")
        .groupBy(id_col)
        .agg(F.round(F.sum("_lr"), 6).alias(out_col))
    )
    return df.join(scores, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0.0))
    )


def dsir_select(
    df,
    target,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    smoothing: float = 1.0,
    bigrams: bool = False,
    gumbel: bool = False,
    seed: int = 17,
):
    """DSIR selection: keep the ``k`` raw documents that most resemble
    the target distribution. ``gumbel=False`` is exact top-k by
    importance weight (ties broken by ``id_col``). ``gumbel=True`` is
    the paper's Gumbel-top-k trick — sampling WITHOUT replacement
    proportionally to the (softmax of) importance weights — with the
    Gumbel noise derived from an md5 uniform over ``(id, seed)`` so
    the draw is deterministic across runs, engines and partitionings
    (the same no-``rand()`` rule as ``hash_split``). Both paths
    compile to TakeOrderedAndProject — no single-partition sort."""
    w = dsir_importance(
        df, target, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, smoothing=smoothing, bigrams=bigrams,
    )
    key = F.col("dsir_logw")
    if gumbel:
        u = (
            _det_bucket(
                F.concat(F.col(id_col).cast("string"), F.lit(f"/g{seed}")),
                16**8,
            )
            + 0.5
        ) / float(16**8)
        key = key + (-F.log(-F.log(u)))
    return (
        w.withColumn("_dsir_key", key)
        .orderBy(F.desc("_dsir_key"), F.col(id_col).asc())
        .limit(k)
        .drop("_dsir_key")
    )


def parse_sitemaps(
    df,
    content_col: str = "sitemap_xml",
    out_col: str = "loc",
    kind_col: str = "kind",
):
    """Explode sitemap XML into one row per discovered location — the
    discovery step between :func:`robots_directives` (which surfaces
    the ``Sitemap:`` URLs) and :func:`frontier_schedule` (which
    schedules the fetches). Appends ``out_col`` (the ``<loc>`` URL,
    XML predefined entities decoded, whitespace trimmed) and
    ``kind_col``: ``'sitemap'`` for ``<sitemapindex>`` children (child
    sitemaps the crawler must fetch next — deliberately NOT recursed:
    fetching is the crawler's job, and blind recursion over untrusted
    XML is an amplification vector) else ``'url'`` for ``<urlset>``
    pages. Rows whose XML has no ``<loc>`` disappear (a malformed or
    empty sitemap contributes nothing).

    Deliberately a JVM ``regexp_extract_all`` walk, NOT an XML parser:
    crawled sitemaps are untrusted bytes and Spark's ``xpath`` THROWS
    on the first malformed document (verified — one bad blob would
    kill the whole stage), while the regex walk degrades per row.
    Optional namespace prefixes on ``loc``/``sitemapindex`` are
    accepted; ``<loc>`` content is ``[^<]*`` so the regex cannot
    backtrack across elements. Pure Catalyst, zero Python."""
    pref = r"(?:[A-Za-z0-9_.-]+:)?"
    loc_re = rf"<{pref}loc\s*>\s*([^<]*?)\s*</{pref}loc\s*>"
    is_index = F.regexp_like(
        F.col(content_col), F.lit(rf"<{pref}sitemapindex[\s>]")
    )
    locs = F.regexp_extract_all(F.col(content_col), F.lit(loc_re), 1)
    out = df.withColumn(
        kind_col, F.when(is_index, F.lit("sitemap")).otherwise(F.lit("url"))
    ).withColumn(out_col, F.explode(locs))
    # XML predefined entities (the five from the XML spec; sitemaps
    # REQUIRE URLs to be entity-escaped, so '&' always arrives as
    # '&amp;'). '&amp;' decodes LAST or it would re-decode authors'
    # escaped escapes.
    decoded = F.col(out_col)
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),
    ):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    return out.withColumn(out_col, decoded).drop(content_col)


def frontier_schedule(
    urls,
    directives=None,
    url_col: str = "url",
    default_delay: float = 1.0,
    priority_col: str | None = None,
    out_prefix: str = "fetch_",
):
    """Politeness scheduling for a crawl frontier: per-domain serial
    fetch slots. Extracts the host from ``url_col`` (same
    normalization as :func:`robots_allowed` — lowercased, default
    ports stripped, ``?`` binds before ``/``), left-joins the
    per-domain ``crawl_delay`` from :func:`robots_directives`
    (``default_delay`` when the domain is absent or its delay NULL),
    and appends::

        <prefix>domain          the politeness key
        <prefix>slot            0-based rank within the domain
        <prefix>offset_seconds  slot * delay (6 dp)

    Rank order: ``priority_col`` DESCENDING when given (higher
    priority fetches first), then ``url_col`` ascending — fully
    deterministic (reruns and SQL oracles reproduce the schedule)
    PROVIDED (priority, url) is unique per domain; a frontier is
    URL-deduped upstream (``exact_dedup`` on url), so duplicates mean
    a pipeline bug. Rows duplicated on both keys would rank
    nondeterministically — the streaming twin
    (:func:`~..streaming.events.stream_frontier_schedule`) adds an
    all-columns hash tie-break instead because its replay-exactness
    guarantee must hold for arbitrary redelivered batches; batch
    reruns can simply be re-planned, so here the precondition is
    documented rather than the plan widened.

    Scale: one domain-keyed exchange (the window) plus a broadcast
    of the directives table (domains ≪ frontier). The per-domain
    window is inherently serial BY DESIGN — politeness IS per-domain
    serialization; a hot domain's schedule length is pages × delay,
    which no partitioning can compress (the crawler, not the engine,
    is the bottleneck there). Domain cardinality is web-scale high,
    so the exchange itself is skew-tolerant."""
    from pyspark.sql import Window

    reserved = {
        f"{out_prefix}domain", f"{out_prefix}slot",
        f"{out_prefix}offset_seconds", "__fs_delay",
    }
    clash = [c for c in urls.columns if c in reserved]
    if clash:
        raise ValueError(
            f"frontier_schedule reserves columns {sorted(reserved)}; "
            f"rename or change out_prefix: {clash}"
        )
    dom_col = f"{out_prefix}domain"
    out = urls.withColumn(dom_col, _url_host(url_col))
    if directives is not None:
        # aggregate by LOWERED domain first: duplicate or case-variant
        # directive rows would otherwise multiply every frontier row
        # for that domain and hand the copies distinct slots (min =
        # least-permissive delay, matching robots_directives' own
        # multi-delay rule)
        d = F.broadcast(
            directives.groupBy(
                F.lower(F.col("domain")).alias(dom_col)
            ).agg(F.min("crawl_delay").alias("__fs_delay"))
        )
        out = out.join(d, dom_col, "left")
    else:
        out = out.withColumn("__fs_delay", F.lit(None).cast("double"))
    order = [F.col(url_col).asc()]
    if priority_col is not None:
        order = [F.col(priority_col).desc()] + order
    w = Window.partitionBy(dom_col).orderBy(*order)
    slot = F.row_number().over(w) - 1
    delay = F.coalesce(F.col("__fs_delay"), F.lit(float(default_delay)))
    return (
        out.withColumn(f"{out_prefix}slot", slot.cast("bigint"))
        .withColumn(
            f"{out_prefix}offset_seconds",
            F.round(F.col(f"{out_prefix}slot") * delay, 6),
        )
        .drop("__fs_delay")
    )


def crawl_tick(
    spark,
    batch,
    tick_id: int,
    *,
    seen_table: str,
    frontier_state_table: str,
    fetched_table: str,
    robots_df=None,
    content_col: str = "sitemap_xml",
    url_col: str = "url",
    order_col: str = "doc_id",
    default_delay: float = 1.0,
    priority_col: str | None = None,
    canonicalize: bool = True,
    seen_buckets: int = 32,
    state_partitions: int = 64,
):
    """ONE tick of a continuous crawler — the end-to-end composition of
    the crawl tier over standing state, driver-facing (the
    reference has no crawl tier, this extends it for LLM-corpus
    construction):

    1. **Discover**: :func:`parse_sitemaps` explodes the batch's
       sitemap XML into candidate URLs (``url_col``). ``<sitemapindex>``
       children (``kind='sitemap'``) are NOT scheduled — fetching child
       sitemaps is the next tick's input, by the same non-recursion
       rule as :func:`parse_sitemaps` itself.
    2. **Canonicalize** (``canonicalize=True``):
       :func:`~..functions.text.canonicalize_url`, so the seen-set and
       politeness keys can't be split by case/port/fragment/tracking
       variants.
    3. **Robots filter** (``robots_df`` = (domain, robots_txt)):
       :func:`robots_rules` + :func:`robots_allowed`, RFC 9309
       longest-match; disallowed URLs never reach the seen-set (a URL
       blocked today must be fetchable when the rules change).
    4. **Seen-set probe + advance**: ``dedup.exact_incremental_dedup``
       against the standing ``seen_table`` (created empty on the first
       tick), stamped with ``tick_id`` — already-fetched URLs drop,
       survivors' fingerprints append so the NEXT tick dedups against
       everything ever scheduled. Within a tick the min-``order_col``
       copy survives.
    5. **Fetch-sim**: a deterministic stand-in for the network fetch
       (``sim_fp`` = md5 of the canonical URL, ``sim_status`` = 200) —
       clearly simulation: a real deployment swaps this column pair for
       its fetcher's output; everything else in the tick is real.
    6. **Schedule + land**: the streaming politeness machinery
       (``streaming.events._frontier_schedule_merge_batch``) assigns
       per-domain serial slots CONTINUING ``frontier_state_table``'s
       counters (delays from :func:`robots_directives` over
       ``robots_df``; ``default_delay`` fallback; ``priority_col``
       DESC leads the within-tick rank when given — committed slots
       from earlier ticks are never reordered) and lands the tick in
       ``fetched_table``'s own ``_batch_id=tick_id`` partition.

    Replay-exact for the crash-redelivery window: both state advances
    are stamped with ``tick_id``, so re-running the MOST RECENT tick —
    whatever the crash caught mid-write — overwrites its sink
    partition with identical rows and advances only the state
    partitions that missed (the same algebra pytest pins for the
    streaming twins). Ticks must run in order with unique, monotone
    ``tick_id``s; re-firing an OLD tick after later ticks committed is
    outside the contract (later ticks already advanced the counters —
    the same rule as streaming checkpoint ordering, which never
    redelivers behind the committed offset).

    Returns the landed partition (all batch columns except
    ``content_col``/kind, plus ``fetch_domain``/``fetch_slot``/
    ``fetch_offset_seconds`` and the fetch-sim pair).

    Scale shape (SCALE.md "crawl_tick"): per-tick cost tracks the
    BATCH — one Arrow-free Catalyst sitemap walk, one broadcast rules
    join, one fingerprint anti-join against the bucketed seen-set
    (index streams pre-shuffled out of its layout, never re-scanned),
    one domain-keyed window, one partition-scoped state overwrite.
    Nothing rescans the corpus; standing tables grow by exactly the
    survivors."""
    _crawl_tick_apply(
        spark, batch, tick_id,
        seen_table=seen_table,
        frontier_state_table=frontier_state_table,
        fetched_table=fetched_table,
        robots_df=robots_df, content_col=content_col, url_col=url_col,
        order_col=order_col, default_delay=default_delay,
        priority_col=priority_col,
        canonicalize=canonicalize, seen_buckets=seen_buckets,
        state_partitions=state_partitions,
        stamp=tick_id, stream_id=f"crawl_tick:{seen_table}",
    )
    if not spark.catalog.tableExists(fetched_table):
        # every tick so far produced zero survivors (all blocked /
        # duplicate / loc-less), so nothing has ever landed and the
        # sink doesn't exist — synthesize the landed schema empty
        # rather than throwing TABLE_OR_VIEW_NOT_FOUND at the caller
        empty = parse_sitemaps(
            batch.limit(0), content_col=content_col, out_col=url_col
        ).drop("kind")
        return (
            empty.withColumn("sim_fp", F.md5(F.col(url_col)))
            .withColumn("sim_status", F.lit(200))
            .withColumn("fetch_domain", F.lit(None).cast("string"))
            .withColumn("fetch_slot", F.lit(None).cast("bigint"))
            .withColumn(
                "fetch_offset_seconds", F.lit(None).cast("double")
            )
            .withColumn("_batch_id", F.lit(tick_id))
        )
    return spark.table(fetched_table).filter(F.col("_batch_id") == tick_id)


def _crawl_tick_apply(
    spark,
    batch,
    tick_id: int,
    *,
    seen_table: str,
    frontier_state_table: str,
    fetched_table: str,
    robots_df,
    content_col: str,
    url_col: str,
    order_col: str,
    default_delay: float,
    canonicalize: bool,
    seen_buckets: int,
    state_partitions: int,
    stamp: int,
    stream_id: str,
    priority_col: str | None = None,
) -> None:
    """The tick body shared by :func:`crawl_tick` (stamp = tick id)
    and ``streaming.events.stream_crawl_tick`` (checkpoint-scoped
    ``_stream_stamp``, so a fresh checkpoint whose batch ids restart
    at 0 can never alias stale state stamps). Both state advances —
    the seen-set append and the frontier counter overwrite — carry the
    SAME stamp, which is what makes the whole tick one replay-exact
    unit rather than two independently-replayable halves."""
    from ..functions.text import canonicalize_url
    from ..streaming.events import _frontier_schedule_merge_batch
    from .dedup import exact_build_index, exact_incremental_dedup

    urls = parse_sitemaps(batch, content_col=content_col, out_col=url_col)
    urls = urls.filter(F.col("kind") == "url").drop("kind")
    if canonicalize:
        urls = urls.withColumn(url_col, canonicalize_url(url_col))
    directives = None
    if robots_df is not None:
        allowed = robots_allowed(urls, robots_rules(robots_df), url_col=url_col)
        urls = allowed.filter(F.col("crawl_allowed")).drop("crawl_allowed")
        directives = robots_directives(robots_df)
    if not spark.catalog.tableExists(seen_table):
        exact_build_index(
            urls.limit(0), seen_table, [url_col], n_buckets=seen_buckets
        )
    fresh = exact_incremental_dedup(
        spark, seen_table, urls, [url_col],
        order_col=order_col, batch_id=stamp,
    )
    fetched = fresh.withColumn("sim_fp", F.md5(F.col(url_col))).withColumn(
        "sim_status", F.lit(200)
    )
    _frontier_schedule_merge_batch(
        fetched, tick_id, frontier_state_table, fetched_table,
        directives, url_col, default_delay, order_col,
        priority_col=priority_col,
        state_partitions=state_partitions,
        stamp=stamp, stream_id=stream_id,
    )
