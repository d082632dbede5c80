"""Entity resolution: blocking → pairwise scoring → transitive
clustering → golden-record survivorship.

The reference manufactures join-key conformance by hand-written string
surgery (strip ``NAS``, strip hyphens, split ``prd_key`` —
Glue-spark/scripts/silver/erp_cust_az12_silver.py:54-58,
erp_loc_a101_silver.py:50-53, crm_prd_info_silver.py:53-56) because its
CRM and ERP systems encode THE SAME entity under different keys. That
works only when the mapping is a deterministic rewrite. This module is
the general form a large-scale pipeline needs when records for one
real-world entity differ by typos/formatting rather than by a fixed
rule: resolve fuzzy duplicates into entity clusters and survive one
golden record per entity.

Classic three-stage shape (Fellegi-Sunter-style pipelines, as used in
open-source ER systems such as Zingg/Splink — pattern only, no code):

1. **Blocking** — a cheap deterministic key (prefix, phonetic bucket,
   last-n chars, array of keys for multi-blocking) so candidate
   generation is an equi-join on the key, never an all-pairs cross
   product. O(sum of block²) with small blocks ≈ linear.
2. **Scoring** — pairwise similarity inside blocks only. Default:
   normalized Levenshtein ``1 - lev(a,b)/greatest(len(a),len(b))``
   (JVM-side ``F.levenshtein``, whole-stage codegen — no Python).
3. **Clustering** — similarity edges → :func:`..dedup.connected_components`
   (min-label propagation or large-star/small-star), so transitively
   linked records share one ``entity_id`` regardless of pair topology.
4. **Survivorship** — :func:`golden_records` folds each cluster to one
   row under per-attribute rules (min/max/earliest/mode).

Scale notes (100 TB):
- The only joins are (a) the within-block self-join on the block key
  and (b) edge-sized joins inside connected components. No cross joins.
- ``max_block_size`` SKIPS oversized blocks rather than star-collapsing
  them (deliberately different from ``dedup.minhash_lsh_pairs``'s cap):
  an oversized ER block means the blocking key is non-discriminative
  there (e.g. blank names), and merging its members through a
  representative would collapse DISTINCT entities — ER is
  precision-first, where boilerplate dedup is recall-first. Skipped
  blocks should get a better key (multi-blocking), not a forced merge.
- Similarity is computed only inside blocks and entirely JVM-side;
  scoring cost is bounded by ``max_block_size``² per block.
- Multi-attribute matching needs no extra operator: pack the fields in
  a STRUCT column and pass a ``similarity`` that weights per-field
  scores (e.g. ``0.7·lev(a["name"], b["name"]) +
  0.3·token_jaccard(a["city"], b["city"])``) — pinned by
  ``test_entity.py::test_er_multi_field_weighted_similarity_via_struct``.
"""

from __future__ import annotations

import warnings
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from .dedup import _cold, _log_skew, _pin_probe_sides, connected_components

__all__ = [
    "normalize_name",
    "phonetic_key",
    "levenshtein_similarity",
    "token_jaccard_similarity",
    "er_candidate_pairs",
    "resolve_entities",
    "golden_records",
    "er_build_index",
    "er_incremental",
    "er_entity_labels",
    "er_compact_index",
    "er_index_health",
]


def normalize_name(col: Column | str) -> Column:
    """Canonical ER preprocessing: lowercase, strip punctuation to
    spaces, collapse runs of whitespace, trim. Formatting variants
    ("Acme, Inc." / "acme inc") converge BEFORE blocking/scoring, so
    the similarity threshold only has to absorb genuine typos — the
    general form of the reference's hand-rolled key surgery
    (upper/trim at silver/crm_cust_info_silver.py:58-61, hyphen
    stripping at silver/erp_loc_a101_silver.py:50-53). Pure Catalyst."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "), r"\s+", " "
        )
    )


def phonetic_key(col: Column | str) -> Column:
    """Soundex blocking key of the FIRST token of the normalized name —
    the classic phonetic block (spelling-variant surnames share a
    bucket: "smith"/"smyth" → S530). Combine with other keys via
    ``F.array(...)`` multi-blocking for recall; soundex alone
    over-blocks common name stems, so pair it with ``max_block_size``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.soundex(F.split(normalize_name(c), " ").getItem(0))


def levenshtein_similarity(a: Column, b: Column) -> Column:
    """``1 - levenshtein(a, b) / greatest(length(a), length(b))`` in
    [0, 1]; 1.0 = identical. Pure Catalyst (codegen'd JVM loop), exactly
    reproducible in ANSI SQL for oracle checks."""
    return F.lit(1.0) - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b))


def token_jaccard_similarity(a: Column, b: Column) -> Column:
    """Jaccard of whitespace-token SETS — word-order-insensitive, so
    "Corp Acme" ≡ "Acme Corp" scores 1.0 where edit distance scores
    ~0.5 (the rapidfuzz token-set idea as pure Catalyst:
    array_intersect/array_union over split). Empty-token pairs score
    0.0. Pair with :func:`normalize_name` so punctuation and case don't
    fragment tokens; pass as ``similarity=`` to any ER entry point."""
    # split("") yields [""] — drop empty tokens so blank inputs score 0
    ta = F.array_distinct(
        F.filter(F.split(F.trim(a), r"\s+"), lambda x: x != "")
    )
    tb = F.array_distinct(
        F.filter(F.split(F.trim(b), r"\s+"), lambda x: x != "")
    )
    inter = F.size(F.array_intersect(ta, tb)).cast("double")
    union = F.size(F.array_union(ta, tb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_key: Column | str,
    max_block_size: int | None,
) -> DataFrame:
    """(_id, _txt, _blk) with one row per (record, block key); an
    array-typed key explodes into multi-blocking. Oversized blocks are
    dropped entirely (see module docstring — precision-first)."""
    bk = F.col(block_key) if isinstance(block_key, str) else block_key
    b = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        bk.alias("_blk"),
    )
    if isinstance(b.schema["_blk"].dataType, ArrayType):
        b = b.withColumn("_blk", F.explode("_blk"))
    b = b.filter(F.col("_blk").isNotNull())
    if max_block_size is not None:
        w = Window.partitionBy("_blk")
        b = (
            b.withColumn("_bsz", F.count("*").over(w))
            .filter(F.col("_bsz") <= max_block_size)
            .drop("_bsz")
        )
    return b


def er_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_key: Column | str,
    threshold: float = 0.9,
    max_block_size: int | None = None,
    similarity: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """(id_a, id_b, similarity) for every within-block record pair
    whose similarity clears ``threshold`` (id_a < id_b, one row per
    pair even under multi-blocking).

    ``block_key``: a column name or Column expression; an array-typed
    expression blocks each record under every element (multi-blocking —
    union of candidate sets, standard recall lever).
    ``similarity``: optional ``(Column, Column) -> Column`` override;
    default :func:`levenshtein_similarity`. Scores are rounded to 6
    decimals BEFORE thresholding so oracle SQL replays bit-identically.
    """
    sim_fn = similarity or levenshtein_similarity
    b = _blocked(df, id_col, text_col, block_key, max_block_size)
    return (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(sim_fn(F.col("a._txt"), F.col("b._txt")), 6).alias(
                "similarity"
            ),
        )
        .filter(F.col("similarity") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_key: Column | str,
    threshold: float = 0.9,
    max_block_size: int | None = None,
    similarity: Callable[[Column, Column], Column] | None = None,
    entity_col: str = "entity_id",
    algorithm: str = "label",
    max_iter: int = 20,
) -> DataFrame:
    """``df`` plus ``entity_col``: the MIN ``id_col`` of each record's
    transitive similarity cluster (records with no match resolve to
    themselves). Transitive closure means A~B and B~C share one entity
    even when A and C never co-occur in a block — the contract pair-
    greedy matching cannot give (see
    :func:`..dedup.connected_components`, whose ``algorithm`` knob
    passes through)."""
    pairs = er_candidate_pairs(
        df, id_col, text_col, block_key, threshold, max_block_size, similarity
    )
    labels = connected_components(
        pairs, max_iter=max_iter, algorithm=algorithm
    ).withColumnRenamed("id", id_col)
    return (
        df.join(labels, id_col, "left")
        .withColumn(entity_col, F.coalesce("component", F.col(id_col)))
        .drop("component")
    )


def _relabel_tbl(table: str) -> str:
    return f"{table}__relabel"


_RELABEL_HARD_CAP = 200_000


def _relabel_closure(spark, table: str, enforce_cap: bool = True) -> dict:
    """The (old entity → final entity) mapping from the index's relabel
    side table, transitively resolved driver-side. Bounded by the
    number of entity-MERGE events since the last compaction (rare in
    steady state — a merge needs a new record bridging two previously
    separate entities), so the collect is metadata-sized.

    Guarded: past ``_RELABEL_HARD_CAP`` entries the collect (and the
    literal-map expression :func:`_apply_relabels` builds from it)
    stops being metadata-sized — raise with a compaction instruction
    instead of silently degrading the driver. A pipeline should never
    get here: :func:`er_incremental` surfaces the log size per batch
    and recommends (or auto-runs) :func:`er_compact_index` far
    earlier (``er_index_health``). :func:`er_compact_index` itself
    bypasses the cap (``enforce_cap=False``) — compaction must remain
    runnable as the escape hatch."""
    t = _relabel_tbl(table)
    if not spark.catalog.tableExists(t):
        return {}
    n = spark.table(t).count()
    if enforce_cap and n > _RELABEL_HARD_CAP:
        raise RuntimeError(
            f"relabel log for {table!r} has {n} entries "
            f"(cap {_RELABEL_HARD_CAP}): run er_compact_index({table!r}) "
            "to fold relabels into the index — see er_index_health()"
        )
    m = {r.old_id: r.new_id for r in spark.table(t).collect()}
    out = {}
    for k in m:
        v = m[k]
        seen = {k}
        while v in m and v not in seen:
            seen.add(v)
            v = m[v]
        out[k] = v
    return out


_RELABEL_LITERAL_MAP_MAX = 512


def _apply_relabels(df: DataFrame, col: str, rel: dict) -> DataFrame:
    """Rewrite ``col`` through the (old → final) relabel mapping. Small
    maps inline as a ``create_map`` literal (zero join, folds into the
    surrounding stage); past ``_RELABEL_LITERAL_MAP_MAX`` entries the
    mapping applies as a BROADCAST left join instead — a 10k-literal
    expression tree measurably slows planning/codegen (scale smoke:
    2× per-batch cost at 10k relabels), while a broadcast hash join
    of the same rows is constant-ish."""
    if not rel:
        return df
    if len(rel) <= _RELABEL_LITERAL_MAP_MAX:
        pairs: list[Column] = []
        for k, v in rel.items():
            pairs += [F.lit(k), F.lit(v)]
        return df.withColumn(
            col, F.coalesce(F.create_map(*pairs)[F.col(col)], F.col(col))
        )
    rel_df = df.sparkSession.createDataFrame(
        list(rel.items()), "__rel_old bigint, __rel_new bigint"
    )
    return (
        df.join(
            F.broadcast(rel_df), F.col(col) == F.col("__rel_old"), "left"
        )
        .withColumn(col, F.coalesce("__rel_new", F.col(col)))
        .drop("__rel_old", "__rel_new")
    )


def er_build_index(
    resolved: DataFrame,
    table: str,
    id_col: str,
    text_col: str,
    block_key: Column | str,
    entity_col: str = "entity_id",
    n_buckets: int | None = None,
) -> None:
    """Persist an already-resolved corpus (:func:`resolve_entities`
    output) as the standing ER index: one row per (record, block key)
    — ``(id, text, entity, blk)`` — hash-bucketed on the block key, so
    every later :func:`er_incremental` probe joins pre-shuffled corpus
    buckets and a batch pays only its own side of the shuffle. The
    ``block_key`` expression must be reused verbatim on every probe
    and append (it defines the join layout). ``n_buckets=None`` sizes
    the bucket count from the index rows' measured bytes
    (``io._sized_buckets``: at least one per core, at most 32; the
    rows out of the checkpointed clustering are pinned once for it);
    an explicit count wins. It is recorded as a table property, and
    appends, reblocks and compactions keep it. Written through
    ``io.rewrite_layout``, which commits the contract with the rows; a
    rebuild advances ``skew_epoch`` and clears the skew log (every
    block key re-derives from the new corpus)."""
    from ..sources.io import rewrite_layout

    bk = F.col(block_key) if isinstance(block_key, str) else block_key
    rows = resolved.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.col(entity_col).alias("entity"),
        bk.alias("_blk"),
    )
    if isinstance(rows.schema["_blk"].dataType, ArrayType):
        rows = rows.withColumn("_blk", F.explode("_blk"))
    rewrite_layout(
        resolved.sparkSession, table, rows.filter(F.col("_blk").isNotNull()),
        {"kind": "er", "n_buckets": n_buckets, "bucket_cols": "_blk"},
        rotate_skew=True,
    )


def er_reblock_index(spark, table: str, block_key: Column | str) -> None:
    """Re-derive a standing ER index's blocking from its STORED record
    text — the ER member of the retune family
    (``dedup.minhash_reband_index`` / ``multimodal.hamming_reband_index``)
    and the verb the family's skipped-block health note points to.
    Blocking is a pure function of (record text, key expression), and
    the text rides on every index row, so the index alone suffices:
    one distinct pass over ``(id, text, entity)`` (collapsing
    multi-blocking rows), one key application, one bucketed rewrite
    through the stage-and-swap. Entity labels and the relabel side
    table are untouched — blocking only shapes FUTURE candidate
    generation, so a key upgrade never re-resolves anything.

    The use case is the skipped-block remediation the module docstring
    prescribes: when ``max_block_size`` is skipping a non-discriminative
    block (blank names, mega-stems), switch to a sharper or multi-
    blocking key (array-typed keys explode, exactly as at build time)
    WITHOUT re-scoring the corpus — at 100 TB the index rows are far
    smaller than a full re-resolution.

    ``block_key`` must be expressed over the INDEX's stored column
    ``text`` (e.g. ``F.expr("right(text, 8)")``) — the original
    caller-side column name was renamed at build time. As with build,
    every later probe/append must pass the SAME new key verbatim; the
    key expression itself is not recordable as metadata, so this
    contract stays caller-owned. Rotation bumps ``skew_epoch`` and
    clears the skew log like a rebuild.

    Crash-safe through ``io.rewrite_layout``: the new blocks and the
    rotated contract commit together, so a crash at any step leaves the
    old blocking or the new one, never new blocks under the old
    contract. Re-running the verb with YOUR key converges from either
    (the stored text survives both layouts)."""
    from ..sources.io import read_contract, rewrite_layout

    meta = read_contract(spark, table, "er")
    bk = F.col(block_key) if isinstance(block_key, str) else block_key
    rows = (
        spark.table(table)
        .select("id", "text", "entity")
        .distinct()
        .withColumn("_blk", bk)
    )
    if isinstance(rows.schema["_blk"].dataType, ArrayType):
        rows = rows.withColumn("_blk", F.explode("_blk"))
    rewrite_layout(
        spark, table, rows.filter(F.col("_blk").isNotNull()),
        {**meta, "bucket_cols": "_blk"},
        rotate_skew=True,
    )


def er_incremental(
    spark,
    table: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    block_key: Column | str,
    threshold: float = 0.9,
    max_block_size: int | None = None,
    similarity: Callable[[Column, Column], Column] | None = None,
    append: bool = True,
    algorithm: str = "label",
    max_iter: int = 20,
    auto_compact_relabels: int | None = None,
    log_skew: bool | None = None,
    skew_sink: list | None = None,
) -> DataFrame:
    """Resolve an arriving batch against the standing index without
    re-resolving the corpus: each batch pays its own blocking, one
    bucketed join against the index and a batch-sized clustering. The
    steady-state form of :func:`resolve_entities` for continuous
    mastering.

    Exact contract (property-tested): after any sequence of incremental
    batches, :func:`er_entity_labels` equals a from-scratch
    :func:`resolve_entities` over the full union — including
    TRANSITIVE effects. A batch record similar to members of two
    existing entities MERGES them: the losing entity's relabel is
    recorded in a side table (``<table>__relabel``) rather than
    rewriting the index (bounded per-batch cost; compact with
    :func:`er_compact_index`). This works because clustering runs over
    batch↔batch pairs plus batch↔anchor edges, where an anchor is an
    existing entity label — itself the min id of its cluster — so
    component minima over {batch ids ∪ anchors} equal the full-graph
    minima.

    ``max_block_size`` skips oversized blocks on BOTH sides
    (precision-first, same rationale as :func:`er_candidate_pairs`).
    A capped batch pins its blocked rows and the index's hit slice once
    (``dedup._pin_probe_sides``, the pins of the banded indexes), drops
    hot blocks from both (the exclude rule) and reads those pins for
    the candidate edges, the merge anchors and the skew report, so the
    index is scanned once per batch. An uncapped batch meets the index
    in the edge join.

    ``log_skew`` (default: on when capped) measures the batch's block
    skew (``dedup._bucket_skew_report``; ``n_capped_buckets`` counts
    hit index blocks this batch could not see) and hands the report to
    ``skew_sink`` when given, else to the ``{table}_skew_log``
    companion.

    Returns the batch's ``(id, entity_id)`` assignment. With
    ``append=True`` the batch rows join the index under their assigned
    labels, in the bucket layout the index records, and any merge
    relabels are recorded, so the next batch resolves against
    everything seen so far.

    Relabel-log guard: after an appending batch, the relabel log's size
    is measured; past ``er_index_health``'s threshold a compaction
    recommendation is WARNED, and with ``auto_compact_relabels=N`` set,
    :func:`er_compact_index` runs automatically once the log reaches N
    entries — so the driver-side closure stays metadata-sized no
    matter how bridge-heavy the feed.
    """
    from ..sources.io import append_layout, check_table_meta, write_table

    meta = check_table_meta(spark, table, "er")
    sim_fn = similarity or levenshtein_similarity
    rel = _relabel_closure(spark, table)
    idx = _apply_relabels(spark.table(table), "entity", rel)
    if log_skew is None:
        log_skew = max_block_size is not None

    b = _blocked(batch, id_col, text_col, block_key, None)
    if max_block_size is None and not log_skew:
        idx_hit = idx.join(b.select("_blk").distinct(), "_blk")
    else:
        b, idx_hit = _pin_probe_sides(b, idx, ["_blk"], "id", max_block_size)
        if log_skew:
            _log_skew(spark, table, b, idx_hit, max_block_size, skew_sink)
        b, idx_hit = _cold(b, max_block_size), _cold(idx_hit, max_block_size)
    cross_edges = (
        b.alias("n")
        .join(idx_hit.alias("c"), "_blk")
        .filter(
            F.round(sim_fn(F.col("n._txt"), F.col("c.text")), 6)
            >= threshold
        )
        .select(F.col("n._id").alias("id_a"), F.col("c.entity").alias("id_b"))
        .distinct()
    )
    batch_edges = er_candidate_pairs(
        batch, id_col, text_col, block_key, threshold, max_block_size, similarity
    ).select("id_a", "id_b")
    labels = connected_components(
        batch_edges.unionByName(cross_edges),
        max_iter=max_iter,
        algorithm=algorithm,
    )
    assigned = (
        batch.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", F.col("id")).alias("entity_id"),
        )
    )
    if append:
        # anchors whose component label changed = entity merges; record
        # (old -> new) instead of rewriting the losing entity's rows
        anchors = cross_edges.select(F.col("id_b").alias("id")).distinct()
        relabels = (
            anchors.join(labels, "id")
            .filter(F.col("component") != F.col("id"))
            .select(
                F.col("id").alias("old_id"),
                F.col("component").alias("new_id"),
            )
        )
        new_rel = [(r.old_id, r.new_id) for r in relabels.collect()]
        bk = F.col(block_key) if isinstance(block_key, str) else block_key
        rows = batch.join(
            assigned.withColumnRenamed(id_col, "__k"),
            F.col(id_col) == F.col("__k"),
        ).select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("text"),
            F.col("entity_id").alias("entity"),
            bk.alias("_blk"),
        )
        if isinstance(rows.schema["_blk"].dataType, ArrayType):
            rows = rows.withColumn("_blk", F.explode("_blk"))
        append_layout(rows.filter(F.col("_blk").isNotNull()), table, meta)
        if new_rel:
            rel_df = spark.createDataFrame(new_rel, "old_id bigint, new_id bigint")
            write_table(rel_df, _relabel_tbl(table), mode="append")
            health = er_index_health(spark, table)
            if (
                auto_compact_relabels is not None
                and health["n_relabel_entries"] >= auto_compact_relabels
            ):
                er_compact_index(spark, table)
            elif health["compact_recommended"]:
                warnings.warn(
                    f"ER relabel log for {table!r} has "
                    f"{health['n_relabel_entries']} entries: run "
                    "er_compact_index() to keep the driver-side closure "
                    "metadata-sized (or pass auto_compact_relabels=)",
                    stacklevel=2,
                )
    return assigned


def er_entity_labels(spark, table: str) -> DataFrame:
    """Current (id, entity_id) state of the index — one row per record,
    with merge relabels applied. Equals a from-scratch
    :func:`resolve_entities` over everything ingested so far (the
    property :func:`er_incremental` maintains)."""
    rel = _relabel_closure(spark, table)
    labels = spark.table(table).select("id", "entity").distinct()
    return _apply_relabels(labels, "entity", rel).select(
        "id", F.col("entity").alias("entity_id")
    )


def er_index_health(
    spark, table: str, max_relabels: int = 10_000
) -> dict:
    """Relabel-log health for a standing ER index:
    ``{n_relabel_entries, hard_cap, compact_recommended}``. The log
    grows one entry per entity-merge event; every probe pays a
    driver-side closure over it, so past ``max_relabels`` the
    recommendation trips and :func:`er_compact_index` should run
    (``_RELABEL_HARD_CAP`` is the refuse-to-collect backstop).
    Constant-time: one count on the metadata-sized side table."""
    t = _relabel_tbl(table)
    n = spark.table(t).count() if spark.catalog.tableExists(t) else 0
    return {
        "n_relabel_entries": n,
        "hard_cap": _RELABEL_HARD_CAP,
        "compact_recommended": n >= max_relabels,
    }


def er_compact_index(spark, table: str) -> None:
    """Fold the relabel side table into the index (rewrite rows under
    their final entity labels) and drop it. Run periodically — probe
    cost doesn't grow with relabels (they apply as a tiny broadcast
    map), but an unbounded relabel log makes the driver-side closure
    collect grow; compaction resets it."""
    from ..sources.io import read_contract, rewrite_layout

    meta = read_contract(spark, table, "er")
    rel = _relabel_closure(spark, table, enforce_cap=False)
    rows = _apply_relabels(spark.table(table), "entity", rel)
    # write_table's stage-and-swap materializes before dropping, so
    # reading the target is safe. The recorded contract is kept as it
    # is: compaction folds labels but does NOT re-derive block keys, so
    # the skew history and its epoch stay valid (no rotation)
    rewrite_layout(spark, table, rows, meta)
    spark.sql(f"DROP TABLE IF EXISTS {_relabel_tbl(table)}")


def golden_records(
    df: DataFrame,
    entity_col: str,
    id_col: str,
    rules: dict[str, tuple[str, str]],
    count_col: str = "n_members",
) -> DataFrame:
    """One survived row per entity: ``count_col`` membership count plus
    one output column per ``rules`` entry ``out_col: (src_col, how)``.

    ``how``:
    - ``"min"`` / ``"max"`` — extremum of the attribute;
    - ``"earliest"`` — the value carried by the cluster's min-``id_col``
      row (``F.min_by`` — the deterministic "first system of record"
      rule; ids are unique so there are no ties);
    - ``"mode"`` — most frequent non-null value, ties broken by value
      ascending (deterministic, cross-engine reproducible).

    Scale: min/max/earliest fold into ONE partial-agg shuffle on
    ``entity_col``. Each ``mode`` rule costs one extra
    (entity, value)-grained aggregation plus an entity-keyed window —
    group-cardinality-sized, joined back broadcast-style by AQE.
    """
    aggs = [F.count("*").alias(count_col)]
    mode_rules: list[tuple[str, str]] = []
    for out, (src, how) in rules.items():
        if how == "min":
            aggs.append(F.min(src).alias(out))
        elif how == "max":
            aggs.append(F.max(src).alias(out))
        elif how == "earliest":
            aggs.append(F.min_by(src, id_col).alias(out))
        elif how == "mode":
            mode_rules.append((out, src))
        else:
            raise ValueError(
                f"unknown survivorship rule {how!r} for {out!r} "
                "(min|max|earliest|mode)"
            )
    out_df = df.groupBy(entity_col).agg(*aggs)
    for out, src in mode_rules:
        w = Window.partitionBy(entity_col).orderBy(
            F.col("_n").desc(), F.col(src).asc()
        )
        m = (
            df.filter(F.col(src).isNotNull())
            .groupBy(entity_col, src)
            .agg(F.count("*").alias("_n"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(entity_col, F.col(src).alias(out))
        )
        out_df = out_df.join(m, entity_col, "left")
    return out_df
