"""One-call operability for every standing-state surface the engine
maintains. Each index/state family already ships its own
build/probe/append/compact/health verbs; a long-running deployment
accumulates MANY of them (minhash + span + IVF indexes, ER indexes,
sessionize state, incremental-distinct state, batch-partitioned
quarantine/span sinks, versioned tables), and the runbook question is
always the same: *which of my standing tables need attention, and do
it*. :func:`health_sweep` answers the first half in one call by
auto-discovering the engine's tables from the catalog (every standing
table records its family as the ``kind`` of its contract,
``io.read_contract``); :func:`run_maintenance` optionally executes the
recommended compactions.

Everything here is CONSTANT-TIME per table relative to data size —
manifest reads, file listings, partition listings, one-row stats reads
— so the sweep is safe to run on a schedule against a lake with
thousands of standing tables. The only data-sized work is inside the
``apply=True`` compactions themselves, each of which is the family's
own documented maintenance verb with its own bounded-cost story.

What each family reports / applies:

========================  ==========================================  ==============================
family (how recognized)    health                                      apply action
========================  ==========================================  ==============================
minhash / span / ivf /     ``io.index_table_health`` (files per        ``io.compact_index_table``
hamming_fp / exact         bucket/cell); ivf adds quantizer drift      (ivf: + split / retrain /
(``kind`` property)        (``*_drift_log`` against the contract's     merge under ``retrain_ivf``)
                           baseline) and cold-cell fragmentation
er (``kind='er'``)         the above + ``entity.er_index_health``      ``entity.er_compact_index``
                           (relabel-log size)
sessionize / frontier      partition count + files per partition       — (state compacts itself as
state (``kind=             (the recorded ``state_partitions``)         sessions fuse; report only)
'session_state'``)
distinct state (``kind=    files per bucket                            ``io.compact_index_table``
'distinct_state'``)                                                    semantics via bucket rewrite
batch sinks (``kind=       live ``_batch_id`` partitions + a pending   ``events.compact_batch_
'batch_sink'``)            crashed-fold manifest                       partitions`` (+ fold resume)
versioned tables           ``VersionedTable.health`` (manifest creep)  ``VersionedTable.compact``
(explicit ``roots``)
========================  ==========================================  ==============================

Versioned tables live at filesystem roots, not in the catalog, so they
are passed explicitly; everything else is discovered.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# batch sinks: recommend folding once this many live micro-batch
# partitions accrete (coarse — one fold per sweep keeps it bounded)
MAX_LIVE_BATCH_PARTITIONS = 16
MAX_FILES_PER_BUCKET = 8.0
# IVF drift shape: drift counts as LOCALIZED (hot-cell split fixes it)
# when EVERY drift-flagged append crammed at least this fraction of its
# rows into its single hottest cell — the signature of an
# out-of-distribution blob binning whole to ONE nearest old cell, the
# case a partition-scoped split provably fixes. Deliberately strict:
# a blob straddling a Voronoi boundary splits ~60/40 across two cells
# and a split of just the hotter cell leaves the other shard stranded
# (recall stays degraded) — anything short of near-total concentration
# goes to the always-correct full retrain.
SPLIT_TOP_CELL_FRACTION = 0.9
# split budget: hot-cell splits may grow the centroid matrix to at most
# this multiple of base_n_clusters (the k of the last full fit) before
# run_maintenance escalates to a full retrain at the base k
IVF_SPLIT_BUDGET_FACTOR = 4.0
# IVF fragmentation: a cell holding less than this fraction of the
# MEAN cell size (total/k — relative to the mean so the bar scales
# with k: a fraction-of-total bar would flag every cell of a healthy
# large-k index), or an empty matrix slot, is a SLIVER — the aftermath
# of deletes, data aging out, or a retrain-then-drift cycle. Slivers
# cost at scale (every probe's argmin and every broadcast carries the
# full matrix; sliver partition directories waste listing + min-file
# overhead), and the bounded fix is ivf_merge_cold_cells. Health flags
# ``merge_recommended`` at this bar; run_maintenance applies the merge
# at the same default (``ivf_merge_fraction``, converted to the verb's
# fraction-of-total by dividing by the current k), so a flag always
# clears when the verb runs.
IVF_MERGE_COLD_FRACTION = 0.1


# the table kinds the sweep maintains; sketches and PQ codebooks
# record a kind too but have nothing to maintain
_FAMILIES = (
    "minhash", "span", "ivf", "er", "hamming_fp", "exact", "session_state",
    "distinct_state", "batch_sink",
)


def classify_table(spark: SparkSession, table: str) -> str | None:
    """The standing-state family of a catalog table — the ``kind`` its
    contract records — or None for tables this engine doesn't maintain
    (user data, sketches). Constant-time: one SHOW TBLPROPERTIES."""
    from .sources.io import recorded_kind

    kind = recorded_kind(spark, table)
    return kind if kind in _FAMILIES else None


def _skew_log_health(spark: SparkSession, table: str, rep: dict) -> None:
    """Fold the ``{table}_skew_log`` companion into a health report —
    shared by the three capped standing-index families (minhash,
    hamming_fp, er; all three log the SAME schema, with "bucket"
    meaning LSH bucket, fingerprint band-val, or ER block).
    Per-probe skew reports persist via the family's
    ``*_incremental``/stream path when a probe cap is set, as IVF
    appends persist drift reports. ``cap_truncating``: some
    logged probe hit an INDEX bucket over the cap, OR carried a hot
    BATCH bucket the within-batch path dropped
    (``n_capped_batch_buckets`` — the append=False steady state never
    grows index buckets, so the index-side count alone would miss
    active truncation). MinHash star-caps (per-member recall traded
    for a representative pair); Hamming EXCLUDES the bucket; ER SKIPS
    the block (precision-first) — either way recall was silently
    traded, the loss this flag surfaces. Constant-time: the log is
    one row per probe batch. No-op when no log exists."""
    if not spark.catalog.tableExists(f"{table}_skew_log"):
        return
    from pyspark.sql import functions as F

    agg = spark.table(f"{table}_skew_log").agg(
        F.count("*").alias("n_probes_logged"),
        F.max("max_bucket_rows").alias("max_bucket_rows"),
        F.max("sum_sq_bucket_rows").alias("max_sum_sq_bucket_rows"),
        F.max(
            (
                (F.col("n_capped_buckets") > 0)
                | (F.col("n_capped_batch_buckets") > 0)
            ).cast("int")
        ).alias("any_capped"),
    ).first()
    rep["n_probes_logged"] = agg["n_probes_logged"]
    rep["max_bucket_rows"] = agg["max_bucket_rows"]
    rep["max_sum_sq_bucket_rows"] = agg["max_sum_sq_bucket_rows"]
    rep["cap_truncating"] = bool(agg["any_capped"])


def _rewrite_distinct_state(spark: SparkSession, table: str) -> None:
    """The distinct-state compaction: the same layout rewrite as
    ``io.compact_index_table``, bucketed on every column by the
    recorded ``state_buckets`` (the tuple IS the key)."""
    from .sources.io import read_contract, rewrite_layout

    rows = spark.table(table).distinct().localCheckpoint(eager=True)
    rewrite_layout(spark, table, rows, read_contract(spark, table, "distinct_state"))


def table_health(spark: SparkSession, table: str, family: str) -> dict:
    """One table's health report (family from :func:`classify_table`)."""
    from .sources.io import index_table_health, read_contract
    from .streaming.events import _batch_partition_ids, _pending_fold

    if family in ("minhash", "span", "ivf", "hamming_fp", "exact"):
        rep = index_table_health(spark, table, MAX_FILES_PER_BUCKET)
        if family in ("minhash", "hamming_fp"):
            _skew_log_health(spark, table, rep)
        if family == "ivf":
            meta = read_contract(spark, table, "ivf")
            # the quantizer baseline the last rotation recorded in the
            # contract; per-append drift ratios are measured (and
            # reported) by ivf_append_index itself
            rep["build_stats"] = {
                k: meta[k] for k in ("mean_dist", "p95_dist", "n_vectors")
            }
            # per-append drift reports persist in the {table}_drift_log
            # companion (ivf_append_index log_drift=True — the default,
            # so streamed ingests leave a trail); the flag resets when
            # a rotation drops the log. Constant-time: the log is one
            # row per append, aggregated, never a data scan.
            rep["retrain_recommended"] = False
            if spark.catalog.tableExists(f"{table}_drift_log"):
                from pyspark.sql import functions as F

                flagged = F.col("rebuild_recommended")
                top_frac = F.col("batch_top_cell_fraction")
                # per-append cell skew distinguishes localized from
                # global drift; a flagged append whose skew was not
                # measured can only say "retrain" (the always-correct
                # remediation)
                agg = spark.table(f"{table}_drift_log").agg(
                    F.count("*").alias("n_appends"),
                    F.max("drift_ratio").alias("max_drift_ratio"),
                    F.max(flagged.cast("int")).alias("any_flagged"),
                    F.min(F.when(flagged, top_frac)).alias(
                        "min_flagged_top_frac"
                    ),
                    F.sum(
                        F.when(flagged & top_frac.isNull(), 1).otherwise(0)
                    ).alias("n_flagged_unmeasured"),
                ).first()
                rep["n_appends_logged"] = agg["n_appends"]
                rep["max_drift_ratio"] = agg["max_drift_ratio"]
                rep["retrain_recommended"] = bool(agg["any_flagged"])
                if rep["retrain_recommended"]:
                    frac = agg["min_flagged_top_frac"]
                    localized = bool(
                        not agg["n_flagged_unmeasured"]
                        and frac is not None
                        and frac >= SPLIT_TOP_CELL_FRACTION
                    )
                    rep["drift_localized"] = localized
                    rep["remediation"] = "split" if localized else "retrain"
            # fragmentation: per-cell row counts over the FULL matrix
            # range (an empty matrix slot is maximally cold). The
            # groupBy is on the PARTITION column with a bare count —
            # a zero-data-column scan whose cost is proportional to
            # the file count (parquet row counts come from footers),
            # the same order as the file listing above, never a data
            # read.
            from pyspark.sql import functions as F

            rep["merge_recommended"] = False
            k = meta["n_clusters"]
            if k > 1:
                counts = {
                    r["_cell"]: r["n"]
                    for r in spark.table(table)
                    .groupBy("_cell")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                total = sum(counts.values())
                n_cold = sum(
                    1
                    for c in range(k)
                    if counts.get(c, 0)
                    < IVF_MERGE_COLD_FRACTION * total / k
                )
                rep["n_cold_cells"] = n_cold
                # a merge must leave a survivor — all-cold (an empty
                # index) is not fragmentation, it's absence of data
                rep["merge_recommended"] = 0 < n_cold < k
        return rep
    if family == "er":
        from .operators.entity import er_index_health

        rep = index_table_health(spark, table, MAX_FILES_PER_BUCKET)
        # save BEFORE update(): er_index_health carries its own
        # compact_recommended, and update() would clobber the index
        # file-creep verdict, turning the OR into er-OR-er
        files_flag = rep["compact_recommended"]
        er = er_index_health(spark, table)
        rep.update(er)
        rep["compact_recommended"] = files_flag or er["compact_recommended"]
        _skew_log_health(spark, table, rep)
        return rep
    if family == "session_state":
        n_parts = read_contract(spark, table, "session_state")["state_partitions"]
        n_files = len(spark.table(table).inputFiles())
        return {
            "state_partitions": n_parts,
            "n_files": n_files,
            "files_per_partition": round(n_files / n_parts, 2),
            # sessionize state rewrites touched partitions whole each
            # batch, so files never accrete per partition — flag only
            # the pathological case
            "compact_recommended": n_files / n_parts > MAX_FILES_PER_BUCKET,
        }
    if family == "distinct_state":
        # an unbucketed state (0 buckets) counts as one bucket
        n_buckets = max(1, read_contract(spark, table, "distinct_state")["state_buckets"])
        n_files = len(spark.table(table).inputFiles())
        return {
            "n_buckets": n_buckets,
            "n_files": n_files,
            "files_per_bucket": round(n_files / n_buckets, 2),
            "compact_recommended": n_files / n_buckets > MAX_FILES_PER_BUCKET,
        }
    if family == "batch_sink":
        live = _batch_partition_ids(spark, table)
        pending = _pending_fold(spark, table)
        return {
            "live_batch_partitions": len(live),
            "pending_fold": (
                {"max_fold": pending[0], "archive_id": pending[1], "phase": pending[2]}
                if pending
                else None
            ),
            "compact_recommended": (
                pending is not None or len(live) > MAX_LIVE_BATCH_PARTITIONS
            ),
        }
    raise ValueError(f"unknown standing-state family {family!r}")


def health_sweep(
    spark: SparkSession,
    versioned_roots: tuple[str, ...] = (),
    database: str | None = None,
    tables: tuple[str, ...] | None = None,
) -> dict:
    """Health of EVERY standing table the engine maintains, one call:
    ``{"tables": {name: {"family", **health}}, "versioned": {root:
    health}, "attention": [names whose report recommends action]}``.
    Discovery walks the catalog (``database`` or the current one) and
    classifies by recorded metadata — user tables are skipped, never
    scanned. Constant-time per table (see module docstring). A table
    whose contract ``io.read_contract`` refuses is reported as
    ``{"family", "contract_error"}`` and needs attention; the sweep
    goes on with the other tables.
    ``tables`` scopes the sweep to the named tables only (bare or
    db-qualified) — the "maintain just this index" form, and how a
    caller sharing a warehouse avoids sweeping (let alone compacting)
    tables it does not own."""
    reports: dict[str, dict] = {}
    attention: list[str] = []
    # qualify with the listed table's own database: unqualified names
    # would resolve against the CURRENT database, so sweeping (let
    # alone compacting) database="analytics" from "default" would
    # read/rewrite same-named tables in the wrong database. Temporary
    # views (tableType TEMPORARY, not VIEW) are excluded too — SHOW
    # TBLPROPERTIES on a temp view raises and would abort the sweep.
    names = [
        f"{t.namespace[-1]}.{t.name}" if t.namespace else t.name
        for t in spark.catalog.listTables(database)
        if t.tableType not in ("VIEW", "TEMPORARY") and not t.isTemporary
    ]
    if tables is not None:
        want = set(tables)
        names = [
            n for n in names if n in want or n.split(".", 1)[-1] in want
        ]
    for name in sorted(names):
        if name.endswith("__stage"):
            # a write_table stage-and-swap that never finished. Two
            # states: the base table DANGLES (crash between the drop
            # and the rename — the staged data is unreachable until
            # the rename completes; heal_interrupted_swap is strictly
            # recovery) or the base still EXISTS (crash between the
            # stage commit and the drop — the overwrite never returned
            # to its caller, so the base stays authoritative and the
            # stage is reclaimable space). Flag both; run_maintenance
            # applies the matching verb. write_table itself self-heals
            # the dangling state on the next overwrite of the same
            # name — the sweep covers tables never rewritten again.
            base = name[: -len("__stage")]
            # existence checked against the CATALOG, not the (possibly
            # `tables`-scoped) listing — a filtered-out base table must
            # still veto the rename
            base_exists = spark.catalog.tableExists(base)
            reports[name] = {
                "family": "interrupted_swap",
                "base_table": base,
                "base_exists": base_exists,
                "action": (
                    "drop_stale_stage" if base_exists
                    else "heal_interrupted_swap"
                ),
            }
            attention.append(name)
            continue
        family = classify_table(spark, name)
        if family is None:
            continue
        try:
            rep = {"family": family, **table_health(spark, name, family)}
        except ValueError as e:
            # a contract io.read_contract refuses is this table's
            # finding, not the end of the sweep over every other table
            rep = {"family": family, "contract_error": str(e)}
        reports[name] = rep
        if (
            rep.get("compact_recommended")
            or rep.get("retrain_recommended")
            or rep.get("merge_recommended")
            or rep.get("cap_truncating")
            or "contract_error" in rep
        ):
            attention.append(name)
    versioned: dict[str, dict] = {}
    for root in versioned_roots:
        from .sources.versioned import VersionedTable

        h = VersionedTable(spark, root).health()
        versioned[root] = h
        if h.get("compact_recommended"):
            attention.append(root)
    return {"tables": reports, "versioned": versioned, "attention": attention}


def _remediate_ivf(
    spark: SparkSession,
    name: str,
    rep: dict,
    split_budget_factor: float,
    split_rounds: int,
    split_fraction: float,
) -> str:
    """Pick and run the drift remediation the log's SHAPE calls for:

    - localized drift (``rep["remediation"] == "split"`` — every
      flagged append crammed into one hot cell) → hot-cell split: a
      2-means fit per hot cell instead of a full refit, no other row
      changes cell, PQ codes ride through untouched — bounded by the
      split budget (``split_budget_factor × base_n_clusters`` cells);
    - global drift, an exhausted split budget, or a localized flag
      with no currently-hot cell (the split is a no-op there and would
      never clear the flag) → full :func:`ivf_retrain_index` at the
      base k, resolving a PQ index's persisted codebook companion.

    Returns the action string for the ``applied`` report."""
    from .operators.similarity import (
        ivf_retrain_index,
        ivf_split_hot_cells,
        pq_load_codebook,
    )
    from .sources.io import read_contract

    meta = read_contract(spark, name, "ivf")
    base_k = meta["base_n_clusters"]
    cur_k = meta["n_clusters"]
    budget = max(base_k + 1, int(split_budget_factor * base_k))
    if rep.get("remediation") == "split" and cur_k < budget:
        new_cents = ivf_split_hot_cells(
            spark,
            name,
            max_cell_fraction=split_fraction,
            rounds=split_rounds,
            max_cells=budget,
        )
        if len(new_cents) > cur_k:
            return "ivf_split_hot_cells"
        # nothing actually split (no currently-hot cell, or only
        # degenerate ones): the flag would never clear — escalate
    if meta["pq"]:
        try:
            cb = pq_load_codebook(spark, name)
        except Exception:
            return (
                f"retrain_skipped (PQ index has no readable {name}_pq_codebook "
                "companion; call ivf_retrain_index with the codebook directly)"
            )
        ivf_retrain_index(spark, name, n_clusters=base_k, pq_codebook=cb)
    else:
        ivf_retrain_index(spark, name, n_clusters=base_k)
    return "ivf_retrain_index"


def _apply_merge(
    spark: SparkSession, name: str, ivf_merge_fraction: float
) -> str:
    """Run ``ivf_merge_cold_cells`` for the sweep; return the act
    string. ``ivf_merge_fraction`` is relative to the
    MEAN cell size (like the health bar); the verb takes a fraction of
    TOTAL — divide by the current k. A merge acted exactly when k
    shrank."""
    from .operators.similarity import ivf_merge_cold_cells
    from .sources.io import read_contract

    before = read_contract(spark, name, "ivf")["n_clusters"]
    merged = ivf_merge_cold_cells(
        spark, name, min_cell_fraction=ivf_merge_fraction / before
    )
    if len(merged) < before:
        return "ivf_merge_cold_cells"
    return "merge_noop (no cell below ivf_merge_fraction)"


def run_maintenance(
    spark: SparkSession,
    versioned_roots: tuple[str, ...] = (),
    database: str | None = None,
    apply: bool = False,
    keep_last: int = 1,
    retrain_ivf: bool = False,
    ivf_split_budget_factor: float = IVF_SPLIT_BUDGET_FACTOR,
    ivf_split_rounds: int = 3,
    ivf_split_fraction: float = 0.25,
    ivf_merge_fraction: float = IVF_MERGE_COLD_FRACTION,
    tables: tuple[str, ...] | None = None,
) -> dict:
    """The runbook: :func:`health_sweep`, then (``apply=True``) execute
    each flagged table's own maintenance verb — index compaction
    (minhash/span/ivf/er), batch-sink folding (including resuming a
    crashed fold from its manifest), versioned-table compaction. Each
    action is the family's documented, bounded-cost operation.

    QUIESCENCE CONTRACT: apply-mode assumes the swept tables have no
    concurrent writers — streaming OR batch. Every verb rewrites or
    drops state (compaction stage-swaps the table, remediations rotate
    the matrix, ``drop_stale_stage`` reclaims a ``__stage`` a racing
    ``write_table`` may be about to rename); running them against a
    live writer can lose that writer's in-flight work, exactly as
    compacting under a concurrent append always could. Sweep-only mode
    (``apply=False``) is read-only and safe anytime. Returns the sweep
    plus
    ``{"applied": {name: "action[; action]"}}`` (a table flagged for
    both drift and file creep gets BOTH verbs).

    IVF quantizer drift: flagged tables (``retrain_recommended`` from
    the persisted per-append drift log) are remediated only when
    ``retrain_ivf=True`` — both remediations are data-sized rewrites
    that ROTATE the centroid matrix (probes holding the old matrix are
    rejected until they pick it back up), so they stay opt-in rather
    than riding the generic ``apply``. WHICH remediation runs is chosen
    from the drift log's cell-skew shape (:func:`_remediate_ivf`):
    localized drift → ``ivf_split_hot_cells`` (partition-scoped, PQ
    codes ride through), global drift or an exhausted split budget
    (``ivf_split_budget_factor × base_n_clusters`` cells — the bound
    that keeps k finite under long-lived drifting ingest) → full
    ``ivf_retrain_index`` at the base k, resolving a PQ index's
    persisted codebook companion; a PQ index whose companion cannot be
    read is skipped with a note.

    IVF fragmentation: a table whose health reports
    ``merge_recommended`` (sliver/empty cells at the
    ``IVF_MERGE_COLD_FRACTION`` bar) gets ``ivf_merge_cold_cells`` at
    ``ivf_merge_fraction`` under the same ``retrain_ivf`` opt-in — the
    merge rotates the centroid matrix exactly like the drift
    remediations. One rotation per sweep: a retrain subsumes the merge
    (it reassigns every row at the base k), and a split invalidates
    the cell sizes the report measured, so the next sweep re-measures.

    A full retrain subsumes compaction. After a split or merge the
    compaction decision is RE-MEASURED (the pre-remediation ratio is
    stale) and the compactor runs when the fresh ratio warrants it."""
    sweep = health_sweep(spark, versioned_roots, database, tables=tables)
    applied: dict[str, str] = {}
    if apply:
        for name in sweep["attention"]:
            if name in sweep["versioned"]:
                from .sources.versioned import VersionedTable

                VersionedTable(spark, name).compact()
                applied[name] = "versioned_compact"
                continue
            rep = sweep["tables"][name]
            family = rep["family"]
            if "contract_error" in rep:
                # no verb runs on a table whose contract is refused;
                # its create path has to rebuild it
                continue
            if family == "interrupted_swap":
                # a write_table stage-and-swap that never finished:
                # dangling base -> complete the rename (strictly
                # recovery: the staged data is unreachable otherwise);
                # base still present -> the crashed overwrite never
                # returned to its caller, so the base stays
                # authoritative and the stage is reclaimed
                if rep["base_exists"]:
                    spark.sql(f"DROP TABLE IF EXISTS {name}")
                    applied[name] = "drop_stale_stage"
                else:
                    from .sources.io import heal_interrupted_swap

                    heal_interrupted_swap(spark, rep["base_table"])
                    applied[name] = "heal_interrupted_swap"
                continue
            acts: list[str] = []
            retrained = False
            if family == "ivf" and rep.get("retrain_recommended"):
                if not retrain_ivf:
                    acts.append("retrain_skipped (pass retrain_ivf=True)")
                else:
                    act = _remediate_ivf(
                        spark,
                        name,
                        rep,
                        ivf_split_budget_factor,
                        ivf_split_rounds,
                        ivf_split_fraction,
                    )
                    acts.append(act)
                    retrained = act == "ivf_retrain_index"
            drift_acted = any(
                a in ("ivf_split_hot_cells", "ivf_retrain_index")
                for a in acts
            )
            if (
                family == "ivf"
                and rep.get("merge_recommended")
                and not drift_acted
            ):
                # fragmentation (sliver/empty cells): fold the cold
                # cells under the SAME matrix-rotation opt-in as the
                # drift remediations — the merge rotates the contract
                # too. ONE rotation per sweep: a retrain subsumes the
                # merge (it reassigns every row at the base k), and a
                # split just invalidated the pre-remediation cell
                # sizes this report measured — the NEXT sweep
                # re-measures and merges if still fragmented.
                if not retrain_ivf:
                    acts.append("merge_skipped (pass retrain_ivf=True)")
                else:
                    acts.append(_apply_merge(spark, name, ivf_merge_fraction))
            if family == "minhash" and rep.get("cap_truncating"):
                # no safe AUTOMATIC verb: the pairs the probe cap
                # already star-capped are gone, and retuning trades
                # recall vs probe cost on the banding S-curve — a
                # policy call. The bounded mechanism exists
                # (dedup.minhash_reband_index re-bands from stored
                # signatures, no corpus re-shingle); the note surfaces
                # it without choosing for the operator.
                acts.append(
                    "bucket_skew_noted (probe cap is star-capping hot "
                    "buckets; minhash_reband_index retunes banding "
                    "from the stored signatures, or raise the cap / "
                    "filter boilerplate upstream)"
                )
            if family == "hamming_fp" and rep.get("cap_truncating"):
                # same policy stance as the minhash note: the flood
                # cap EXCLUDES hot (band, val) buckets outright, and
                # retuning band_bits trades pigeonhole recall vs
                # bucket heat — a policy call. The bounded mechanism
                # (multimodal.hamming_reband_index, from stored
                # fingerprints) is named, never auto-applied.
                acts.append(
                    "bucket_skew_noted (probe cap is excluding hot "
                    "fingerprint buckets; hamming_reband_index "
                    "retunes band width from the stored fingerprints, "
                    "or raise the cap / quarantine boilerplate media "
                    "upstream)"
                )
            if family in ("minhash", "span", "ivf", "hamming_fp", "exact"):
                # a full retrain just rewrote every file — compaction is
                # subsumed; after a split/merge re-measure: the
                # pre-remediation file/bucket ratio is stale in both
                # directions (the rewrite's per-cell files may now
                # warrant the compaction the old report skipped, and
                # vice versa)
                compact_flag = rep.get("compact_recommended")
                if any(
                    a in ("ivf_split_hot_cells", "ivf_merge_cold_cells")
                    for a in acts
                ):
                    from .sources.io import index_table_health

                    compact_flag = index_table_health(
                        spark, name, MAX_FILES_PER_BUCKET
                    )["compact_recommended"]
                if compact_flag and not retrained:
                    from .sources.io import compact_index_table

                    compact_index_table(spark, name)
                    acts.append("compact_index_table")
            elif family == "distinct_state":
                _rewrite_distinct_state(spark, name)
                applied[name] = "distinct_state_rewrite"
            elif family == "er":
                # compose: a table can be flagged for relabel/file
                # creep (compaction verb) AND for block skew (note
                # only — a skew flag alone must not trigger a
                # pointless compaction)
                if rep.get("compact_recommended"):
                    from .operators.entity import er_compact_index

                    er_compact_index(spark, name)
                    acts.append("er_compact_index")
                if rep.get("cap_truncating"):
                    # same policy stance as the minhash/hamming notes:
                    # skipped blocks mean the blocking key is
                    # non-discriminative there; the bounded mechanism
                    # (entity.er_reblock_index, from the stored record
                    # text) is named, never auto-applied — key choice
                    # is a precision/recall policy call.
                    acts.append(
                        "block_skew_noted (cap is skipping oversized "
                        "blocks; er_reblock_index retunes the blocking "
                        "key from the stored text — use a sharper or "
                        "multi-blocking key)"
                    )
            elif family == "batch_sink":
                from .streaming.events import compact_batch_partitions

                compact_batch_partitions(spark, name, keep_last=keep_last)
                applied[name] = "compact_batch_partitions"
            # session_state: no action (self-compacting), report only
            if acts:
                applied[name] = "; ".join(acts)
    sweep["applied"] = applied
    return sweep
