"""The one-call maintenance façade: auto-discovery of every standing
table family from recorded metadata, constant-time health reports, and
apply-mode execution of each family's own compaction verb."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

TEXT = (
    "the quick brown fox jumps over the lazy dog and keeps on running "
    "through the quiet field past the old stone wall toward the river"
)


@pytest.fixture()
def standing_tables(spark, tmp_path):
    """One standing table per family (minhash + span indexes, a batch
    sink, distinct state, sessionize state, a versioned root)."""
    import datetime as dt

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        span_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_index_build,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.versioned import (
        VersionedTable,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _land_batch_partition,
        _sessionize_merge_batch,
    )

    names = {
        "minhash": "maint_mh_idx",
        "span": "maint_span_idx",
        "sink": "maint_batch_sink",
        "session": "maint_sess_state",
        "hamming": "maint_fp_idx",
        "exact": "maint_exact_seen",
    }
    for t in names.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = spark.createDataFrame(
        [(i, TEXT + f" tail {i}") for i in range(6)], "doc_id bigint, text string"
    )
    minhash_build_index(docs, names["minhash"])
    span_build_index(docs, names["span"])
    hamming_index_build(
        spark.createDataFrame(
            [(i, i * 257) for i in range(6)], "doc_id long, phash long"
        ),
        names["hamming"],
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        exact_build_index,
        exact_incremental_dedup,
    )

    exact_build_index(
        docs.select(F.concat(F.lit("http://m/"), "doc_id").alias("url")),
        names["exact"],
        ["url"],
    )
    # a few appends so the seen-set has the small-file creep the
    # sweep measures
    for i in (10, 20):
        exact_incremental_dedup(
            spark, names["exact"],
            spark.createDataFrame(
                [(i, f"http://m/{i}")], "doc_id long, url string"
            ),
            ["url"], order_col="doc_id",
        )
    for bid in range(3):
        _land_batch_partition(
            spark.createDataFrame([(bid, bid * 10)], "event_id long, v long"),
            names["sink"],
            bid,
        )
    _sessionize_merge_batch(
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 1))],
            "user_id long, ts timestamp",
        ),
        0,
        names["session"],
        "user_id",
        "ts",
        1800,
        state_partitions=4,
    )
    root = str(tmp_path / "maint_vt")
    vt = VersionedTable(spark, root)
    # partitioned: merges are partition-scoped COW, whose carried
    # directories/exclusions are the creep health measures
    vt.write(
        spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "k int, p int, v string"),
        partition_by=["p"],
    )
    for i in range(3):
        vt.merge(
            spark.createDataFrame([(1, 0, f"v{i}")], "k int, p int, v string"),
            ["k"],
        )
    yield names, root
    for t in names.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow
def test_health_sweep_discovers_every_family(spark, standing_tables):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
    )

    names, root = standing_tables
    sweep = health_sweep(spark, versioned_roots=(root,))
    # report keys are database-QUALIFIED so apply-mode actions can
    # never resolve against the wrong current database
    q = {k: f"default.{v}" for k, v in names.items()}
    fam = {t: r["family"] for t, r in sweep["tables"].items() if t in q.values()}
    assert fam == {
        q["minhash"]: "minhash",
        q["span"]: "span",
        q["sink"]: "batch_sink",
        q["session"]: "session_state",
        q["hamming"]: "hamming_fp",
        q["exact"]: "exact",
    }
    # every report is the family's own health shape
    assert "files_per_bucket" in sweep["tables"][q["minhash"]]
    assert "files_per_bucket" in sweep["tables"][q["hamming"]]
    assert "files_per_bucket" in sweep["tables"][q["exact"]]
    assert "live_batch_partitions" in sweep["tables"][q["sink"]]
    assert sweep["tables"][q["sink"]]["live_batch_partitions"] == 3
    assert "files_per_partition" in sweep["tables"][q["session"]]
    # a temp view in the session must neither crash nor enter the sweep
    spark.range(3).createOrReplaceTempView("maint_tmp_view")
    sweep2 = health_sweep(spark, versioned_roots=(root,))
    assert all("maint_tmp_view" not in k for k in sweep2["tables"])
    assert root in sweep["versioned"]
    assert "merges_since_compact" in sweep["versioned"][root]


@pytest.mark.slow
def test_run_maintenance_applies_flagged_actions(spark, standing_tables):
    """apply=True executes each flagged table's own verb: a crashed
    batch-sink fold resumes + folds, and a merge-heavy versioned table
    compacts — while healthy tables are left untouched."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.versioned import (
        VersionedTable,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _land_batch_partition,
        _set_pending_fold,
    )

    names, root = standing_tables
    # trip the sink: a pending (crashed) fold manifest forces attention
    _set_pending_fold(spark, names["sink"], max_fold=1, archive_id=-1, phase="staged")
    # trip the versioned table: merge until past the creep threshold
    vt = VersionedTable(spark, root)
    for i in range(8):
        vt.merge(
            spark.createDataFrame([(1, 0, f"m{i}")], "k int, p int, v string"),
            ["k"],
        )
    assert vt.health()["compact_recommended"]

    res = run_maintenance(spark, versioned_roots=(root,), apply=True)
    assert res["applied"].get(f'default.{names["sink"]}') == "compact_batch_partitions"
    assert res["applied"].get(root) == "versioned_compact"
    # the fold resumed + completed: manifests clear, data intact
    rows = sorted(r.v for r in spark.table(names["sink"]).collect())
    assert rows == [0, 10, 20]
    assert not VersionedTable(spark, root).health()["compact_recommended"]
    # the healthy indexes were not rewritten
    assert f'default.{names["minhash"]}' not in res["applied"]
    assert f'default.{names["session"]}' not in res["applied"]
    # sweep after: nothing left flagged among our tables
    after = run_maintenance(spark, versioned_roots=(root,))
    flagged = set(after["attention"])
    ours = {f"default.{v}" for v in names.values()} | {root}
    assert not flagged & ours


@pytest.mark.slow
def test_ivf_drift_retrain_restores_recall(spark):
    """The full quantizer-drift runbook: a drifted hot mode straddling
    an old-cell Voronoi boundary splits its neighbors across two cells
    (recall@10 at n_probe=1 degrades), the append's persisted drift log
    makes health_sweep flag retrain_recommended WITHOUT scanning data,
    run_maintenance(retrain_ivf=True) rebuilds the quantizer off the
    standing table itself, and recall is restored — with stale centroid
    matrices rejected and the new matrix recoverable from the persisted
    companion."""
    import math
    import random

    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_append_index,
        ivf_build_index,
        ivf_load_centroids,
        ivf_query_index,
    )

    t = "maint_ivf_drift"
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")

    rng = random.Random(7)
    rows, vid = [], 0
    for blob in (0.0, 90.0, 180.0, 270.0):
        for _ in range(25):
            a = math.radians(blob + rng.uniform(-2, 2))
            rows.append((vid, [math.cos(a), math.sin(a)]))
            vid += 1
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents0 = ivf_build_index(base, t, n_clusters=4, seed=42)

    # drifted hot mode: a tight blob at 45 deg, radius 5 — exactly on
    # the old 0/90-cell boundary, so its points split across two old
    # cells by jitter sign; quantization distance ~4 vs build ~0
    drift_rows = []
    for _ in range(60):
        a = math.radians(45.0 + rng.uniform(-1, 1))
        drift_rows.append((vid, [5 * math.cos(a), 5 * math.sin(a)]))
        vid += 1
    drifted = spark.createDataFrame(
        drift_rows, "vec_id long, embedding array<double>"
    )
    rep = ivf_append_index(drifted, t, cents0)
    assert rep["rebuild_recommended"] and rep["drift_ratio"] > 1.5

    # health flags it from the persisted per-append log (no data scan)
    sweep = health_sweep(spark)
    key = f"default.{t}"
    assert sweep["tables"][key]["retrain_recommended"]
    assert sweep["tables"][key]["max_drift_ratio"] > 1.5
    assert key in sweep["attention"]

    # recall@10 at n_probe=1 for boundary queries vs exact cosine
    # truth. The trained centroids sit NEAR (not exactly at) the blob
    # means, so the 0/90-cell Voronoi boundary is near-but-not-exactly
    # 45 deg — bisect the EMPIRICAL boundary angle from the actual
    # matrix and place the queries there, where their true neighbor
    # sets straddle the two old cells.
    import numpy as np

    C0 = np.asarray(cents0)

    def cell_of(theta):
        p = np.array(
            [5 * math.cos(math.radians(theta)), 5 * math.sin(math.radians(theta))]
        )
        return int(((p - C0) ** 2).sum(1).argmin())

    lo, hi = 44.0, 46.0
    assert cell_of(lo) != cell_of(hi)  # the blob straddles a boundary
    c_lo = cell_of(lo)
    for _ in range(40):
        mid = (lo + hi) / 2
        if cell_of(mid) == c_lo:
            lo = mid
        else:
            hi = mid
    bnd = (lo + hi) / 2
    # keep margin to the blob edges so both sides hold real neighbors
    assert 44.2 < bnd < 45.8, bnd
    qs = spark.createDataFrame(
        [
            (qi, [5 * math.cos(math.radians(bnd + d)),
                  5 * math.sin(math.radians(bnd + d))])
            for qi, d in enumerate((-0.05, 0.0, 0.05))
        ],
        "query_id long, embedding array<double>",
    )
    corpus = spark.table(t).select("vec_id", "embedding")
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(corpus, qs, k=10).collect()
    }

    def recall(cents):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_query_index(
                spark, t, qs, cents, k=10, n_probe=1
            ).collect()
        }
        return len(got & truth) / len(truth)

    r_before = recall(cents0)
    assert r_before < 0.8, r_before

    out = run_maintenance(spark, apply=True, retrain_ivf=True)
    assert out["applied"][key] == "ivf_retrain_index"
    # probes holding the pre-retrain matrix are rejected, not silently
    # probing the wrong cells; they re-sync from the persisted companion
    with pytest.raises(ValueError):
        ivf_query_index(spark, t, qs, cents0, k=10, n_probe=1)
    cents1 = ivf_load_centroids(spark, t)
    r_after = recall(cents1)
    assert r_after >= 0.9, (r_before, r_after)

    # the retrain cleared the drift log: flag reset until new appends
    sweep2 = health_sweep(spark)
    assert not sweep2["tables"][key]["retrain_recommended"]


@pytest.mark.slow
def test_ivf_localized_drift_chooses_split(spark):
    """Drift-shape-aware remediation (round 16): an out-of-distribution
    blob that bins WHOLE into one nearest old cell logs
    batch_top_cell_fraction = 1.0, health classifies the drift as
    localized (remediation="split"), and run_maintenance applies the
    partition-scoped ivf_split_hot_cells instead of a full retrain —
    the drifted region lands in its own cell, n_probe=1 probes at the
    blob return the exact neighbors, and the contract rotation clears
    the flag."""
    import math
    import random

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_append_index,
        ivf_build_index,
        ivf_load_centroids,
        ivf_query_index,
    )

    t = "maint_ivf_local"
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")

    rng = random.Random(11)
    rows, vid = [], 0
    for blob in (0.0, 90.0, 180.0, 270.0):
        for _ in range(25):
            a = math.radians(blob + rng.uniform(-2, 2))
            rows.append((vid, [math.cos(a), math.sin(a)]))
            vid += 1
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents0 = ivf_build_index(base, t, n_clusters=4, seed=42)

    # the blob sits at 10 deg, radius 5 — squarely inside the 0-deg
    # cell's Voronoi region, so every drifted vector bins to ONE cell
    drift_rows = []
    for _ in range(60):
        a = math.radians(10.0 + rng.uniform(-1, 1))
        drift_rows.append((vid, [5 * math.cos(a), 5 * math.sin(a)]))
        vid += 1
    drifted = spark.createDataFrame(
        drift_rows, "vec_id long, embedding array<double>"
    )
    rep = ivf_append_index(drifted, t, cents0)
    assert rep["rebuild_recommended"] and rep["drift_ratio"] > 1.5
    assert rep["batch_top_cell_fraction"] == 1.0
    assert rep["batch_n_cells"] == 1

    key = f"default.{t}"
    sweep = health_sweep(spark)
    assert sweep["tables"][key]["retrain_recommended"]
    assert sweep["tables"][key]["drift_localized"] is True
    assert sweep["tables"][key]["remediation"] == "split"

    out = run_maintenance(spark, apply=True, retrain_ivf=True)
    assert out["applied"][key].startswith("ivf_split_hot_cells")
    cents1 = ivf_load_centroids(spark, t)
    # the sweep's split iterates until no cell is hot: the 85-row hot
    # cell splits 25/60, and the 60-row child (0.375 > 0.25) splits
    # again — so k grows by 2, and no cell exceeds the hot fraction
    assert len(cents1) == 6
    sizes = [
        r["n"]
        for r in spark.table(t).groupBy("_cell").agg(F.count("*").alias("n")).collect()
    ]
    assert max(sizes) <= 0.25 * sum(sizes)
    assert spark.table(t).count() == 160  # every row preserved

    # the drifted region now lives in its own cell: n_probe=1 probes
    # at the blob return the exact cosine top-k
    qs = spark.createDataFrame(
        [(qi, [5 * math.cos(math.radians(10.0 + d)),
               5 * math.sin(math.radians(10.0 + d))])
         for qi, d in enumerate((-0.3, 0.0, 0.3))],
        "query_id long, embedding array<double>",
    )
    corpus = spark.table(t).select("vec_id", "embedding")
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(corpus, qs, k=10).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_query_index(spark, t, qs, cents1, k=10, n_probe=2).collect()
    }
    assert len(got & truth) / len(truth) >= 0.9

    # contract rotation cleared the log: flag reset until new appends
    sweep2 = health_sweep(spark)
    assert not sweep2["tables"][key]["retrain_recommended"]


@pytest.mark.slow
def test_ivf_pq_remediated_through_sweep(spark):
    """A PQ-coded index is remediated THROUGH the sweep with no
    caller-held codebook: localized drift -> hot-cell split (codes
    ride through byte-identically), then global drift -> full retrain
    resolving the persisted {t}_pq_codebook companion. Before round 16
    the sweep skipped PQ indexes entirely."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        pq_train,
    )

    t = "maint_ivf_pq"
    for s in (
        t,
        f"{t}_drift_log",
        f"{t}_centroids",
        f"{t}_pq_codebook",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {s}")

    rng = np.random.default_rng(23)
    rows, vid = [], 0
    for off in (3.0, -3.0):
        for _ in range(30):
            v = rng.normal(0, 0.1, 16)
            v[0] += off
            rows.append((vid, v.tolist()))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(df, m=4, n_codes=16)
    ivf_build_index(df, t, n_clusters=2, seed=42, pq_codebook=cb)
    key = f"default.{t}"

    # localized drift: a far blob along +dim1, nearer the +3 cell —
    # bins whole to one cell; codebook auto-resolved from the companion
    loc_rows = []
    for _ in range(40):
        v = rng.normal(0, 0.1, 16)
        v[0] += 3.0
        v[1] += 30.0
        loc_rows.append((vid, v.tolist()))
        vid += 1
    rep = ivf_append_index(
        spark.createDataFrame(loc_rows, "vec_id long, embedding array<double>"),
        t,
        None,
    )
    assert rep["rebuild_recommended"]
    assert rep["batch_top_cell_fraction"] == 1.0
    assert health_sweep(spark)["tables"][key]["remediation"] == "split"

    out = run_maintenance(spark, apply=True, retrain_ivf=True)
    assert out["applied"][key].startswith("ivf_split_hot_cells")
    tbl = spark.table(t)
    assert tbl.count() == 100
    assert tbl.filter(F.col("pq_code").isNull()).count() == 0  # codes rode

    # global drift: far rows split ~50/50 across cells -> retrain,
    # codebook resolved from the companion (caller holds nothing)
    glob_rows = []
    for i in range(40):
        v = rng.normal(0, 0.1, 16)
        v[2] += -40.0 if i % 2 else 40.0
        glob_rows.append((vid, v.tolist()))
        vid += 1
    rep2 = ivf_append_index(
        spark.createDataFrame(glob_rows, "vec_id long, embedding array<double>"),
        t,
        None,
    )
    assert rep2["rebuild_recommended"]
    assert rep2["batch_top_cell_fraction"] < 0.9
    assert health_sweep(spark)["tables"][key]["remediation"] == "retrain"

    out2 = run_maintenance(spark, apply=True, retrain_ivf=True)
    assert out2["applied"][key] == "ivf_retrain_index"
    tbl2 = spark.table(t)
    assert tbl2.count() == 140
    assert tbl2.filter(F.col("pq_code").isNull()).count() == 0
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        get_table_meta,
    )

    meta = get_table_meta(spark, t)
    assert meta["n_clusters"] == "2"  # retrain reset k to the base fit
    assert not health_sweep(spark)["tables"][key]["retrain_recommended"]


@pytest.mark.slow
def test_ivf_split_budget_escalates_to_retrain(spark):
    """Bounded centroid growth (round 16): splits only ever append
    cells, so the sweep caps the matrix at ivf_split_budget_factor x
    base_n_clusters and ESCALATES to a full retrain at the base k once
    the budget is exhausted — N rounds of inject-drift -> maintain
    keep len(centroids) under the bound with exact recall preserved."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_append_index,
        ivf_build_index,
        ivf_load_centroids,
        ivf_query_index,
    )

    t = "maint_ivf_budget"
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    import random

    rng = random.Random(31)

    def blob(cx, cy, n, start):
        return [
            (start + i, [cx + rng.uniform(-0.2, 0.2), cy + rng.uniform(-0.2, 0.2)])
            for i in range(n)
        ]

    base = spark.createDataFrame(
        blob(0.0, 0.0, 20, 0) + blob(100.0, 0.0, 20, 100),
        "vec_id long, embedding array<double>",
    )
    ivf_build_index(base, t, n_clusters=2, seed=13)
    key = f"default.{t}"
    budget = 3  # max(base_k + 1, int(1.5 * 2))

    # round 1: localized drift at (0, 50) -> bins whole to the (0,0)
    # cell -> split within budget (k: 2 -> 3)
    ivf_append_index(
        spark.createDataFrame(
            blob(0.0, 50.0, 30, 1000), "vec_id long, embedding array<double>"
        ),
        t,
        None,
    )
    out1 = run_maintenance(
        spark, apply=True, retrain_ivf=True, ivf_split_budget_factor=1.5
    )
    assert out1["applied"][key].startswith("ivf_split_hot_cells")
    assert len(ivf_load_centroids(spark, t)) == 3

    # round 2: another localized blob at (50, 50) — but the budget is
    # exhausted (cur_k == 3), so the sweep escalates to a full retrain
    # at base_n_clusters, resetting k
    ivf_append_index(
        spark.createDataFrame(
            blob(50.0, 50.0, 40, 2000), "vec_id long, embedding array<double>"
        ),
        t,
        None,
    )
    sweep = health_sweep(spark)
    assert sweep["tables"][key]["remediation"] == "split"  # shape says split
    out2 = run_maintenance(
        spark, apply=True, retrain_ivf=True, ivf_split_budget_factor=1.5
    )
    assert out2["applied"][key] == "ivf_retrain_index"  # ...budget says no
    cents = ivf_load_centroids(spark, t)
    assert len(cents) == 2 <= budget  # k reset to the base fit
    assert spark.table(t).count() == 110

    # recall preserved: probing every cell returns the exact top-k
    qs = spark.createDataFrame(
        [(0, [0.0, 50.0]), (1, [50.0, 50.0]), (2, [100.0, 0.0])],
        "query_id long, embedding array<double>",
    )
    corpus = spark.table(t).select("vec_id", "embedding")
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(corpus, qs, k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_query_index(
            spark, t, qs, cents, k=5, n_probe=len(cents)
        ).collect()
    }
    assert got == truth


def _fragmented_ivf(spark, t):
    """Four healthy 40-row cells, then _cell=0 thinned to 2 rows — a
    deterministic sliver (same mechanics as the merge crash tests)."""
    import random

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
    )

    for s in (
        t, f"{t}_drift_log", f"{t}_centroids",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    rng = random.Random(43)
    rows, vid = [], 0
    for cx, cy in ((0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (10.0, 10.0)):
        for _ in range(40):
            rows.append(
                (vid, [cx + rng.uniform(-0.2, 0.2), cy + rng.uniform(-0.2, 0.2)])
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_build_index(df, t, n_clusters=4, seed=19)
    keep = (
        spark.table(t)
        .filter(F.col("_cell") == 0)
        .orderBy("vec_id")
        .limit(2)
        .select("vec_id", "embedding", "_cell")
        .localCheckpoint(eager=True)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        keep.write.mode("overwrite").insertInto(t)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.catalog.refreshTable(t)
    return spark.table(t).select("vec_id", "embedding").localCheckpoint(
        eager=True
    )


@pytest.mark.slow
def test_maintenance_merges_cold_cells(spark):
    """Round 17 (VERDICT r16 backlog #2): the health sweep detects IVF
    fragmentation (merge_recommended — sliver cells at the
    fraction-of-MEAN bar, so the flag scales with k) and run_maintenance
    applies ivf_merge_cold_cells under the retrain_ivf opt-in: k
    shrinks, every row survives, probes stay exact, and a fresh sweep
    no longer flags the table. Without the opt-in the sweep only notes
    the skip — matrix rotations never ride the generic apply."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_load_centroids,
        ivf_query_index,
    )

    t = "maint_merge_ivf"
    df = _fragmented_ivf(spark, t)

    rep = health_sweep(spark, tables=(t,))["tables"][f"default.{t}"]
    assert rep["merge_recommended"] is True
    assert rep["n_cold_cells"] == 1
    assert rep["retrain_recommended"] is False  # fragmentation != drift

    out = run_maintenance(spark, apply=True, retrain_ivf=False, tables=(t,))
    applied = out["applied"].get(f"default.{t}", "")
    assert "merge_skipped (pass retrain_ivf=True)" in applied
    assert len(ivf_load_centroids(spark, t)) == 4  # nothing rotated

    out = run_maintenance(spark, apply=True, retrain_ivf=True, tables=(t,))
    applied = out["applied"].get(f"default.{t}", "")
    assert applied.startswith("ivf_merge_cold_cells"), applied
    merged = ivf_load_centroids(spark, t)
    assert len(merged) == 3
    assert spark.table(t).count() == 122
    qs = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "query_id long, embedding array<double>",
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(df, qs, k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_query_index(spark, t, qs, merged, k=5, n_probe=3).collect()
    }
    assert got == truth

    rep = health_sweep(spark, tables=(t,))["tables"][f"default.{t}"]
    assert rep["merge_recommended"] is False  # the flag cleared
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


@pytest.mark.slow
def test_maintenance_remeasures_compaction_after_merge(spark, monkeypatch):
    """Round 17 (ADVICE r16): the compaction decision is re-measured
    AFTER a split/merge rewrote partitions instead of trusting the
    pre-remediation report — pinned by stubbing index_table_health to
    disagree with the sweep-time report in both directions."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark import maintenance
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import io as sio

    t = "maint_merge_compact"
    _fragmented_ivf(spark, t)
    real = sio.index_table_health
    calls = {"post": 0}

    # direction 1: sweep-time report says NO compaction, the fresh
    # post-merge measurement says YES -> the compactor must run
    def fresh_says_yes(spark_, table, max_ratio=8.0):
        rep = real(spark_, table, max_ratio)
        # the sweep passes db-qualified names ("default.<t>")
        if table.split(".")[-1] == t:
            # the sweep and the post-merge re-measure ask about the
            # same table, so key off call order
            calls["post"] += 1
            if calls["post"] > 1:  # 1st call = health_sweep, later = re-measure
                rep = {**rep, "compact_recommended": True}
        return rep

    monkeypatch.setattr(sio, "index_table_health", fresh_says_yes)
    out = maintenance.run_maintenance(
        spark, apply=True, retrain_ivf=True, tables=(t,)
    )
    applied = out["applied"].get(f"default.{t}", "")
    assert applied == "ivf_merge_cold_cells; compact_index_table", applied
    assert calls["post"] >= 2  # the re-measure actually happened
    monkeypatch.setattr(sio, "index_table_health", real)
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


@pytest.mark.slow
def test_minhash_bucket_skew_flag_detects_cap_truncation(spark):
    """Round 17 (VERDICT r16 backlog #5): the MinHash index gets a
    quality signal equivalent to IVF's drift log. A boilerplate cluster
    over the probe cap makes every probe into that bucket a SILENT
    recall trade (star semantics: per-member pairs collapse to the
    representative) — the per-probe skew log records it, the health
    sweep raises ``cap_truncating``, and run_maintenance surfaces the
    note. The recall impact is demonstrated, not assumed: the capped
    probe returns 1 pair where the uncapped probe returns 20."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
        minhash_query_index,
    )

    t = "maint_mh_skew"
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    # 20 identical boilerplate docs: every (band, bucket) key of the
    # shared signature holds 20 rows — far over the cap of 4
    boiler = TEXT + " standard footer all rights reserved"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(20)]
        + [(100 + i, TEXT + f" unique tail {i} " + "x" * i) for i in range(5)],
        "doc_id bigint, text string",
    )
    minhash_build_index(corpus, t)
    assert not spark.catalog.tableExists(f"{t}_skew_log")  # fresh build

    batch = spark.createDataFrame(
        [(200, boiler), (201, "completely different quick text about rivers")],
        "doc_id bigint, text string",
    )
    # RECALL IMPACT: uncapped, the boilerplate probe matches every
    # member; capped, only the threshold-exempt representative pair
    # survives — 20 pairs collapse to 1, silently
    uncapped = minhash_query_index(spark, t, batch, threshold=0.8)
    capped = minhash_query_index(
        spark, t, batch, threshold=0.8, max_bucket_size=4
    )
    n_un = uncapped.filter(F.col("new_id") == 200).count()
    n_cap = capped.filter(F.col("new_id") == 200).count()
    assert n_un == 20 and n_cap == 1

    # the probe-side log records exactly that condition...
    surv = minhash_incremental_dedup(
        spark, t, batch, threshold=0.8, append=False, max_bucket_size=4
    )
    assert {r["doc_id"] for r in surv.collect()} == {201}
    log = spark.table(f"{t}_skew_log").collect()
    assert len(log) == 1
    assert log[0]["n_capped_buckets"] > 0
    # >= 20: a band slice can hash the near-boilerplate tails into the
    # boilerplate bucket too — the floor is the 20 identical docs
    assert log[0]["max_bucket_rows"] >= 20
    assert log[0]["cap"] == 4

    # ...the health sweep raises the flag and names the table...
    sweep = health_sweep(spark, tables=(t,))
    rep = sweep["tables"][f"default.{t}"]
    assert rep["cap_truncating"] is True
    assert rep["max_bucket_rows"] >= 20
    assert f"default.{t}" in sweep["attention"]

    # ...and the apply-mode sweep surfaces the (human-action) note
    out = run_maintenance(spark, apply=True, tables=(t,))
    assert "bucket_skew_noted" in out["applied"].get(f"default.{t}", "")

    # an UNCAPPED probe stays byte-identical to the pre-r17 plan:
    # no log row is added (log_skew defaults off without a cap)
    minhash_incremental_dedup(spark, t, batch, threshold=0.8, append=False)
    assert spark.table(f"{t}_skew_log").count() == 1

    # a rebuild clears the skew history like a retrain clears drift
    minhash_build_index(corpus, t)
    assert not spark.catalog.tableExists(f"{t}_skew_log")
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


@pytest.mark.slow
def test_hamming_skew_flag_detects_cap_exclusion(spark):
    """Late r17: the Hamming fingerprint index gets the same quality
    signal as the MinHash index — with the family's HARSHER cap
    semantics (an over-cap bucket is EXCLUDED outright, no star
    representative). The recall impact is demonstrated: the capped
    probe loses the flooded bucket's matches entirely; the skew log
    records it, the health sweep raises ``cap_truncating``, and
    run_maintenance surfaces the hamming-specific note naming
    hamming_reband_index."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_incremental_dedup,
        hamming_index_build,
        hamming_index_probe,
    )

    t = "maint_fp_skew"
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    # 20 identical boilerplate fingerprints (one thumbnail re-encoded
    # 20 times): every (band, val) key holds 20 rows, over the cap of 4
    boiler = 0x2AAA_BBBB_CCCC_DDDD
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(20)]
        + [(100 + i, (i + 1) * 0x0101_0000_0300_0007) for i in range(5)],
        "doc_id bigint, phash bigint",
    )
    hamming_index_build(corpus, t)
    assert not spark.catalog.tableExists(f"{t}_skew_log")  # fresh build

    batch = spark.createDataFrame(
        [(200, boiler ^ 1), (201, 0x1234_5678_9ABC_0042)],
        "doc_id bigint, phash bigint",
    )
    # RECALL IMPACT: uncapped, the boilerplate kin matches every
    # member; capped, the flooded buckets are excluded and the probe
    # finds NOTHING — 20 matches collapse to 0, silently
    n_un = hamming_index_probe(spark, t, batch, max_hamming=2).count()
    n_cap = hamming_index_probe(
        spark, t, batch, max_hamming=2, max_bucket_size=4
    ).count()
    assert n_un == 20 and n_cap == 0

    # the probe-side log records exactly that condition...
    surv = hamming_incremental_dedup(
        spark, t, batch, max_hamming=2, append=False, max_bucket_size=4
    )
    assert {r["doc_id"] for r in surv.collect()} == {200, 201}
    log = spark.table(f"{t}_skew_log").collect()
    assert len(log) == 1
    assert log[0]["n_capped_buckets"] > 0
    assert log[0]["max_bucket_rows"] >= 20
    assert log[0]["cap"] == 4

    # ...the health sweep raises the flag and names the table...
    sweep = health_sweep(spark, tables=(t,))
    rep = sweep["tables"][f"default.{t}"]
    assert rep["cap_truncating"] is True
    assert rep["max_bucket_rows"] >= 20
    assert f"default.{t}" in sweep["attention"]

    # ...and the apply-mode sweep surfaces the hamming-specific note
    out = run_maintenance(spark, apply=True, tables=(t,))
    applied = out["applied"].get(f"default.{t}", "")
    assert "bucket_skew_noted" in applied
    assert "hamming_reband_index" in applied

    # an UNCAPPED probe stays plan-identical: no log row added
    hamming_incremental_dedup(spark, t, batch, max_hamming=2, append=False)
    assert spark.table(f"{t}_skew_log").count() == 1

    # a rebuild clears the skew history like a retrain clears drift
    hamming_index_build(corpus, t)
    assert not spark.catalog.tableExists(f"{t}_skew_log")
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_hamming_skew_flush_drops_stale_epoch(spark, tmp_path):
    """The streaming flush is epoch-guarded like the MinHash twin: a
    rebuild landing mid-drain re-derives every (band, val) key and
    clears the log, so the held buffer must be dropped — a fresh index
    must not inherit cap_truncating measured against the retired
    corpus."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_index_build,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _flush_skew_reports as _flush_hamming_skew_reports,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        read_contract,
    )

    t = "maint_fp_skew_epoch"
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    corpus = spark.createDataFrame(
        [(1, 0x1111), (2, 0x2222_0000)], "doc_id bigint, phash bigint"
    )
    hamming_index_build(corpus, t)
    held = read_contract(spark, t)["skew_epoch"]
    report = {
        "n_hit_buckets": 1, "max_bucket_rows": 30,
        "sum_sq_bucket_rows": 900, "n_capped_buckets": 1,
        "n_capped_batch_buckets": 0, "cap": 4,
    }
    # same epoch: the buffer flushes
    _flush_hamming_skew_reports(spark, t, held, [report])
    assert spark.table(f"{t}_skew_log").count() == 1

    # a rebuild rotates the epoch AND clears the log; a stale-held
    # buffer must now be dropped, not written onto the fresh index
    hamming_index_build(corpus, t)
    assert not spark.catalog.tableExists(f"{t}_skew_log")
    _flush_hamming_skew_reports(spark, t, held, [report])
    assert not spark.catalog.tableExists(f"{t}_skew_log")
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_minhash_skew_flag_detects_within_batch_star_capping(spark):
    """Round 17 review: the cap's OTHER truncation site. In the
    append=False steady state (the bench q16/q22 shape) a boilerplate
    cluster arriving INSIDE a batch is star-capped by the within-batch
    path — survivors never reach the index, so index-side bucket sizes
    stay under the cap forever and the original index-only skew report
    would sit at zero while recall is traded every batch. The report's
    n_capped_batch_buckets measures exactly that, and health raises
    cap_truncating from it."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
    )

    t = "maint_mh_batch_skew"
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    # the index holds only unrelated docs: no index bucket ever gets hot
    corpus = spark.createDataFrame(
        [(i, f"completely unrelated document number {i} " + "y" * i)
         for i in range(5)],
        "doc_id bigint, text string",
    )
    minhash_build_index(corpus, t)

    # the batch carries a 10-doc boilerplate cluster — hot WITHIN the
    # batch (bucket size 10 > cap 4), invisible to the index side
    boiler = TEXT + " standard footer all rights reserved"
    batch = spark.createDataFrame(
        [(200 + i, boiler) for i in range(10)]
        + [(300, "a genuinely novel text about glaciers and moraines")],
        "doc_id bigint, text string",
    )
    surv = minhash_incremental_dedup(
        spark, t, batch, threshold=0.8, append=False, max_bucket_size=4
    )
    # star semantics: 9 members dropped threshold-exempt, rep survives
    assert {r["doc_id"] for r in surv.collect()} == {200, 300}

    log = spark.table(f"{t}_skew_log").collect()
    assert len(log) == 1
    assert log[0]["n_capped_buckets"] == 0  # index side saw nothing
    assert log[0]["n_capped_batch_buckets"] > 0  # the batch side did
    rep = health_sweep(spark, tables=(t,))["tables"][f"default.{t}"]
    assert rep["cap_truncating"] is True
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_minhash_skew_flush_drops_stale_epoch(spark):
    """Round 17 review: the streaming wrapper's post-drain skew flush is
    epoch-guarded like the IVF drift flush — a minhash_build_index
    rebuild landing mid-drain re-derives every bucket key and clears
    the log, so buffered reports measured under the retired epoch must
    be dropped instead of re-arming cap_truncating on the fresh
    index."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        read_contract,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _flush_skew_reports as _flush_minhash_skew_reports,
    )

    t = "maint_mh_skew_epoch"
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    corpus = spark.createDataFrame(
        [(1, "some document text for the epoch test")],
        "doc_id bigint, text string",
    )
    minhash_build_index(corpus, t)
    held = read_contract(spark, t)["skew_epoch"]
    assert held is not None  # builds stamp the epoch

    report = {
        "n_hit_buckets": 3, "max_bucket_rows": 9,
        "sum_sq_bucket_rows": 99, "n_capped_buckets": 1,
        "n_capped_batch_buckets": 0, "cap": 4,
    }
    # a rebuild rotates the epoch: the held buffer is stale -> dropped
    minhash_build_index(corpus, t)
    assert read_contract(spark, t)["skew_epoch"] != held
    _flush_minhash_skew_reports(spark, t, held, [dict(report)])
    assert not spark.catalog.tableExists(f"{t}_skew_log")

    # the current epoch flushes normally
    held2 = read_contract(spark, t)["skew_epoch"]
    _flush_minhash_skew_reports(spark, t, held2, [dict(report)])
    assert spark.table(f"{t}_skew_log").count() == 1
    for s in (t, f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_sweep_flags_and_heals_interrupted_swaps(spark):
    """Round 17 review follow-through: the stage-and-swap crash window
    audited across the OTHER multi-phase verbs. A {t}__stage whose base
    dangles is flagged by the sweep and healed under apply (the staged
    data is unreachable otherwise); a stale stage whose base survived
    is flagged and RECLAIMED, never promoted — the crashed overwrite
    never returned to its caller, so the base stays authoritative."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        write_table,
    )

    dangle, stale = "maint_swap_dangle", "maint_swap_stale"
    for s in (dangle, f"{dangle}__stage", stale, f"{stale}__stage"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    # dangling: stage committed, base gone (crash between drop+rename)
    write_table(
        spark.createDataFrame([(1, "v2")], "id int, v string"),
        f"{dangle}__stage",
    )
    # stale: base authoritative, stage from a crash before the drop
    write_table(
        spark.createDataFrame([(1, "v1")], "id int, v string"), stale
    )
    write_table(
        spark.createDataFrame([(1, "v2")], "id int, v string"),
        f"{stale}__stage",
    )

    sweep = health_sweep(
        spark,
        tables=(dangle, f"{dangle}__stage", stale, f"{stale}__stage"),
    )
    d_rep = sweep["tables"][f"default.{dangle}__stage"]
    s_rep = sweep["tables"][f"default.{stale}__stage"]
    assert d_rep["family"] == "interrupted_swap"
    assert d_rep["base_exists"] is False
    assert d_rep["action"] == "heal_interrupted_swap"
    assert s_rep["base_exists"] is True
    assert s_rep["action"] == "drop_stale_stage"
    assert f"default.{dangle}__stage" in sweep["attention"]
    assert f"default.{stale}__stage" in sweep["attention"]

    out = run_maintenance(
        spark,
        apply=True,
        tables=(dangle, f"{dangle}__stage", stale, f"{stale}__stage"),
    )
    assert out["applied"][f"default.{dangle}__stage"] == "heal_interrupted_swap"
    assert out["applied"][f"default.{stale}__stage"] == "drop_stale_stage"
    # dangling base restored with the staged content
    assert {r["v"] for r in spark.table(dangle).collect()} == {"v2"}
    assert not spark.catalog.tableExists(f"{dangle}__stage")
    # stale: base untouched, stage reclaimed
    assert {r["v"] for r in spark.table(stale).collect()} == {"v1"}
    assert not spark.catalog.tableExists(f"{stale}__stage")
    for s in (dangle, stale):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
