"""The standing-index lifecycle shared by every family
(``io.rewrite_layout``): the bucket layout a build writes is the one
its contract records, a key-re-deriving rewrite rotates the skew
epoch and drops the skew log, compaction leaves the contract exactly
as it was, and data and contract are one commit — a rewrite (or an
IVF centroid-matrix rotation) that fails at any step leaves the old
data under the old contract or the new data under the new one, and
probes work with no resume step."""

from __future__ import annotations

import ast
import inspect
import os
import random
from urllib.parse import urlparse

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark import maintenance
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import dedup as dd
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import entity as ent
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import (
    multimodal as mm,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import (
    similarity as sim,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import io

DOCS = [
    (i, f"lifecycle fixture document {i} about glaciers and moraines " * 2)
    for i in range(8)
]
REPORT = {
    "n_hit_buckets": 1, "max_bucket_rows": 9, "sum_sq_bucket_rows": 81,
    "n_capped_buckets": 1, "n_capped_batch_buckets": 0, "cap": 4,
}


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def _er_key():
    return F.expr("right(name, 4)")


def _build(spark, family, t):
    """Build a small index of ``family``; return the verb that
    re-derives its bucket keys (None for the existence-set families)."""
    if family == "minhash":
        dd.minhash_build_index(_docs(spark), t, bands=8, n_buckets=4)
        return lambda: dd.minhash_reband_index(spark, t, bands=16)
    if family == "hamming":
        fps = spark.createDataFrame(
            [(i, 0x1234_5678_9ABC_0000 + i * 7919) for i in range(8)],
            "doc_id bigint, phash bigint",
        )
        mm.hamming_index_build(fps, t, band_bits=16, n_buckets=4)
        return lambda: mm.hamming_reband_index(spark, t, band_bits=8)
    if family == "er":
        corpus = spark.createDataFrame(
            [(1, "Acme Corporation"), (2, "Initech Ltd"), (3, "Acme Corp")],
            "id long, name string",
        )
        resolved = ent.resolve_entities(corpus, "id", "name", _er_key(), 0.9)
        ent.er_build_index(resolved, t, "id", "name", _er_key(), n_buckets=4)
        return lambda: ent.er_reblock_index(spark, t, F.expr("right(text, 8)"))
    if family == "span":
        dd.span_build_index(_docs(spark), t, k=4, n_buckets=4)
        return None
    dd.exact_build_index(_docs(spark), t, ["text"], n_buckets=4)
    return None


def _bucket_spec(spark, t):
    rows = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
    }
    cols = rows["Bucket Columns"].strip("[]").replace("`", "").split(", ")
    return int(rows["Num Buckets"]), ",".join(cols)


def _drop(spark, t):
    for s in (
        t, f"{t}_skew_log", f"{t}__relabel", f"{t}__stage", f"{t}_drift_log",
        f"{t}_centroids",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


@pytest.mark.parametrize("family", ["minhash", "hamming", "er", "span", "exact"])
def test_index_lifecycle_layout_epoch_and_compaction(spark, family):
    t = f"lifecycle_{family}_idx"
    _drop(spark, t)
    rekey = _build(spark, family, t)

    # the layout on disk is the one the contract records
    meta = io.get_table_meta(spark, t)
    assert _bucket_spec(spark, t) == (int(meta["n_buckets"]), meta["bucket_cols"])

    if rekey is not None:
        # a rewrite that re-derives bucket keys rotates the epoch by
        # exactly one and drops the skew history measured on old keys
        dd.append_skew_reports(spark, t, [dict(REPORT)])
        assert spark.catalog.tableExists(f"{t}_skew_log")
        epoch = int(meta["skew_epoch"])
        rekey()
        meta = io.get_table_meta(spark, t)
        assert int(meta["skew_epoch"]) == epoch + 1
        assert not spark.catalog.tableExists(f"{t}_skew_log")
        assert _bucket_spec(spark, t) == (
            int(meta["n_buckets"]), meta["bucket_cols"]
        )

    # compaction rewrites the files but not the contract
    io.compact_index_table(spark, t)
    assert io.get_table_meta(spark, t) == meta
    assert _bucket_spec(spark, t) == (int(meta["n_buckets"]), meta["bucket_cols"])
    # no rewrite leaves a bookkeeping table behind
    assert not any(
        x.name.endswith("_retune_pending") for x in spark.catalog.listTables()
    )
    _drop(spark, t)


def test_distinct_state_rewrite_keeps_contract(spark):
    """The sweep's distinct-state compaction runs the same layout
    rewrite (bucket spec from the recorded ``state_buckets``, contract
    unchanged)."""
    t = "lifecycle_distinct_state"
    _drop(spark, t)
    spec = (1, ["user_id", "cohort"])
    for i in range(10):  # one small file per append
        row = spark.createDataFrame([(i, i % 3)], "user_id long, cohort long")
        io.write_table(
            row, t, mode="append", bucket_by=spec,
            properties={"kind": "distinct_state", "state_buckets": 1},
        )
    meta = io.get_table_meta(spark, t)
    # recorded by the first write
    assert meta == {"kind": "distinct_state", "format": "1", "state_buckets": "1"}
    rows = sorted(map(tuple, spark.table(t).collect()))

    out = maintenance.run_maintenance(spark, apply=True, tables=(t,))
    assert out["applied"][f"default.{t}"] == "distinct_state_rewrite"
    assert len(spark.table(t).inputFiles()) == 1
    assert io.get_table_meta(spark, t) == meta
    assert _bucket_spec(spark, t) == (1, "user_id,cohort")
    assert sorted(map(tuple, spark.table(t).collect())) == rows
    _drop(spark, t)


def _warehouse_dir(spark, t):
    db = spark.catalog.getDatabase(spark.catalog.currentDatabase())
    return os.path.join(urlparse(db.locationUri).path, t)


def test_first_build_create_failure_leaves_no_table(spark):
    """A first build that fails inside its create registers no table,
    rather than a table without its contract (a probe with the wrong
    columns would then pass every duplicate through). A failed job
    cleans its directory up; a killed driver does not, and the re-run
    over that leftover succeeds through the orphan-location retry."""
    t = "lifecycle_first_build_fail"
    _drop(spark, t)
    boom = F.udf(
        lambda s: s if "document 7 " not in s else s[int("x")], "string"
    )
    docs = _docs(spark)
    with pytest.raises(Exception, match="invalid literal"):
        dd.exact_build_index(
            docs.withColumn("text", boom("text")), t, ["text"], n_buckets=4
        )
    assert not [x for x in spark.catalog.listTables() if x.name.startswith(t)]

    leftover = _warehouse_dir(spark, t)
    os.makedirs(leftover, exist_ok=True)
    with open(os.path.join(leftover, "part-00000.parquet"), "w") as f:
        f.write("stale bytes")
    dd.exact_build_index(docs, t, ["text"], n_buckets=4)
    assert io.get_table_meta(spark, t)["kind"] == "exact"
    batch = spark.createDataFrame(DOCS[:2], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="content_sig"):
        dd.exact_incremental_dedup(spark, t, batch, ["doc_id"], append=False)
    assert dd.exact_incremental_dedup(
        spark, t, batch, ["text"], append=False
    ).count() == 0
    _drop(spark, t)


# -- failure-injection matrix ------------------------------------------
#
# Each verb rewrites a standing table through ``io.rewrite_layout``. A
# wrapper around ``SparkSession.sql`` raises in place of one statement
# of the rewrite; the table must then hold the old data under the old
# contract or, once ``heal_interrupted_swap`` completes the rename,
# the new data under the new contract, and a probe must work with no
# resume step. A re-run of the verb then converges.
#
# The IVF verbs (build over an existing index, retrain, split, merge)
# rotate the centroid matrix. Before their commit they rewrite the
# ``{t}_centroids`` companion (old and new matrix, keyed by
# fingerprint) and drop the drift log, so those two statements are
# failure steps too. They run the grid impl, which makes a rotation a
# pure function of the rows, so an interrupted run can be compared
# with an uninterrupted twin.


class _Crash(Exception):
    pass


def _statement(t, step):
    return {
        "skew_log": f"DROP TABLE IF EXISTS {t}_skew_log",
        "centroids": f"CREATE TABLE {t}_centroids__stage ",
        "drift_log": f"DROP TABLE IF EXISTS {t}_drift_log",
        "create": f"CREATE TABLE {t}__stage ",
        "drop": f"DROP TABLE IF EXISTS {t}",
        "rename": f"ALTER TABLE {t}__stage RENAME TO {t}",
        "msck": f"MSCK REPAIR TABLE {t}",
    }[step]


def _crash_at(monkeypatch, statement, verb):
    real = SparkSession.sql

    def sql(self, query, *args, **kwargs):
        q = " ".join(query.split())
        if q == statement.strip() or (
            statement.endswith(" ") and q.startswith(statement)
        ):
            raise _Crash(statement)
        return real(self, query, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(SparkSession, "sql", sql)
        with pytest.raises(_Crash):
            verb()


def _state(spark, t):
    """(rows, file count, contract) of ``t``: the file count tells a
    compaction's output from its input. An IVF index's contract is
    taken as its recorded fingerprint and the matrix
    ``ivf_load_centroids`` resolves: that pair is what routes probes
    (the drift baseline beside it is an approximate aggregate)."""
    df = spark.table(t)
    rows = sorted(str(tuple(r)) for r in df.collect())
    meta = io.get_table_meta(spark, t)
    if meta.get("kind") == "ivf":
        meta = {
            "centroid_fp": meta["centroid_fp"],
            "matrix": sim.ivf_load_centroids(spark, t),
        }
    return rows, len(df.inputFiles()), meta


_ER_OLD, _ER_NEW = "right(name, 4)", "right(text, 8)"


def _er_corpus(spark):
    return spark.createDataFrame(
        [(1, "Acme Corporation"), (2, "Initech Ltd"), (3, "Acme Corp")],
        "id long, name string",
    )


def _er_probe(spark, t, key):
    batch = spark.createDataFrame([(100, "Acm Corporation")], "id long, name string")
    got = {
        r.id: r.entity_id
        for r in ent.er_incremental(
            spark, t, batch, "id", "name", F.expr(key), threshold=0.9,
            append=False,
        ).collect()
    }
    return got[100] == 1


def _minhash_hits(spark, t):
    batch = spark.createDataFrame([(100, DOCS[3][1])], "doc_id bigint, text string")
    return sorted(
        map(tuple, dd.minhash_query_index(spark, t, batch, threshold=0.5).collect())
    )


def _blobs(spark, spec, start=0):
    rng = random.Random(3)
    rows, vid = [], start
    for cx, cy, n in spec:
        for _ in range(n):
            rows.append(
                (vid, [cx + rng.uniform(-0.2, 0.2), cy + rng.uniform(-0.2, 0.2)])
            )
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ivf_build(spark, t, corpus, k):
    sim.ivf_build_index(corpus, t, n_clusters=k, impl="grid", n_id_buckets=2)


def _ivf_probe(spark, t):
    q = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [40.0, 40.0])], "query_id long, embedding array<double>"
    )
    return sim.ivf_query_index(
        spark, t, q, sim.ivf_load_centroids(spark, t), k=3, n_probe=2
    ).count() == 6


def _ivf_case(spark, verb, t):
    """The old state of an IVF verb: a grid index with a drift-log row
    (so the log drop has something to drop). Each verb is idempotent
    from its own new state, so a re-run converges."""
    three = [(0.0, 0.0, 20), (10.0, 0.0, 20), (0.0, 10.0, 20)]
    if verb == "ivf_build":
        corpus = _blobs(spark, three + [(10.0, 10.0, 20)])
        _ivf_build(spark, t, corpus, 3)
        run = lambda: _ivf_build(spark, t, corpus, 4)  # noqa: E731
    elif verb == "ivf_merge":
        spec = [(0.0, 0.0, 40), (10.0, 0.0, 40), (0.0, 10.0, 18), (10.0, 10.0, 2)]
        _ivf_build(spark, t, _blobs(spark, spec), 4)
        run = lambda: sim.ivf_merge_cold_cells(  # noqa: E731
            spark, t, min_cell_fraction=0.1
        )
    else:
        # a far blob appended under the old matrix: the retrain refits
        # around it, the split finds its cell hot (50 of 90 rows)
        _ivf_build(spark, t, _blobs(spark, three), 3)
        n = 20 if verb == "ivf_retrain" else 30
        sim.ivf_append_index(_blobs(spark, [(40.0, 40.0, n)], start=100), t)
        run = (
            (lambda: sim.ivf_retrain_index(spark, t))
            if verb == "ivf_retrain"
            else (lambda: sim.ivf_split_hot_cells(spark, t, max_cell_fraction=0.35))
        )
    if not spark.catalog.tableExists(f"{t}_drift_log"):
        sim.ivf_append_drift_reports(spark, t, [dict(DRIFT_REPORT)])
    return run, lambda: _ivf_probe(spark, t)


DRIFT_REPORT = {
    "n_appended": 1, "n_dropped": 0, "batch_mean_dist": 1.0,
    "batch_p95_dist": 1.0, "drift_ratio": 1.0, "rebuild_recommended": False,
    "batch_top_cell": 0, "batch_top_cell_fraction": 1.0, "batch_n_cells": 1,
}


def _case(spark, verb, t):
    """Build the old state of ``t`` for ``verb``; return ``(run, probe)``:
    the verb itself and a probe that must work on either state."""
    if verb in _IVF:
        return _ivf_case(spark, verb, t)
    if verb == "minhash_reband":
        dd.minhash_build_index(_docs(spark), t, bands=8, n_buckets=4)
        return (
            lambda: dd.minhash_reband_index(spark, t, bands=16),
            lambda: len(_minhash_hits(spark, t)) > 0,
        )
    if verb == "hamming_reband":
        mm.hamming_index_build(_fps(spark, 8), t, band_bits=16, n_buckets=4)
        batch = spark.createDataFrame(
            [(100, (0x1234_5678_9ABC_0000 + 3 * 7919) ^ 1)],
            "doc_id bigint, phash bigint",
        )
        return (
            lambda: mm.hamming_reband_index(spark, t, band_bits=8),
            lambda: mm.hamming_index_probe(spark, t, batch).count() > 0,
        )
    if verb in ("er_reblock", "er_compact"):
        resolved = ent.resolve_entities(
            _er_corpus(spark), "id", "name", F.expr(_ER_OLD), 0.9
        )
        ent.er_build_index(resolved, t, "id", "name", F.expr(_ER_OLD), n_buckets=4)
        if verb == "er_compact":
            spark.createDataFrame([(3, 1)], "old_id long, new_id long").write.mode(
                "overwrite"
            ).saveAsTable(f"{t}__relabel")
            return (
                lambda: ent.er_compact_index(spark, t),
                lambda: _er_probe(spark, t, _ER_OLD),
            )
        old = _state(spark, t)
        return (
            lambda: ent.er_reblock_index(spark, t, F.expr(_ER_NEW)),
            lambda: _er_probe(
                spark, t, _ER_OLD if _state(spark, t) == old else "right(name, 8)"
            ),
        )
    if verb == "compact_index_table":
        dd.span_build_index(_docs(spark), t, k=4, n_buckets=4)
        new_docs = spark.createDataFrame(
            [(50, "an appended note on tides and estuaries " * 2)],
            "doc_id bigint, text string",
        )
        dd.span_incremental_dedup(spark, t, new_docs).collect()
        batch = spark.createDataFrame(DOCS[:2], "doc_id bigint, text string")
        return (
            lambda: io.compact_index_table(spark, t),
            lambda: all(
                r["n_tokens_removed"] > 0
                for r in dd.span_incremental_dedup(
                    spark, t, batch, append=False
                ).collect()
            ),
        )
    if verb == "distinct_state_rewrite":
        for i in range(4):
            row = spark.createDataFrame([(i, i % 3)], "user_id long, cohort long")
            io.write_table(
                row, t, mode="append", bucket_by=(1, ["user_id", "cohort"]),
                properties={"kind": "distinct_state", "state_buckets": 1},
            )
        return (
            lambda: maintenance._rewrite_distinct_state(spark, t),
            lambda: maintenance.classify_table(spark, t) == "distinct_state"
            and spark.table(t).count() == 4,
        )
    assert verb == "exact_rebuild"
    first = spark.createDataFrame(DOCS[:4], "doc_id bigint, text string")
    dd.exact_build_index(first, t, ["text"], n_buckets=4)
    batch = spark.createDataFrame(DOCS[:2], "doc_id bigint, text string")
    return (
        lambda: dd.exact_build_index(_docs(spark), t, ["text"], n_buckets=2),
        lambda: dd.exact_incremental_dedup(
            spark, t, batch, ["text"], append=False
        ).count() == 0,
    )


_ROTATING = ("minhash_reband", "hamming_reband", "er_reblock")
_IVF = ("ivf_build", "ivf_retrain", "ivf_split", "ivf_merge")
_VERBS = _ROTATING + (
    "compact_index_table", "er_compact", "distinct_state_rewrite", "exact_rebuild",
) + _IVF
_NEW_STATE: dict = {}


def _steps(verb):
    """The statements of ``verb``'s rewrite a crash is injected at."""
    before = ("skew_log",) if verb in _ROTATING else ()
    if verb in _IVF:
        before = ("centroids", "drift_log")
    return before + ("create", "drop", "rename")


def _new_state(spark, verb):
    """The state an uninterrupted run of ``verb`` leaves (computed once
    per verb on a twin table: the state names no table)."""
    if verb not in _NEW_STATE:
        t = f"lifecycle_twin_{verb}"
        _drop(spark, t)
        run, _ = _case(spark, verb, t)
        run()
        _NEW_STATE[verb] = _state(spark, t)
        _drop(spark, t)
    return _NEW_STATE[verb]


def _no_epoch(state):
    """Rows and contract, less the epoch and the file count: a re-run
    from the new state rotates the epoch again, and a bucketed write's
    file count follows its input's partitioning."""
    rows, _, meta = state
    return rows, {k: v for k, v in meta.items() if k != "skew_epoch"}


@pytest.mark.parametrize(
    "verb,step", [(v, s) for v in _VERBS for s in _steps(v)]
)
def test_rewrite_failure_leaves_old_or_new_contract(spark, monkeypatch, verb, step):
    t = f"lifecycle_crash_{verb}"
    _drop(spark, t)
    new = _new_state(spark, verb)
    run, probe = _case(spark, verb, t)
    old = _state(spark, t)
    assert old != new

    _crash_at(monkeypatch, _statement(t, step), run)
    healed = io.heal_interrupted_swap(spark, t)
    assert healed == (step == "rename")
    got = _state(spark, t)
    if step == "rename":
        assert got == new  # the stage carried its own contract
    else:
        assert got == old
    assert probe()
    # a stale stage (crash before the DROP) is swept, and the base kept
    sweep = maintenance.run_maintenance(spark, apply=True, tables=(f"{t}__stage",))
    assert sweep["applied"].get(f"default.{t}__stage") == (
        "drop_stale_stage" if step == "drop" else None
    )
    assert _state(spark, t) == got

    # a re-run converges (a rotating rewrite advances the epoch again)
    run()
    assert _no_epoch(_state(spark, t)) == _no_epoch(new)
    assert probe()
    if verb == "minhash_reband":
        direct = f"{t}_direct"
        _drop(spark, direct)
        dd.minhash_build_index(_docs(spark), direct, bands=16, n_buckets=4)
        assert _minhash_hits(spark, t) == _minhash_hits(spark, direct)
        _drop(spark, direct)
    if verb == "er_reblock":
        assert _er_probe(spark, t, "right(name, 8)")
    if verb in _IVF:
        assert not spark.catalog.tableExists(f"{t}_drift_log")
    _drop(spark, t)


def test_ivf_build_crash_after_data_commit_keeps_rows_and_matrix_together(
    spark, monkeypatch
):
    """A rebuild killed right after its rows are committed (at the
    MSCK that follows the RENAME) leaves the new rows under the new
    fingerprint: the fingerprint rides the create, so no step after
    the data commit can leave rows binned by one matrix under another
    matrix's fingerprint."""
    t = "lifecycle_crash_ivf_after_commit"
    _drop(spark, t)
    new = _new_state(spark, "ivf_build")
    run, probe = _case(spark, "ivf_build", t)
    _crash_at(monkeypatch, _statement(t, "msck"), run)
    io.heal_interrupted_swap(spark, t)  # re-lists the renamed partitions
    assert _state(spark, t) == new
    assert probe()
    _drop(spark, t)


def _fps(spark, n=40):
    return spark.createDataFrame(
        [(i, 0x1234_5678_9ABC_0000 + i * 7919) for i in range(n)],
        "doc_id bigint, phash bigint",
    )


def test_built_index_bucket_count_follows_its_data(spark, tmp_path):
    """A build left at ``n_buckets=None`` sizes the bucket count from
    the measured bytes of the rows it writes: one bucket per core for a
    small input, never more than the old fixed 32, whatever produced
    the rows (a parquet scan, the Arrow signature kernel, a
    checkpointed clustering or an RDD-backed frame). An explicit count
    wins, and no later rewrite or append changes the recorded count."""
    cores = spark.sparkContext.defaultParallelism
    sized = min(32, cores)
    fp_path, doc_path = str(tmp_path / "fps"), str(tmp_path / "docs")
    _fps(spark).write.parquet(fp_path)
    _docs(spark).write.parquet(doc_path)

    t = "sizing_hamming_idx"
    _drop(spark, t)
    mm.hamming_index_build(spark.read.parquet(fp_path), t, band_bits=16)
    meta = io.get_table_meta(spark, t)
    assert int(meta["n_buckets"]) == sized <= 32
    assert _bucket_spec(spark, t) == (sized, "val")

    # the recorded count survives a reband, a compaction and appends
    mm.hamming_reband_index(spark, t, band_bits=8)
    assert io.get_table_meta(spark, t)["n_buckets"] == str(sized)
    assert _bucket_spec(spark, t) == (sized, "val")
    io.compact_index_table(spark, t)
    assert io.get_table_meta(spark, t)["n_buckets"] == str(sized)
    assert _bucket_spec(spark, t) == (sized, "val")
    batch = spark.createDataFrame(
        [(1000 + i, 0x0FED_CBA9_8765_0000 + i * 104729) for i in range(6)],
        "doc_id bigint, phash bigint",
    )
    mm.hamming_incremental_dedup(spark, t, batch, max_hamming=3).collect()
    mm.hamming_incremental_dedup(
        spark, t, batch.withColumn("doc_id", F.col("doc_id") + 100),
        max_hamming=3, max_bucket_size=2,
    ).collect()
    assert io.get_table_meta(spark, t)["n_buckets"] == str(sized)
    assert _bucket_spec(spark, t) == (sized, "val")
    _drop(spark, t)

    t = "sizing_span_idx"
    _drop(spark, t)
    dd.span_build_index(spark.read.parquet(doc_path), t, k=4)
    assert io.get_table_meta(spark, t)["n_buckets"] == str(sized)
    assert _bucket_spec(spark, t) == (sized, "_h")
    _drop(spark, t)

    # MinHash, exact and ER appends (uncapped and capped) land in the
    # count their build recorded. The MinHash rows come out of the
    # Arrow signature kernel and the ER rows out of a checkpointed
    # clustering; both are sized like the parquet-backed builds.
    docs = spark.read.parquet(doc_path)
    new_docs = spark.createDataFrame(
        [(1000 + i, f"an appended note {i} on tides and estuaries " * 2)
         for i in range(4)],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "Acme Corporation"), (2, "Initech Ltd"), (3, "Acme Corp")],
        "id long, name string",
    )
    records = spark.createDataFrame(
        [(10, "Acme Corporatio"), (11, "Globex Ltd"), (12, "Umbrella Ltd")],
        "id long, name string",
    )
    families = (
        ("minhash", "bucket",
         lambda t: dd.minhash_build_index(docs, t),
         lambda t, k, cap: dd.minhash_incremental_dedup(
             spark, t, new_docs.withColumn("doc_id", F.col("doc_id") + 100 * k),
             max_bucket_size=cap)),
        ("exact", "fp",
         lambda t: dd.exact_build_index(docs, t, ["text"]),
         lambda t, k, cap: dd.exact_incremental_dedup(
             spark, t, new_docs.withColumn("text", F.concat("text", F.lit(k))),
             ["text"])),
        ("er", "_blk",
         lambda t: ent.er_build_index(
             ent.resolve_entities(corpus, "id", "name", _er_key(), 0.9),
             t, "id", "name", _er_key()),
         lambda t, k, cap: ent.er_incremental(
             spark, t, records.withColumn("id", F.col("id") + 100 * k), "id",
             "name", _er_key(), max_block_size=cap)),
    )
    for family, col, build, append in families:
        t = f"sizing_{family}_idx"
        _drop(spark, t)
        build(t)
        n = int(io.get_table_meta(spark, t)["n_buckets"])
        assert n == sized, family
        assert _bucket_spec(spark, t) == (n, col)
        rows = spark.table(t).count()
        for k, cap in enumerate((None, 2)):
            append(t, k, cap).collect()
        assert spark.table(t).count() > rows, family
        assert io.get_table_meta(spark, t)["n_buckets"] == str(n)
        assert _bucket_spec(spark, t) == (n, col), family
        _drop(spark, t)

    # an RDD-backed frame, which Catalyst cannot size, is measured too
    t = "sizing_rdd_idx"
    _drop(spark, t)
    mm.hamming_index_build(_fps(spark), t, band_bits=16)
    assert io.get_table_meta(spark, t)["n_buckets"] == str(sized)
    assert _bucket_spec(spark, t) == (sized, "val")
    _drop(spark, t)

    # an explicit count is kept as given
    t = "sizing_explicit_idx"
    _drop(spark, t)
    mm.hamming_index_build(spark.read.parquet(fp_path), t, n_buckets=7)
    assert io.get_table_meta(spark, t)["n_buckets"] == "7"
    assert _bucket_spec(spark, t) == (7, "val")
    _drop(spark, t)


def _measured_pins(monkeypatch):
    """Record the stored bytes of every pin ``io._sized_buckets`` sizes,
    read from Spark's storage status beside the code under test."""
    pinned = []
    real = io._sized_buckets

    def spy(pin):
        rdd_id = pin._jdf.queryExecution().optimizedPlan().rdd().id()
        infos = pin.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
        pinned.append(sum(
            i.memSize() + i.diskSize() for i in infos if i.id() == rdd_id
        ))
        return real(pin)

    monkeypatch.setattr(io, "_sized_buckets", spy)
    return pinned


def test_sized_bucket_count_follows_the_split_size(spark, monkeypatch):
    """Past one ``spark.sql.files.maxPartitionBytes`` split per core a
    build gets ``ceil(pinned bytes / split)`` buckets, never more than
    32: the measured size, not the core floor, sets the count. A
    bucketed scan reads each bucket as one task, however large, so the
    count keeps a bucket near one split. The 16-band MinHash rows come
    out of the Arrow signature kernel and an ``explode``, neither of
    which Catalyst can size."""
    cores = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [(i, f"split sizing document {i} on basalt columns and tides " * 3)
         for i in range(300)],
        "doc_id bigint, text string",
    )
    pinned = _measured_pins(monkeypatch)
    t = "sizing_split_idx"
    _drop(spark, t)
    dd.minhash_build_index(docs, t, bands=16)
    stored = pinned[-1]
    assert stored > 0
    assert int(io.get_table_meta(spark, t)["n_buckets"]) == cores

    key = "spark.sql.files.maxPartitionBytes"
    try:
        for split in (stored // (cores + 3), stored // 40):
            spark.conf.set(key, str(split))
            _drop(spark, t)
            dd.minhash_build_index(docs, t, bands=16)
            want = min(32, -(-pinned[-1] // split))
            assert want > cores
            assert int(io.get_table_meta(spark, t)["n_buckets"]) == want
            assert _bucket_spec(spark, t) == (want, "bucket")
        assert want == 32
    finally:
        spark.conf.unset(key)
        _drop(spark, t)


def test_ivf_build_sizes_its_id_buckets(spark, monkeypatch):
    """An IVF build with ``n_id_buckets`` unset records the count sized
    from its pinned rows, one pin the drift baseline and the write
    also read; an append, a retrain and a split keep the recorded
    count, and an explicit count wins."""
    sized = min(32, spark.sparkContext.defaultParallelism)
    pinned = _measured_pins(monkeypatch)
    three = [(0.0, 0.0, 20), (10.0, 0.0, 20), (0.0, 10.0, 20)]
    t = "sizing_ivf_idx"
    _drop(spark, t)
    sim.ivf_build_index(_blobs(spark, three), t, n_clusters=3, impl="grid")
    assert len(pinned) == 1 and pinned[0] > 0

    def recorded():
        n = io.read_contract(spark, t, "ivf")["n_buckets"]
        assert _bucket_spec(spark, t) == (n, "vec_id")
        return n

    assert recorded() == sized
    sim.ivf_append_index(_blobs(spark, [(40.0, 40.0, 30)], start=100), t)
    assert recorded() == sized
    sim.ivf_retrain_index(spark, t)
    assert recorded() == sized
    sim.ivf_split_hot_cells(spark, t, max_cell_fraction=0.25)
    assert io.read_contract(spark, t, "ivf")["n_clusters"] > 3
    assert recorded() == sized
    assert len(pinned) == 1  # nothing after the build was sized again

    sim.ivf_build_index(
        _blobs(spark, three), t, n_clusters=3, impl="grid", n_id_buckets=sized + 1
    )
    assert recorded() == sized + 1
    _drop(spark, t)


def test_ivf_build_writes_one_file_per_cell_and_id_bucket(spark):
    """A build from a many-partition corpus writes at most one file per
    cell and id bucket: the assigned rows are grouped by cell before
    the write, instead of writing a file per input task, cell and
    bucket. MLlib's assignment is a narrow map, so it keeps the
    corpus's 4 partitions up to the write."""
    spec = [(0.0, 0.0, 30), (10.0, 0.0, 30), (0.0, 10.0, 30), (10.0, 10.0, 30)]
    corpus = _blobs(spark, spec).repartition(4)
    assert corpus.rdd.getNumPartitions() == 4
    t = "ivf_build_files_idx"
    _drop(spark, t)
    sim.ivf_build_index(corpus, t, n_clusters=4, n_id_buckets=4)
    assert len(spark.table(t).inputFiles()) <= 4 * 4
    assert spark.table(t).count() == 120
    _drop(spark, t)


def test_every_build_defaults_to_a_sized_bucket_count():
    """No index family can regain a fixed bucket default: every public
    build leaves its count unset (sized at the write), and the one
    bucket ceiling in ``sources/io.py`` is ``INDEX_MAX_BUCKETS``."""
    builds = {
        dd.minhash_build_index: "n_buckets",
        mm.hamming_index_build: "n_buckets",
        ent.er_build_index: "n_buckets",
        dd.span_build_index: "n_buckets",
        dd.exact_build_index: "n_buckets",
        sim.ivf_build_index: "n_id_buckets",
    }
    for build, param in builds.items():
        assert inspect.signature(build).parameters[param].default is None, build

    tree = ast.parse(inspect.getsource(io))
    named = [
        target.id
        for node in tree.body
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.Constant)
        for target in node.targets
        if "BUCKET" in target.id
    ]
    assert named == ["INDEX_MAX_BUCKETS"]
    literals = [
        node for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and node.value == io.INDEX_MAX_BUCKETS
    ]
    assert len(literals) == 1
