"""The standing-index lifecycle shared by every bucketed family
(``io.rewrite_layout``): the bucket layout a build writes is the one
its contract records, a key-re-deriving rewrite rotates the skew
epoch and drops the skew log, compaction leaves the contract exactly
as it was, and an interrupted rewrite is fail-loud and resumable for
every family the rewrite serves."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
    health_sweep,
    run_maintenance,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import dedup as dd
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import entity as ent
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import (
    multimodal as mm,
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
    for s in (t, f"{t}_skew_log", f"{t}_retune_pending", f"{t}__relabel"):
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
    assert not spark.catalog.tableExists(f"{t}_retune_pending")
    _drop(spark, t)


def test_layout_pending_span_and_exact_surface_and_resume(spark):
    """A compaction that crashed between its contract commit and its
    marker clear leaves a marker on a table whose contract is intact.
    For the span and exact families the sweep must surface it and
    resume the compaction, or every probe keeps refusing."""
    t_span, t_exact = "lifecycle_span_pending", "lifecycle_exact_pending"
    for t in (t_span, t_exact):
        _drop(spark, t)
    _build(spark, "span", t_span)
    _build(spark, "exact", t_exact)
    for t in (t_span, t_exact):
        io.mark_layout_pending(
            spark, t, "compact_index_table", "",
            snapshot=io.get_table_meta(spark, t),
        )
    batch = spark.createDataFrame(DOCS[:2], "doc_id bigint, text string")
    with pytest.raises(RuntimeError, match="interrupted layout rewrite"):
        dd.span_incremental_dedup(spark, t_span, batch, k=4, append=False)

    sweep = health_sweep(spark, tables=(t_span, t_exact))
    for t in (t_span, t_exact):
        rep = sweep["tables"][f"default.{t}"]
        assert rep["layout_pending"]["verb"] == "compact_index_table"
        assert f"default.{t}" in sweep["attention"]

    out = run_maintenance(spark, apply=True, tables=(t_span, t_exact))
    for t in (t_span, t_exact):
        assert out["applied"][f"default.{t}"] == "compact_index_table (resumed)"
        assert not spark.catalog.tableExists(f"{t}_retune_pending")

    # probes are live again and still see the indexed content
    masked = dd.span_incremental_dedup(spark, t_span, batch, k=4, append=False)
    assert all(r["n_tokens_removed"] > 0 for r in masked.collect())
    survivors = dd.exact_incremental_dedup(
        spark, t_exact, batch, ["text"], append=False
    )
    assert survivors.count() == 0
    for t in (t_span, t_exact):
        _drop(spark, t)


def test_layout_pending_exact_build_crash_fails_loud(spark, monkeypatch):
    """A crash between the exact build's data swap and its contract
    commit must leave a marker: without it the table has no recorded
    ``content_sig``, and a probe with the wrong columns would pass
    every duplicate through instead of refusing."""
    t = "lifecycle_exact_crash"
    _drop(spark, t)
    real_set = io.set_table_meta

    def bomb(spark_, table_, **props):
        if table_ == t:
            raise RuntimeError("injected")
        return real_set(spark_, table_, **props)

    monkeypatch.setattr(io, "set_table_meta", bomb)
    with pytest.raises(RuntimeError, match="injected"):
        dd.exact_build_index(_docs(spark), t, ["text"], n_buckets=4)
    monkeypatch.setattr(io, "set_table_meta", real_set)

    batch = spark.createDataFrame(DOCS[:2], "doc_id bigint, text string")
    with pytest.raises(RuntimeError, match="interrupted layout rewrite"):
        dd.exact_incremental_dedup(spark, t, batch, ["doc_id"], append=False)
    rep = health_sweep(spark, tables=(t,))["tables"][f"default.{t}"]
    assert rep["family"] == "layout_pending"
    assert rep["layout_pending"]["verb"] == "exact_build_index"
    _drop(spark, t)


def test_layout_pending_distinct_state_rewrite_and_resume(spark):
    """The sweep's distinct-state compaction runs the same guarded
    rewrite (bucket spec from the recorded ``state_buckets``, contract
    unchanged), and a marker it left behind is surfaced and resumed."""
    t = "lifecycle_distinct_state"
    _drop(spark, t)
    spec = (1, ["user_id", "cohort"])
    for i in range(10):  # one small file per append
        row = spark.createDataFrame([(i, i % 3)], "user_id long, cohort long")
        io.write_table(row, t, mode="append", bucket_by=spec)
    io.set_table_meta(spark, t, state_buckets=1)
    meta = io.get_table_meta(spark, t)
    rows = sorted(map(tuple, spark.table(t).collect()))

    out = run_maintenance(spark, apply=True, tables=(t,))
    assert out["applied"][f"default.{t}"] == "distinct_state_rewrite"
    assert len(spark.table(t).inputFiles()) == 1
    assert io.get_table_meta(spark, t) == meta
    assert _bucket_spec(spark, t) == (1, "user_id,cohort")

    io.mark_layout_pending(spark, t, "distinct_state_rewrite", "", snapshot=meta)
    sweep = health_sweep(spark, tables=(t,))
    assert sweep["tables"][f"default.{t}"]["layout_pending"]["verb"] == (
        "distinct_state_rewrite"
    )
    out = run_maintenance(spark, apply=True, tables=(t,))
    assert out["applied"][f"default.{t}"] == "distinct_state_rewrite (resumed)"
    assert not spark.catalog.tableExists(f"{t}_retune_pending")
    assert io.get_table_meta(spark, t) == meta
    assert sorted(map(tuple, spark.table(t).collect())) == rows
    _drop(spark, t)


def _fps(spark, n=40):
    return spark.createDataFrame(
        [(i, 0x1234_5678_9ABC_0000 + i * 7919) for i in range(n)],
        "doc_id bigint, phash bigint",
    )


def test_built_index_bucket_count_follows_its_data(spark, tmp_path):
    """A build left at ``n_buckets=None`` sizes the bucket count from
    the rows it writes: one bucket per core for a small sized input,
    never more than the old fixed 32, and exactly 32 when Catalyst
    cannot size the input. An explicit count wins, and no later
    rewrite or append changes the recorded count."""
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
    # count their build recorded. The Arrow signature kernel hides the
    # MinHash rows' size and the ER rows come out of a checkpointed
    # clustering, so those two builds may keep 32.
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
        assert n == sized or (family != "exact" and n == 32), family
        assert _bucket_spec(spark, t) == (n, col)
        rows = spark.table(t).count()
        for k, cap in enumerate((None, 2)):
            append(t, k, cap).collect()
        assert spark.table(t).count() > rows, family
        assert io.get_table_meta(spark, t)["n_buckets"] == str(n)
        assert _bucket_spec(spark, t) == (n, col), family
        _drop(spark, t)

    # unknown statistics (an RDD-backed frame) keep the fixed 32
    t = "sizing_rdd_idx"
    _drop(spark, t)
    assert io._plan_size_bytes(_fps(spark)) is None
    mm.hamming_index_build(_fps(spark), t, band_bits=16)
    assert io.get_table_meta(spark, t)["n_buckets"] == "32"
    assert _bucket_spec(spark, t) == (32, "val")
    _drop(spark, t)

    # an explicit count is kept as given
    t = "sizing_explicit_idx"
    _drop(spark, t)
    mm.hamming_index_build(spark.read.parquet(fp_path), t, n_buckets=7)
    assert io.get_table_meta(spark, t)["n_buckets"] == "7"
    assert _bucket_spec(spark, t) == (7, "val")
    _drop(spark, t)


def test_sized_bucket_count_follows_the_split_size(spark, tmp_path, monkeypatch):
    """Past one ``spark.sql.files.maxPartitionBytes`` split per core a
    build gets ``ceil(estimate / split)`` buckets, never more than 32.
    A bucketed scan reads each bucket as one task, however large, so
    the count keeps a bucket near one split."""
    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "fps")
    _fps(spark, n=400).write.parquet(path)
    ests = []
    real = io._plan_size_bytes

    def spy(df):
        ests.append(real(df))
        return ests[-1]

    monkeypatch.setattr(io, "_plan_size_bytes", spy)
    t = "sizing_split_idx"
    _drop(spark, t)
    mm.hamming_index_build(spark.read.parquet(path), t, band_bits=16)
    est = ests[-1]
    assert int(io.get_table_meta(spark, t)["n_buckets"]) == cores

    key = "spark.sql.files.maxPartitionBytes"
    try:
        for split in (est // (cores + 3), est // 40):
            spark.conf.set(key, str(split))
            _drop(spark, t)
            mm.hamming_index_build(spark.read.parquet(path), t, band_bits=16)
            assert ests[-1] == est
            want = min(32, -(-est // split))
            assert want > cores
            assert int(io.get_table_meta(spark, t)["n_buckets"]) == want
            assert _bucket_spec(spark, t) == (want, "val")
        assert want == 32
    finally:
        spark.conf.unset(key)
        _drop(spark, t)
