"""Table contracts: one declared spec per table kind
(``sources.io.TABLE_SPECS``), written by every create path and read
back through ``io.read_contract``, which refuses a table that lacks a
key or records another kind or format."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import threading

import pytest
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import io

PKG = pathlib.Path(io.__file__).resolve().parents[1]
TEXT = (
    "the quick brown fox jumps over the lazy dog and keeps on running "
    "through the quiet field past the old stone wall toward the river"
)


def _drop(spark, *tables):
    for t in tables:
        for s in (t, f"{t}_centroids", f"{t}_pq_codebook", f"{t}_skew_log",
                  f"{t}_drift_log", f"{t}__relabel"):
            spark.sql(f"DROP TABLE IF EXISTS {s}")


def _docs(spark, n=6, start=0):
    return spark.createDataFrame(
        [(i, TEXT + f" tail {i}") for i in range(start, start + n)],
        "doc_id bigint, text string",
    )


def _vectors(spark, n=40, start=0):
    import random

    rng = random.Random(7)
    return spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(start, start + n)],
        "vec_id bigint, embedding array<double>",
    )


def _events(spark):
    return spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 1, 0, 5))],
        "user_id long, ts timestamp",
    )


def _stream_of(spark, tmp_path, df, name):
    src = str(tmp_path / name)
    df.coalesce(1).write.mode("append").parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def _create(kind, spark, t, tmp_path):
    """Run ``kind``'s create path into ``t``; returns the table that
    records ``kind`` (a companion for ``pq_codebook``)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import (
        dedup,
        entity,
        multimodal,
        similarity,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming import events

    if kind == "exact":
        dedup.exact_build_index(_docs(spark), t, ["text"])
    elif kind == "span":
        dedup.span_build_index(_docs(spark), t, k=4)
    elif kind == "minhash":
        dedup.minhash_build_index(_docs(spark), t)
    elif kind == "hamming_fp":
        multimodal.hamming_index_build(
            spark.createDataFrame([(1, 0x1111), (2, 0x2222)], "doc_id long, phash long"),
            t,
        )
    elif kind == "er":
        corpus = spark.createDataFrame(
            [(1, "Acme Corporation"), (2, "Initech Ltd")], "id long, name string"
        )
        key = F.expr("right(name, 4)")
        entity.er_build_index(
            entity.resolve_entities(corpus, "id", "name", key, threshold=0.9),
            t, "id", "name", key,
        )
    elif kind == "ivf":
        similarity.ivf_build_index(_vectors(spark), t, n_clusters=2, impl="grid")
    elif kind == "pq_codebook":
        vecs = _vectors(spark)
        cb = similarity.pq_train(vecs, m=2, n_codes=4)
        similarity.ivf_build_index(vecs, t, n_clusters=2, impl="grid", pq_codebook=cb)
        return f"{t}_pq_codebook"
    elif kind == "session_state":
        events._sessionize_merge_batch(
            _events(spark), 0, t, "user_id", "ts", 1800, state_partitions=4
        )
    elif kind == "distinct_state":
        events.stream_incremental_distinct(
            _stream_of(spark, tmp_path, _events(spark), "distinct_src"), t,
            str(tmp_path / "distinct_ck"), cols=["user_id"],
        )
    elif kind == "batch_sink":
        events._land_batch_partition(_events(spark), t, 0)
    elif kind == "cms":
        events.stream_frequency_sketch(
            _stream_of(spark, tmp_path, _events(spark), "cms_src"), t,
            str(tmp_path / "cms_ck"),
        )
    elif kind == "hll":
        events.stream_distinct_sketch(
            _stream_of(spark, tmp_path, _events(spark), "hll_src"), t,
            str(tmp_path / "hll_ck"),
        )
    else:
        assert kind == "hist"
        events.stream_histogram_sketch(
            _stream_of(
                spark, tmp_path,
                spark.createDataFrame([(1.0,), (5.0,)], "value double"), "hist_src",
            ),
            t, str(tmp_path / "hist_ck"),
        )
    return t


@pytest.mark.parametrize("kind", sorted(io.TABLE_SPECS))
def test_every_create_path_records_its_spec(spark, tmp_path, kind):
    """Each kind's create path, read back through the reader, carries
    its kind, its spec's format and every required key. A kind added
    to the specs without a create path here fails too."""
    t = f"contract_rt_{kind}"
    _drop(spark, t)
    table = _create(kind, spark, t, tmp_path)
    spec = io.TABLE_SPECS[kind]
    meta = io.read_contract(spark, table, kind)
    assert meta["kind"] == kind and meta["format"] == spec.format
    for key, typ in spec.keys.items():
        assert isinstance(meta[key], typ), (key, meta[key])
    _drop(spark, t)


def test_frontier_state_records_session_state_spec(spark):
    """The frontier scheduler's state shares the sessionize spec, and
    its sink is a batch sink."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _frontier_schedule_merge_batch,
    )

    state, sink = "contract_frontier_state", "contract_frontier_sink"
    _drop(spark, state, sink)
    batch = spark.createDataFrame(
        [("http://a.com/1",), ("http://b.com/2",)], "url string"
    )
    _frontier_schedule_merge_batch(
        batch, 0, state, sink, None, "url", 1.0, None, state_partitions=4
    )
    assert io.read_contract(spark, state, "session_state")["state_partitions"] == 4
    assert io.read_contract(spark, sink, "batch_sink")["kind"] == "batch_sink"
    _drop(spark, state, sink)


def test_state_table_missing_state_partitions_raises_and_keeps_rows(spark):
    """A sessionize state table that lost its recorded modulus would
    take any caller's modulus and miss its rows. The next batch raises
    a ValueError naming the table and the key, and writes nothing."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _sessionize_merge_batch,
    )

    t = "contract_sess_unset"
    _drop(spark, t)
    _sessionize_merge_batch(_events(spark), 0, t, "user_id", "ts", 1800, state_partitions=4)
    before = sorted(map(tuple, spark.table(t).collect()))
    spark.sql(
        f"ALTER TABLE {t} UNSET TBLPROPERTIES "
        "('spark_graft.index.state_partitions')"
    )
    later = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2)), (3, dt.datetime(2024, 1, 2))],
        "user_id long, ts timestamp",
    )
    with pytest.raises(ValueError, match=f"{t}.*state_partitions"):
        _sessionize_merge_batch(later, 1, t, "user_id", "ts", 1800, state_partitions=8)
    assert sorted(map(tuple, spark.table(t).collect())) == before
    _drop(spark, t)


def test_index_recording_an_older_format_raises_before_any_write(spark):
    """An index whose recorded format is lower than its spec's was not
    written by this code's create path: an appending dedup refuses it
    before touching the rows."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
    )

    t = "contract_old_format"
    _drop(spark, t)
    minhash_build_index(_docs(spark), t)
    old = io.TABLE_SPECS["minhash"].format - 1
    spark.sql(f"ALTER TABLE {t} SET TBLPROPERTIES ('spark_graft.index.format'='{old}')")
    before = sorted(map(tuple, spark.table(t).select("doc_id", "band").collect()))
    with pytest.raises(ValueError, match=f"{t}.*format"):
        minhash_incremental_dedup(spark, t, _docs(spark, start=100))
    assert sorted(map(tuple, spark.table(t).select("doc_id", "band").collect())) == before
    _drop(spark, t)


def test_sweep_reports_a_broken_contract_and_goes_on(spark):
    """A table whose contract the reader refuses is one finding in the
    maintenance sweep: it is reported and flagged, every other table
    is still swept, and apply-mode runs no verb on it."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark import maintenance
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_build_index,
    )

    good, broken = "contract_sweep_good", "contract_sweep_broken"
    _drop(spark, good, broken)
    for t in (good, broken):
        span_build_index(_docs(spark), t, k=4)
    spark.sql(f"ALTER TABLE {broken} UNSET TBLPROPERTIES ('spark_graft.index.k')")
    out = maintenance.run_maintenance(spark, apply=True, tables=(good, broken))
    bad = out["tables"][f"default.{broken}"]
    assert bad["family"] == "span" and "'k'" in bad["contract_error"]
    assert f"default.{broken}" in out["attention"]
    assert f"default.{broken}" not in out["applied"]
    assert "files_per_bucket" in out["tables"][f"default.{good}"]
    _drop(spark, good, broken)


def test_ivf_build_rejects_unbucketed_layout(spark):
    """Every IVF index is id-bucketed: the spec requires the bucket
    keys, so a build asking for no buckets is refused before any
    work."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
    )

    with pytest.raises(ValueError, match="n_id_buckets"):
        ivf_build_index(_vectors(spark), "contract_ivf_unbucketed", n_id_buckets=0)
    assert not spark.catalog.tableExists("contract_ivf_unbucketed")


@pytest.mark.parametrize(
    "stream, other",
    [
        ("stream_frequency_sketch", {"width": 1024}),
        ("stream_distinct_sketch", {"p": 8}),
        ("stream_histogram_sketch", {"n_bins": 16}),
    ],
)
def test_sketch_writer_with_other_parameters_raises(spark, tmp_path, stream, other):
    """Sketch parameters are the table's contract: a second writer with
    another shape raises before any write, instead of summing its
    cells into the first writer's."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming import events

    t = f"contract_{stream}"
    _drop(spark, t)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "user_id long, value double"
    )
    sdf = _stream_of(spark, tmp_path, df, "src")
    run = getattr(events, stream)
    run(sdf, t, str(tmp_path / "ck1"))
    before = sorted(map(tuple, spark.table(t).collect()))
    with pytest.raises(Exception, match="contract mismatch"):
        run(sdf, t, str(tmp_path / "ck2"), **other)
    assert sorted(map(tuple, spark.table(t).collect())) == before
    _drop(spark, t)


def test_stream_batches_read_the_contract_once(spark, tmp_path, monkeypatch):
    """Each MinHash, Hamming and IVF stream batch makes one contract
    read. Batches run on the stream's callback threads, so reads made
    there are the per-batch ones (stream start and the post-drain
    flush run on the caller's thread)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_index_build,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming import events

    reads: list[str] = []
    real = io.read_contract

    def counted(spark_, table, kind=None):
        if threading.current_thread() is not threading.main_thread():
            reads.append(table)
        return real(spark_, table, kind)

    monkeypatch.setattr(io, "read_contract", counted)

    def two_batches(first, second, name):
        src = str(tmp_path / name)
        for part in (first, second):
            part.coalesce(1).write.mode("append").parquet(src)
        return (
            spark.readStream.schema(first.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    mh, fp, ivf = "contract_reads_mh", "contract_reads_fp", "contract_reads_ivf"
    _drop(spark, mh, fp, ivf)
    minhash_build_index(_docs(spark), mh)
    fps = spark.createDataFrame(
        [(i, i * 7919) for i in range(4)], "doc_id long, phash long"
    )
    hamming_index_build(fps, fp)
    ivf_build_index(_vectors(spark), ivf, n_clusters=2)

    counts = {}
    reads.clear()
    events.stream_corpus_dedup(
        two_batches(_docs(spark, 2, start=50), _docs(spark, 2, start=60), "mh"),
        mh, str(tmp_path / "mh_ck"),
    )
    counts["minhash"] = len(reads)
    reads.clear()
    def phashes(ids):
        return spark.createDataFrame(
            [(i, i * 104729) for i in ids], "doc_id long, phash long"
        )

    events.stream_media_dedup(
        two_batches(phashes([100, 101]), phashes([102, 103]), "fp"),
        fp, str(tmp_path / "fp_ck"),
    )
    counts["hamming"] = len(reads)
    reads.clear()
    events.stream_ivf_append(
        two_batches(_vectors(spark, 2, start=500), _vectors(spark, 2, start=600), "ivf"),
        ivf, checkpoint_dir=str(tmp_path / "ivf_ck"),
    )
    counts["ivf"] = len(reads)
    # two batches each, one read per batch
    assert counts == {"minhash": 2, "hamming": 2, "ivf": 2}
    _drop(spark, mh, fp, ivf)


_PROPERTY_SQL = ("SHOW TBLPROPERTIES", "SET TBLPROPERTIES", "UNSET TBLPROPERTIES")


def _docstrings(tree):
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(
                body[0].value, ast.Constant
            ):
                yield body[0].value


def test_only_io_reads_or_writes_table_properties():
    """The contract format lives behind ``sources/io.py``: no other
    module of the package runs SHOW / SET / UNSET TBLPROPERTIES or
    touches ``_INDEX_META_PREFIX``."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == pathlib.Path(io.__file__).resolve():
            continue
        tree = ast.parse(path.read_text())
        docs = {id(d) for d in _docstrings(tree)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
                and any(s in node.value.upper() for s in _PROPERTY_SQL)
            ):
                offenders.append(f"{path.name}:{node.lineno}")
            if isinstance(node, ast.alias) and node.name == "_INDEX_META_PREFIX":
                offenders.append(f"{path.name}: imports _INDEX_META_PREFIX")
            if isinstance(node, ast.Attribute) and node.attr == "_INDEX_META_PREFIX":
                offenders.append(f"{path.name}:{node.lineno}")
    assert offenders == []


def test_probe_functions_accept_no_recorded_key():
    """A value the contract records is read from it, never restated by
    the caller: no probe, append or stream function of an index kind
    takes a parameter named after one of that kind's recorded keys."""
    import inspect

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import (
        dedup,
        entity,
        multimodal,
        similarity,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming import events

    callers = {
        "exact": [dedup.exact_incremental_dedup, events.stream_exact_dedup],
        "span": [dedup.span_incremental_dedup, events.stream_span_dedup],
        "minhash": [
            dedup.minhash_query_index, dedup.minhash_incremental_dedup,
            events.stream_corpus_dedup,
        ],
        "hamming_fp": [
            multimodal.hamming_index_probe, multimodal.hamming_incremental_dedup,
            events.stream_media_dedup,
        ],
        "er": [entity.er_incremental, events.stream_entity_resolution],
        "ivf": [
            similarity.ivf_query_index, similarity.ivf_append_index,
            events.stream_ivf_append,
        ],
    }
    offenders = [
        f"{fn.__name__}({key})"
        for kind, fns in callers.items()
        for fn in fns
        for key in inspect.signature(fn).parameters
        if key in io.TABLE_SPECS[kind].keys
    ]
    assert offenders == []


def test_md5_index_probed_without_impl_drops_its_duplicate(spark):
    """An md5-signed index is probed with md5 signatures although the
    caller names no ``impl``: a planted exact duplicate of an indexed
    document is dropped, and an unknown ``impl`` is refused at build."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
    )

    t = "contract_mh_md5"
    _drop(spark, t)
    minhash_build_index(_docs(spark), t, impl="md5")
    batch = spark.createDataFrame(
        [(100, TEXT + " tail 2"), (101, "an unrelated note on tides and estuaries")],
        "doc_id bigint, text string",
    )
    survivors = minhash_incremental_dedup(spark, t, batch, append=False)
    assert sorted(r.doc_id for r in survivors.collect()) == [101]
    assert io.read_contract(spark, t, "minhash")["impl"] == "md5"
    with pytest.raises(ValueError, match="unknown MinHash impl"):
        minhash_build_index(_docs(spark), "contract_mh_crc", impl="crc32")
    assert not spark.catalog.tableExists("contract_mh_crc")
    _drop(spark, t)


def test_ivf_grid_query_follows_the_recorded_impl(spark):
    """A grid-built IVF index stores quantized-unit centroids; a query
    that names no ``impl`` probes through the grid assignment the index
    records, so each query's single probed cell is its own blob's and
    the top-k equals brute force."""
    import random

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_build_index,
        ivf_query_index,
    )

    rng = random.Random(5)
    rows = [
        (i, [cx + rng.uniform(-0.2, 0.2), cy + rng.uniform(-0.2, 0.2)])
        for i, (cx, cy) in enumerate(
            [(0.0, 10.0)] * 10 + [(10.0, 0.0)] * 10 + [(10.0, 10.0)] * 10
        )
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    t = "contract_ivf_grid_query"
    _drop(spark, t)
    cents = ivf_build_index(df, t, n_clusters=3, impl="grid")
    qs = spark.createDataFrame(
        [(0, [0.0, 10.0]), (1, [10.0, 0.0]), (2, [10.0, 10.0])],
        "query_id long, embedding array<double>",
    )
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_query_index(spark, t, qs, cents, k=3, n_probe=1).collect()
    }
    truth = {
        (r["query_id"], r["vec_id"]) for r in brute_force_topk(df, qs, k=3).collect()
    }
    assert got == truth and len(got) == 9
    _drop(spark, t)


def test_minhash_stream_keeps_deduplicating_across_a_reband(spark, tmp_path):
    """A stream that names no banding reads it from the contract in
    each batch: after a reband between two drains on one checkpoint,
    the second drain still drops a duplicate of an indexed document
    and appends a fresh one at the new band count."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_reband_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming import events

    t = "contract_mh_reband_stream"
    _drop(spark, t)
    minhash_build_index(_docs(spark), t)
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    schema = "doc_id bigint, text string"

    def drain(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        events.stream_corpus_dedup(spark.readStream.schema(schema).parquet(src), t, ck)

    drain([(50, "a first streamed note about harbour cranes and cargo")])
    minhash_reband_index(spark, t, 8)
    drain([(60, TEXT + " tail 4"), (61, "a second note on glaciers and moraines")])
    bands = {
        r.doc_id: r.n
        for r in spark.table(t).groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert 60 not in bands
    assert bands[50] == bands[61] == 8
    _drop(spark, t)
