"""IO layer: CSV source with schema, parquet table sink round-trip,
warehouse sink, env config provider."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import (
    WarehouseSink,
    connection_config,
    read_csv,
    write_table,
)


def test_read_csv_with_schema(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "data.csv")
        with open(path, "w") as f:
            f.write("id,name,amount\n1, jon ,10.5\n2,arya,\n")
        df = read_csv(spark, path, schema="id int, name string, amount double")
        rows = df.orderBy("id").collect()
        assert df.schema.simpleString() == "struct<id:int,name:string,amount:double>"
        assert rows[0]["name"] == " jon "  # no silent trimming at ingest
        assert rows[1]["amount"] is None


def test_write_table_roundtrip(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    write_table(df, "io_test_roundtrip")
    back = spark.table("io_test_roundtrip").orderBy("id").collect()
    assert [(r["id"], r["v"]) for r in back] == [(1, "a"), (2, "b")]
    # overwrite mode replaces
    write_table(df.filter("id = 1"), "io_test_roundtrip")
    assert spark.table("io_test_roundtrip").count() == 1


def test_write_table_keeps_a_cached_input_cached(spark):
    """``write_table`` creates through a temp view it drops afterwards;
    dropping the view must not uncache the caller's frame, or a second
    write of it (the runner's warehouse copy) recomputes its plan. The
    create also leaves no temp view behind."""
    from pyspark import StorageLevel

    df = spark.range(0, 200).groupBy((F.col("id") % 7).alias("k")).count().cache()
    for t in ("io_cached_a", "io_cached_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        write_table(df, t)
        assert df.storageLevel != StorageLevel.NONE
    assert spark.table("io_cached_b").count() == 7
    assert not [
        v for v in spark.catalog.listTables() if v.name.startswith("_sg_create_")
    ]
    df.unpersist()
    for t in ("io_cached_a", "io_cached_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_write_table_partitioned(spark):
    df = spark.createDataFrame(
        [(1, "2021-01", 5.0), (2, "2021-02", 6.0)], "id int, month string, v double"
    )
    write_table(df, "io_test_part", partition_by=["month"])
    back = spark.table("io_test_part")
    assert back.filter("month = '2021-01'").count() == 1


def test_warehouse_sink_catalog_backend(spark):
    df = spark.createDataFrame([(1,)], "id int")
    WarehouseSink().write(df, "io_test_wh")
    assert spark.table("io_test_wh").count() == 1


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S2/S3 + S7(jdbc): real JDBC write + partitioned parallel read
    against embedded Derby (the JDBC driver Spark itself ships). The
    partitioned read opens num_partitions cursors — the scale path for
    RDS ingest; only the URL/driver differ for MySQL/Postgres."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/testdb;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    df = spark.createDataFrame(
        [(i, f"name{i}", float(i) * 1.5) for i in range(100)],
        "id int, name string, amount double",
    )
    WarehouseSink(backend="jdbc", options={"url": url, "driver": driver}).write(
        df, "people"
    )
    back = read_jdbc(
        spark,
        url,
        "people",
        partition_column="id",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
        driver=driver,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 100
    assert back.agg({"amount": "sum"}).first()[0] == sum(i * 1.5 for i in range(100))


def test_read_jdbc_auto_bounds_derby(spark, tmp_path):
    """Round 12: ``partition_column`` without bounds derives them from
    a one-row pushed-down MIN/MAX probe — the auto-bounds produce the
    SAME 4-cursor partitioned plan as manual bounds (the numbers the
    reference's Glue catalog supplied implicitly,
    crm_cust_info_bronze.py:24-27); an empty table degrades to a
    single-connection read instead of striding over NULL bounds; a
    single explicit bound keeps its value and probes only the other."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/autodb;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    df = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(100)], "id int, amount double"
    )
    WarehouseSink(backend="jdbc", options={"url": url, "driver": driver}).write(
        df, "auto_people"
    )
    auto = read_jdbc(
        spark, url, "auto_people",
        partition_column="id", num_partitions=4, driver=driver,
    )
    manual = read_jdbc(
        spark, url, "auto_people",
        partition_column="id", lower_bound=0, upper_bound=99,
        num_partitions=4, driver=driver,
    )
    # same 4-cursor partitioned shape and same data as manual bounds
    assert auto.rdd.getNumPartitions() == manual.rdd.getNumPartitions() == 4
    assert auto.count() == 100
    assert (
        auto.agg({"amount": "sum"}).first()[0]
        == manual.agg({"amount": "sum"}).first()[0]
    )
    # one explicit bound: the other is probed, partitioning survives
    half = read_jdbc(
        spark, url, "auto_people",
        partition_column="id", lower_bound=50, num_partitions=4,
        driver=driver,
    )
    assert half.rdd.getNumPartitions() == 4 and half.count() == 100
    # empty table: NULL min/max falls back to a single connection
    WarehouseSink(backend="jdbc", options={"url": url, "driver": driver}).write(
        df.limit(0), "auto_empty"
    )
    empty = read_jdbc(
        spark, url, "auto_empty",
        partition_column="id", num_partitions=4, driver=driver,
    )
    assert empty.count() == 0 and empty.rdd.getNumPartitions() == 1


def test_read_jdbc_probe_rejects_non_identifier_names(spark, tmp_path):
    """Round 14 (ADVICE r13): the auto-bounds probe interpolates
    ``table``/``partition_column`` into SQL text, so the probe path
    refuses anything not identifier-shaped — a malicious or
    subquery-bearing value raises ValueError BEFORE any connection is
    opened (url can be bogus), and the same strings are fine when both
    bounds are explicit (no interpolation happens; Spark's reader gets
    dbtable verbatim, as its API contract allows subqueries there)."""
    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/nope;create=true"
    evil_table = "people; DROP TABLE users--"
    with pytest.raises(ValueError, match="identifier-shaped table"):
        read_jdbc(spark, url, evil_table, partition_column="id")
    with pytest.raises(ValueError, match="identifier-shaped table"):
        read_jdbc(
            spark, url, "(SELECT * FROM t) q", partition_column="id"
        )
    with pytest.raises(ValueError, match="identifier-shaped partition_column"):
        read_jdbc(
            spark, url, "schema1.people",
            partition_column="id) FROM users--",
        )
    # dotted schema.table and $/# identifier idioms pass the gate (the
    # probe then fails on the bogus URL, proving the gate ran first)
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    real_url = f"jdbc:derby:{tmp_path}/identdb;create=true"
    df = spark.createDataFrame([(1, 1.0), (9, 2.0)], "id int, amount double")
    WarehouseSink(
        backend="jdbc", options={"url": real_url, "driver": driver}
    ).write(df, "ok_tbl")
    got = read_jdbc(
        spark, real_url, "ok_tbl", partition_column="id",
        num_partitions=2, driver=driver,
    )
    assert got.count() == 2


def test_warehouse_sink_snowflake_contract(spark, monkeypatch):
    """S7 contract test (the reference's broken positional
    ``.options('dbtable', …)`` call, dim_customers_gold.py:81, with
    its INTENDED semantics): for each of the three gold tables the
    snowflake backend must issue format='snowflake', mode='overwrite',
    and an option dict carrying dbtable plus the five
    secret/env-sourced sf* credentials. A recording fake drives
    write() end to end, so the pinned dict is what the live connector
    would receive — only the jar/network are faked."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import (
        snowflake_options,
    )

    for var, val in {
        "SNOWFLAKE_URL": "acct.snowflakecomputing.com",
        "SNOWFLAKE_USER": "etl_user",        # ← Secrets Manager stand-in
        "SNOWFLAKE_PASSWORD": "s3cret",      # ← Secrets Manager stand-in
        "SNOWFLAKE_DATABASE": "ANALYTICS",
        "SNOWFLAKE_WAREHOUSE": "ETL_WH",
    }.items():
        monkeypatch.setenv(var, val)
    creds = {
        "sfURL": "acct.snowflakecomputing.com",
        "sfUser": "etl_user",
        "sfPassword": "s3cret",
        "sfDatabase": "ANALYTICS",
        "sfWarehouse": "ETL_WH",
    }
    assert snowflake_options() == creds
    sink = WarehouseSink(backend="snowflake", options=snowflake_options())

    calls = []

    class FakeWriter:
        def __init__(self):
            self.fmt, self.mod, self.opts = None, None, {}

        def format(self, f):
            self.fmt = f
            return self

        def mode(self, m):
            self.mod = m
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def save(self):
            calls.append((self.fmt, self.mod, dict(self.opts)))

    class FakeDF:
        @property
        def write(self):
            return FakeWriter()

    # the reference's three gold tables (dim_customers_gold.py:81,
    # dim_products_gold.py:80, fact_sales_gold.py:88)
    gold = [
        "customer_sch.dim_customers",
        "product_sch.dim_products",
        "sales_sch.fact_sales",
    ]
    for t in gold:
        sink.write(FakeDF(), t)
        # plan() is the same contract as data
        assert sink.plan(t) == {
            "format": "snowflake",
            "mode": "overwrite",
            "options": {**creds, "dbtable": t},
        }
    assert calls == [
        ("snowflake", "overwrite", {**creds, "dbtable": t}) for t in gold
    ]
    # caller's dbtable can never be clobbered by a same-named option
    clash = WarehouseSink(
        backend="snowflake", options={"dbtable": "WRONG", **creds}
    )
    assert clash.plan("sales_sch.fact_sales")["options"]["dbtable"] == (
        "sales_sch.fact_sales"
    )


def test_connection_config_env(monkeypatch):
    monkeypatch.setenv("MYDB_USER", "u")
    monkeypatch.setenv("MYDB_PASSWORD", "p")
    cfg = connection_config("mydb", ("user", "password", "warehouse"))
    assert cfg == {"user": "u", "password": "p"}


def test_partitioned_write_prunes(spark):
    """A filter on the partition column must reach the scan as a
    PartitionFilter — only that partition's files are read. At 100 TB
    this is the difference between scanning one segment and the whole
    table."""
    df = spark.createDataFrame(
        [(i, "F" if i % 2 else "O", float(i)) for i in range(20)],
        "id int, status string, v double",
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "part_tbl")
        df.write.mode("overwrite").partitionBy("status").parquet(path)
        back = spark.read.parquet(path).filter("status = 'F'")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "status" in plan, plan
        assert back.count() == 10


def test_bucketed_join_no_shuffle(spark):
    """Two tables bucketed+sorted on the join key must join with zero
    exchanges (the 100 TB co-located join strategy)."""
    a = spark.createDataFrame([(i, i * 10) for i in range(100)], "k int, av int")
    b = spark.createDataFrame([(i, str(i)) for i in range(100)], "k int, bv string")
    write_table(a, "bkt_a", bucket_by=(4, ["k"]))
    write_table(b, "bkt_b", bucket_by=(4, ["k"]))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_overwrite_failed_write_preserves_previous(spark):
    """A failing overwrite must NOT destroy the existing table (the write
    is attempted before anything is dropped)."""
    import pytest
    from pyspark.sql import functions as F

    good = spark.createDataFrame([(1, "keep")], "id int, v string")
    write_table(good, "io_test_failsafe")
    bad = spark.createDataFrame([(1, "boom")], "id int, v string").withColumn(
        "v", F.raise_error(F.lit("injected failure"))
    )
    with pytest.raises(Exception, match="injected failure"):
        write_table(bad, "io_test_failsafe")
    # previous data survived the failed overwrite
    assert [r["v"] for r in spark.table("io_test_failsafe").collect()] == ["keep"]


def test_overwrite_from_self_read_works(spark):
    """Overwriting a table from a plan that reads it WORKS: the stage
    write consumes the read before the old table is dropped."""
    df = spark.createDataFrame([(1,), (2,)], "id int")
    write_table(df, "io_test_selfread")
    self_read = spark.table("io_test_selfread").filter("id = 1")
    write_table(self_read, "io_test_selfread")
    assert [r["id"] for r in spark.table("io_test_selfread").collect()] == [1]


def test_overwrite_clears_orphaned_location(spark):
    """An unregistered stale warehouse dir (previous session's managed
    table, in-memory catalog gone) is cleared on the retry path."""
    from urllib.parse import urlparse

    df = spark.createDataFrame([(7,)], "id int")
    loc = urlparse(spark.catalog.getDatabase(spark.catalog.currentDatabase()).locationUri)
    stale = os.path.join(loc.path, "io_test_orphan")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "leftover.parquet"), "w") as f:
        f.write("stale bytes")
    spark.sql("DROP TABLE IF EXISTS io_test_orphan")
    write_table(df, "io_test_orphan")
    assert spark.table("io_test_orphan").collect()[0]["id"] == 7


def test_write_table_accepts_bloom_filter_cols(spark):
    t = "io_bloom_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    df = spark.range(0, 500).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_table(df, t, bloom_filter_cols=["k"])
    assert spark.table(t).count() == 500


def test_orc_table_roundtrip_with_bloom(spark, tmp_path):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        read_orc,
        write_table,
    )

    df = spark.createDataFrame(
        [(i, f"k{i:04d}", float(i)) for i in range(100)],
        "id long, key string, v double",
    )
    write_table(df, "sg_orc_rt", format="orc", bloom_filter_cols=["key"])
    back = spark.table("sg_orc_rt")
    assert back.count() == 100
    assert dict(back.dtypes) == dict(df.dtypes)
    # stage-and-swap also applies to orc overwrites
    write_table(df.filter("id < 10"), "sg_orc_rt", format="orc")
    assert spark.table("sg_orc_rt").count() == 10
    # path-based orc scan reads what the table writer laid down
    loc = (
        spark.sql("DESCRIBE TABLE EXTENDED sg_orc_rt")
        .filter("col_name = 'Location'")
        .collect()[0][1]
    )
    assert read_orc(spark, loc).count() == 10
    spark.sql("DROP TABLE sg_orc_rt")


def test_write_table_rejects_unknown_format(spark):
    import pytest as _pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import write_table

    df = spark.range(1)
    with _pytest.raises(ValueError, match="unsupported table format"):
        write_table(df, "sg_bad_fmt", format="avro")


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """Spark's runtime row-level bloom filter (on by default in the
    engine's session) must inject a might_contain predicate on the fact
    side of a selective dim join — the runtime semi-join pruning a
    100 TB fact scan relies on. Locally the 10 GB application-side
    threshold never triggers, so the test lowers it to prove the
    machinery is armed rather than silently disabled."""
    from pyspark.sql import functions as F

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    spark.range(100_000).withColumn("v", F.rand(1)).write.parquet(
        str(tmp_path / "fact")
    )
    spark.range(1_000).withColumn(
        "cat", (F.col("id") % 10).cast("string")
    ).write.parquet(str(tmp_path / "dim"))
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1B",
    )
    try:
        fact = spark.read.parquet(str(tmp_path / "fact"))
        dim = spark.read.parquet(str(tmp_path / "dim")).filter("cat = '3'")
        plan = (
            fact.join(dim, "id")._jdf.queryExecution().executedPlan().toString()
        )
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_index_table_health_and_generic_compact(spark):
    """Append chains create one file per touched bucket per batch;
    health() measures the creep and compact_index_table resets it
    (same bucket spec, rows deduplicated, metadata preserved) with
    probe results unchanged."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_build_index,
        span_incremental_dedup,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        compact_index_table,
        get_table_meta,
        index_table_health,
    )

    spark.sql("DROP TABLE IF EXISTS span_idx_compact_t")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    span_build_index(corpus, "span_idx_compact_t", k=4, n_buckets=4)
    for i in range(3):
        b = spark.createDataFrame(
            [(10 + i, f"fresh content number {i} varies widely here")],
            "doc_id long, text string",
        )
        span_incremental_dedup(spark, "span_idx_compact_t", b)
    h = index_table_health(spark, "span_idx_compact_t",
                           max_files_per_bucket=1.5)
    assert h["n_buckets"] == 4 and h["n_files"] > 4
    assert h["compact_recommended"]
    n_rows = spark.table("span_idx_compact_t").count()

    compact_index_table(spark, "span_idx_compact_t")
    h2 = index_table_health(spark, "span_idx_compact_t",
                            max_files_per_bucket=1.5)
    assert h2["n_files"] <= 4 and not h2["compact_recommended"]
    assert spark.table("span_idx_compact_t").count() == n_rows
    # metadata (incl. bucket spec + k contract) survives the rewrite
    meta = get_table_meta(spark, "span_idx_compact_t")
    assert meta["k"] == "4" and meta["bucket_cols"] == "_h"
    # the compacted index still masks a repeat of batch 0's content
    got = span_incremental_dedup(
        spark,
        "span_idx_compact_t",
        spark.createDataFrame(
            [(99, "fresh content number 0 varies widely here")],
            "doc_id long, text string",
        ),
        append=False,
    ).first()
    assert got.n_tokens_removed > 0

    import pytest as _pytest

    spark.sql("DROP TABLE IF EXISTS not_an_index_t")
    spark.range(3).write.saveAsTable("not_an_index_t")
    with _pytest.raises(ValueError, match="layout metadata"):
        compact_index_table(spark, "not_an_index_t")


def test_jdbc_filter_pushes_down_to_source(spark, tmp_path):
    """S2/S3 scan efficiency (round 16, carried from r14 #8): a filter
    on a JDBC read must reach the DATABASE as a pushed predicate — at
    RDS scale the delta pull ships the delta over the wire, not the
    table. Pinned the same way parquet pruning is
    (test_incremental.py::test_source_filter_pushes_down): the executed
    plan's JDBC scan lists the predicate under PushedFilters. Derby
    stands in for MySQL/Postgres — the pushdown path is the shared
    JDBCRelation, only URL/driver differ."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/pushdb;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    df = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(100)], "id int, amount double"
    )
    WarehouseSink(backend="jdbc", options={"url": url, "driver": driver}).write(
        df, "push_people"
    )
    back = read_jdbc(
        spark, url, "push_people",
        partition_column="id", lower_bound=0, upper_bound=99,
        num_partitions=4, driver=driver,
    )
    filtered = back.filter(F.col("id") > 50)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # the scan node itself carries the predicate (pushed to Derby),
    # and it is starred = handled BY the source, so Spark plans no
    # redundant post-scan re-filter of rows the database already kept
    assert "PushedFilters:" in plan
    assert "GreaterThan(ID,50)" in plan or "GreaterThan(id,50)" in plan
    assert filtered.count() == 49  # 51..99 — the pushed scan is correct


@pytest.mark.slow
def test_heal_interrupted_swap_completes_dangling_rename(spark):
    """write_table's stage-and-swap has one window where the table name
    dangles: a crash between DROP TABLE and the stage RENAME leaves the
    committed new data unreachable in {table}__stage. heal_interrupted_
    swap completes the rename (strictly recovery) — and write_table
    itself self-heals the state before its next overwrite, so a
    retried pipeline never trips over its own crash."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        heal_interrupted_swap,
    )

    t = "io_swap_heal"
    for s in (t, f"{t}__stage"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    v2 = spark.createDataFrame([(1, "new"), (2, "new")], "id int, v string")
    # simulate the crash state: stage committed, base dropped
    write_table(v2, f"{t}__stage")
    assert not spark.catalog.tableExists(t)

    assert heal_interrupted_swap(spark, t) is True
    assert spark.catalog.tableExists(t)
    assert not spark.catalog.tableExists(f"{t}__stage")
    assert {r["v"] for r in spark.table(t).collect()} == {"new"}
    # idempotent: nothing pending -> no-op
    assert heal_interrupted_swap(spark, t) is False

    # write-side self-heal: recreate the crash state, then a plain
    # overwrite must succeed and leave no stage behind
    spark.sql(f"ALTER TABLE {t} RENAME TO {t}__stage")
    assert not spark.catalog.tableExists(t)
    v3 = spark.createDataFrame([(9, "v3")], "id int, v string")
    write_table(v3, t)
    assert {r["v"] for r in spark.table(t).collect()} == {"v3"}
    assert not spark.catalog.tableExists(f"{t}__stage")
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_mode_heals_dangling_swap_first(spark):
    """Round 17 review: a non-overwrite write to a table whose swap
    crashed between DROP and RENAME must heal FIRST. Without the heal,
    the append would create a fresh table of just the appended rows and
    flip the committed ``__stage`` into "stale" — the exact content the
    maintenance sweep then reclaims, silently losing the committed
    overwrite."""
    t = "io_append_heals"
    for s in (t, f"{t}__stage"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    staged = spark.createDataFrame(
        [(1, "committed"), (2, "committed")], "id int, v string"
    )
    write_table(staged, f"{t}__stage")  # crash state: stage only
    assert not spark.catalog.tableExists(t)

    extra = spark.createDataFrame([(3, "appended")], "id int, v string")
    write_table(extra, t, mode="append")
    got = {(r["id"], r["v"]) for r in spark.table(t).collect()}
    assert got == {(1, "committed"), (2, "committed"), (3, "appended")}
    assert not spark.catalog.tableExists(f"{t}__stage")
    spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow
def test_heal_repairs_its_own_msck_crash_window(spark):
    """Round 17 review: a heal (or swap) killed between its RENAME and
    MSCK leaves a partitioned base whose partition entries still point
    into the retired ``__stage`` directory (the rename retargets the
    table location but each partition keeps its old absolute path) —
    reads silently return ZERO rows. The next heal_interrupted_swap
    call (every write_table routes through it, any mode) must detect
    the stale locations and re-repair."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        heal_interrupted_swap,
    )

    t = "io_heal_msck_window"
    for s in (t, f"{t}__stage"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id int, v string, p int"
    )
    # simulate RENAME-done-MSCK-lost: stage write + manual rename —
    # the partition entries survive but their locations are stale
    write_table(df, f"{t}__stage", partition_by=["p"])
    spark.sql(f"ALTER TABLE {t}__stage RENAME TO {t}")
    spark.catalog.refreshTable(t)
    assert spark.sql(f"SHOW PARTITIONS {t}").count() == 2  # entries live
    assert spark.table(t).count() == 0  # ...but reads are silently empty

    assert heal_interrupted_swap(spark, t) is False  # nothing pending
    spark.catalog.refreshTable(t)
    assert spark.table(t).count() == 2  # ...but the window was repaired
    assert {r["p"] for r in spark.table(t).select("p").collect()} == {0, 1}

    # healthy partitioned table: the probe must NOT cry stale (no
    # gratuitous MSCK on every later write)
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        _partitions_stale,
    )

    assert _partitions_stale(spark, t) is False
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_write_table_heal_probe_memoized(spark, monkeypatch):
    """The pre-write crash-recovery probe runs ONCE per table per
    process (the states it repairs can only predate the session), so
    repeated appends — the streaming micro-batch hot path — pay zero
    catalog chatter. A write that raises mid-body un-memoizes, so a
    caught-and-retried write re-probes."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources import io

    t = "io_heal_memo"
    for s in (t, f"{t}__stage"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    io._HEAL_CHECKED.discard(t)
    calls = {"n": 0}
    real = io.heal_interrupted_swap

    def counting(spark_, table_):
        if table_ == t:
            calls["n"] += 1
        return real(spark_, table_)

    monkeypatch.setattr(io, "heal_interrupted_swap", counting)
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    io.write_table(df, t)
    io.write_table(df, t, mode="append")
    io.write_table(df, t, mode="append")
    assert calls["n"] == 1  # probed once, appends skipped it
    assert spark.table(t).count() == 3

    # a failing write un-memoizes: the retry probes again
    def bomb(spark_, writer_, table_):
        raise RuntimeError("injected")

    real_save = io._save_with_orphan_retry
    monkeypatch.setattr(io, "_save_with_orphan_retry", bomb)
    with pytest.raises(RuntimeError, match="injected"):
        io.write_table(df, t, mode="append")
    monkeypatch.setattr(io, "_save_with_orphan_retry", real_save)
    io.write_table(df, t, mode="append")
    assert calls["n"] == 2  # re-probed after the failure
    assert spark.table(t).count() == 4
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    io._HEAL_CHECKED.discard(t)


def test_heal_interrupted_swap_partitioned_recovers_partitions(spark):
    """The rename relocates the managed directory but not the catalog's
    partition entries — the heal must MSCK so a partitioned table reads
    its rows back (the same recovery the normal swap does)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        heal_interrupted_swap,
    )

    t = "io_swap_heal_part"
    for s in (t, f"{t}__stage"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id int, v string, p int"
    )
    write_table(df, f"{t}__stage", partition_by=["p"])
    assert heal_interrupted_swap(spark, t) is True
    assert spark.table(t).count() == 2
    assert {r["p"] for r in spark.table(t).select("p").collect()} == {0, 1}
    spark.sql(f"DROP TABLE IF EXISTS {t}")
