"""Window operators: W1 dedup-latest, W2 surrogate keys, W3 SCD-2."""

from __future__ import annotations

import datetime

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import (
    dedupe_latest,
    scd2_close,
    surrogate_key,
    surrogate_key_two_phase,
)

D = datetime.date


def test_dedupe_latest_keeps_newest_per_key(spark):
    rows = [
        (1, "old", D(2020, 1, 1)),
        (1, "new", D(2021, 1, 1)),
        (2, "only", D(2020, 6, 1)),
        (None, "nullkey", D(2022, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "id int, tag string, dt date")
    out = dedupe_latest(df, ["id"], "dt").orderBy("id").collect()
    assert [(r["id"], r["tag"]) for r in out] == [(1, "new"), (2, "only")]


def test_dedupe_latest_tiebreak_deterministic(spark):
    rows = [(1, "a", D(2020, 1, 1)), (1, "b", D(2020, 1, 1))]
    df = spark.createDataFrame(rows, "id int, tag string, dt date")
    out = dedupe_latest(df, ["id"], "dt", tiebreakers=["tag"]).collect()
    assert [r["tag"] for r in out] == ["b"]  # desc tiebreak


def test_dedupe_latest_one_row_per_key(spark):
    rows = [(i % 10, f"t{i}", D(2020, 1, 1 + i % 27)) for i in range(200)]
    df = spark.createDataFrame(rows, "id int, tag string, dt date")
    out = dedupe_latest(df, ["id"], "dt", tiebreakers=["tag"])
    assert out.count() == 10
    assert out.select("id").distinct().count() == 10


def test_scd2_close_lead_minus_one_day(spark):
    rows = [
        ("k1", D(2020, 1, 1)),
        ("k1", D(2020, 3, 1)),
        ("k1", D(2020, 6, 1)),
        ("k2", D(2021, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "key string, start date")
    out = {
        (r["key"], r["start"]): r["end_dt"]
        for r in scd2_close(df, ["key"], "start").collect()
    }
    assert out[("k1", D(2020, 1, 1))] == D(2020, 2, 29)
    assert out[("k1", D(2020, 3, 1))] == D(2020, 5, 31)
    assert out[("k1", D(2020, 6, 1))] is None  # current version stays open
    assert out[("k2", D(2021, 1, 1))] is None


def test_surrogate_key_dense_and_ordered(spark):
    df = spark.createDataFrame([(30,), (10,), (20,)], "id int")
    out = surrogate_key(df, ["id"], "sk").orderBy("sk").collect()
    assert [(r["sk"], r["id"]) for r in out] == [(1, 10), (2, 20), (3, 30)]


def test_surrogate_two_phase_matches_faithful(spark):
    df = spark.createDataFrame([(i,) for i in range(997, -1, -1)], "id int")
    faithful = {r["id"]: r["sk"] for r in surrogate_key(df, ["id"], "sk").collect()}
    # small_bytes=0 disables the dim-sized (leaf bytes) fast path so this
    # genuinely runs the counted single-bucket branch
    two_phase = {
        r["id"]: r["sk"]
        for r in surrogate_key_two_phase(
            df, ["id"], "sk", num_partitions=7, small_bytes=0
        ).collect()
    }
    assert faithful == two_phase
    assert sorted(two_phase.values()) == list(range(1, 999))


def test_surrogate_two_phase_multibucket_path(spark):
    # force the ranged multi-bucket path (tiny rows_per_bucket) and a
    # multi-column ordering with strings + dates — same result as the
    # global-window form
    rows = [(D(2020, 1, 1 + i % 27), f"k{i:04d}") for i in range(500)]
    df = spark.createDataFrame(rows, "start date, key string").repartition(11)
    order = ["start", "key"]
    faithful = {
        (r["start"], r["key"]): r["sk"]
        for r in surrogate_key(df, order, "sk").collect()
    }
    # small_bytes=0 disables the leaf-bytes fast path; tiny rows_per_bucket
    # then forces the genuinely-bucketed branch (multiple range buckets,
    # broadcast offsets join)
    ranged = surrogate_key_two_phase(
        df, order, "sk", num_partitions=8, rows_per_bucket=50, small_bytes=0
    )
    got = {(r["start"], r["key"]): r["sk"] for r in ranged.collect()}
    assert got == faithful
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan  # the bucketed path, not a single window
    # re-evaluation must be deterministic
    again = {(r["start"], r["key"]): r["sk"] for r in ranged.collect()}
    assert again == faithful


def test_surrogate_two_phase_single_bucket_no_global_window(spark):
    # dim-sized input -> one designed bucket; plan must not contain an
    # unpartitioned window (the WindowExec all-to-one-task warning shape)
    df = spark.createDataFrame([(i,) for i in range(100)], "id int")
    out = surrogate_key_two_phase(df, ["id"], "sk")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert out.count() == 100


def test_merge_upsert(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k int, v string, ver int"
    )
    updates = spark.createDataFrame(
        [(2, "B1", 2), (2, "B2", 3), (4, "d", 1)], "k int, v string, ver int"
    )
    out = merge_upsert(target, updates, ["k"], order_col="ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in out.collect()}
    # unmatched target survives; updates win; within-updates last version
    # wins; new key inserted
    assert got == {1: ("a", 1), 2: ("B2", 3), 3: ("c", 1), 4: ("d", 1)}


def test_merge_upsert_prefer_order_keeps_newer_target(spark):
    """prefer='order': an update batch carrying an OLDER version than the
    target (out-of-order CDC arrival) must not clobber the newer row;
    ties go to the updates side. prefer='updates' (the W4 default) is
    batch-authoritative and does clobber — both contracts pinned here."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "new", 5), (2, "same", 3)], "k int, v string, ver int"
    )
    late = spark.createDataFrame(
        [(1, "old", 2), (2, "tie", 3), (3, "ins", 1)], "k int, v string, ver int"
    )
    by_order = {
        r["k"]: r["v"]
        for r in merge_upsert(target, late, ["k"], order_col="ver", prefer="order").collect()
    }
    assert by_order == {1: "new", 2: "tie", 3: "ins"}
    by_updates = {
        r["k"]: r["v"]
        for r in merge_upsert(target, late, ["k"], order_col="ver").collect()
    }
    assert by_updates == {1: "old", 2: "tie", 3: "ins"}


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import (
        salted_join,
    )

    # hot key 1 dominates the left side
    left = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 100), (3, 200)], "k int, lv int"
    )
    right = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "k int, rv string")
    plain = left.join(right, "k", "inner").select("k", "lv", "rv")
    salted = salted_join(left, right, "k", salt=8, how="inner").select("k", "lv", "rv")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # left_outer parity too (unmatched key 3 must survive with NULL rv)
    plain_l = left.join(right, "k", "left").select("k", "lv", "rv")
    salted_l = salted_join(left, right, "k", salt=8, how="left").select("k", "lv", "rv")
    assert sorted(map(tuple, salted_l.collect()), key=str) == sorted(
        map(tuple, plain_l.collect()), key=str
    )


def test_surrogate_two_phase_at_default_scale_threshold(spark):
    """5M rows crosses the default 4M rows_per_bucket, so the REAL
    multi-bucket branch runs with production defaults (leaf-bytes
    fast path included — spark.range's leaf size is exact and small,
    so disable it explicitly). Ordering by id makes the exact answer
    id+1, checkable distributed without a faithful twin."""
    from pyspark.sql import functions as F

    n = 5_000_000
    df = spark.range(n)  # columns: id
    out = surrogate_key_two_phase(
        df, ["id"], "sk", materialize=False, small_bytes=0
    )
    bad = out.filter(F.col("sk") != F.col("id") + 1).count()
    assert bad == 0


def test_skew_report_finds_hot_key_and_sizes_salt(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import (
        skew_report,
    )

    rows = [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)]
    df = spark.createDataFrame(rows, "k int, v int")
    rep = skew_report(df, "k", top_n=3, target_rows_per_task=100)
    assert rep["n_rows"] == 1000 and rep["n_keys"] == 101
    hot = rep["top"][0]
    assert hot["key"] == {"k": 1} and hot["rows"] == 900
    assert hot["suggested_salt"] == 9  # ceil(900 / 100)
    assert rep["skew_ratio"] > 80  # 900 vs ~9.9 mean
    # uniform tail keys suggest no salting
    assert all(t["suggested_salt"] == 1 for t in rep["top"][1:])


def test_resample_ffill_grid_and_locf(spark):
    """Gap buckets appear with 0 events and NULL bucket_value; the
    filled series carries the last observed bucket sum forward; grids
    are per-key (no cross-key calendar join)."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        resample_ffill,
    )

    rows = [
        (1, 0, 10.0), (1, 30, 5.0),       # bucket 0 (two events)
        (1, 3 * 3600 + 5, 7.0),           # bucket 3 -> gaps at 1, 2
        (2, 7200, 1.0),                   # key 2 spans one bucket only
    ]
    ev = spark.createDataFrame(rows, "user_id long, sec long, value double")
    ev = ev.withColumn("ts", F.to_timestamp(F.from_unixtime("sec")))
    out = {
        (r.user_id, r.bucket): (r.n_events, r.bucket_value, r.filled_value)
        for r in resample_ffill(ev, "user_id", "ts", 3600, "value").collect()
    }
    assert out[(1, 0)] == (2, 15.0, 15.0)
    assert out[(1, 1)] == (0, None, 15.0)   # gap: LOCF carries 15.0
    assert out[(1, 2)] == (0, None, 15.0)
    assert out[(1, 3)] == (1, 7.0, 7.0)
    assert out[(2, 2)] == (1, 1.0, 1.0)
    # key 2's grid is its own span only — no rows at key 1's buckets
    assert {k for k in out if k[0] == 2} == {(2, 2)}


def test_resample_ffill_max_buckets_guard(spark):
    """max_buckets_per_key fails fast (executor-side, with the
    offending key and width in the message) instead of exploding a
    years-at-second-resolution key into 10^8 grid rows; in-bound spans
    are unaffected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        resample_ffill,
    )

    rows = [(1, 0, 1.0), (1, 10 * 3600, 2.0), (2, 0, 3.0), (2, 3600, 4.0)]
    ev = spark.createDataFrame(rows, "user_id long, sec long, value double")
    ev = ev.withColumn("ts", F.to_timestamp(F.from_unixtime("sec")))
    # key 1 spans 11 hourly buckets > cap of 5 -> loud failure naming it
    with _pytest.raises(Exception, match="key 1 spans 11 buckets"):
        resample_ffill(
            ev, "user_id", "ts", 3600, "value", max_buckets_per_key=5
        ).collect()
    # a cap wide enough for every key changes nothing
    capped = resample_ffill(
        ev, "user_id", "ts", 3600, "value", max_buckets_per_key=11
    )
    uncapped = resample_ffill(ev, "user_id", "ts", 3600, "value")
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, uncapped.collect())
    )


def test_sessionize_gap_boundary_and_ids(spark):
    """A gap EXACTLY equal to gap_seconds stays in the same session
    (only strictly-greater gaps split); indexes are 1-based per key and
    session_id embeds key#index."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        sessionize,
    )

    rows = [
        (1, 0), (1, 1800),            # exactly 1800 s -> same session
        (1, 1800 + 1801),             # 1801 s -> new session
        (2, 50),                      # other key: independent numbering
    ]
    ev = spark.createDataFrame(rows, "user_id long, sec long")
    ev = ev.withColumn("ts", F.to_timestamp(F.from_unixtime("sec")))
    out = {
        (r.user_id, r.sec): (r.session_index, r.session_id)
        for r in sessionize(ev, "user_id", "ts", 1800).collect()
    }
    assert out[(1, 0)] == (1, "1#1")
    assert out[(1, 1800)] == (1, "1#1")
    assert out[(1, 3601)] == (2, "1#2")
    assert out[(2, 50)] == (1, "2#1")


def test_sessionize_chunked_matches_unchunked_on_skewed_key(spark):
    """The skew-bounded chunked variant must be output-identical to the
    single-task-per-key default — including sessions that straddle
    chunk boundaries, exact-gap edges, empty chunks between bursts, and
    one hot key carrying most of the data."""
    import random

    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        sessionize,
    )

    rng = random.Random(42)
    rows = []
    # hot key 1: 500 events in bursts with occasional multi-chunk gaps
    t = 0
    for i in range(500):
        step = rng.choice([1, 60, 1800, 1801, 4000, 9000])
        t += step
        rows.append((1, t, i))
    # cold keys: sparse
    for u in range(2, 12):
        t = rng.randrange(0, 100000)
        for i in range(5):
            t += rng.choice([30, 1800, 5000])
            rows.append((u, t, 1000 * u + i))
    ev = spark.createDataFrame(rows, "user_id long, sec long, event_id long")
    ev = ev.withColumn("ts", F.to_timestamp(F.from_unixtime("sec")))
    key = lambda r: (r.user_id, r.sec, r.event_id)  # noqa: E731
    plain = {
        key(r): (r.session_index, r.session_id)
        for r in sessionize(ev, "user_id", "ts", 1800, ["event_id"]).collect()
    }
    chunked_df = sessionize(
        ev, "user_id", "ts", 1800, ["event_id"], chunk_seconds=3600
    )
    chunked = {
        key(r): (r.session_index, r.session_id) for r in chunked_df.collect()
    }
    assert chunked == plain
    # the plan exchanges on (key, _chunk) — the skew bound — not on the
    # bare key alone for the event-grain window
    plan = chunked_df._jdf.queryExecution().executedPlan().toString()
    assert "_chunk" in plan and "hashpartitioning(user_id" in plan


def test_sessionize_chunked_rejects_chunk_smaller_than_gap(spark):
    """chunk < gap would let a session span non-adjacent chunks and the
    adjacent-only fuse silently splits it — must raise instead."""
    import pytest
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        sessionize,
    )

    ev = spark.createDataFrame(
        [(1, 0)], "user_id long, sec long"
    ).withColumn("ts", F.to_timestamp(F.from_unixtime("sec")))
    with pytest.raises(ValueError, match="chunk_seconds"):
        sessionize(ev, "user_id", "ts", 1800, chunk_seconds=600)


def test_session_stats_and_subsecond_gaps(spark):
    """Rollup carries event counts and microsecond-exact durations;
    sub-second gaps never split sessions spuriously (micros, not
    seconds, drive the arithmetic)."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        session_stats,
    )

    # two events 0.5 s apart, then a 2 h jump
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00.200000"), (1, "2024-01-01 00:00:00.700000"),
         (1, "2024-01-01 02:00:01.000000")],
        "user_id long, t string",
    ).withColumn("ts", F.to_timestamp("t"))
    out = {
        r.session_index: (r.n_events, r.duration_seconds)
        for r in session_stats(ev, "user_id", "ts", 1800).collect()
    }
    assert out == {1: (2, 0.5), 2: (1, 0.0)}


def test_retention_cohorts_rates(spark):
    """Offset-0 rows carry the cohort size (rate 1.0); later offsets
    count distinct returning users against it."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        retention_cohorts,
    )

    day = 86400
    rows = [
        (1, 0), (1, 7 * day), (1, 14 * day),   # cohort 0, returns w1+w2
        (2, day), (2, 8 * day),                # cohort 0, returns w1
        (3, 7 * day + 60),                     # cohort 1, never returns
    ]
    ev = spark.createDataFrame(rows, "user_id long, sec long")
    ev = ev.withColumn("ts", F.to_timestamp(F.from_unixtime("sec")))
    got = {
        (r.cohort_period, r.period_offset): (r.n_users, r.retention_rate)
        for r in retention_cohorts(ev, "user_id", "ts", 7 * day).collect()
    }
    assert got == {
        (0, 0): (2, 1.0), (0, 1): (2, 1.0), (0, 2): (1, 0.5),
        (1, 0): (1, 1.0),
    }


def test_rolling_quantile_exact_frame(spark):
    """The trailing-N frame is exact: early rows see only their own
    prefix; the median is the true order statistic, not an approx."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        rolling_quantile,
    )

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0]
    rows = [(1, i, vals[i]) for i in range(6)]
    ev = spark.createDataFrame(rows, "k long, pos long, value double")
    out = {
        r.pos: r.rolling_q
        for r in rolling_quantile(
            ev, "k", "value", 0.5, 3, order_cols=("pos",)
        ).collect()
    }
    # frames: [3] [3,1] [3,1,4] [1,4,1] [4,1,5] [1,5,9]
    assert out == {0: 3.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 4.0, 5: 5.0}


def test_interarrival_stats_gaps(spark):
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        interarrival_stats,
    )

    rows = [("a", 0), ("a", 10), ("a", 40), ("b", 5)]
    ev = spark.createDataFrame(rows, "event_type string, sec long")
    ev = ev.withColumn("ts", F.to_timestamp(F.from_unixtime("sec")))
    got = {
        r.event_type: (r.n_gaps, r.avg_gap, r.p50_gap, r.max_gap)
        for r in interarrival_stats(ev, "event_type", "ts").collect()
    }
    # key "b" has a single event -> no gaps -> no row
    assert got == {"a": (2, 20.0, 20.0, 30.0)}


def test_bloom_semi_join_prunes_scan_side_and_stays_exact(spark):
    """The bloom filter evaluates below the exchange (scan-side prune),
    keeps all true matches plus a small false-positive tail, and the
    composed exact join equals the plain semi join."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import (
        bloom_prune,
        bloom_semi_join,
        build_key_bloom,
    )

    right = spark.range(0, 3000, 3).withColumnRenamed("id", "k")  # 1000 keys
    left = spark.range(30000).withColumnRenamed("id", "k")
    bloom = build_key_bloom(right, "k")
    kept = bloom_prune(left, "k", bloom).count()
    # no false negatives; FP rate small at 16 Kib bits / 1000 keys
    assert 1000 <= kept <= 1000 + 30000 * 0.05

    out = bloom_semi_join(left, right, "k")
    plain = left.join(right, "k", "leftsemi")
    assert sorted(r.k for r in out.collect()) == sorted(
        r.k for r in plain.collect()
    )
    # the prune must sit BELOW the join (scan-side), so in the
    # top-down optimized-plan print the Join line precedes the
    # shiftright bit-test Filter that feeds its left child
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "shiftright" in plan
    assert 0 <= plan.find("Join") < plan.find("shiftright")


def test_bloom_undersized_guard_warns_and_skips_dead_prune(spark):
    """A bloom sized far below the key set saturates — prunes nothing
    while charging two hashes per probe row. build_key_bloom must warn;
    bloom_semi_join must skip the dead prune entirely (plain exact
    join, identical result, no bit-test filter in the plan)."""
    import warnings

    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import (
        bloom_semi_join,
        build_key_bloom,
    )

    # 10k distinct keys vs 64 bits: hopelessly undersized
    right = spark.range(10000).withColumnRenamed("id", "k")
    left = spark.range(20000).withColumnRenamed("id", "k")
    with pytest.warns(RuntimeWarning, match="saturate"):
        build_key_bloom(right, "k", num_bits=64)
    with pytest.warns(RuntimeWarning, match="skipping the saturated"):
        out = bloom_semi_join(left, right, "k", num_bits=64)
    assert out.count() == 10000  # still exact
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "shiftright" not in plan  # no dead filter in the plan
    # a correctly-sized bloom neither warns nor changes results
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ok = bloom_semi_join(left, right, "k", num_bits=1 << 17)
    assert ok.count() == 10000


def test_surrogate_two_phase_unsized_leaf_takes_the_count_path(spark):
    # an RDD-backed relation's size is unknown to Spark: the phase-0
    # count runs. A sized leaf (a range) takes the fast path: no job.
    jsc = spark.sparkContext._jsc.sc()
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(50, 0, -1)]), "id int"
    )
    mark = jsc.dagScheduler().nextJobId()
    out = surrogate_key_two_phase(rdd_backed, ["id"], "sk")
    assert jsc.dagScheduler().nextJobId() > mark
    assert {r["id"]: r["sk"] for r in out.collect()} == {i: i for i in range(1, 51)}

    mark = jsc.dagScheduler().nextJobId()
    ranged = surrogate_key_two_phase(spark.range(50), ["id"], "sk")
    assert jsc.dagScheduler().nextJobId() == mark
    assert {r["id"]: r["sk"] for r in ranged.collect()} == {i: i + 1 for i in range(50)}
