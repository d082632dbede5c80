"""The status-store collector's output on known queries."""

import time

from pyspark.sql import functions as F

from perfbench.collector import StatusStore
from perfbench.trace import Tracer


def test_two_stage_query(spark):
    store = StatusStore(spark)
    mark = store.mark()
    spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count().collect()
    c = store.since(mark)
    # one job: a 4-task map stage, then a 3-task reduce stage (AQE off)
    assert (c.jobs, c.stages, c.tasks) == (1, 2, 7)
    assert c.shuffle_bytes > 0 and c.shuffle_bytes == c.shuffle_read_bytes
    assert c.spill_bytes == 0 and c.input_bytes == 0 and c.output_bytes == 0
    assert c.task_ms >= 0


def test_empty_region(spark):
    store = StatusStore(spark)
    mark = store.mark()
    assert store.since(mark).jobs == 0


def test_foreach_batch_jobs_are_bracketed(spark, tmp_path):
    """Jobs a stream runs on its own thread carry the stream's job group,
    not the caller's, yet fall inside the job-id range."""
    src = tmp_path / "src"
    spark.range(0, 10).write.parquet(str(src))
    seen = []
    sdf = spark.readStream.schema("id bigint").parquet(str(src))
    spark.sparkContext.setJobGroup("caller", "caller")
    store = StatusStore(spark)
    mark = store.mark()
    q = (sdf.writeStream.foreachBatch(lambda df, _: seen.append(df.count()))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    c = store.since(mark)
    assert seen == [10]
    assert c.jobs >= 1
    assert not spark.sparkContext.statusTracker().getJobIdsForGroup("caller")


def test_self_time():
    t = Tracer(enabled=True)
    now = time.time()
    with t.span("outer") as outer:
        pass
    outer["start"], outer["end"] = now, now + 1.0
    t.add("child", now + 0.2, now + 0.5, outer)
    t.add("child", now + 0.4, now + 0.6, outer)
    st = t.self_times()
    assert abs(st["outer"]["self_ms"] - 600) < 1e-3
    assert st["child"]["count"] == 2 and abs(st["child"]["total_ms"] - 500) < 1e-3
