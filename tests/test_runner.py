"""Pipeline runner contract: dependency-driven concurrent dispatch,
fail-fast on a failed DQ gate, deterministic error and result order,
job-group inheritance, validation before any write, and warehouse copies
as leaf tasks off the critical path. Tiny in-memory DataFrames with
sinks in a per-test scratch database."""

from __future__ import annotations

import itertools
import re
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans import runner
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import DQRule
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.runner import Node, Pipeline
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import WarehouseSink

ROW_GATE = [DQRule("row_count", "row_count", threshold=1)]
# NodeResult.started and .seconds are each rounded to the millisecond
ROUNDING_S = 0.002

_ids = itertools.count()


@pytest.fixture
def db(spark):
    name = f"runner_t{next(_ids)}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


@pytest.fixture
def src(spark):
    return spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string")


def _track(ran: list, name: str, fn=lambda *dfs: dfs[0]):
    def wrapped(*dfs):
        ran.append(name)
        return fn(*dfs)

    return wrapped


def _union(*dfs):
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def test_failed_gate_stops_downstream_and_lets_in_flight_finish(spark, db, src):
    # diamond a -> (b, c) -> d; b's row_count gate fails. b and c are
    # dispatched together, so c is in flight when b fails.
    spark.createDataFrame([(-1, "old")], "id int, v string").write.saveAsTable(f"{db}.d")
    ran: list[str] = []
    pipe = Pipeline([
        Node("a", _track(ran, "a"), deps=["src"], sink=f"{db}.a", dq_rules=ROW_GATE),
        Node("b", _track(ran, "b", lambda df: df.filter("id < 0")), deps=["a"],
             sink=f"{db}.b", dq_rules=ROW_GATE),
        Node("c", _track(ran, "c"), deps=["a"], sink=f"{db}.c", dq_rules=ROW_GATE),
        Node("d", _track(ran, "d", _union), deps=["b", "c"], sink=f"{db}.d",
             dq_rules=ROW_GATE),
    ])
    with pytest.raises(RuntimeError, match="DQ gate failed at b"):
        pipe.run(spark, {"src": src})
    assert "d" not in ran
    # the in-flight sibling ran to completion before run raised
    assert sorted(r.id for r in spark.table(f"{db}.c").collect()) == [1, 2, 3]
    # d's existing table was neither swapped nor staged
    assert [tuple(r) for r in spark.table(f"{db}.d").collect()] == [(-1, "old")]
    assert not spark.catalog.tableExists(f"{db}.d__stage")


def test_earliest_failure_in_topological_order_is_raised(spark, db, src):
    # c fails at once in its fn; b fails later, at its gate after its
    # write. b precedes c in topological order, so b's failure is raised.
    def broken(df):
        raise ValueError("c is broken")

    pipe = Pipeline([
        Node("a", lambda df: df, deps=["src"], sink=f"{db}.a"),
        Node("b", lambda df: df.filter("id < 0"), deps=["a"], sink=f"{db}.b",
             dq_rules=ROW_GATE),
        Node("c", broken, deps=["a"], sink=f"{db}.c"),
    ])
    with pytest.raises(RuntimeError, match="DQ gate failed at b"):
        pipe.run(spark, {"src": src})


def test_independent_nodes_overlap_and_respect_dependencies(spark, db, src):
    # a and b each wait at a two-party barrier while their plan is
    # built: a serial runner times out there, only real overlap passes
    barrier = threading.Barrier(2, timeout=60)

    def meet(df):
        barrier.wait()
        return df

    pipe = Pipeline([
        Node("c", _union, deps=["a", "b"], sink=f"{db}.c", dq_rules=ROW_GATE),
        Node("a", meet, deps=["src"], sink=f"{db}.a", dq_rules=ROW_GATE),
        Node("b", meet, deps=["src"], sink=f"{db}.b", dq_rules=ROW_GATE),
        Node("e", lambda c: c.filter("id > 1"), deps=["c"], sink=f"{db}.e"),
    ])
    results = pipe.run(spark, {"src": src})
    assert list(results) == pipe._topo_order()
    for name, node in pipe.nodes.items():
        for d in node.deps:
            if d in pipe.nodes:
                dep = results[d]
                assert results[name].started + ROUNDING_S >= dep.started + dep.seconds
    assert results["c"].rows_written == 6
    assert spark.table(f"{db}.e").count() == 4


def test_pool_threads_inherit_caller_job_group(spark, db, src):
    sc = spark.sparkContext
    group = f"plans-runner-{db}"
    pipe = Pipeline([
        Node("a", lambda df: df, deps=["src"], sink=f"{db}.a"),
        Node("b", lambda a: a, deps=["a"], sink=f"{db}.b"),
    ])
    sc.setJobGroup(group, "runner job group inheritance")
    try:
        pipe.run(spark, {"src": src})
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup(group)


def test_unresolved_input_raises_before_any_write(spark, db, src):
    pipe = Pipeline([
        Node("p", lambda df: df, deps=["src"], sink=f"{db}.p"),
        Node("q", lambda p, m: p, deps=["p", "missing"], sink=f"{db}.q"),
    ])
    with pytest.raises(KeyError, match="missing"):
        pipe.run(spark, {"src": src})
    assert not spark.catalog.tableExists(f"{db}.p")


def test_cycle_raises_before_any_write(spark, db, src):
    pipe = Pipeline([
        Node("z", lambda df: df, deps=["src"], sink=f"{db}.z"),
        Node("x", lambda y: y, deps=["y"], sink=f"{db}.x"),
        Node("y", lambda x: x, deps=["x"], sink=f"{db}.y"),
    ])
    with pytest.raises(ValueError, match="cycle"):
        pipe.run(spark, {"src": src})
    assert not spark.catalog.tableExists(f"{db}.z")


def test_unique_gate_checks_the_written_sink(spark, db, src):
    # a unique rule reads the sink the node wrote: the node's plan (here
    # a Python UDF that counts its calls) runs once per row, and the
    # gate sees the written rows, not a re-execution
    calls = spark.sparkContext.accumulator(0)

    def tag(v):
        calls.add(1)
        return v.upper()

    tagged = F.udf(tag, "string")
    pipe = Pipeline([
        Node("u", lambda df: df.withColumn("v", tagged("v")), deps=["src"],
             sink=f"{db}.u", dq_rules=[DQRule("v_unique", "unique", column="v")]),
    ])
    res = pipe.run(spark, {"src": src})
    assert calls.value == src.count() == 3
    assert [(r.rule, r.passed, r.observed) for r in res["u"].dq] == [("v_unique", True, 3)]
    assert sorted(r.v for r in spark.table(f"{db}.u").collect()) == ["A", "B", "C"]


class _GatedSink(WarehouseSink):
    """A catalog warehouse sink whose copy first waits for ``release``."""

    def __init__(self, release: threading.Event):
        super().__init__()
        self.release = release

    def write(self, df, table, mode="overwrite"):
        if not self.release.wait(timeout=30):
            raise TimeoutError("no downstream node was dispatched during the copy")
        super().write(df, table, mode)


class _FailingSink(WarehouseSink):
    """A warehouse sink whose copy fails and then sets ``failed``."""

    def __init__(self, failed: threading.Event):
        super().__init__()
        self.failed = failed

    def write(self, df, table, mode="overwrite"):
        try:
            raise RuntimeError("warehouse is down")
        finally:
            self.failed.set()


def test_downstream_is_dispatched_while_the_warehouse_copy_runs(spark, db, src):
    # a's copy waits until b has started: a runner that holds b back
    # until a's copy lands times out inside the copy
    b_started = threading.Event()

    def b(df):
        b_started.set()
        return df

    pipe = Pipeline(
        [
            Node("a", lambda df: df, deps=["src"], sink=f"{db}.a", dq_rules=ROW_GATE,
                 warehouse_table=f"{db}.a_wh"),
            Node("b", b, deps=["a"], sink=f"{db}.b", dq_rules=ROW_GATE),
        ],
        warehouse=_GatedSink(b_started),
    )
    results = pipe.run(spark, {"src": src})
    # run returned only after the copy landed
    assert sorted(r.id for r in spark.table(f"{db}.a_wh").collect()) == [1, 2, 3]
    assert results["a"].warehouse_seconds is not None
    assert results["b"].rows_written == 3


def test_failing_copy_is_raised_and_stops_dispatch(spark, db, src):
    # w's copy fails while s is held in its plan; once s finishes, its
    # downstream d must not be dispatched, and w's catalog sink stays
    copy_failed = threading.Event()
    ran: list[str] = []

    def s(df):
        assert copy_failed.wait(timeout=30)
        return df

    pipe = Pipeline(
        [
            Node("w", lambda df: df, deps=["src"], sink=f"{db}.w", dq_rules=ROW_GATE,
                 warehouse_table=f"{db}.w_wh"),
            Node("s", _track(ran, "s", s), deps=["src"], sink=f"{db}.s"),
            Node("d", _track(ran, "d"), deps=["s"], sink=f"{db}.d"),
        ],
        warehouse=_FailingSink(copy_failed),
    )
    with pytest.raises(RuntimeError, match="warehouse is down"):
        pipe.run(spark, {"src": src})
    assert ran == ["s"]
    assert not spark.catalog.tableExists(f"{db}.d")
    assert sorted(r.id for r in spark.table(f"{db}.w").collect()) == [1, 2, 3]
    assert not spark.catalog.tableExists(f"{db}.w_wh")


def test_warehouse_copy_holds_the_gated_rows(spark, db, src):
    # a nondeterministic column: a copy that re-ran the node's plan
    # would land other values than the gate checked
    pipe = Pipeline([
        Node("r", lambda df: df.withColumn("x", F.rand()), deps=["src"], sink=f"{db}.r",
             dq_rules=ROW_GATE, warehouse_table=f"{db}.r_wh"),
        Node("p", lambda r: r, deps=["r"], sink=f"{db}.p"),
    ])
    results = pipe.run(spark, {"src": src})
    gold = sorted(map(tuple, spark.table(f"{db}.r").collect()))
    assert sorted(map(tuple, spark.table(f"{db}.r_wh").collect())) == gold
    assert results["r"].warehouse_seconds >= 0
    assert results["p"].warehouse_seconds is None


def test_runner_pins_nothing_and_no_whole_plan_estimate_is_read():
    # a pinned frame between the sinks, or a plan choice read from
    # Catalyst's whole-plan estimate, puts a stall back on the refresh
    src = Path(runner.__file__).read_text()
    for call in (".cache(", ".persist(", ".unpersist("):
        assert call not in src
    pkg = Path(runner.__file__).parents[1]
    whole_plan = re.compile(r"optimizedPlan\(\)\s*\.\s*stats\(")
    assert not [f.name for f in pkg.rglob("*.py") if whole_plan.search(f.read_text())]
