"""Dependency-driven pipeline runner for the medallion DAG.

The reference's 15 jobs are orchestrated externally (Airflow per
README.md:41-42 — no DAG in repo); dependencies are implicit via S3
paths. Here the DAG is explicit: each node declares inputs, and the
runner dispatches a node as soon as every node it depends on has
finished, so independent nodes (the six bronze ingests, most silver
jobs) run side by side on a per-run thread pool, as the
Airflow-orchestrated Glue jobs do. Spark accepts concurrent jobs from
several Python threads; each node's thread inherits the caller's job
group and local properties (``cancelJobGroup`` still cancels a refresh)
and tags its jobs with the description ``plans.runner.<node>``.

Each node materializes to the session catalog (so downstream nodes
re-read exactly like the reference's S3/catalog handoff), attaches the
DQ gate as an ``observe`` on the sink write (no extra pass; ``unique``
rules, which ``observe`` cannot compute, read the written sink), and records
its start offset and wall-clock — the reference's ``load_duration`` log
(silver/crm_cust_info_silver.py:111-114) as structured metrics.

Fail-fast: a cycle or an input that is neither a node nor a source
raises before anything is written. Once a node fails (a DQ gate or an
exception), no further node is dispatched, the nodes already running
finish, and the failure of the earliest failed node in topological
order is raised.

A node is done once its catalog write and its gate have passed, and
its downstream nodes are dispatched at once. A gold node that also
targets the warehouse gets its second sink as a leaf task on the same
pool: the copy reads the committed, gated catalog table, so it holds
exactly the rows the gate checked and no downstream node waits for it
(the reference writes S3, then Snowflake, and no later job reads the
Snowflake copy — dim_customers_gold.py:56-62 then :72-81). A failed
copy counts as its node's failure, a failed gate never reaches the
warehouse, and ``run`` returns only after every copy has landed. The
copy's jobs are tagged ``plans.runner.<node>.warehouse``.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..sources.io import WarehouseSink, write_table
from .dq import DQResult, DQRule, attach_observation, evaluate_now


@dataclass
class Node:
    name: str
    fn: Callable[..., DataFrame]  # fn(*input DataFrames) -> DataFrame
    deps: Sequence[str] = ()
    sink: str | None = None  # catalog table to write; None = pass-through
    dq_rules: Sequence[DQRule] = ()
    warehouse_table: str | None = None  # optional second (warehouse) sink
    partition_by: Sequence[str] | None = None


@dataclass
class NodeResult:
    name: str
    seconds: float
    rows_written: int | None
    dq: list[DQResult] = field(default_factory=list)
    started: float = 0.0  # seconds from the start of Pipeline.run
    warehouse_seconds: float | None = None  # the copy; None without a second sink


class Pipeline:
    def __init__(self, nodes: Sequence[Node], warehouse: WarehouseSink | None = None):
        self.nodes = {n.name: n for n in nodes}
        if len(self.nodes) != len(nodes):
            raise ValueError("duplicate node names")
        self.warehouse = warehouse or WarehouseSink()

    def _topo_order(self) -> list[str]:
        order: list[str] = []
        state: dict[str, int] = {}  # 0=unseen 1=visiting 2=done

        def visit(name: str) -> None:
            if state.get(name) == 2:
                return
            if state.get(name) == 1:
                raise ValueError(f"cycle at {name}")
            state[name] = 1
            for d in self.nodes[name].deps:
                if d in self.nodes:
                    visit(d)
            state[name] = 2
            order.append(name)

        for name in self.nodes:
            visit(name)
        return order

    def run(
        self, spark: SparkSession, sources: dict[str, DataFrame] | None = None
    ) -> dict[str, NodeResult]:
        """Execute the DAG. ``sources`` provides DataFrames for dep names
        that are not nodes (external inputs). Raises on a cycle or an
        unresolved input before anything is written, and on a failed DQ
        gate, a failing node or a failing warehouse copy once the work
        already running finishes. Returns after every copy has landed.
        """
        sources = sources or {}
        order = self._topo_order()
        for name in order:
            for d in self.nodes[name].deps:
                if d not in self.nodes and d not in sources:
                    raise KeyError(f"unresolved input '{d}' of node '{name}'")

        # ensure catalog databases for qualified sinks (bronze.x, gold.y)
        dbs = set()
        for n in self.nodes.values():
            for t in (n.sink, n.warehouse_table if self.warehouse.backend == "catalog" else None):
                if t and "." in t:
                    dbs.add(t.rsplit(".", 1)[0])
        for db in sorted(dbs):
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")

        outputs: dict[str, DataFrame] = {}
        results: dict[str, NodeResult] = {}
        t_run = time.time()

        def run_node(name: str) -> tuple[DataFrame, NodeResult]:
            spark.sparkContext.setJobDescription(f"plans.runner.{name}")
            node = self.nodes[name]
            t0 = time.time()
            df = node.fn(*[outputs[d] if d in self.nodes else sources[d] for d in node.deps])
            dq: list[DQResult] = []
            rows = None
            rules = list(node.dq_rules)
            if node.sink:
                observable = [r for r in rules if r.kind != "unique"]
                unique_rules = [r for r in rules if r.kind == "unique"]
                if observable:
                    df_obs, finish = attach_observation(df, observable, f"dq_{name}")
                else:
                    df_obs, finish = df, None
                write_table(
                    df_obs,
                    node.sink,
                    partition_by=list(node.partition_by) if node.partition_by else None,
                )
                out = spark.table(node.sink)
                if finish:
                    dq.extend(finish())
                if unique_rules:
                    # checks the rows written, without re-running the
                    # node's plan
                    dq.extend(evaluate_now(out, unique_rules))
                rows = next((int(r.observed) for r in dq if r.rule == "row_count"), None)
            else:
                if rules:
                    dq.extend(evaluate_now(df, rules))
                out = df
            failed = [r for r in dq if not r.passed]
            if failed:
                raise RuntimeError(f"DQ gate failed at {name}: {failed}")
            return out, NodeResult(
                name, round(time.time() - t0, 3), rows, dq, started=round(t0 - t_run, 3)
            )

        def copy_to_warehouse(name: str) -> float:
            spark.sparkContext.setJobDescription(f"plans.runner.{name}.warehouse")
            node = self.nodes[name]
            t0 = time.time()
            self.warehouse.write(spark.table(node.sink), node.warehouse_table)
            return round(time.time() - t0, 3)

        def submit(fn: Callable, name: str) -> Future:
            # wrapping clones the caller's local properties (job group,
            # tags) once; wrap per task, because the task's
            # setJobDescription writes into that clone
            return pool.submit(inheritable_thread_target(spark)(fn), name)

        # in-DAG dependencies each node still waits for; a node is
        # dispatched once its set is empty and no node has failed
        pending = {n: {d for d in self.nodes[n].deps if d in self.nodes} for n in order}
        failures: dict[str, BaseException] = {}
        # a pool thread starts only when no idle one is free, and a
        # node's copy starts after its node task ends, so the threads
        # never outnumber the nodes in flight (the DAG's width)
        with ThreadPoolExecutor(max_workers=max(len(order), 1)) as pool:
            running: dict[Future, tuple[str, bool]] = {}  # -> (node, is its copy)
            while True:
                if not failures:
                    for name in [n for n in order if n in pending and not pending[n]]:
                        del pending[name]
                        running[submit(run_node, name)] = (name, False)
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    name, is_copy = running.pop(fut)
                    if (exc := fut.exception()) is not None:
                        failures[name] = exc
                    elif is_copy:
                        results[name].warehouse_seconds = fut.result()
                    else:
                        outputs[name], results[name] = fut.result()
                        node = self.nodes[name]
                        if node.sink and node.warehouse_table:
                            running[submit(copy_to_warehouse, name)] = (name, True)
                        for deps in pending.values():
                            deps.discard(name)
        if failures:
            raise failures[next(n for n in order if n in failures)]
        return {n: results[n] for n in order}
