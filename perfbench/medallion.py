"""Workload ``medallion_refresh``: the reference's full 15-node DAG
(6 bronze, 6 silver, 3 gold) over seeded CRM/ERP CSV extracts.

Set-up generates the extracts and runs the DAG once, so every timed
refresh overwrites existing tables through the stage-and-swap path a
nightly refresh takes. One operation is one refresh:
``sources.io.read_csv`` of the six extracts, then
``plans.medallion.build_pipeline(...).run``. After each refresh the gold
tables are checked against what was planted.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

from . import gen
from .harness import CPUS, Context, check, dir_bytes

AS_OF = "2026-01-01"  # pins the future-birthdate rule
SIZES = {"n_customers": 5000, "n_products": 200, "n_sales": 60000}
TIERS = ("bronze", "silver", "gold")


class Medallion:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.truth: dict = {}
        self.src_dir = ""
        self.csv_bytes = 0
        self.src_rows = 0
        self.refreshes: list[dict] = []

    # ------------------------------------------------------------ set-up
    def _generate(self) -> None:
        tables, self.truth = gen.crm_erp(np.random.default_rng(self.ctx.seed), **SIZES)
        self.src_dir = os.path.join(self.ctx.root, "crm_erp")
        os.makedirs(self.src_dir)
        for name, df in tables.items():
            df.to_csv(os.path.join(self.src_dir, f"{name}.csv"), index=False)
        self.csv_bytes = dir_bytes(self.src_dir)
        self.src_rows = sum(len(df) for df in tables.values())

    def _sources(self) -> dict:
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import read_csv
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.reference_corpus import (
            REFERENCE_SCHEMAS,
        )

        return {
            name: read_csv(self.ctx.spark, os.path.join(self.src_dir, f"{name}.csv"),
                           schema=schema)
            for name, schema in REFERENCE_SCHEMAS.items()
        }

    def _refresh(self) -> dict:
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
            build_pipeline,
        )

        return build_pipeline(as_of=AS_OF).run(self.ctx.spark, self._sources())

    def setup(self) -> None:
        self._generate()
        self._refresh()
        self.ctx.input_bytes = self.csv_bytes

    # ------------------------------------------------------------- timed
    def _check(self) -> None:
        spark, t = self.ctx.spark, self.truth
        cust = spark.sql(
            "SELECT count(*) n, count(DISTINCT customer_key) d, min(customer_key) lo, "
            "max(customer_key) hi FROM gold.dim_customers").first()
        check(tuple(cust) == (t["customers"], t["customers"], 1, t["customers"]),
              f"dim_customers rows/keys {tuple(cust)} != planted {t['customers']}")
        prod = spark.sql(
            "SELECT count(*) n, count(DISTINCT product_key) d, min(product_key) lo, "
            "max(product_key) hi FROM gold.dim_products").first()
        check(tuple(prod) == (t["products"], t["products"], 1, t["products"]),
              f"dim_products rows/keys {tuple(prod)} != planted {t['products']}")
        fact = spark.sql(
            "SELECT count(*) n, "
            "count_if(sales_amount IS NULL OR abs(sales_amount - quantity * abs(price)) "
            "> 1e-6 * greatest(1.0, abs(sales_amount))) bad, "
            "count_if(order_date IS NULL) null_dates FROM gold.fact_sales").first()
        check(fact["n"] == t["sales"], f"fact_sales rows {fact['n']} != {t['sales']}")
        check(fact["bad"] == 0, f"{fact['bad']} fact rows break sales = quantity*abs(price)")
        check(fact["null_dates"] == t["bad_order_dates"],
              f"{fact['null_dates']} NULL order dates != {t['bad_order_dates']} planted")

    def _one(self) -> None:
        ctx = self.ctx
        with ctx.timed("plans.runner.run") as box:
            results = self._refresh()
        ctx.op(box.ms)
        ctx.rows += self.src_rows
        ctx.timed_s += box.ms / 1000
        self._check()
        rec = {"ms": box.ms, "counts": box.counts}
        for tier in TIERS:
            rec[tier] = 1000 * sum(r.seconds for n, r in results.items() if n.startswith(tier))
        self.refreshes.append(rec)
        if box.span is not None:
            start = box.span["start"]
            for name, r in results.items():
                ctx.tracer.add(f"plans.runner.node.{name}", start, start + r.seconds, box.span,
                               approx=True)
                start += r.seconds

    def run(self, seconds: float) -> None:
        self.ctx.repeat(seconds, lambda: self.ctx.attempt("medallion refresh", self._one))
        self.ctx.stored_bytes = dir_bytes(os.path.join(self.ctx.root, "warehouse"))

    def layer_metrics(self) -> dict[str, float]:
        ok = [r for r in self.refreshes if r["counts"] is not None]
        if not ok:
            return {}

        def med(f):
            return statistics.median(f(r) for r in ok)

        out = {f"plans.runner.{t}_ms": med(lambda r, t=t: r[t]) for t in TIERS}
        for k in ("jobs", "stages", "task_ms", "shuffle_bytes", "spill_bytes"):
            out[f"plans.runner.{k}"] = med(lambda r, k=k: getattr(r["counts"], k))
        out["plans.runner.core_busy_ratio"] = med(
            lambda r: r["counts"].task_ms / (r["ms"] * CPUS))
        out["sources.io.input_bytes"] = med(lambda r: r["counts"].input_bytes)
        out["sources.io.bytes_written_per_input_byte"] = med(
            lambda r: r["counts"].output_bytes / self.csv_bytes)
        return out
