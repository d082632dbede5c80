"""Scale smoke for the cold-cell merge's fold pricing (SCALE.md,
round 17 post-review hardening): the CLEAN merge folds a sliver by
appending only the moved rows, while a crash-RESUME without the fold
marker pays the anti-join destination rewrite. This measures both
paths on the same fixture so the "sliver-priced vs repair-priced"
claim is a number, not an assertion.

Fixture: 8 well-separated 250k-row blobs (2M rows, 16-dim, generated
JVM-side — no driver materialization), indexed at k=8, then the
HIGHEST cell id thinned to 500 rows (a 0.2%-of-mean sliver; highest
id so the swap-remove plan has NO renumber move and the A/B isolates
the fold). A small warm-up fixture runs a full merge first so JVM /
Arrow warm-up doesn't bias path A.

  A) clean merge            -> fold = append of ~500 moved rows
  B) crash before marker,
     resume                 -> fold = repair rewrite of the ~250k-row
                               destination partition(s)

Both verb totals include the shared O(index) finalize (fresh drift
baseline scan), so the FOLD-PHASE timings (captured by wrapping
_merge_fold_cold_rows) are the comparison that matters.

Usage: python tools/smoke_merge_fold.py
Prints one JSON line {"fold_clean_s": ..., "fold_repair_s": ...,
"clean_total_s": ..., "resume_total_s": ..., "rows": ...,
"sliver_rows": 500}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_fixture(spark, t: str, per_blob: int, sliver: int):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
    )

    for s in (
        t, f"{t}_drift_stats", f"{t}_drift_log", f"{t}_centroids",
        f"{t}_merge_manifest", f"{t}_merge_fold_done",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    # 8 blobs on separated axes, generated JVM-side: blob b centers at
    # 50*(b+1) in dimension b, noise U(0, 0.5) per coordinate
    n = 8 * per_blob
    df = (
        spark.range(n)
        .withColumn("_b", (F.col("id") % 8).cast("int"))
        .select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    (
                        F.when(F.col("_b") == d, 50.0 * (F.col("_b") + 1))
                        .otherwise(F.lit(0.0))
                        + F.rand(seed=100 + d) * 0.5
                    )
                    for d in range(16)
                ]
            ).alias("embedding"),
        )
    )
    ivf_build_index(df, t, n_clusters=8, seed=7, n_id_buckets=4)
    # thin the HIGHEST cell id to a sliver via the engine's own
    # mechanics — retiring the top id needs no renumber move
    keep = (
        spark.table(t)
        .filter(F.col("_cell") == 7)
        .orderBy("vec_id")
        .limit(sliver)
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


def main():
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import (
        similarity as sim,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.warehouse.dir", "/tmp/smoke_merge_fold_wh")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: a full clean merge on a small fixture, discarded
    t = "smoke_merge_warm"
    build_fixture(spark, t, per_blob=2_000, sliver=50)
    sim.ivf_merge_cold_cells(spark, t, min_cell_fraction=0.005)

    # wrap the fold so each path's fold-phase wall is captured
    real_fold = sim._merge_fold_cold_rows
    fold_times: list[tuple[bool, float]] = []

    def timed_fold(*a, **kw):
        t0 = time.perf_counter()
        out = real_fold(*a, **kw)
        fold_times.append(
            (bool(kw.get("repair", False)), time.perf_counter() - t0)
        )
        return out

    sim._merge_fold_cold_rows = timed_fold

    try:
        # A) clean merge: fold = moved-row append
        t = "smoke_merge_clean"
        build_fixture(spark, t, per_blob=250_000, sliver=500)
        t0 = time.perf_counter()
        cents = sim.ivf_merge_cold_cells(spark, t, min_cell_fraction=0.001)
        clean_s = time.perf_counter() - t0
        assert len(cents) == 7, len(cents)
        n_clean = spark.table(t).count()
        assert fold_times and fold_times[-1][0] is False
        fold_clean_s = fold_times[-1][1]

        # B) crash before the fold marker -> resume pays the repair
        t = "smoke_merge_resume"
        build_fixture(spark, t, per_blob=250_000, sliver=500)
        real_mark = sim._mark_fold_done
        state = {"armed": True}

        def bomb(spark_, table):
            if table == t and state["armed"]:
                state["armed"] = False
                raise RuntimeError("injected")
            return real_mark(spark_, table)

        sim._mark_fold_done = bomb
        try:
            try:
                sim.ivf_merge_cold_cells(spark, t, min_cell_fraction=0.001)
            except RuntimeError:
                pass
        finally:
            sim._mark_fold_done = real_mark
        t0 = time.perf_counter()
        cents = sim.ivf_merge_cold_cells(spark, t, min_cell_fraction=0.001)
        resume_s = time.perf_counter() - t0
        assert len(cents) == 7, len(cents)
        assert fold_times[-1][0] is True
        fold_repair_s = fold_times[-1][1]
        n_resume = spark.table(t).count()
        dups = (
            spark.table(t).groupBy("vec_id").count().filter(F.col("count") > 1)
        ).count()
        assert n_clean == n_resume and dups == 0, (n_clean, n_resume, dups)
    finally:
        sim._merge_fold_cold_rows = real_fold

    print(json.dumps({
        "fold_clean_s": round(fold_clean_s, 2),
        "fold_repair_s": round(fold_repair_s, 2),
        "clean_total_s": round(clean_s, 2),
        "resume_total_s": round(resume_s, 2),
        "rows": n_clean,
        "sliver_rows": 500,
    }))


if __name__ == "__main__":
    main()
