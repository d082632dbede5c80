"""Scale smoke for minhash_reband_index (SCALE.md, round 17): the
retune verb re-derives banding from the STORED signatures, so its
cost is an index rewrite — a full rebuild pays corpus re-shingle +
re-hash on top. This measures both paths on the same synthetic corpus
so the "index rewrite, not corpus re-shingle" claim is a number.

Fixture: n documents of 30 synthetic tokens each, generated JVM-side
(no driver materialization). The standing index is built at 8 bands
(arrow/crc32 impl — the scale path), then:

  A) minhash_reband_index(8 -> 16)   — band-0 slice scan + re-explode
                                       + bucketed rewrite
  B) minhash_build_index(bands=16)   — full shingle/hash/sign pass
                                       over the corpus + same rewrite

Real corpora have ~100-1000x more text per signature than this
30-token fixture, so the measured ratio UNDERSTATES the at-scale gap:
path B grows with corpus bytes, path A only with index rows.

Usage: python tools/smoke_reband.py [n_docs ...]
Prints one JSON line per size.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def corpus(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda i: F.concat(
                    F.lit("w"),
                    ((F.col("id") * 31 + i * 7) % 1000).cast("string"),
                ),
            ),
        ).alias("text"),
    )


def main():
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_reband_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import get_spark

    spark = get_spark("smoke-reband")
    sizes = [int(a) for a in sys.argv[1:]] or [100_000, 400_000]
    # warm-up so JVM/codegen warm-up doesn't bias the first timed path
    warm = "smoke_reband_warm"
    minhash_build_index(corpus(spark, 2_000), warm, bands=8)
    minhash_reband_index(spark, warm, bands=16)
    spark.sql(f"DROP TABLE IF EXISTS {warm}")

    for n in sizes:
        t_re, t_direct = "smoke_reband_idx", "smoke_reband_direct"
        for s in (t_re, t_direct, f"{t_re}_skew_log"):
            spark.sql(f"DROP TABLE IF EXISTS {s}")
        df = corpus(spark, n)
        minhash_build_index(df, t_re, bands=8)

        t0 = time.time()
        minhash_reband_index(spark, t_re, bands=16)
        reband_s = time.time() - t0

        t0 = time.time()
        minhash_build_index(df, t_direct, bands=16)
        rebuild_s = time.time() - t0

        rows = spark.table(t_re).count()
        assert rows == n * 16, (rows, n)
        print(
            json.dumps(
                {
                    "n_docs": n,
                    "reband_s": round(reband_s, 2),
                    "rebuild_s": round(rebuild_s, 2),
                    "rebuild_over_reband": round(rebuild_s / reband_s, 2),
                }
            ),
            flush=True,
        )
        for s in (t_re, t_direct):
            spark.sql(f"DROP TABLE IF EXISTS {s}")


if __name__ == "__main__":
    main()
