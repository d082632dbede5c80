"""Batch curation run in ``stream_index_steady``'s traced set-up:
``hamming_hash_pairs`` over the seed fingerprints (planted 1-3 bit
neighbours) and ``resolve_entities`` over seeded entity records (one-letter typo
variants blocked by a clean zip). Each result is written as a catalog
table with ``write_table``; an ``observe`` on that same write returns
the row count and id sums, which must equal the values the planted
truth predicts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .harness import Context, check

OPERATORS = ("operators.multimodal.hamming_hash_pairs", "operators.entity.resolve_entities")


def expected(fps: pd.DataFrame, neighbours: set[int], ents: pd.DataFrame,
             label: np.ndarray) -> dict[str, tuple[int, ...]]:
    """The (rows, sum, sum) digest each operator's output must have."""
    out = {}
    # pairs: the members of each planted group that lie within 3 bits
    fp = dict(zip(fps["doc_id"].tolist(), fps["phash"].tolist()))
    pairs = []
    for b in sorted(neighbours):
        base = b
        while base in neighbours:
            base -= 1
        for a in range(base, b):
            if bin((fp[a] ^ fp[b]) & (2**64 - 1)).count("1") <= 3:
                pairs.append((a, b))
    out["operators.multimodal.hamming_hash_pairs"] = (
        len(pairs), sum(a for a, _ in pairs), sum(b for _, b in pairs))
    first_of: dict[int, int] = {}
    for rid, e in zip(ents["id"].tolist(), label.tolist()):
        first_of.setdefault(e, rid)
    entity_ids = [first_of[e] for e in label.tolist()]
    out["operators.entity.resolve_entities"] = (
        len(entity_ids), int(ents["id"].sum()), sum(entity_ids))
    return out


def _observed_write(df, aggs, table: str) -> tuple[int, ...]:
    from pyspark.sql import Observation

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import write_table

    obs = Observation()
    write_table(df.observe(obs, *[a.alias(f"m{i}") for i, a in enumerate(aggs)]), table)
    return tuple(int(v or 0) for v in obs.get.values())


def curate(ctx: Context, paths: dict[str, str], expect: dict) -> dict[str, object]:
    """Run the operators in order; returns each one's wall ms and, in
    the traced run, its Spark counts."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        resolve_entities,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_hash_pairs,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import read_parquet

    spark = ctx.spark
    steps = [
        ("operators.multimodal.hamming_hash_pairs", "fp_pairs",
         lambda: hamming_hash_pairs(read_parquet(spark, paths["fps"]), "doc_id", "phash",
                                    max_hamming=3),
         (F.count("*"), F.sum("id_a"), F.sum("id_b"))),
        ("operators.entity.resolve_entities", "entities_resolved",
         lambda: resolve_entities(read_parquet(spark, paths["entities"]), "id", "name", "zip",
                                  threshold=0.9),
         (F.count("*"), F.sum("id"), F.sum("entity_id"))),
    ]
    out: dict[str, object] = {}
    for name, table, build, aggs in steps:
        with ctx.timed(name) as box:
            got = _observed_write(build(), aggs, table)
        check(got == expect[name], f"{name}: observed (rows, sums) {got} "
                                   f"!= planted {expect[name]}")
        out[name] = box.ms
        out[name + ".counts"] = box.counts
    return out
