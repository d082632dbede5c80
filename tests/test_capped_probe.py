"""Capped standing-index probes against an independent derivation.

``minhash_incremental_dedup``, ``hamming_incremental_dedup`` and
``er_incremental`` size the buckets a batch hits once per side and read
the index once per batch. These tests plant a flood bucket in the index
and a flood inside the batch, run appending batches at caps None, 2 and
one at least as large as any bucket, and check against values derived
here from the index table and the banded (or blocked) batch before each
call:

- survivor ids (MinHash: cold pairs over the threshold plus the min-id
  star rule in hot buckets; Hamming: pairs within ``max_hamming`` in
  cold buckets only, hot buckets excluded) or, for ER, the ``(id,
  entity_id)`` assignment (hot blocks contribute no edge on either
  side);
- every skew-report field, from a direct ``groupBy`` of both sides;
- exactly one final-plan scan of the index table per call, counted in
  the SQL executions the call started.
"""

from __future__ import annotations

import re
from collections import defaultdict

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
    _band_explode,
    _signature_table,
    minhash_build_index,
    minhash_incremental_dedup,
    minhash_query_index,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
    er_build_index,
    er_incremental,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
    _fp_band_explode,
    hamming_incremental_dedup,
    hamming_index_build,
    hamming_index_probe,
)


def _execution_ids(spark) -> set[int]:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {execs.apply(i).executionId() for i in range(execs.size())}


def _index_scans(spark, table: str, before: set[int]) -> int:
    """Scans of ``table`` in the final physical plans of the SQL
    executions started since ``before`` (tree lines only: the AQE
    initial plan and the numbered node details are not counted)."""
    pat = re.compile(
        rf"^[\s:+\-*|]*Scan parquet spark_catalog\.default\.{table}\b", re.M
    )
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() not in before:
            final = e.physicalPlanDescription().split("== Initial Plan ==")[0]
            n += len(pat.findall(final))
    return n


def _report(idx_rows, batch_rows, key, cap) -> dict:
    """The five skew stats from a direct groupBy of the index table and
    the banded batch."""
    idx = {
        tuple(r[:-1]): r[-1]
        for r in idx_rows.groupBy(*key).count().select(*key, "count").collect()
    }
    bat = {
        tuple(r[:-1]): r[-1]
        for r in batch_rows.groupBy(*key).count().select(*key, "count").collect()
    }
    hit = [n for k, n in idx.items() if k in bat]
    over = (lambda n: n > cap) if cap is not None else (lambda n: False)
    return {
        "n_hit_buckets": len(hit),
        "max_bucket_rows": max(hit, default=0),
        "sum_sq_bucket_rows": sum(n * n for n in hit),
        "n_capped_buckets": sum(over(n) for n in hit),
        "n_capped_batch_buckets": sum(over(n) for n in bat.values()),
        "cap": cap,
    }


def _by_bucket(rows):
    out = defaultdict(list)
    for i, v, *k in rows:
        out[tuple(k)].append((i, v))
    return out


def _drop(spark, t: str) -> None:
    for s in (t, f"{t}_skew_log", f"{t}__relabel"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def _check_caps(spark, prefix, schema, corpus, batches, *, build, band, losers,
                probe, dedup, key, value):
    """Build the index from ``corpus`` and feed ``batches`` (appending)
    at caps None (with and without the report), 2, and one at least as
    large as any bucket; check each call against the derivation.
    ``value`` names the (index, banded) column the derivation reads."""
    big = len(corpus) + sum(map(len, batches))
    survivors_at = {}
    for label, cap, log in (
        ("none", None, False), ("nonelog", None, True), ("two", 2, True),
        ("big", big, True),
    ):
        t = f"{prefix}_{label}"
        _drop(spark, t)
        build(spark.createDataFrame(corpus, schema), t)
        survivors_at[label] = []
        for n, rows in enumerate(batches):
            batch = spark.createDataFrame(rows, schema)
            banded = band(batch)
            idx_now = spark.table(t)
            want_report = _report(idx_now, banded, key, cap)
            vs_index, within = losers(
                [(r["doc_id"], r[value[0]], *(r[k] for k in key))
                 for r in idx_now.collect()],
                [(r["_id"], r[value[1]], *(r[k] for k in key))
                 for r in banded.collect()],
                cap,
            )
            want = {i for i, _ in rows} - vs_index - within
            if n == 0:
                # the lazy read-only probe takes the same cap rule
                pairs = probe(t, batch, cap)
                assert {r["new_id"] for r in pairs.collect()} == vs_index

            sink: list = []
            before = _execution_ids(spark)
            surv = dedup(t, batch, cap, log, sink)
            got = {r["doc_id"] for r in surv.collect()}
            assert _index_scans(spark, t, before) == 1, label
            assert got == want, (label, sorted(got ^ want))
            assert sink == ([want_report] if log else []), (label, sink, want_report)
            survivors_at[label].append(got)
        _drop(spark, t)

    # the planted floods make cap 2 matter; a cap at least as large as
    # any bucket is the uncapped probe
    assert survivors_at["two"] != survivors_at["none"]
    assert survivors_at["big"] == survivors_at["none"] == survivors_at["nonelog"]
    return survivors_at


# ----------------------------------------------------------------- MinHash

BOILER_A = (
    "subscribe to our newsletter for the latest updates terms of service "
    "privacy policy cookie settings all rights reserved copyright contact us"
)
BOILER_B = (
    "this page intentionally left blank please return to the home page "
    "or use the search box above to find what you were looking for"
)
BOILER_C = (
    "click here to accept cookies and continue browsing our site which "
    "uses tracking technologies to improve your experience every visit"
)


def _doc(i: int, n: int = 30) -> str:
    return " ".join(f"w{(i * 131 + j * 17) % 997}x{j}" for j in range(n))


def _minhash_losers(idx, batch, cap, threshold, num_hashes=64):
    """(ids dropped against the index, ids dropped within the batch)."""
    def est(a, b):
        return round(sum(x == y for x, y in zip(a, b)) / num_hashes, 6)

    def hot(n):
        return cap is not None and n > cap

    idx_by = _by_bucket(idx)
    vs_index, within = set(), set()
    for key, members in _by_bucket(batch).items():
        corpus = idx_by.get(key, [])
        if hot(len(corpus)):  # star on the index representative
            vs_index |= {i for i, _ in members}
        else:
            vs_index |= {
                i for i, s in members
                if any(est(s, c) >= threshold for _, c in corpus)
            }
        if hot(len(members)):  # star on the batch bucket's min id
            rep = min(i for i, _ in members)
            within |= {i for i, _ in members if i != rep}
        else:
            within |= {
                b for a, sa in members for b, sb in members
                if a < b and est(sa, sb) >= threshold
            }
    return vs_index, within


def test_minhash_capped_probe_matches_derivation(spark):
    corpus = [(i, BOILER_A) for i in range(8)]  # flood: 8 per bucket
    corpus += [(100 + i, _doc(i)) for i in range(6)]
    batch1 = [(1000, BOILER_A), (1001, _doc(0) + " edited tail")]
    # A tail long enough to pull the estimate under the threshold while
    # some bands still land in the flooded index buckets
    batch1 += [(1002, BOILER_A + " " + _doc(50, 10))]
    batch1 += [(1010 + i, BOILER_B) for i in range(4)]  # within-batch flood
    batch1 += [(1020, _doc(20)), (1021, _doc(20) + " again"), (1022, _doc(21))]
    batch2 = [(2000, BOILER_B), (2001, BOILER_A), (2002, _doc(21))]
    batch2 += [(2010 + i, BOILER_C) for i in range(3)]
    batch2 += [(2020, _doc(30)), (2021, _doc(1))]
    _check_caps(
        spark, "cap_mh", "doc_id bigint, text string", corpus, [batch1, batch2],
        build=minhash_build_index,
        band=lambda b: _band_explode(
            _signature_table(b, "doc_id", "text", 64, 5, "arrow"), 16, 4
        ),
        losers=lambda i, b, cap: _minhash_losers(i, b, cap, 0.8),
        probe=lambda t, b, cap: minhash_query_index(
            spark, t, b, threshold=0.8, max_bucket_size=cap
        ),
        dedup=lambda t, b, cap, log, sink: minhash_incremental_dedup(
            spark, t, b, threshold=0.8, max_bucket_size=cap, log_skew=log,
            skew_sink=sink,
        ),
        key=["band", "bucket"],
        value=("sig", "_sig"),
    )


# ----------------------------------------------------------------- Hamming

FLOOD_F = 0x2AAA_BBBB_CCCC_DDDD
FLOOD_G = 0x0F0F_1234_5678_9ABC
FLOOD_H = 0x7654_3210_FEDC_BA98


def _fp(i: int) -> int:
    v = (i * 0x9E37_79B9_7F4A_7C15 + 0x1234_5678) & (2**64 - 1)
    return v - 2**64 if v >= 2**63 else v


def _hamming_losers(idx, batch, cap, max_hamming):
    """(ids dropped against the index, ids dropped within the batch)."""
    def dist(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    def hot(n):
        return cap is not None and n > cap

    idx_by = _by_bucket(idx)
    vs_index, within = set(), set()
    for key, members in _by_bucket(batch).items():
        corpus = idx_by.get(key, [])
        if not hot(len(corpus)):
            vs_index |= {
                i for i, f in members
                if any(dist(f, c) <= max_hamming for _, c in corpus)
            }
        if not hot(len(members)):
            within |= {
                b for a, fa in members for b, fb in members
                if a < b and dist(fa, fb) <= max_hamming
            }
    return vs_index, within


def test_hamming_capped_probe_matches_derivation(spark):
    corpus = [(i, FLOOD_F) for i in range(6)]  # flood: 6 per bucket
    corpus += [(100 + i, _fp(i)) for i in range(8)]
    batch1 = [(1000, FLOOD_F ^ 1), (1001, _fp(0) ^ 0b11), (1002, None)]
    batch1 += [(1010 + i, FLOOD_G) for i in range(4)]  # within-batch flood
    batch1 += [(1020, _fp(20)), (1021, _fp(20) ^ (1 << 40)), (1022, _fp(21))]
    batch2 = [(2000, FLOOD_G ^ (1 << 62)), (2001, FLOOD_F), (2002, _fp(21))]
    batch2 += [(2010 + i, FLOOD_H) for i in range(3)]
    batch2 += [(2020, _fp(30)), (2021, _fp(1) ^ (1 << 17))]
    survivors_at = _check_caps(
        spark, "cap_fp", "doc_id bigint, phash bigint", corpus, [batch1, batch2],
        build=hamming_index_build,
        band=lambda b: _fp_band_explode(b, "doc_id", "phash", 16),
        losers=lambda i, b, cap: _hamming_losers(i, b, cap, 3),
        probe=lambda t, b, cap: hamming_index_probe(
            spark, t, b, max_hamming=3, max_bucket_size=cap
        ),
        dedup=lambda t, b, cap, log, sink: hamming_incremental_dedup(
            spark, t, b, max_hamming=3, max_bucket_size=cap, log_skew=log,
            skew_sink=sink,
        ),
        key=["band", "val"],
        value=("fp", "_ph"),
    )
    assert 1002 in survivors_at["none"][0]  # NULL hash survives, unindexed


# ---------------------------------------------------------------------- ER

def _er_assignment(idx, batch, cap):
    """``{id: entity_id}`` for the batch: an edge joins two batch rows
    with equal text in a shared block, or a batch row to the entity of
    an index row with equal text in a shared block; a block over the
    cap on either side contributes no edge. Each batch id resolves to
    the min id of its component over batch ids and anchor entities."""
    def hot(n):
        return cap is not None and n > cap

    idx_by, bat_by = defaultdict(list), defaultdict(list)
    for i, text, entity, blk in idx:
        idx_by[blk].append((text, entity))
    for i, text, blk in batch:
        bat_by[blk].append((i, text))
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)

    for blk, members in bat_by.items():
        if hot(len(members)):
            continue
        if not hot(len(idx_by[blk])):
            for i, text in members:
                for ctext, entity in idx_by[blk]:
                    if text == ctext:
                        union(i, entity)
        for a, ta in members:
            for b, tb in members:
                if a < b and ta == tb:
                    union(a, b)
    return {i: find(i) for i, _, _ in batch}


def test_er_capped_probe_matches_derivation(spark):
    """ER skips a hot block on both sides. At caps None, 2 and one at
    least as large as any block, with ``append=False`` and then
    ``append=True``, the assignment, the skew report and the single
    index scan match the derivation."""
    corpus = [(1, "acme", "F", 1), (2, "acme", "F", 1)]  # index flood: 6 in F
    corpus += [(3, "bolt", "F", 3), (4, "cog", "F", 4), (5, "dent", "F", 5)]
    corpus += [(6, "echo", "F", 6), (10, "fig", "C", 10), (11, "fig", "C", 10)]
    corpus += [(12, "gum", "D", 12), (14, "kit", "K", 14), (15, "kit", "K", 15)]
    batch = [(100, "acme", "F"), (101, "fig", "C"), (120, "gum", "D")]
    batch += [(121, "gum", "D"), (140, "kit", "K")]  # 140 bridges 14 and 15
    batch += [(110 + i, "hat", "H") for i in range(3)]  # batch flood in H
    schema = "id bigint, name string, blk string"
    same = lambda a, b: (a == b).cast("double")  # noqa: E731
    big = len(corpus) + len(batch)
    assigned_at = {}
    for label, cap, log in (
        ("none", None, False), ("nonelog", None, True), ("two", 2, True),
        ("big", big, True),
    ):
        t = f"cap_er_{label}"
        _drop(spark, t)
        er_build_index(
            spark.createDataFrame(corpus, schema + ", entity_id bigint"),
            t, "id", "name", "blk",
        )
        b = spark.createDataFrame(batch, schema)
        for append in (False, True):
            idx_now = spark.table(t)
            want_report = _report(
                idx_now, b.withColumnRenamed("blk", "_blk"), ["_blk"], cap
            )
            want = _er_assignment(
                [(r["id"], r["text"], r["entity"], r["_blk"]) for r in idx_now.collect()],
                batch,
                cap,
            )
            sink: list = []
            before = _execution_ids(spark)
            got = {
                r["id"]: r["entity_id"]
                for r in er_incremental(
                    spark, t, b, "id", "name", "blk", threshold=0.9,
                    max_block_size=cap, similarity=same, append=append,
                    log_skew=log, skew_sink=sink,
                ).collect()
            }
            if log:
                assert _index_scans(spark, t, before) == 1, (label, append)
            assert got == want, (label, append, got, want)
            assert sink == ([want_report] if log else []), (label, sink, want_report)
            assigned_at[label, append] = got
        _drop(spark, t)

    assert assigned_at["two", False] != assigned_at["none", False]
    for append in (False, True):
        assert (
            assigned_at["big", append] == assigned_at["none", append]
            == assigned_at["nonelog", append]
        )
