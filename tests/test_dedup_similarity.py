"""Dedup tiers (exact, MinHash-LSH, SimHash, n-gram Jaccard) and
similarity search (brute-force + LSH) on small controlled corpora."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late afternoon sun"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-token change -> near-dup
FAR = "completely different content about spark shuffles and parquet row groups"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, FAR), (5, "")],
        "doc_id bigint, text string",
    )


def test_exact_dedup_deterministic(spark, docs):
    out = exact_dedup(docs, ["text"], order_col="doc_id")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3, 4, 5]  # doc 2 (dup of 1) dropped, min id kept


def test_exact_incremental_dedup_seen_set(spark):
    """Round 12: the standing exact seen-set (URL-frontier form of the
    incremental index family). Batch rows already in the index drop;
    within-batch dups keep the min order row; survivors' fingerprints
    append so the NEXT batch drops them; append=False is a pure
    dry-run; a content_cols mismatch against the recorded contract
    raises instead of silently fingerprinting different content."""
    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        exact_build_index,
        exact_incremental_dedup,
    )

    t = "exact_seen_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, url string")
    exact_build_index(mk([(0, "http://a/0"), (1, "http://a/1")]), t, ["url"])
    # batch 1: one indexed repeat, one within-batch dup pair, one new
    b1 = mk([(10, "http://a/1"), (11, "http://a/2"),
             (12, "http://a/2"), (13, "http://a/3")])
    s1 = sorted(
        r["doc_id"]
        for r in exact_incremental_dedup(
            spark, t, b1, ["url"], order_col="doc_id"
        ).collect()
    )
    assert s1 == [11, 13]
    # batch 2: b1 survivors are now seen; dry-run doesn't extend
    b2 = mk([(20, "http://a/2"), (21, "http://a/4")])
    s2 = sorted(
        r["doc_id"]
        for r in exact_incremental_dedup(
            spark, t, b2, ["url"], order_col="doc_id", append=False
        ).collect()
    )
    assert s2 == [21]
    s2b = sorted(
        r["doc_id"]
        for r in exact_incremental_dedup(
            spark, t, b2, ["url"], order_col="doc_id", append=False
        ).collect()
    )
    assert s2b == [21]  # dry-run did not extend the index
    # survivors keep the caller's schema (no fingerprint leak)
    out = exact_incremental_dedup(
        spark, t, b2, ["url"], order_col="doc_id", append=False
    )
    assert out.columns == ["doc_id", "url"]
    # recorded content_cols contract is enforced
    with pytest.raises(ValueError):
        exact_incremental_dedup(spark, t, b2, ["doc_id"], append=False)
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_exact_incremental_dedup_stamped_replay(spark):
    """Replay-exactness of the seen-set append (round 12, the
    stream_exact_dedup contract): re-running a batch with the SAME
    stamp after its fingerprints were appended must return the SAME
    survivors (the probe excludes self-stamped rows) and append
    nothing new; a DIFFERENT stamp (a genuinely new batch) must drop
    the now-seen content."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        exact_build_index,
        exact_incremental_dedup,
    )

    t = "exact_seen_replay_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, url string")
    exact_build_index(mk([(0, "http://a/0")]), t, ["url"])
    b = mk([(10, "http://a/0"), (11, "http://a/1")])
    s1 = sorted(
        r["doc_id"]
        for r in exact_incremental_dedup(
            spark, t, b, ["url"], order_col="doc_id", batch_id=777
        ).collect()
    )
    assert s1 == [11]
    n_fps = spark.table(t).count()
    # crash-redelivery: same stamp → same survivors, no index growth
    s1b = sorted(
        r["doc_id"]
        for r in exact_incremental_dedup(
            spark, t, b, ["url"], order_col="doc_id", batch_id=777
        ).collect()
    )
    assert s1b == [11]
    assert spark.table(t).count() == n_fps
    # a NEW stamp sees the appended fingerprint and drops the repeat
    s2 = exact_incremental_dedup(
        spark, t, b, ["url"], order_col="doc_id", batch_id=778
    ).collect()
    assert s2 == []
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_antijoin_scan_snapshots_files(spark):
    """Pin the plan-time file-snapshot semantics the r17 append fusion
    relies on (operators/dedup.py::exact_incremental_dedup): the
    append's replay anti-join reads the DESTINATION table inside its
    own append write, which is only correct while a parquet
    catalog-table scan captures its file set when the plan is BUILT.
    If a catalog/DSv2 migration ever turns that into
    read-your-own-writes, this test fails loudly before the streaming
    seen-set silently under-appends."""
    t = "snapshot_pin_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.range(5).selectExpr("id AS fp").write.saveAsTable(t)
    dest = spark.table(t)
    planned = set(dest.inputFiles())
    assert planned  # the scan has a concrete file snapshot
    # the append's plan reads the destination (the fused-anti-join shape)
    lazy = spark.range(3, 8).selectExpr("id AS fp").join(
        dest, "fp", "left_anti"
    )
    lazy.write.mode("append").saveAsTable(t)
    # 1. the in-flight write never fed back into its own anti-join:
    #    exactly the pre-write-absent ids landed, each exactly once.
    #    Read-your-own-writes would let committed output files re-enter
    #    the anti-join mid-execution and UNDER-append (rows dropped as
    #    "already present"); a doubled read would over-append.
    assert sorted(r["fp"] for r in spark.table(t).collect()) == list(range(8))
    # 2. replaying the SAME already-analyzed plan appends nothing new —
    #    its fresh execution re-lists (append refreshed the table) and
    #    every candidate row is now genuinely present
    lazy2 = spark.range(3, 8).selectExpr("id AS fp").join(
        spark.table(t), "fp", "left_anti"
    )
    lazy2.write.mode("append").saveAsTable(t)
    assert sorted(r["fp"] for r in spark.table(t).collect()) == list(range(8))
    # 3. a fresh plan over the table sees the appended files (the
    #    refresh-on-append contract the NEXT batch's probe relies on)
    assert set(spark.table(t).inputFiles()) > planned
    # and the real operator composes the same way: the append extends
    # the index by exactly the fresh fingerprints, each once
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        exact_build_index,
        exact_incremental_dedup,
    )

    t2 = "snapshot_pin_idx_t"
    spark.sql(f"DROP TABLE IF EXISTS {t2}")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, url string")
    exact_build_index(mk([(0, "http://a/0")]), t2, ["url"])
    n0 = spark.table(t2).count()
    out = exact_incremental_dedup(
        spark, t2, mk([(1, "http://a/1"), (2, "http://a/2")]),
        ["url"], order_col="doc_id",
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    fps = [r["fp"] for r in spark.table(t2).collect()]
    assert len(fps) == n0 + 2 and len(set(fps)) == len(fps)
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # identical
    assert (1, 3) in found or (2, 3) in found  # near-dup
    assert all(4 not in p for p in found)  # unrelated doc never pairs


def test_minhash_lsh_dedup_keeps_representatives(spark, docs):
    out = minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert 1 in kept and 4 in kept and 5 in kept
    assert 2 not in kept  # exact dup removed (higher id loses)


def test_simhash_near_dups(spark, docs):
    pairs = simhash_near_dups(docs, "doc_id", "text", max_hamming=10).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert found.get((1, 2)) == 0  # identical text -> identical sketch
    assert all(4 not in p for p in found)


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert 0.3 < got[(1, 3)] < 1.0
    assert (1, 4) not in got


def test_brute_force_topk_exact(spark):
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0])], "query_id bigint, embedding array<float>")
    out = brute_force_topk(corpus, queries, k=2).orderBy("rank").collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    assert out[0]["cos_sim"] == 1.0


def test_ivf_topk_full_probe_equals_exact(spark):
    # probing every cell degenerates IVF to exact search — deterministic
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    exact = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in brute_force_topk(corpus, queries, k=10).collect()
    }
    full = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in ivf_topk(
            corpus, queries, k=10, n_clusters=8, n_probe=8
        ).collect()
    }
    assert full == exact


def test_grid_kmeans_is_partitioning_invariant(spark):
    """The determinism claim the grid trainer's oracle rests on: the
    trained centroids are a pure function of the DATA — identical under
    any physical partitioning, because the only aggregations are exact
    integer sums and counts. Also: full-probe grid IVF degenerates to
    exact search, like the MLlib path."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        grid_kmeans_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 3)
    c1 = grid_kmeans_fit(corpus.repartition(1), k=8)
    c32 = grid_kmeans_fit(corpus.repartition(32, "label"), k=8)
    assert c1 == c32  # bit-identical, not approximately equal

    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in brute_force_topk(corpus, queries, k=10).collect()
    }
    full = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in ivf_topk(
            corpus, queries, k=10, n_clusters=8, n_probe=8, impl="grid"
        ).collect()
    }
    assert full == exact


def test_grid_kmeans_matches_pure_python_replay(spark):
    """Triangulate the grid trainer against an independent pure-Python
    replay of its documented arithmetic (md5 init, HALF_UP quantize,
    left-to-right squared-L2 folds, (d, cell) tie-breaks, exact integer
    centroid sums, empty cells keep previous) — the same
    replay-the-spec check the DSIR and BPE tiers carry. Exact equality,
    over several random datasets including duplicate vectors (ties)."""
    import hashlib
    import math
    import random

    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        GRID_QUANT,
        grid_kmeans_fit,
    )

    def py_replay(rows, k, iters=2, dim=4):
        def quant(x):
            v = float(np.float32(x)) * float(GRID_QUANT)
            return int(math.floor(v + 0.5)) if v >= 0 else -int(
                math.floor(-v + 0.5)
            )

        data = [(i, [quant(x) for x in vec]) for i, vec in rows]
        init = sorted(data, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))[:k]
        cents = [[float(v) for v in r[1]] for r in init]
        for _ in range(iters):
            sums = {}
            for rid, vq in data:
                best = None
                for ci, c in enumerate(cents):
                    d = 0.0
                    for x, y in zip(vq, c):
                        d = d + (float(x) - y) * (float(x) - y)
                    if best is None or (d, ci) < best[:2]:
                        best = (d, ci)
                ci = best[1]
                s, n = sums.get(ci, ([0] * dim, 0))
                sums[ci] = ([a + b for a, b in zip(s, vq)], n + 1)
            cents = [
                [float(s) / float(n) for s in sums[ci][0]]
                if ci in sums
                else cents[ci]
                for ci, n in ((ci, sums.get(ci, (None, 0))[1]) for ci in range(k))
            ]
        return cents

    rng = random.Random(77)
    for trial in range(3):
        n, k, dim = rng.choice([(7, 2, 4), (25, 3, 4), (40, 5, 4)])
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
        ]
        if trial == 2:  # duplicate vectors: exercise distance ties
            rows = [(i, rows[i % 5][1]) for i in range(n)]
        df = spark.createDataFrame(
            [(i, v) for i, v in rows], "vec_id bigint, embedding array<float>"
        )
        got = grid_kmeans_fit(df, k=k, iters=2)
        want = py_replay(rows, k=k, dim=dim)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_grid_ivf_recall_on_testdata(spark):
    # the grid trainer must cluster well enough that a 4-of-16 probe
    # keeps useful recall of the exact top-10 (same bar as LSH)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    e = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(corpus, queries, k=10).collect()
    }
    a = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(
            corpus, queries, k=10, n_clusters=16, n_probe=4, impl="grid"
        ).collect()
    }
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"grid IVF recall too low: {recall}"


def test_semantic_dedup_grid_matches_mllib_shape(spark):
    """The grid SemDeDup path must keep the contract of the mllib one:
    NULL embeddings survive, survivors are a subset of the input, and
    on well-separated clusters it equals the exact all-pairs dedup."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        embedding_cosine_dedup,
        semantic_dedup,
    )

    rows = []
    for i in range(40):  # two tight clusters + a null
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        rows.append((i, [v + (i % 7) * 1e-4 for v in base]))
    rows.append((100, None))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.99, n_clusters=2,
            impl="grid",
        ).collect()
    )
    exact = sorted(
        r["vec_id"]
        for r in embedding_cosine_dedup(
            df, "vec_id", "embedding", threshold=0.99
        ).collect()
    )
    assert 100 in got  # NULL embedding survives
    assert got == exact


def test_lsh_topk_recall_on_testdata(spark):
    # LSH must retrieve most of the exact top-10 on the real fixture
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    exact = brute_force_topk(corpus, queries, k=10)
    approx = lsh_topk(corpus, queries, k=10, dim=64, n_planes=8, multiprobe_bits=1)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_embedding_cosine_dedup_exact(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        embedding_cosine_dedup,
        embedding_cosine_pairs,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [0.0, 0.0, 1.0, 1.0]),
        (4, [0.0, 0.0, 1.0, 1.0]),      # exact dup of 3
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = embedding_cosine_pairs(df, "vec_id", "embedding", threshold=0.95, impl="exact")
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(0, 1), (3, 4)}
    kept = embedding_cosine_dedup(df, "vec_id", "embedding", threshold=0.95, impl="exact")
    assert sorted(r["vec_id"] for r in kept.collect()) == [0, 2, 3]


def test_embedding_cosine_dedup_lsh_finds_exact_dups(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        embedding_cosine_dedup,
    )

    # identical vectors have identical sign signatures in EVERY table,
    # so LSH recall on exact dups is 1.0 regardless of seed
    rows = [(i, [float(i % 7 + 1), float(i % 3), 1.0, -2.0]) for i in range(20)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # 5 exact dups
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    kept = embedding_cosine_dedup(
        df, "vec_id", "embedding", threshold=0.999, impl="lsh",
        dim=4, n_planes=4, n_tables=2,
    )
    ids = {r["vec_id"] for r in kept.collect()}
    assert all(100 + i not in ids for i in range(5))  # dups dropped (min-id kept)
    assert all(i in ids for i in range(20) if i < 7) or len(ids) >= 15


def test_minhash_lsh_hot_bucket_cap_bounds_candidates(spark):
    """Skew stress: a viral boilerplate doc repeated B times puts all B
    copies in the SAME bucket of every band — all-pairs is B(B-1)/2 per
    band-bucket, the 100 TB straggler. With max_bucket_size set, hot
    buckets emit star pairs (member vs min-id rep): O(B), and the dedup
    decision (keep exactly one representative) is unchanged."""
    B = 120
    boiler = (
        "subscribe to our newsletter terms of service privacy policy all "
        "rights reserved copyright contact us about careers press blog"
    )
    rows = [(i, boiler) for i in range(B)]
    rows += [(1000, BASE), (1001, NEAR), (1002, FAR)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
        max_bucket_size=10,
    ).collect()
    # star topology: every boilerplate copy pairs with rep 0 exactly once
    boiler_pairs = [(r["id_a"], r["id_b"]) for r in capped if r["id_b"] < 1000]
    assert len(boiler_pairs) == B - 1  # vs B(B-1)/2 = 7140 uncapped
    assert all(a == 0 for a, _ in boiler_pairs)
    # the distinct docs still pair normally (cold-bucket path intact)
    assert (1000, 1001) in {(r["id_a"], r["id_b"]) for r in capped}
    # dedup connectivity preserved: exactly one boilerplate survivor
    kept = minhash_lsh_dedup(
        df, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
        max_bucket_size=10,
    )
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    assert [i for i in kept_ids if i < 1000] == [0]
    assert 1002 in kept_ids


def test_connected_components_self_loops_both_algorithms(spark):
    """Degenerate input contract: a self-loop-only vertex appears in
    the output labeled as its own component on BOTH algorithm paths
    (the star path previously dropped it while label kept it)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 2)], "id_a bigint, id_b bigint"
    )
    for algo in ("label", "star"):
        labels = {
            r["id"]: r["component"]
            for r in connected_components(edges, algorithm=algo).collect()
        }
        assert labels == {1: 1, 2: 1, 7: 7}, algo


def test_connected_components_chain_and_clique(spark):
    """Chain 1-2-3 and clique 10-11-12 plus isolated edge 20-21: labels
    are min-reachable ids, independent of pair topology."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        cc_dedup,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    labels = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 12, 20, 21, 99)],
        "doc_id bigint, text string",
    )
    kept = sorted(r["doc_id"] for r in cc_dedup(docs, "doc_id", edges).collect())
    assert kept == [1, 10, 20, 99]  # one rep per component + untouched isolate


def test_connected_components_long_path_converges(spark):
    """A 12-node path needs ~diameter rounds — exercises the iteration
    + early-exit logic well past the quasi-clique case."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a bigint, id_b bigint"
    )
    labels = connected_components(edges, max_iter=30).collect()
    assert {r["component"] for r in labels} == {0}
    assert len(labels) == 12


def test_ivf_index_table_prunes_partitions(spark):
    """ivf_build_index writes a cell-partitioned table; ivf_query_index
    must hit it with a static partition filter (directories pruned at
    listing time) and return exactly what the on-the-fly ivf_topk
    returns for the same quantizer settings."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )

    rng = np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(200)],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100 + j, rng.standard_normal(8).tolist()) for j in range(3)],
        "query_id bigint, embedding array<float>",
    )
    centroids = ivf_build_index(corpus, "ivf_idx_test", n_clusters=8, seed=42)
    assert len(centroids) == 8 and len(centroids[0]) == 8

    out = ivf_query_index(
        spark, "ivf_idx_test", queries, centroids, k=5, n_probe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "_cell" in m.group(1), f"no static partition filter: {m}"

    got = {
        (r["query_id"], r["rank"]): r["vec_id"] for r in out.collect()
    }
    # same quantizer (full fit, same seed) on the fly must agree exactly
    ref = ivf_topk(corpus, queries, k=5, n_clusters=8, n_probe=2, seed=42)
    want = {(r["query_id"], r["rank"]): r["vec_id"] for r in ref.collect()}
    assert got == want and len(got) == 15


def test_ivf_probe_short_circuits_wide_probe_sets(spark):
    """When a query batch probes more than half the cells, the literal
    _cell IN (...) partition filter prunes almost nothing — the scan
    must go unfiltered (no driver round-trip building a useless cell
    list), and results must be identical because the probe join alone
    enforces the (query, cell) semantics."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )

    rng = np.random.default_rng(11)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(200)],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100 + j, rng.standard_normal(8).tolist()) for j in range(6)],
        "query_id bigint, embedding array<float>",
    )
    centroids = ivf_build_index(corpus, "ivf_sc_test", n_clusters=4, seed=42)

    # n_probe = n_cells: every query probes all 4 cells > threshold 2
    wide = ivf_query_index(
        spark, "ivf_sc_test", queries, centroids, k=5, n_probe=4
    )
    plan = wide._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    # the probe join may still push isnotnull(_cell); the literal
    # IN-list / equality prune is what the short-circuit must drop
    literal_prune = m and re.search(r"_cell#\d+ (IN|=) ", m.group(1))
    assert not literal_prune, (
        f"short-circuit failed — still filtering: {m.group(0)}"
    )
    # full probe == exact search: must equal brute force cosine top-k
    exact = brute_force_topk(corpus, queries, k=5)
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in wide.collect()}
    want = {(r["query_id"], r["rank"]): r["vec_id"] for r in exact.collect()}
    assert got == want and len(got) == 30

    # narrow probe on the same index still takes the filtered path
    narrow = ivf_query_index(
        spark, "ivf_sc_test", queries.limit(1), centroids, k=5, n_probe=1
    )
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and re.search(r"_cell#\d+ (IN|=) ", m.group(1)), (
        f"filtered path lost: {m.group(0) if m else plan[:200]}"
    )


def test_minhash_lsh_dedup_transitive(spark, docs):
    """transitive=True keeps exactly one representative per connected
    component of the pair graph (min id), composing cc over LSH pairs."""
    out = minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5, transitive=True)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert 1 in kept and 4 in kept and 5 in kept  # reps + unpaired docs
    assert 2 not in kept  # exact dup collapses into doc 1's component


def test_cc_dedup_beats_greedy_on_star_topology(spark):
    """Pairs (1,3) and (2,3): greedy (drop id_b) keeps BOTH 1 and 2 —
    transitive near-dups through the dropped 3 — while component dedup
    keeps only the cluster min."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        cc_dedup,
    )

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 9)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "id_a bigint, id_b bigint")
    greedy = docs.join(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    assert sorted(r["doc_id"] for r in greedy.collect()) == [1, 2, 9]
    kept = cc_dedup(docs, "doc_id", pairs)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 9]


def test_decontaminate_drops_benchmark_overlap(spark):
    """Doc 2 contains a benchmark sentence verbatim -> dropped; doc 3
    shares nothing -> kept; the benchmark set itself is external."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        decontaminate,
    )

    bench_text = (
        "what is the capital of france the capital of france is paris "
        "and it has been the capital since the tenth century"
    )
    corpus = spark.createDataFrame(
        [
            (2, "intro text " + bench_text + " outro text"),  # contains it
            (3, FAR + " totally unrelated prose about engines and planes"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id bigint, text string")
    kept = decontaminate(corpus, bench, "doc_id", "text")
    assert sorted(r["doc_id"] for r in kept.collect()) == [3]

def test_decontaminate_catches_case_and_whitespace_variants(spark):
    """Normalization (lowercase + whitespace-collapse via tokenization)
    catches trivial reformattings of a benchmark string; normalize=False
    restores raw matching and misses them."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        decontaminate,
    )

    bench_text = (
        "what is the capital of france the capital of france is paris "
        "and it has been the capital since the tenth century"
    )
    variant = (
        "What  Is The CAPITAL of France   the Capital of FRANCE is Paris "
        "and it HAS been\tthe capital since the TENTH century"
    )
    corpus = spark.createDataFrame(
        [(2, "intro " + variant + " outro"), (3, "unrelated prose about engines")],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id bigint, text string")
    assert sorted(
        r["doc_id"] for r in decontaminate(corpus, bench, "doc_id", "text").collect()
    ) == [3]
    # raw mode misses the variant
    assert sorted(
        r["doc_id"]
        for r in decontaminate(corpus, bench, "doc_id", "text", normalize=False).collect()
    ) == [2, 3]


def test_connected_components_star_matches_label(spark):
    """Large-star/small-star on chain + clique + isolated edge gives the
    same min-reachable labels as the label-propagation path."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    star = {
        r["id"]: r["component"]
        for r in connected_components(edges, algorithm="star").collect()
    }
    assert star == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_star_high_diameter_olog_rounds(spark):
    """A 100-node path (diameter 99) must converge within ~log rounds —
    the case label propagation needs ~99 rounds for. max_iter=10 would
    make the label path fail loudly; star sails through."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a bigint, id_b bigint"
    )
    labels = connected_components(edges, max_iter=10, algorithm="star").collect()
    assert len(labels) == 100
    assert {r["component"] for r in labels} == {0}


def test_connected_components_warns_on_non_convergence(spark):
    """Label propagation must not silently return split components when
    max_iter elapses mid-propagation."""
    import warnings as w

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a bigint, id_b bigint"
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        labels = connected_components(edges, max_iter=3).collect()
    assert any(
        issubclass(c.category, RuntimeWarning) and "did not converge" in str(c.message)
        for c in caught
    )
    # and the labels really are split (the warning is not spurious)
    assert len({r["component"] for r in labels}) > 1


def test_star_pairs_bypass_threshold_filter(spark):
    """A capped-bucket member whose hub estimate is below the threshold
    must still keep its star edge (else it survives dedup as a false
    unique, contradicting the component-preservation guarantee)."""
    B = 30
    boiler = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    # mutate a few tokens per copy: same band buckets still collide for
    # identical copies; the mutants share buckets with the hub through
    # some bands while their full-signature estimate can dip below the
    # threshold. Use identical copies + one heavy mutant for determinism.
    mutant = boiler.replace("alpha", "aa").replace("beta", "bb").replace(
        "gamma", "cc"
    ).replace("delta", "dd").replace("epsilon", "ee").replace("zeta", "ff")
    rows = [(i, boiler) for i in range(B)] + [(500, mutant)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
        max_bucket_size=5,
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in pairs.collect()}
    # every boilerplate copy keeps its star edge to the hub (id 0)
    assert {(0, i) for i in range(1, B)} <= set(got)
    # if the mutant landed in the capped bucket with an estimate below
    # the threshold, its edge must still be present
    if (0, 500) in got:
        assert got[(0, 500)] >= 0.0  # kept regardless of threshold


def test_ivf_bounded_fit_caps_sample_and_preserves_results(spark):
    """Default quantizer fit is size-bounded (the 100 TB guard): above
    fit_target_rows the fit DataFrame is a sample, at-or-below it the
    corpus passes through untouched so results are unchanged."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        _bounded_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()  # 500

    # capped: target below corpus size -> sampled down to ~target
    fit = _bounded_fit(emb, None, seed=42, fit_target_rows=100)
    assert fit.count() < n
    assert fit.count() <= 160  # ~100 expected; generous Bernoulli slack

    # uncapped: target above corpus size -> same DataFrame, no sampling
    assert _bounded_fit(emb, None, seed=42, fit_target_rows=10_000) is emb

    # explicit fraction still wins
    assert _bounded_fit(emb, 1.0, seed=42, fit_target_rows=10) is emb

    # and the default ivf_topk results at test scale are identical to an
    # explicit full fit (n=500 <= 100k target -> no sampling happens)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    auto = ivf_topk(corpus, q, k=5).collect()
    full = ivf_topk(corpus, q, k=5, fit_fraction=1.0).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, full))


def test_approx_count_distinct_within_rsd(spark):
    """Oracle-bound for the a1_approx_distinct query: the HLL estimate
    per group falls within a few rsd of the exact count (rsd=0.02 ->
    5*sigma = 10% is an extremely safe deterministic bound; observed
    error at sf0.001 is <2%)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import load

    o = load(spark, "/root/testdata/sf0.001", "orders")
    est = {
        r["o_orderstatus"]: r["approx_cust"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_cust"))
        .collect()
    }
    exact = {
        r["o_orderstatus"]: r["exact_cust"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("exact_cust"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k, v in exact.items():
        assert abs(est[k] - v) <= max(1, 0.10 * v), (k, est[k], v)


def test_decontaminate_both_join_strategies_agree(spark):
    """The broadcast_bench=False branch (the one a giant multi-benchmark
    union actually hits — AQE picks the strategy instead of a forced
    broadcast) must keep EXACTLY the survivors the oracle-checked
    broadcast path keeps, on the same corpus/bench split the
    t_decontaminate registry query uses, plus normalize/min_hits
    variants."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        decontaminate,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import load

    d = load(spark, "/root/testdata/sf0.001", "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    for kw in (
        {},
        {"normalize": False},
        {"min_hits": 2, "shingle_n": 5},
    ):
        bcast = {
            r["doc_id"]
            for r in decontaminate(
                corpus, bench, "doc_id", "text", broadcast_bench=True, **kw
            ).select("doc_id").collect()
        }
        plain = {
            r["doc_id"]
            for r in decontaminate(
                corpus, bench, "doc_id", "text", broadcast_bench=False, **kw
            ).select("doc_id").collect()
        }
        assert bcast == plain, kw
        assert 0 < len(bcast) < corpus.count()  # the filter actually bites


def test_minhash_index_build_query_incremental(spark):
    """Write-once banded signature index: batch 1 builds it; batch 2's
    exact copies are flagged against the INDEX (not a corpus re-scan),
    fresh docs survive and are appended; batch 3 re-sending a batch-2
    survivor is now flagged — proving the append extended the corpus."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
        minhash_query_index,
    )

    t = "mh_idx_test"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words entirely unrelated text " * 3)],
        "doc_id bigint, text string",
    )
    minhash_build_index(corpus, t)

    batch2 = spark.createDataFrame(
        [(10, base),                                   # exact dup of doc 1
         (11, "fresh new content nothing like the corpus at all " * 3)],
        "doc_id bigint, text string",
    )
    hits = minhash_query_index(spark, t, batch2, threshold=0.9)
    assert {r["new_id"] for r in hits.collect()} == {10}

    surv2 = minhash_incremental_dedup(spark, t, batch2, threshold=0.9)
    assert {r["doc_id"] for r in surv2.collect()} == {11}

    batch3 = spark.createDataFrame(
        [(20, "fresh new content nothing like the corpus at all " * 3),  # dup of 11
         (21, "yet another brand new unique document body here " * 3)],
        "doc_id bigint, text string",
    )
    surv3 = minhash_incremental_dedup(spark, t, batch3, threshold=0.9)
    assert {r["doc_id"] for r in surv3.collect()} == {21}


def test_survivors_pin_stays_lazy_without_append(spark, monkeypatch):
    """With ``append=False`` nothing re-reads the survivor plan after an
    append, so the survivors are pinned lazily: the call starts one
    job fewer than the eager pin does, and returns the same rows."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
    )

    t = "mh_lazy_survivors"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    corpus = spark.createDataFrame([(1, BASE)], "doc_id bigint, text string")
    minhash_build_index(corpus, t)
    batch = spark.createDataFrame(
        [(10, BASE), (11, "fresh new content nothing like the corpus " * 3)],
        "doc_id bigint, text string",
    )
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def call():
        start = scheduler.nextJobId()
        out = minhash_incremental_dedup(spark, t, batch, threshold=0.8, append=False)
        return scheduler.nextJobId() - start, sorted(map(tuple, out.collect()))

    call()  # warm the contract read
    lazy_jobs, lazy_rows = call()
    frame = type(batch)
    real = frame.localCheckpoint
    monkeypatch.setattr(
        frame, "localCheckpoint", lambda df, eager=True, *a: real(df, True, *a)
    )
    eager_jobs, eager_rows = call()
    assert lazy_rows == eager_rows
    assert [r[0] for r in lazy_rows] == [11]
    assert lazy_jobs == eager_jobs - 1
    assert spark.table(t).count() == 16  # nothing appended
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_reband_matches_direct_build(spark):
    """Re-banding a standing index from its stored signatures must be
    indistinguishable from building at the new band count directly —
    banding is a pure function of (signature, bands). Probes after the
    reband read the UPDATED meta, the rotation bumps skew_epoch, and
    the skew log is cleared like a rebuild."""
    import pytest as _pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_query_index,
        minhash_reband_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        get_table_meta,
    )

    t_re, t_direct = "mh_reband_test", "mh_reband_direct"
    for s in (t_re, f"{t_re}_skew_log", t_direct):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    corpus = spark.createDataFrame(
        [(i, base * 3 + f"tail {i % 7}") for i in range(24)],
        "doc_id bigint, text string",
    )
    minhash_build_index(corpus, t_re, bands=8)
    minhash_build_index(corpus, t_direct, bands=16)

    # simulate accrued telemetry: the rotation must clear it
    spark.createDataFrame(
        [(1.0, 0, 0, 0, 0)],
        "sum_sq_bucket_rows double, n_capped_buckets int, "
        "n_capped_batch_buckets int, n_hit_buckets int, n_batch int",
    ).write.saveAsTable(f"{t_re}_skew_log")
    epoch0 = int(get_table_meta(spark, t_re)["skew_epoch"])

    minhash_reband_index(spark, t_re, bands=16)

    meta = get_table_meta(spark, t_re)
    assert int(meta["bands"]) == 16
    assert int(meta["skew_epoch"]) == epoch0 + 1
    assert not spark.catalog.tableExists(f"{t_re}_skew_log")
    # row-for-row identical banded content vs the direct 16-band build
    cols = ["doc_id", "band", "bucket"]
    got = {tuple(r) for r in spark.table(t_re).select(*cols).collect()}
    want = {tuple(r) for r in spark.table(t_direct).select(*cols).collect()}
    assert got == want and len(got) == 24 * 16

    # a probe reads the new band count from the contract and agrees
    # with the direct build
    batch = spark.createDataFrame(
        [(100, base * 3 + "tail 3")], "doc_id bigint, text string"
    )
    hits_re = minhash_query_index(spark, t_re, batch, threshold=0.5)
    hits_direct = minhash_query_index(spark, t_direct, batch, threshold=0.5)
    assert sorted(map(tuple, hits_re.collect())) == sorted(
        map(tuple, hits_direct.collect())
    )

    # parameter validation: non-divisor band counts and non-minhash
    # tables are refused before any mutation
    with _pytest.raises(ValueError, match="must divide"):
        minhash_reband_index(spark, t_re, bands=24)
    for s in (t_re, t_direct):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_minhash_index_within_batch_dedup(spark):
    """Two near-identical docs arriving in the SAME batch: only the
    lower id survives (greedy within-batch pass), and only the survivor
    is appended to the index."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
    )

    t = "mh_idx_batch_test"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    minhash_build_index(
        spark.createDataFrame([(1, "seed corpus doc " * 10)], "doc_id bigint, text string"),
        t,
    )
    dup_text = "twin payload words repeated for signature stability " * 3
    batch = spark.createDataFrame(
        [(30, dup_text), (31, dup_text)], "doc_id bigint, text string"
    )
    surv = minhash_incremental_dedup(spark, t, batch, threshold=0.9)
    assert {r["doc_id"] for r in surv.collect()} == {30}
    # index holds signatures for docs 1 and 30 only
    indexed = {r["doc_id"] for r in spark.table(t).select("doc_id").distinct().collect()}
    assert indexed == {1, 30}


def test_minhash_index_hot_bucket_cap_bounds_candidates(spark):
    """Index-probe twin of the standalone hot-bucket stress: an index
    holding 120 boilerplate copies puts them all in the SAME bucket of
    every band, so one probe landing there is O(B) pairs per band
    uncapped. With max_bucket_size, the probe matches only the bucket
    representative (one star pair, threshold-exempt), and
    minhash_incremental_dedup keeps identical survivors either way."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
        minhash_query_index,
    )

    B = 120
    boiler = (
        "subscribe to our newsletter terms of service privacy policy all "
        "rights reserved copyright contact us about careers press blog"
    )
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(B)] + [(900, "unique corpus doc body " * 5)],
        "doc_id bigint, text string",
    )
    probe = spark.createDataFrame(
        [(1000, boiler), (1001, "entirely fresh probe content here " * 5)],
        "doc_id bigint, text string",
    )

    for t in ("mh_hot_uncapped", "mh_hot_capped"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        minhash_build_index(corpus, t)

    uncapped = minhash_query_index(spark, "mh_hot_uncapped", probe, threshold=0.9)
    capped = minhash_query_index(
        spark, "mh_hot_capped", probe, threshold=0.9, max_bucket_size=10
    )
    assert uncapped.count() == B          # probe 1000 vs every boilerplate copy
    hits = capped.collect()
    assert len(hits) == 1                  # star pair vs the min-id rep only
    assert (hits[0]["new_id"], hits[0]["corpus_id"]) == (1000, 0)

    surv_u = {
        r["doc_id"]
        for r in minhash_incremental_dedup(
            spark, "mh_hot_uncapped", probe, threshold=0.9, append=False
        ).collect()
    }
    surv_c = {
        r["doc_id"]
        for r in minhash_incremental_dedup(
            spark, "mh_hot_capped", probe, threshold=0.9, append=False,
            max_bucket_size=10,
        ).collect()
    }
    assert surv_u == surv_c == {1001}

    # within-batch star capping: a boilerplate-heavy BATCH keeps only
    # the min id, same as uncapped greedy, with O(B) bucket work
    t = "mh_hot_batch"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    minhash_build_index(
        spark.createDataFrame(
            [(1, "seed corpus doc " * 10)], "doc_id bigint, text string"
        ),
        t,
    )
    boiler_batch = spark.createDataFrame(
        [(i, boiler) for i in range(2000, 2000 + B)]
        + [(3000, "one genuinely new doc in the batch " * 5)],
        "doc_id bigint, text string",
    )
    surv = minhash_incremental_dedup(
        spark, t, boiler_batch, threshold=0.9, append=False, max_bucket_size=10
    )
    assert {r["doc_id"] for r in surv.collect()} == {2000, 3000}


def test_ivf_append_index_extends_probes(spark):
    """Vectors appended with ivf_append_index are found by
    ivf_query_index probes (cell assignment matches the model's own),
    and the partitioned layout is preserved."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
    )

    t = "ivf_append_test"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)  # appended later
    centroids = ivf_build_index(base, t, n_clusters=8)

    q = emb.filter(F.col("vec_id") >= 490).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = ivf_query_index(spark, t, q, centroids, k=5, n_probe=8)
    # before the append, a query vector cannot find itself in the index
    assert before.filter(F.col("vec_id") == F.col("query_id")).count() == 0

    ivf_append_index(extra, t, centroids)
    after = ivf_query_index(spark, t, q, centroids, k=5, n_probe=8)
    # n_probe=8 == n_clusters -> exhaustive probe: every query now finds
    # itself at cos_sim 1.0, rank 1
    self_hits = after.filter(
        (F.col("vec_id") == F.col("query_id")) & (F.col("rank") == 1)
    )
    assert self_hits.count() == q.count()


def test_ivf_append_drift_detection(spark):
    """ivf_build_index records the build-time quantization-distance
    distribution in the index contract; ivf_append_index measures each
    batch against it. An
    in-distribution append must NOT recommend a rebuild; a shifted
    batch (every component +25) quantizes far worse and must trip the
    recommendation."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        get_table_meta,
    )

    t = "ivf_drift_test"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    centroids = ivf_build_index(base, t, n_clusters=8)

    meta = get_table_meta(spark, t)
    build_p95 = float(meta["p95_dist"])
    assert build_p95 > 0 and int(meta["n_vectors"]) == base.count()

    in_dist = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    m1 = ivf_append_index(in_dist, t, centroids)
    assert m1["n_appended"] == in_dist.count() and m1["n_dropped"] == 0
    assert m1["rebuild_recommended"] is False
    assert 0 < m1["drift_ratio"] < 1.5

    shifted = emb.filter(F.col("vec_id") >= 450).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(25.0)
        ).alias("embedding"),
    )
    m2 = ivf_append_index(shifted, t, centroids)
    assert m2["rebuild_recommended"] is True
    assert m2["drift_ratio"] > 1.5
    assert m2["build_p95_dist"] == build_p95


def test_ivf_append_index_tolerates_dirty_batches(spark):
    """External incremental batches are the path fed by arbitrary
    upstreams: NULL embeddings, wrong-dimension vectors, and fully
    empty batches must not fail the append — invalid rows are filtered,
    valid ones land and are probe-visible."""
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
    )

    t = "ivf_append_dirty_test"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    centroids = ivf_build_index(base, t, n_clusters=8)
    dim = len(centroids[0])

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    good = emb.filter(F.col("vec_id") == 450).first()
    dirty = spark.createDataFrame(
        [
            (9001, None),                         # NULL embedding
            (9002, [1.0] * (dim + 3)),            # ragged dimension
            (int(good["vec_id"]), list(good["embedding"])),  # valid
        ],
        schema,
    )
    ivf_append_index(dirty, t, centroids)          # must not raise
    indexed = {r["vec_id"] for r in spark.table(t).select("vec_id").collect()}
    assert good["vec_id"] in indexed
    assert 9001 not in indexed and 9002 not in indexed

    before = spark.table(t).count()
    ivf_append_index(dirty.filter(F.lit(False)), t, centroids)  # empty batch
    assert spark.table(t).count() == before

    q = spark.createDataFrame(
        [(1, list(good["embedding"]))], "query_id bigint, embedding array<float>"
    )
    hit = ivf_query_index(spark, t, q, centroids, k=1, n_probe=8)
    assert hit.first()["vec_id"] == good["vec_id"]


def test_semantic_dedup_matches_exact_on_separated_clusters(spark):
    """Two well-separated clusters with planted near-dups inside each:
    within-cluster comparison loses nothing, so SemDeDup's survivors
    must equal the exact all-pairs tier's."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        embedding_cosine_dedup,
        embedding_cosine_pairs,
        semantic_dedup,
        semantic_pairs,
    )

    rng = np.random.default_rng(11)
    rows = []
    for cluster, center in [(0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 10.0, 10.0])]:
        for i in range(20):
            base = np.array(center) + rng.normal(0, 0.4, 4)
            rows.append((cluster * 100 + i, [float(x) for x in base]))
            if i < 4:  # plant a near-dup of the first 4 per cluster
                rows.append(
                    (cluster * 100 + 50 + i, [float(x) for x in base + 1e-4])
                )
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    kept_sem = semantic_dedup(
        df, "vec_id", "embedding", threshold=0.9999, n_clusters=2, seed=3
    )
    kept_exact = embedding_cosine_dedup(
        df, "vec_id", "embedding", threshold=0.9999, impl="exact"
    )
    assert sorted(r["vec_id"] for r in kept_sem.collect()) == sorted(
        r["vec_id"] for r in kept_exact.collect()
    )
    # pair output is id-ordered and matches the exact all-pairs tier
    # (clusters are separated, so nothing crosses cells)
    pairs = semantic_pairs(
        df, "vec_id", "embedding", threshold=0.9999, n_clusters=2, seed=3
    ).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    exact = embedding_cosine_pairs(
        df, "vec_id", "embedding", threshold=0.9999, impl="exact"
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {
        (r["id_a"], r["id_b"]) for r in exact
    }


def test_semantic_dedup_null_embeddings_survive(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0]), (1, [1.0, 1e-6]),  # near-dups
        (2, None), (3, None),               # null embeddings: both kept
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    kept = semantic_dedup(
        df, "vec_id", "embedding", threshold=0.99, n_clusters=1, seed=1
    )
    assert sorted(r["vec_id"] for r in kept.collect()) == [0, 2, 3]


def test_semantic_pairs_oversized_cell_raises(spark):
    import pytest as _pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        semantic_pairs,
    )

    rows = [(i, [1.0, float(i) * 1e-3]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    with _pytest.raises(Exception, match="max_cluster_size"):
        semantic_pairs(
            df, "vec_id", "embedding", n_clusters=1, max_cluster_size=10
        ).collect()


def test_hll_sketches_merge_losslessly(spark):
    """The property the persisted-sketch pattern rests on: merging
    per-partition sketches gives the SAME estimate as sketching the
    union directly, and the estimate lands within the lgK error bound
    of the true distinct count."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        distinct_sketches,
        rollup_sketches,
        sketch_estimate,
    )

    df = spark.range(0, 20000).select(
        (F.col("id") % 4).alias("day"),
        (F.col("id") % 2).alias("src"),
        (F.pmod(F.xxhash64("id"), 5000)).alias("user"),
    )
    fine = distinct_sketches(df, ["day", "src"], "user", lgk=13)
    merged = rollup_sketches(fine, ["day"])
    direct = distinct_sketches(df, ["day"], "user", lgk=13)
    m = {r["day"]: r for r in merged.select(
        "day", sketch_estimate().alias("est")).collect()}
    d = {r["day"]: r for r in direct.select(
        "day", sketch_estimate().alias("est")).collect()}
    truth = {
        r["day"]: r["n"]
        for r in df.groupBy("day").agg(
            F.countDistinct("user").alias("n")).collect()
    }
    assert set(m) == set(d) == set(truth)
    for day in truth:
        assert m[day]["est"] == d[day]["est"]  # lossless merge
        assert abs(m[day]["est"] - truth[day]) / truth[day] < 0.05
    # global rollup (no keys) matches too
    total = rollup_sketches(fine, []).select(
        sketch_estimate().alias("est")).collect()[0]["est"]
    true_total = df.select(F.countDistinct("user")).collect()[0][0]
    assert abs(total - true_total) / true_total < 0.05


def test_hll_register_sketches_merge_losslessly(spark):
    """Same property for the register-level (open-representation) HLL
    tier, on both hash families: merging fine-grain register sketches
    estimates identically to sketching the union directly, within the
    p=10 error bound (~3.25% rsd; assert 3 sigma) of the exact count."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hll_register_estimate,
        hll_register_merge,
        hll_register_sketch,
    )

    df = spark.range(0, 20000).select(
        (F.col("id") % 4).alias("day"),
        (F.col("id") % 2).alias("src"),
        (F.pmod(F.xxhash64("id"), 5000)).alias("user"),
    )
    truth = {
        r["day"]: r["n"]
        for r in df.groupBy("day").agg(
            F.countDistinct("user").alias("n")).collect()
    }
    for impl in ("md5", "xxhash64"):
        fine = hll_register_sketch(df, ["day", "src"], "user", hash_impl=impl)
        merged = hll_register_merge(fine, ["day"])
        direct = hll_register_sketch(df, ["day"], "user", hash_impl=impl)
        m = {
            r["day"]: r["approx_distinct"]
            for r in hll_register_estimate(merged, ["day"]).collect()
        }
        d = {
            r["day"]: r["approx_distinct"]
            for r in hll_register_estimate(direct, ["day"]).collect()
        }
        assert set(m) == set(d) == set(truth)
        for day in truth:
            assert m[day] == d[day], impl  # lossless merge
            assert abs(m[day] - truth[day]) / truth[day] < 0.10, impl
        # global rollup (no keys) matches too
        total = hll_register_estimate(
            hll_register_merge(fine, []), []
        ).collect()[0]["approx_distinct"]
        true_total = df.select(F.countDistinct("user")).collect()[0][0]
        assert abs(total - true_total) / true_total < 0.10, impl


def test_hll_register_small_range_linear_counting(spark):
    """A tiny cardinality lands in the linear-counting branch and comes
    back near-exact (registers are mostly empty, ln(m/zeros) is tight)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hll_register_estimate,
        hll_register_sketch,
    )

    df = spark.range(0, 40).select(F.col("id").alias("user"))
    est = hll_register_estimate(
        hll_register_sketch(df, [], "user"), []
    ).collect()[0]["approx_distinct"]
    assert abs(est - 40) <= 2


def test_decontaminate_semantic_drops_bench_neighbors(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        decontaminate_semantic,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),       # = bench item
            (2, [0.999, 0.02, 0.0]),    # paraphrase-near bench
            (3, [0.0, 1.0, 0.0]),       # unrelated
            (4, None),                  # null embedding survives
        ],
        "doc_id bigint, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "qid bigint, embedding array<float>"
    )
    kept = decontaminate_semantic(
        corpus, bench, "doc_id", "embedding", threshold=0.95
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [3, 4]
    # LSH impl finds the exact-duplicate contamination (recall 1.0 on
    # identical vectors) and never drops the unrelated doc
    kept_lsh = decontaminate_semantic(
        corpus, bench, "doc_id", "embedding", threshold=0.95,
        impl="lsh", dim=3, n_planes=4, n_tables=2,
    )
    ids = sorted(r["doc_id"] for r in kept_lsh.collect())
    assert 1 not in ids and 3 in ids and 4 in ids


# ---- product quantization (ADC) ----


def test_pq_encode_roundtrip_on_centroids(spark):
    """Vectors that ARE codebook centroids must encode to themselves and
    ADC-score distance ~0 against themselves (sanity of the geometry)."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal((64, 16))
    rows = [(i, base[i].tolist()) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(df, m=4, n_codes=16, iters=30)
    enc = pq_encode(df, cb)
    assert enc.filter(F.size("pq_code") != 4).count() == 0
    # self-queries: with n_codes == 64 distinct-ish points per subspace
    # quantization is coarse, but the nearest code of a vector scores
    # itself at rank 1 for most vectors
    q = df.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    top1 = pq_topk(enc, q, cb, k=1).collect()
    hits = sum(1 for r in top1 if r.query_id == r.vec_id)
    assert hits >= 3


def test_pq_topk_recall_vs_exact(spark):
    """ADC recall@10 against exact cosine top-10 on the fixture
    embeddings — the quantitative evidence for the rows-only tier
    (mirrors test_lsh_topk_recall_on_testdata)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(corpus, q, k=10).collect()
    }
    cb = pq_train(corpus, m=8, n_codes=64)
    got = {
        (r.query_id, r.vec_id)
        for r in pq_topk(pq_encode(corpus, cb), q, cb, k=10).collect()
    }
    recall = len(exact & got) / len(exact)
    # NOTE: exact ranks by cosine, ADC by L2 — on unnormalized vectors
    # these differ beyond quantization error; recall is still the
    # operative metric for the candidate tier
    assert recall >= 0.4, f"PQ recall too low: {recall}"


def test_pq_train_rejects_indivisible_dims(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        pq_train,
    )

    df = spark.createDataFrame(
        [(1, [0.1] * 10)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=3)


def test_pq_deterministic(spark):
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(9)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb1 = pq_train(df, m=4, n_codes=16)
    cb2 = pq_train(df, m=4, n_codes=16)
    assert (cb1.codebooks == cb2.codebooks).all()
    e1 = {r.vec_id: r.pq_code for r in pq_encode(df, cb1).collect()}
    e2 = {r.vec_id: r.pq_code for r in pq_encode(df, cb2).collect()}
    assert e1 == e2


def test_ivf_pq_composition_prunes_and_ranks(spark, tmp_path):
    """IVF × PQ end-to-end: cells prune the scan (partition filter),
    codes score via ADC, each query ranks only ITS probed cells'
    candidates — and recall vs exact survives the double approximation
    on clustered data."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_build_index,
        ivf_pq_index_topk,
        pq_train,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 16)) * 5
    rows = []
    for i in range(400):
        c = i % 4
        rows.append((i, (centers[c] + rng.standard_normal(16) * 0.3).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    spark.sql("DROP TABLE IF EXISTS ivfpq_idx")
    # n_codes must resolve WITHIN-cluster geometry (spread 0.3 around
    # centers 5 apart): 256 codes/subspace → measured recall ~0.87;
    # 32 codes quantize too coarsely (~0.5)
    cb = pq_train(df, m=4, n_codes=256, iters=25)
    cents = ivf_build_index(df, "ivfpq_idx", n_clusters=4, pq_codebook=cb)
    # codes persisted at build: the query path reads the m-byte column
    # and never re-encodes
    assert "pq_code" in spark.table("ivfpq_idx").columns
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_pq_index_topk(
        spark, "ivfpq_idx", q, cents, cb, k=10, n_probe=1
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "_cell IN" in plan.replace("#", " "), plan[:500]
    res = got.collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert all(len(v) == 10 for v in by_q.values())
    # exact L2 ground truth (ADC approximates L2, not cosine — measure
    # quantization + probe loss, not a metric mismatch)
    X = np.stack([np.asarray(v) for _, v in rows])
    exact = set()
    for qid in range(3):
        d = ((X - X[qid]) ** 2).sum(1)
        for vid in np.argsort(d)[:10]:
            exact.add((qid, int(vid)))
    approx = {(r.query_id, r.vec_id) for r in res}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF-PQ recall too low: {recall}"


@pytest.mark.slow
def test_ivf_append_requires_matching_pq_codebook(spark):
    """Appending to a PQ-enabled index without a caller-held codebook
    resolves the build's persisted ``{table}_pq_codebook`` companion
    (bit-identical — doubles round-trip parquet exactly, so the codes
    match what the caller-held object would produce); a LEGACY index
    with no companion must still raise (silent schema drift would
    leave codeless rows the query path then mis-scores); passing a
    codebook to a plain index also raises."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        pq_encode,
        pq_load_codebook,
        pq_train,
    )

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(df, m=4, n_codes=16)
    for s in ("ivfpq_app", "ivfpq_app_pq_codebook"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    cents = ivf_build_index(df, "ivfpq_app", n_clusters=2, pq_codebook=cb)
    batch = spark.createDataFrame(
        [(200, rng.standard_normal(16).tolist())], "vec_id long, embedding array<double>"
    )
    # companion round-trips the trained object bit-identically, so the
    # resolved codebook encodes the SAME codes the caller-held one does
    loaded = pq_load_codebook(spark, "ivfpq_app")
    assert (loaded.codebooks == cb.codebooks).all()
    want = pq_encode(batch, cb).first()["pq_code"]
    out = ivf_append_index(batch, "ivfpq_app", cents)  # no codebook passed
    assert out["n_appended"] == 1
    got = spark.table("ivfpq_app").filter(F.col("vec_id") == 200).collect()
    assert got[0].pq_code == want and len(got[0].pq_code) == 4
    # PQ index whose codebook companion is missing: still a hard error
    spark.sql("DROP TABLE IF EXISTS ivfpq_app_pq_codebook")
    batch2 = spark.createDataFrame(
        [(201, rng.standard_normal(16).tolist())], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="SAME codebook"):
        ivf_append_index(batch2, "ivfpq_app", cents)
    out2 = ivf_append_index(batch2, "ivfpq_app", cents, pq_codebook=cb)
    assert out2["n_appended"] == 1
    # plain index + codebook is also a misuse
    spark.sql("DROP TABLE IF EXISTS ivf_plain_app")
    cents2 = ivf_build_index(df, "ivf_plain_app", n_clusters=2)
    with pytest.raises(ValueError, match="no pq_code column"):
        ivf_append_index(batch, "ivf_plain_app", cents2, pq_codebook=cb)


# ---------------------------------------------------------------------------
# span-level exact substring dedup (Lee et al. 2022 ExactSubstr)
# ---------------------------------------------------------------------------


def test_span_dedup_keeps_first_occurrence_only(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_dedup,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "intro words alpha beta gamma delta tail end"),
        (3, "x x x x x y unique tokens here"),
        (4, None),
        (5, ""),
        (6, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.deduped_text, r.n_tokens_removed)
        for r in span_dedup(df, "doc_id", "text", k=4).collect()
    }
    # doc 1 is the globally-first occurrence of the shared 4-gram: intact
    assert got[1] == ("alpha beta gamma delta epsilon zeta eta theta", 0)
    # doc 2's copy of the span is removed, surrounding text survives
    assert got[2] == ("intro words tail end", 4)
    # internal repetition: the second "x x x x" (pos 2) covers tokens 2-5
    assert got[3] == ("x y unique tokens here", 4)
    assert got[4] == (None, None)
    assert got[5] == ("", 0)
    assert got[6] == ("short doc", 0)


def test_span_dedup_identical_docs_empty_the_later_copy(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_dedup,
    )

    text = "one two three four five six"
    df = spark.createDataFrame(
        [(10, text), (20, text)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.deduped_text, r.n_tokens_removed)
        for r in span_dedup(df, "doc_id", "text", k=3).collect()
    }
    assert got[10] == (text, 0)
    assert got[20] == ("", 6)


def test_span_dedup_validates_k_and_stays_jvm_side(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_dedup,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k must be >= 2"):
        span_dedup(df, "doc_id", "text", k=1)
    plan = span_dedup(df, "doc_id", "text", k=2)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan


# ---------------------------------------------------------------------------
# count-min sketch: mergeable frequency estimates
# ---------------------------------------------------------------------------


def _cms_mod():
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import sketches

    return sketches


def test_cms_merge_equals_sketch_of_union(spark):
    sk = _cms_mod()
    a = spark.createDataFrame([(i % 7,) for i in range(200)], "v long")
    b = spark.createDataFrame([(i % 11,) for i in range(300)], "v long")
    union_sketch = sk.cms_sketch(a.union(b), [], "v", depth=3, width=64)
    merged = sk.cms_merge(
        sk.cms_sketch(a, [], "v", depth=3, width=64).union(
            sk.cms_sketch(b, [], "v", depth=3, width=64)
        ),
        [],
    )
    # lossless merge: identical cell grids, row for row
    assert union_sketch.exceptAll(merged).count() == 0
    assert merged.exceptAll(union_sketch).count() == 0


def test_cms_lookup_never_underestimates_and_bounds_overestimate(spark):
    import math

    from pyspark.sql import functions as F

    sk = _cms_mod()
    # 500 skewed keys into a deliberately tiny grid to force collisions
    rows = [(f"k{i % 50}",) for i in range(450)] + [("hot",)] * 50
    df = spark.createDataFrame(rows, "v string")
    sketch = sk.cms_sketch(df, [], "v", depth=4, width=32)
    probes = df.select("v").distinct()
    est = sk.cms_lookup(sketch, probes, "v", depth=4, width=32)
    exact = df.groupBy("v").agg(F.count("*").alias("t"))
    cmp = est.join(exact, "v").collect()
    n = 500
    eps_n = math.e / 32 * n  # CMS guarantee at this width
    assert all(r.est_count >= r.t for r in cmp)
    assert all(r.est_count - r.t <= eps_n for r in cmp)
    # unseen probes estimate low (0 unless every row collides)
    ghost = spark.createDataFrame([("never-seen",)], "v string")
    g = sk.cms_lookup(sketch, ghost, "v", depth=4, width=32).first()
    assert g.est_count <= eps_n


def test_cms_plan_stays_jvm_side(spark):
    sk = _cms_mod()
    df = spark.createDataFrame([(1,)], "v long")
    plan = (
        sk.cms_sketch(df, [], "v")._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "BatchEval" not in plan


# ---------------------------------------------------------------------------
# MMR diversified re-ranking
# ---------------------------------------------------------------------------


def _mmr_candidates(spark):
    # query 1: three near-identical "A" vectors outscore one orthogonal
    # "B" vector; plain top-3 returns A,A,A while MMR should slot B in
    rows = [
        (1, 101, [1.0, 0.0, 0.0], 0.99),
        (1, 102, [0.999, 0.01, 0.0], 0.98),
        (1, 103, [0.998, 0.02, 0.0], 0.97),
        (1, 201, [0.0, 1.0, 0.0], 0.80),
    ]
    return spark.createDataFrame(
        rows, "query_id long, vec_id long, embedding array<double>, cos_sim double"
    )


def test_mmr_promotes_diverse_candidates(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    out = (
        mmr_rerank(_mmr_candidates(spark), k=3, lam=0.5)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r.vec_id for r in out[:2]] == [101, 201]  # diverse B jumps to #2
    assert len(out) == 3


def test_mmr_with_lam_one_is_plain_relevance_order(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    out = (
        mmr_rerank(_mmr_candidates(spark), k=4, lam=1.0)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r.vec_id for r in out] == [101, 102, 103, 201]
    assert [r.mmr_rank for r in out] == [1, 2, 3, 4]


def test_mmr_output_types_follow_input_schema(spark):
    """String ids and float scores must round-trip untouched — the
    output schema is derived from the candidate frame, not hardcoded
    long/double (round-5 advice)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    rows = [
        ("q1", "docA", [1.0, 0.0], 0.99),
        ("q1", "docB", [0.0, 1.0], 0.80),
    ]
    cands = spark.createDataFrame(
        rows,
        "query_id string, vec_id string, embedding array<double>, cos_sim float",
    )
    out = mmr_rerank(cands, k=2, lam=0.5)
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields) == {
        "query_id": "string",
        "vec_id": "string",
        "cos_sim": "float",
        "mmr_rank": "int",
    }
    got = out.orderBy("mmr_rank").collect()
    assert [r.vec_id for r in got] == ["docA", "docB"]
    assert got[0].query_id == "q1"


def test_mmr_drops_null_vectors_and_validates_lam(spark):
    import pytest as _pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    df = spark.createDataFrame(
        [(1, 1, None, 0.9), (1, 2, [1.0, 0.0], 0.5)],
        "query_id long, vec_id long, embedding array<double>, cos_sim double",
    )
    out = mmr_rerank(df, k=2, lam=0.5).collect()
    assert [r.vec_id for r in out] == [2]
    with _pytest.raises(ValueError, match="lam"):
        mmr_rerank(df, lam=1.5)


# ---------------------------------------------------------------------------
# kNN label propagation
# ---------------------------------------------------------------------------


def test_knn_classify_majority_and_tiebreak(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        knn_classify,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [0.9, 0.1], "a"),
            (3, [0.0, 1.0], "b"),
            (4, [0.1, 0.9], "b"),
            (5, [0.5, 0.5], "c"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.05]), (200, [0.05, 1.0])],
        "query_id long, embedding array<double>",
    )
    got = {
        r.query_id: (r.predicted_label, r.n_votes)
        for r in knn_classify(corpus, q, k=3).collect()
    }
    # q100's 3 nearest: 1,2 (a) then 5 (c) -> majority a with 2 votes
    assert got[100] == ("a", 2)
    assert got[200] == ("b", 2)
    # k=4 for q100: a=2 votes (ranks 1,2), then c and b one each -> a
    got4 = {
        r.query_id: r.predicted_label
        for r in knn_classify(corpus, q, k=4).collect()
    }
    assert got4[100] == "a"
    # tie-break: k=2 on an equidistant-pair query -> labels a and b tie
    # 1-1; the label whose supporting neighbor ranks closer wins
    qt = spark.createDataFrame(
        [(300, [0.6, 0.59])], "query_id long, embedding array<double>"
    )
    r = knn_classify(corpus.filter("vec_id in (1, 3)"), qt, k=2).first()
    assert r.n_votes == 1
    assert r.predicted_label == "a"  # vec 1 (label a) is the nearer evidence


def test_knn_classify_ivf_agrees_on_separated_clusters(spark):
    import pytest as _pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        knn_classify,
    )

    rows = []
    for i in range(30):
        rows.append((i, [10.0 + (i % 3) * 0.01, 0.0], "x"))
        rows.append((100 + i, [0.0, 10.0 + (i % 3) * 0.01], "y"))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    q = spark.createDataFrame(
        [(1000, [9.0, 0.5]), (2000, [0.5, 9.0])],
        "query_id long, embedding array<double>",
    )
    exact = {
        r.query_id: r.predicted_label
        for r in knn_classify(corpus, q, k=5).collect()
    }
    approx = {
        r.query_id: r.predicted_label
        for r in knn_classify(
            corpus, q, k=5, impl="ivf", n_clusters=2, n_probe=1
        ).collect()
    }
    assert exact == approx == {1000: "x", 2000: "y"}
    with _pytest.raises(ValueError, match="unknown knn impl"):
        knn_classify(corpus, q, impl="flann")


def test_span_incremental_dedup_against_persisted_index(spark):
    """Batch tokens covered by historically-seen spans are dropped even
    though the batch itself has no internal duplication; appends extend
    the standard so batch 2 dedups against batch 1's spans."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_build_index,
        span_incremental_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta"
    fresh = "totally new content nothing shared here"
    spark.sql("DROP TABLE IF EXISTS span_idx_t")
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    span_build_index(corpus, "span_idx_t", k=4)

    # batch 1: one doc repeating the corpus span, one genuinely new
    b1 = spark.createDataFrame(
        [(10, "intro " + base + " outro"), (11, fresh)],
        "doc_id long, text string",
    )
    got1 = {
        r.doc_id: (r.deduped_text, r.n_tokens_removed)
        for r in span_incremental_dedup(spark, "span_idx_t", b1).collect()
    }
    # hit spans start at positions 2-4 (the three historical 4-grams),
    # covering tokens 2-7; the unseen boundary spans containing intro /
    # outro don't hit, so those two tokens survive
    assert got1[10] == ("intro outro", 6)
    assert got1[11] == (fresh, 0)

    # batch 2: repeats batch 1's NEW doc -> dropped via the appended index
    b2 = spark.createDataFrame([(20, fresh)], "doc_id long, text string")
    got2 = span_incremental_dedup(spark, "span_idx_t", b2).first()
    assert got2.deduped_text == "" and got2.n_tokens_removed == 6

    # append=False masks the same way and leaves the index unchanged
    n_before = spark.table("span_idx_t").count()
    got3 = span_incremental_dedup(spark, "span_idx_t", b2, append=False).first()
    assert got3.deduped_text == "" and got3.n_tokens_removed == 6
    b3 = spark.createDataFrame(
        [(30, "another brand new span of words entirely")],
        "doc_id long, text string",
    )
    span_incremental_dedup(spark, "span_idx_t", b3, append=False)
    assert spark.table("span_idx_t").count() == n_before


def test_index_contract_metadata_validation(spark):
    """Standing indexes record their build parameters as table
    properties, and probes/appends take them from there. A probe that
    restates nothing uses the recorded span ``k`` (a default ``k``
    would pass everything through undeduped) and the recorded MinHash
    banding, and a non-default ``n_buckets`` is picked up by the append
    automatically (the round-5 advice bug: appends hardcoded 32 and
    crashed on any other build spec)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
        minhash_query_index,
        span_build_index,
        span_incremental_dedup,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        get_table_meta,
    )

    spark.sql("DROP TABLE IF EXISTS span_idx_meta")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    span_build_index(corpus, "span_idx_meta", k=4, n_buckets=8)
    meta = get_table_meta(spark, "span_idx_meta")
    assert meta["k"] == "4" and meta["n_buckets"] == "8" and meta["kind"] == "span"

    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon extra")], "doc_id long, text string"
    )
    # the probe reads k=4: a 5-token corpus holds no span of the
    # default k=8, so only the recorded k masks anything
    dry = span_incremental_dedup(spark, "span_idx_meta", batch, append=False).first()
    assert (dry.deduped_text, dry.n_tokens_removed) == ("extra", 5)

    # n_buckets defaults from metadata: the append against the
    # 8-bucket table succeeds without the caller restating it
    got = span_incremental_dedup(spark, "span_idx_meta", batch).first()
    # historical spans @1,@2 cover tokens 1..5 -> only "extra" survives
    assert (got.deduped_text, got.n_tokens_removed) == ("extra", 5)
    b2 = spark.createDataFrame(
        [(20, "alpha beta gamma delta epsilon extra")], "doc_id long, text string"
    )
    got2 = span_incremental_dedup(spark, "span_idx_meta", b2).first()
    assert got2.deduped_text == ""  # batch-1 append took effect

    # minhash twin: a probe and an append that restate nothing sign and
    # band at the recorded 32 hashes in 8 bands
    spark.sql("DROP TABLE IF EXISTS mh_idx_meta")
    minhash_build_index(corpus, "mh_idx_meta", num_hashes=32, bands=8)
    same = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    hits = minhash_query_index(spark, "mh_idx_meta", same).collect()
    assert [tuple(r) for r in hits] == [(10, 1, 1.0)]
    fresh = spark.createDataFrame(
        [(30, "zulu yankee xray whiskey victor uniform")], "doc_id long, text string"
    )
    minhash_incremental_dedup(spark, "mh_idx_meta", fresh).collect()
    appended = spark.table("mh_idx_meta").filter("doc_id = 30")
    assert sorted(r.band for r in appended.collect()) == list(range(8))
    assert {len(r.sig) for r in appended.collect()} == {32}


def test_minhash_incremental_dedup_rejects_unknown_keywords(spark, tmp_path):
    """A misspelt or recorded signature parameter (``band=``, or
    ``num_hashes=``/``bands=``/``impl=``, which the index contract
    holds) or a removed option raises ``TypeError`` instead of running
    with the defaults, on the batch call and on its streaming
    wrapper."""
    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_corpus_dedup,
    )

    t = "mh_idx_kwargs"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta")], "doc_id long, text string"
    )
    minhash_build_index(docs, t, num_hashes=32, bands=8)
    for bad in (
        {"band": 8}, {"storage": "persist"}, {"num_hashes": 32}, {"bands": 8},
        {"impl": "md5"},
    ):
        with pytest.raises(TypeError):
            minhash_incremental_dedup(spark, t, docs, append=False, **bad)
        with pytest.raises(TypeError):
            stream_corpus_dedup(
                spark.readStream.schema("doc_id long, text string").parquet(
                    str(tmp_path)
                ),
                t, str(tmp_path / "ck"), **bad,
            )
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_centroid_fingerprint_contract(spark):
    """The IVF index records a fingerprint of its centroid matrix;
    probes/appends passing centroids from a DIFFERENT build (stale or
    rebuilt matrix — silent recall destruction) are rejected."""
    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
    )

    rows = [(i, [float(i % 4), float((i * 7) % 5), 1.0]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    spark.sql("DROP TABLE IF EXISTS ivf_fp_idx")
    cents = ivf_build_index(corpus, "ivf_fp_idx", n_clusters=4, seed=1)
    q = spark.createDataFrame(
        [(100, [1.0, 2.0, 1.0])], "query_id long, embedding array<double>"
    )
    assert ivf_query_index(spark, "ivf_fp_idx", q, cents, k=3).count() == 3
    stale = [[c + 0.5 for c in row] for row in cents]
    with pytest.raises(ValueError, match="index contract mismatch"):
        ivf_query_index(spark, "ivf_fp_idx", q, stale, k=3)
    batch = spark.createDataFrame(
        [(200, [0.5, 0.5, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="index contract mismatch"):
        ivf_append_index(batch, "ivf_fp_idx", stale)
    out = ivf_append_index(batch, "ivf_fp_idx", cents)
    assert out["n_appended"] == 1


def test_span_incremental_matches_full_span_dedup_for_one_shot(spark):
    """Empty index + a single batch == plain span_dedup of that batch
    (the from-scratch equivalence anchor)."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_build_index,
        span_dedup,
        span_incremental_dedup,
    )

    rows = [
        (1, "a b c d e f g"),
        (2, "x y a b c d tail"),
        (3, "a b c d e f g"),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    spark.sql("DROP TABLE IF EXISTS span_idx_empty")
    span_build_index(
        spark.createDataFrame([], "doc_id long, text string"),
        "span_idx_empty", k=4,
    )
    inc = {
        r.doc_id: (r.deduped_text, r.n_tokens_removed)
        for r in span_incremental_dedup(
            spark, "span_idx_empty", batch, append=False
        ).collect()
    }
    full = {
        r.doc_id: (r.deduped_text, r.n_tokens_removed)
        for r in span_dedup(batch, "doc_id", "text", k=4).collect()
    }
    assert inc == full


def test_containment_catches_quotes_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: containment of
    the short side ~1.0 while Jaccard stays under a symmetric-dedup
    threshold — the signal this operator exists for."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"filler{i}" for i in range(40))
    rows = [
        (1, quote),
        (2, filler + " " + quote + " trailing words here"),
        (3, "completely unrelated text about something else entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r.id_a, r.id_b): (r.containment_a, r.containment_b)
        for r in ngram_containment_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.9
        ).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)][0] == 1.0  # short side contained
    assert cont[(1, 2)][1] < 0.9                      # long side is not
    assert not [k for k in cont if 3 in k]
    jac = ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_n=3, threshold=0.5
    ).collect()
    assert jac == []  # symmetric similarity misses the quote entirely


def test_hist_sketch_merges_losslessly_and_bounds_quantile_error(spark):
    """The quantile member of the sketch trio: merge of per-batch
    histograms == histogram of the union row-for-row, and quantile
    estimates land within one bin width of the exact percentile."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hist_merge,
        hist_quantile,
        hist_sketch,
    )

    lo, hi, nb = 0.0, 100.0, 50  # bin width 2
    rows = [(i % 3, float((i * 7) % 100)) for i in range(600)]
    df = spark.createDataFrame(rows, "grp int, v double")
    a = df.filter(F.col("grp") != 2)
    b = df.filter(F.col("grp") == 2)
    merged = hist_merge(
        hist_sketch(a, ["grp"], "v", lo, hi, nb).unionByName(
            hist_sketch(b, ["grp"], "v", lo, hi, nb)
        ),
        ["grp"],
    )
    direct = hist_sketch(df, ["grp"], "v", lo, hi, nb)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )

    est = {
        (r.grp, r.q): r.quantile_est
        for r in hist_quantile(direct, ["grp"], [0.5, 0.9], lo, hi, nb).collect()
    }
    exact = {
        (r.grp, q): r[f"p{int(q*100)}"]
        for r in df.groupBy("grp").agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.9)").alias("p90"),
        ).collect()
        for q in (0.5, 0.9)
    }
    for k, e in est.items():
        assert abs(e - exact[k]) <= 2.0 + 1e-9  # one bin width

    # out-of-range values clamp to edge bins instead of vanishing
    oob = spark.createDataFrame([(1, -50.0), (1, 500.0)], "grp int, v double")
    cl = {r.bin: r.cnt for r in hist_sketch(oob, ["grp"], "v", lo, hi, nb).collect()}
    assert cl == {0: 1, nb - 1: 1}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="hi must be > lo"):
        hist_sketch(df, ["grp"], "v", 5.0, 5.0, nb)


def test_hist_health_flags_range_drift(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hist_health,
        hist_sketch,
    )

    good = [(1, float(v)) for v in range(20, 80)]
    drifted = [(2, float(v)) for v in range(20, 40)] + [(2, 500.0)] * 20
    df = spark.createDataFrame(good + drifted, "grp int, v double")
    sk = hist_sketch(df, ["grp"], "v", 0.0, 100.0, 50)
    h = {r.grp: r for r in hist_health(sk, ["grp"], 50).collect()}
    assert h[1].edge_mass == 0.0 and not h[1].rerange_recommended
    assert h[2].edge_mass == 0.5 and h[2].rerange_recommended


def test_ivf_index_generic_compact_and_health(spark):
    """The IVF family joins the generic lifecycle: appends accrete one
    file per touched cell; health measures it and compact_index_table
    rewrites under the RECORDED partition layout with probes unchanged."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        compact_index_table,
        get_table_meta,
        index_table_health,
    )

    rows = [(i, [float(i % 4), float((i * 7) % 5), 1.0]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    spark.sql("DROP TABLE IF EXISTS ivf_gc_idx")
    cents = ivf_build_index(
        corpus, "ivf_gc_idx", n_clusters=4, seed=1, n_id_buckets=2
    )
    h_build = index_table_health(spark, "ivf_gc_idx")
    for i in range(3):
        b = spark.createDataFrame(
            [(100 + i, [0.5 + i, 0.5, 1.0])], "vec_id long, embedding array<double>"
        )
        ivf_append_index(b, "ivf_gc_idx", cents)
    # fanout denominator is the combined layout's product (4 cells ×
    # 2 id buckets); three 1-row appends = 3 new files over the build
    h = index_table_health(
        spark, "ivf_gc_idx", max_files_per_bucket=h_build["files_per_bucket"]
    )
    assert h["n_buckets"] == 8
    assert h["n_files"] >= h_build["n_files"] + 3
    assert h["compact_recommended"]
    q = spark.createDataFrame(
        [(9, [1.0, 2.0, 1.0])], "query_id long, embedding array<double>"
    )
    before = sorted(
        map(tuple, ivf_query_index(spark, "ivf_gc_idx", q, cents, k=5).collect())
    )
    compact_index_table(spark, "ivf_gc_idx")
    h2 = index_table_health(spark, "ivf_gc_idx", max_files_per_bucket=1.0)
    assert h2["n_files"] <= h["n_files"] - 2
    # contract metadata (incl. centroid fingerprint) survives, and the
    # compaction preserved BOTH halves of the layout contract
    meta2 = get_table_meta(spark, "ivf_gc_idx")
    assert meta2["partition_cols"] == "_cell"
    assert meta2["bucket_cols"] == "vec_id" and meta2["n_buckets"] == "2"
    after = sorted(
        map(tuple, ivf_query_index(spark, "ivf_gc_idx", q, cents, k=5).collect())
    )
    assert before == after


def test_mine_hard_negatives_contract(spark):
    """Hard negatives: positives anti-joined out, semi-hard head
    skipped, near-dup ceiling applied, ranks contiguous from 1."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        mine_hard_negatives,
    )

    # 1-D embeddings: cosine == sign, so order by |value| is explicit;
    # use 2-D (x, 1) rays so similarity to the query ray (1, 1) falls
    # off monotonically as x moves away from 1
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 9)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 1.0])], "query_id long, embedding array<float>"
    )
    # similarity order from (1,1): 1 > 2 > 3 > ... > 8
    positives = spark.createDataFrame(
        [(0, 2)], "query_id long, vec_id long"
    )
    out = mine_hard_negatives(corpus, queries, positives, k=3)
    rows = sorted(
        (r["neg_rank"], r["vec_id"]) for r in out.collect()
    )
    # positive 2 removed; ranks 1..3 are vec 1, 3, 4
    assert rows == [(1, 1), (2, 3), (3, 4)]
    # exclude_top=1 skips the suspicious top survivor (vec 1)
    out2 = mine_hard_negatives(corpus, queries, positives, k=3, exclude_top=1)
    rows2 = sorted((r["neg_rank"], r["vec_id"]) for r in out2.collect())
    assert rows2 == [(1, 3), (2, 4), (3, 5)]
    # a max_sim ceiling drops the near-duplicates of the query ray
    # WITHOUT starving the pool: the full k negatives still come back
    # from below the ceiling, ranks contiguous from 1
    out3 = mine_hard_negatives(
        corpus, queries, positives, k=3, max_sim=0.95
    )
    r3 = out3.collect()
    assert all(r["cos_sim"] <= 0.95 for r in r3)
    assert sorted(r["neg_rank"] for r in r3) == [1, 2, 3]
    # caller-supplied ANN candidates flow through the same contract
    cand = spark.createDataFrame(
        [(0, 3, 0.9), (0, 2, 0.95), (0, 7, 0.5)],
        "query_id long, vec_id long, cos_sim double",
    )
    out4 = mine_hard_negatives(
        corpus, queries, positives, k=2, candidates=cand
    )
    rows4 = sorted((r["neg_rank"], r["vec_id"]) for r in out4.collect())
    assert rows4 == [(1, 3), (2, 7)]  # positive 2 excluded


def test_cms_md5_family_matches_pure_python_grid(spark):
    """Round 14: the md5 hash family (the oracle-replayable one the
    a1_cms_topk/x1_cms_stream registry entries use) computes the
    identical counter grid as a pure-Python replay of the documented
    bucket formula — first 8 md5 hex chars of 'value#seed+r' mod
    width — and lookups never underestimate, same as the xxhash64
    default. An unknown family is refused loudly."""
    import hashlib

    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        cms_lookup,
        cms_sketch,
    )

    vals = [7, 7, 7, 13, 13, 99, 100, 101, 102, 103]
    df = spark.createDataFrame([(v,) for v in vals], "user_id long")
    depth, width, seed = 3, 64, 42
    grid = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_sketch(
            df, [], "user_id", depth=depth, width=width, seed=seed,
            hash_impl="md5",
        ).collect()
    }
    expected: dict = {}
    for v in vals:
        for r in range(depth):
            h = hashlib.md5(f"{v}#{seed + r}".encode()).hexdigest()
            cell = (r, int(h[:8], 16) % width)
            expected[cell] = expected.get(cell, 0) + 1
    assert grid == expected
    probes = spark.createDataFrame([(7,), (13,), (999,)], "user_id long")
    est = {
        r["user_id"]: r["est_count"]
        for r in cms_lookup(
            cms_sketch(
                df, [], "user_id", depth=depth, width=width, seed=seed,
                hash_impl="md5",
            ),
            probes, "user_id", depth=depth, width=width, seed=seed,
            hash_impl="md5",
        ).collect()
    }
    assert est[7] >= 3 and est[13] >= 2 and est[999] >= 0
    with pytest.raises(ValueError, match="hash_impl"):
        cms_sketch(df, [], "user_id", hash_impl="sha9000").collect()


def test_ivf_retrain_pq_index_keeps_codes(spark):
    """ivf_retrain_index on a PQ-coded index: resolves the persisted
    ``{table}_pq_codebook`` companion when no codebook is passed (a
    LEGACY index with no companion still raises — rebuilt rows must
    carry codes), re-derives codes for the rebuilt layout off the
    stored float vectors, rotates the persisted centroid companion,
    and preserves both halves of the layout contract (cell partitions
    + id buckets)."""
    import numpy as np
    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_load_centroids,
        ivf_retrain_index,
        pq_train,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        get_table_meta,
    )

    rng = np.random.default_rng(9)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(df, m=4, n_codes=16)
    t = "ivfpq_rt"
    for s in (
        t,
        f"{t}_drift_log",
        f"{t}_centroids",
        f"{t}_pq_codebook",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    ivf_build_index(df, t, n_clusters=2, pq_codebook=cb)
    # legacy index (companion missing): codebook-less retrain raises
    spark.sql(f"DROP TABLE IF EXISTS {t}_pq_codebook")
    with pytest.raises(ValueError, match="SAME"):
        ivf_retrain_index(spark, t)
    # retrain WITH the codebook re-persists the companion; from then
    # on a codebook-less retrain resolves it
    ivf_retrain_index(spark, t, pq_codebook=cb)
    new_cents = ivf_retrain_index(spark, t)
    assert ivf_load_centroids(spark, t) == new_cents
    tbl = spark.table(t)
    assert tbl.count() == 80
    assert tbl.filter(F.col("pq_code").isNull()).count() == 0
    meta = get_table_meta(spark, t)
    assert meta["partition_cols"] == "_cell"
    assert meta["bucket_cols"] == "vec_id"


def test_ivf_companion_centroids_resolve_when_none(spark):
    """centroids=None on probe/append resolves the persisted
    {table}_centroids companion and matches an explicitly-passed
    matrix bit-for-bit (parquet double roundtrip is lossless, proven
    by the fingerprint check inside the loader)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_load_centroids,
        ivf_query_index,
    )

    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    t = "ivf_none_cents"
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    cents = ivf_build_index(df, t, n_clusters=4, impl="grid")
    loaded = ivf_load_centroids(spark, t)
    assert loaded == cents  # double roundtrip is exact
    q = spark.createDataFrame(
        [(1, [2.0, 3.0])], "query_id long, embedding array<double>"
    )
    explicit = sorted(
        map(tuple, ivf_query_index(spark, t, q, cents, k=5).collect())
    )
    resolved = sorted(
        map(tuple, ivf_query_index(spark, t, q, None, k=5).collect())
    )
    assert explicit == resolved
    extra = spark.createDataFrame(
        [(100, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    rep = ivf_append_index(extra, t)  # centroids resolved from companion
    assert rep["n_appended"] == 1


def test_ivf_split_hot_cells_partition_scoped(spark):
    """Hot-cell split: a drifted blob crams one cell past the hot
    threshold; ivf_split_hot_cells splits ONLY that cell (2-means on
    its own rows) — untouched cells keep their row sets under their
    cell ids, and the rewrite keeps the recorded id-bucket spec — while
    rows are preserved exactly, the matrix grows to k+1, the stale
    matrix is rejected, and probes with the rotated matrix find the
    drifted region in its own cell."""
    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_load_centroids,
        ivf_query_index,
        ivf_split_hot_cells,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        get_table_meta,
    )

    def bucket_spec():
        rows = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
        }
        return rows["Num Buckets"], rows["Bucket Columns"]

    def cell_rows():
        by_cell: dict = {}
        for r in spark.table(t).select("_cell", "vec_id").collect():
            by_cell.setdefault(r["_cell"], set()).add(r["vec_id"])
        return by_cell

    t = "ivf_split_hot"
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    import random

    rng = random.Random(5)
    rows, vid = [], 0
    for cx, cy in ((0.0, 0.0), (10.0, 0.0), (0.0, 10.0)):
        for _ in range(20):
            rows.append(
                (vid, [cx + rng.uniform(-0.3, 0.3), cy + rng.uniform(-0.3, 0.3)])
            )
            vid += 1
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents0 = ivf_build_index(base, t, n_clusters=3, seed=11, n_id_buckets=8)

    drift_rows = []
    for _ in range(30):
        drift_rows.append(
            (vid, [60.0 + rng.uniform(-0.5, 0.5), 40.0 + rng.uniform(-0.5, 0.5)])
        )
        vid += 1
    drifted = spark.createDataFrame(
        drift_rows, "vec_id long, embedding array<double>"
    )
    ivf_append_index(drifted, t, cents0)

    sizes = {
        r["_cell"]: r["n"]
        for r in spark.table(t).groupBy("_cell").agg(F.count("*").alias("n")).collect()
    }
    hot_cell = max(sizes, key=sizes.get)
    assert sizes[hot_cell] == 50  # its own blob + all 30 drifted rows
    ids_before = sorted(r["vec_id"] for r in spark.table(t).collect())
    rows_before = cell_rows()
    spec_before = bucket_spec()
    assert spec_before == ("8", "[`vec_id`]")

    new_cents = ivf_split_hot_cells(spark, t, max_cell_fraction=0.25)
    assert len(new_cents) == 4
    assert ivf_load_centroids(spark, t) == new_cents

    # rows preserved exactly; hot cell split into two non-empty cells
    assert sorted(r["vec_id"] for r in spark.table(t).collect()) == ids_before
    sizes2 = {
        r["_cell"]: r["n"]
        for r in spark.table(t).groupBy("_cell").agg(F.count("*").alias("n")).collect()
    }
    assert len(sizes2) == 4
    assert {sizes2[hot_cell], sizes2[3]} == {20, 30}
    # untouched cells keep their rows under their ids, and the rewrite
    # kept the recorded id-bucket spec
    rows_after = cell_rows()
    for c, before in rows_before.items():
        if c != hot_cell:
            assert rows_after[c] == before, c
    assert rows_after[hot_cell] | rows_after[3] == rows_before[hot_cell]
    assert bucket_spec() == spec_before
    meta = get_table_meta(spark, t)
    assert (meta["n_buckets"], meta["bucket_cols"]) == ("8", "vec_id")

    # stale matrix rejected; rotated matrix finds the drifted region
    q = spark.createDataFrame(
        [(1, [60.0, 40.0])], "query_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        ivf_query_index(spark, t, q, cents0, k=5, n_probe=1)
    got = {
        r["vec_id"]
        for r in ivf_query_index(spark, t, q, new_cents, k=5, n_probe=1).collect()
    }
    assert got <= {r[0] for r in drift_rows} and len(got) == 5
    # drift log cleared by the contract rotation
    assert not spark.catalog.tableExists(f"{t}_drift_log")


def test_ivf_split_preserves_pq_codes(spark):
    """Splitting a hot cell of a PQ-coded index carries pq_code through
    the rewrite untouched (codes encode the vector, not the cell) and
    needs no codebook — unlike retrain, which re-derives codes."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_split_hot_cells,
        pq_train,
    )

    t = "ivfpq_split"
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    rng = np.random.default_rng(13)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(df, m=4, n_codes=16)
    cents = ivf_build_index(df, t, n_clusters=2, pq_codebook=cb)
    # TIGHT drifted blob (sigma 0.01) so every drifted vector lands in
    # the same nearest-of-two cells — one hot cell, not two
    drift = spark.createDataFrame(
        [
            (100 + i, (rng.standard_normal(16) * 0.01 + 30.0).tolist())
            for i in range(40)
        ],
        "vec_id long, embedding array<double>",
    )
    ivf_append_index(drift, t, cents, pq_codebook=cb)
    codes_before = {
        r["vec_id"]: list(r["pq_code"]) for r in spark.table(t).collect()
    }
    new_cents = ivf_split_hot_cells(spark, t, max_cell_fraction=0.5)
    assert len(new_cents) == 3
    codes_after = {
        r["vec_id"]: list(r["pq_code"]) for r in spark.table(t).collect()
    }
    assert codes_after == codes_before  # byte-identical codes, all rows


def test_ivf_split_skips_degenerate_hot_cell(spark):
    """A hot cell of ALL-IDENTICAL vectors cannot be split (2-means
    puts every row in one child): the split skips it, the matrix is
    unchanged, and probes with the ORIGINAL matrix keep working (no
    contract rotation happened... the fingerprint re-records the same
    matrix, so the old handle stays valid)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
        ivf_split_hot_cells,
    )

    t = "ivf_split_degen"
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    # three point-masses: the (0,0) mass is hot (20 of 30 rows) AND
    # all-identical — the degenerate case a 2-means cannot separate
    rows = (
        [(i, [0.0, 0.0]) for i in range(20)]
        + [(100 + i, [10.0, 0.0]) for i in range(5)]
        + [(200 + i, [0.0, 10.0]) for i in range(5)]
    )
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_build_index(base, t, n_clusters=3, seed=3)
    new_cents = ivf_split_hot_cells(spark, t, max_cell_fraction=0.5)
    assert new_cents == [list(c) for c in cents]  # unchanged matrix
    assert spark.table(t).count() == 30
    out = ivf_query_index(spark, t,
        spark.createDataFrame([(1, [0.0, 0.0])],
                              "query_id long, embedding array<double>"),
        cents, k=3, n_probe=1)
    assert out.count() == 3  # original handle still valid


def test_ivf_split_rounds_until_no_hot_cell(spark):
    """One split pass can leave a CHILD still over the fraction; extra
    rounds re-detect and re-split until no cell is hot — each round
    touching only the still-hot partitions."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_split_hot_cells,
    )

    t = "ivf_split_rounds"
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    import random

    rng = random.Random(21)
    rows, vid = [], 0
    for cx in (0.0, 3.0, 6.0, 50.0):
        for _ in range(20):
            rows.append((vid, [cx + rng.uniform(-0.1, 0.1), 0.0]))
            vid += 1
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_build_index(base, t, n_clusters=2, seed=7)

    def max_fraction():
        sizes = [
            r["n"]
            for r in spark.table(t)
            .groupBy("_cell")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        return max(sizes) / sum(sizes)

    assert max_fraction() > 0.3  # three blobs crammed into one cell
    ivf_split_hot_cells(spark, t, max_cell_fraction=0.3, rounds=1)
    assert max_fraction() > 0.3  # one pass is not enough here
    cents = ivf_split_hot_cells(spark, t, max_cell_fraction=0.3, rounds=3)
    assert max_fraction() <= 0.3
    assert len(cents) == 4
    assert spark.table(t).count() == 80  # every row preserved


def test_ivf_merge_cold_cells_retires_and_renumbers(spark):
    """Round 16: ivf_merge_cold_cells retires underfull cells —
    their rows fold into the nearest SURVIVING cell, the cold
    partitions are dropped, the dense 0..k-1 id invariant is restored
    by swap-remove renumbering, the contract rotates (stale matrices rejected), and probes over the
    shrunk matrix return the exact top-k. A second merge with nothing
    cold is a no-op that leaves the contract untouched."""
    import random

    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_build_index,
        ivf_load_centroids,
        ivf_merge_cold_cells,
        ivf_query_index,
    )

    t = "ivf_merge_cold"
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    rng = random.Random(41)
    rows, vid = [], 0
    for cx, cy, n in ((0.0, 0.0, 40), (10.0, 0.0, 40), (0.0, 10.0, 2), (10.0, 10.0, 2)):
        for _ in range(n):
            rows.append((vid, [cx + rng.uniform(-0.2, 0.2), cy + rng.uniform(-0.2, 0.2)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents0 = ivf_build_index(df, t, n_clusters=4, seed=19)
    sizes0 = {
        r["_cell"]: r["n"]
        for r in spark.table(t).groupBy("_cell").agg(F.count("*").alias("n")).collect()
    }
    assert sorted(sizes0.values()) == [2, 2, 40, 40]  # two sliver cells

    merged = ivf_merge_cold_cells(spark, t, min_cell_fraction=0.1)
    assert len(merged) == 2
    assert ivf_load_centroids(spark, t) == merged
    cells = {r["_cell"] for r in spark.table(t).select("_cell").distinct().collect()}
    assert cells == {0, 1}  # dense ids after renumbering
    assert spark.table(t).count() == 84  # every row preserved

    # stale (pre-merge) matrix rejected; rotated matrix is exact:
    # probing every surviving cell equals brute force
    qs = spark.createDataFrame(
        [(0, [0.0, 10.0]), (1, [10.0, 10.0]), (2, [0.0, 0.0])],
        "query_id long, embedding array<double>",
    )
    with pytest.raises(ValueError):
        ivf_query_index(spark, t, qs, cents0, k=5, n_probe=1)
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(df, qs, k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_query_index(spark, t, qs, merged, k=5, n_probe=2).collect()
    }
    assert got == truth
    # each sliver folded into its NEAREST survivor, so a sliver query
    # probing one cell still finds its whole blob
    near = {
        r["vec_id"]
        for r in ivf_query_index(spark, t, qs.limit(1), merged, k=2, n_probe=1).collect()
    }
    assert near == {80, 81}  # the (0,10) sliver pair

    # nothing cold now: no-op, contract untouched (old handle works)
    again = ivf_merge_cold_cells(spark, t, min_cell_fraction=0.1)
    assert again == merged
    assert ivf_query_index(spark, t, qs, merged, k=5, n_probe=2).count() == 15

    # retiring EVERY cell is refused
    with pytest.raises(ValueError, match="survivor"):
        ivf_merge_cold_cells(spark, t, min_cell_fraction=1.1)


def test_ivf_merge_cold_cells_preserves_pq_codes_and_buckets(spark):
    """Merged (moved + renumbered) rows keep their PQ codes untouched
    (codes encode the vector, not the cell) and the id-bucket spec
    survives the merge's rewrite — the same layout contract the split
    keeps."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_merge_cold_cells,
        pq_train,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        get_table_meta,
    )

    t = "ivf_merge_pq"
    for s in (
        t, f"{t}_drift_log", f"{t}_centroids",
        f"{t}_pq_codebook",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    rng = np.random.default_rng(7)
    rows = []
    for off, n in ((4.0, 30), (-4.0, 30), (40.0, 2)):
        for _ in range(n):
            v = rng.normal(0, 0.1, 16)
            v[0] += off
            rows.append((len(rows), v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(df, m=4, n_codes=16)
    ivf_build_index(df, t, n_clusters=3, seed=3, pq_codebook=cb)
    codes_before = {
        r["vec_id"]: r["pq_code"] for r in spark.table(t).collect()
    }
    merged = ivf_merge_cold_cells(spark, t, min_cell_fraction=0.1)
    assert len(merged) == 2
    after = spark.table(t).collect()
    assert len(after) == 62
    assert {r["vec_id"]: r["pq_code"] for r in after} == codes_before
    meta = get_table_meta(spark, t)
    assert meta["n_clusters"] == "2"
    assert meta["bucket_cols"] == "vec_id"  # bucket spec survived
