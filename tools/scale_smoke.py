"""Scale smoke: run the heavy operators on an N×-replicated corpus and
print per-stage wall-clock + output sanity. The point is not absolute
speed but SCALING SHAPE — a stage whose time grows faster than the
corpus has a hidden n² or single-task path (that is how the 5M-row
surrogate-key type bug was caught; see SCALE.md).

Usage: python tools/scale_smoke.py [multiplier] [sf_dir]
Builds <multiplier>× documents/embeddings in /tmp by unioning the base
corpus with offset ids and per-copy token perturbation (so copies are
near-dups of each other, exercising the dedup tiers realistically).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        cc_dedup,
        exact_dedup,
        minhash_lsh_dedup,
        ngram_jaccard_pairs,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import get_spark, load

    spark = get_spark("scale-smoke")
    base_docs = load(spark, sf_dir, "documents")
    base_emb = load(spark, sf_dir, "embeddings")
    n_base = base_docs.count()

    copies = [
        base_docs.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            # perturb each copy so replicas are near- (not exact-) dups
            F.concat(F.col("text"), F.lit(f" copymark{i}")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(mult)
    ]
    docs_path = f"/tmp/scale_smoke_docs_{mult}x"
    if not os.path.exists(docs_path):
        d = copies[0]
        for c in copies[1:]:
            d = d.unionByName(c)
        d.repartition(32).write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    n_docs = docs.count()

    emb_copies = [
        base_emb.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"), "embedding"
        )
        for i in range(mult)
    ]
    emb = emb_copies[0]
    for c in emb_copies[1:]:
        emb = emb.unionByName(c)
    emb = emb.repartition(32).localCheckpoint(eager=True)
    n_emb = emb.count()

    timings: dict[str, float] = {}
    stats: dict[str, int] = {"n_docs": n_docs, "n_base": n_base, "n_emb": n_emb}

    # SCALE_SMOKE_ONLY=substr[,substr...] runs only matching stages —
    # used for the per-multiplier A/Bs (e.g. the seen-set / IVF probe
    # flatness tables in SCALE.md) without paying the full smoke at
    # each multiplier. Skipped stages return None into stats.
    only = os.environ.get("SCALE_SMOKE_ONLY")

    def enabled(name):
        return not only or any(s in name for s in only.split(","))

    def stage(name, fn):
        if not enabled(name):
            return None
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 2)
        return out

    stats["exact_survivors"] = stage(
        "exact_dedup", lambda: exact_dedup(docs, ["text"], order_col="doc_id").count()
    )
    stats["minhash_survivors"] = stage(
        "minhash_dedup",
        lambda: minhash_lsh_dedup(
            docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
            max_bucket_size=64,
        ).count(),
    )

    def _cc():
        pairs = ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.2, max_df=2000
        )
        return cc_dedup(docs, "doc_id", pairs).count()

    stats["cc_survivors"] = stage("ngram_cc_dedup", _cc)

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    stats["topk_rows"] = stage(
        "cosine_topk",
        lambda: brute_force_topk(emb.filter(F.col("vec_id") >= 3), q, k=10).count(),
    )

    # incremental index forms: build once on the big corpus, then dedup a
    # base-sized batch against the index (the per-batch steady-state cost)
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
    )

    idx = f"mh_scale_idx_{mult}x"
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    stage("minhash_index_build", lambda: minhash_build_index(docs, idx))
    batch = base_docs.select(
        (F.col("doc_id") + F.lit(900_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" batchmark")).alias("text"),
    )
    stats["index_batch_survivors"] = stage(
        "minhash_index_batch_dedup",
        lambda: minhash_incremental_dedup(
            spark, idx, batch, threshold=0.5, append=False
        ).count(),
    )

    # versioned-table merge chain: overwrite the big corpus once, then
    # land 8 successive CDC batches (0.5% of keys each) as COW merges —
    # the steady-state lakehouse path. The per-merge time should stay
    # flat (each rewrites only the touched partitions); the final
    # compact(zorder) resets the accreted exclusion lists and measures
    # the maintenance cost.
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.versioned import (
        VersionedTable,
    )

    if enabled("versioned"):
        vt = VersionedTable(spark, tempfile.mkdtemp(prefix="scale-vt-"))
        vt_docs = docs.withColumn("part", F.pmod(F.col("doc_id"), F.lit(16)))
        stage("versioned_write", lambda: vt.write(vt_docs, partition_by=["part"]))
        merge_times = []
        for i in range(8):
            b = vt_docs.filter(F.pmod(F.col("doc_id"), 200) == i).withColumn(
                "text", F.concat(F.col("text"), F.lit(f" merged{i}"))
            )
            t0 = time.time()
            vt.merge(b, keys=["doc_id"])
            merge_times.append(round(time.time() - t0, 2))
        timings["versioned_merge_each"] = merge_times
        stats["versioned_versions"] = len(vt.versions())
        stage(
            "versioned_compact_zorder",
            lambda: vt.compact(zorder=["doc_id"], target_partitions=32),
        )
        stats["versioned_rows"] = stage("versioned_read", lambda: vt.read().count())

    # entity resolution: full resolve on a mult-x dirty corpus, then the
    # incremental steady state — index built once, one base-sized batch
    # resolved against it. Full-resolve time may grow with the corpus;
    # the per-batch incremental time should track BATCH size.
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_build_index,
        er_incremental,
        resolve_entities,
    )

    if enabled("er_"):
        cust = load(spark, sf_dir, "customer")
        er_copies = [
            cust.select(
                (F.col("c_custkey") + F.lit(i * 10_000_000)).cast("bigint").alias("id"),
                F.concat(F.col("c_name"), F.lit(f"-{i:02d}")).alias("name"),
            )
            for i in range(mult)
        ]
        er_corpus = er_copies[0]
        for c in er_copies[1:]:
            er_corpus = er_corpus.unionByName(c)
        er_corpus = er_corpus.repartition(32).localCheckpoint(eager=True)
        stats["er_rows"] = er_corpus.count()
        # block on the 9-digit customer number (copy-mark-invariant), so the
        # mult near-dup variants of each customer share a block and resolve
        # into one entity; block size == mult, bounded
        er_key = F.substring("name", 10, 9)
        resolved = stage(
            "er_full_resolve",
            lambda: resolve_entities(
                er_corpus, "id", "name", er_key, threshold=0.8
            ).localCheckpoint(eager=True),
        )
        stats["er_entities"] = resolved.select("entity_id").distinct().count()
        er_idx = f"er_scale_idx_{mult}x"
        spark.sql(f"DROP TABLE IF EXISTS {er_idx}")
        spark.sql(f"DROP TABLE IF EXISTS {er_idx}__relabel")
        stage(
            "er_index_build",
            lambda: er_build_index(resolved, er_idx, "id", "name", er_key),
        )
        er_batch = cust.select(
            (F.col("c_custkey") + F.lit(900_000_000)).cast("bigint").alias("id"),
            F.concat(F.col("c_name"), F.lit("-zz")).alias("name"),
        )
        stats["er_batch_rows"] = stage(
            "er_incremental_batch",
            lambda: er_incremental(
                spark, er_idx, er_batch, "id", "name", er_key, threshold=0.8
            ).count(),
        )

        # adversarial bridge-heavy feed: each batch deliberately BRIDGES
        # previously-separate entities (the worst case for the relabel log —
        # every batch row is a merge event). Measures closure growth per
        # batch and that er_index_health tracks it; the auto-compact knob
        # is exercised on the final batch. Closure size should equal the
        # cumulative merge count, and per-batch time should stay flat.
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
            er_index_health,
        )

        br_idx = f"er_bridge_idx_{mult}x"
        spark.sql(f"DROP TABLE IF EXISTS {br_idx}")
        spark.sql(f"DROP TABLE IF EXISTS {br_idx}__relabel")
        # seed: two far-apart variants per customer that do NOT match each
        # other (threshold 0.95) -> 2 entities per customer
        seed = cust.select(
            F.col("c_custkey").cast("bigint").alias("id"),
            F.concat(F.col("c_name"), F.lit("-aaaaaa")).alias("name"),
        ).unionByName(
            cust.select(
                (F.col("c_custkey") + F.lit(50_000_000)).cast("bigint").alias("id"),
                F.concat(F.col("c_name"), F.lit("-zzzzzz")).alias("name"),
            )
        )
        seed_resolved = resolve_entities(seed, "id", "name", er_key, threshold=0.95)
        er_build_index(seed_resolved, br_idx, "id", "name", er_key)
        bridge_times, closure_sizes = [], []
        for i in range(3):
            # each batch bridges 1/3 of the customers: a mid-distance
            # variant similar to BOTH seed variants at a lower threshold
            bb = cust.filter(F.pmod(F.col("c_custkey"), 3) == i).select(
                (F.col("c_custkey") + F.lit((i + 2) * 100_000_000))
                .cast("bigint").alias("id"),
                F.concat(F.col("c_name"), F.lit("-aaazzz")).alias("name"),
            )
            t0 = time.time()
            er_incremental(
                spark, br_idx, bb, "id", "name", er_key, threshold=0.6,
                auto_compact_relabels=(10 ** 9 if i < 2 else 1),
            )
            bridge_times.append(round(time.time() - t0, 2))
            closure_sizes.append(er_index_health(spark, br_idx)["n_relabel_entries"])
        timings["er_bridge_batch_each"] = bridge_times
        stats["er_bridge_closure_sizes"] = closure_sizes  # last = 0 (auto-compacted)

    # span-level exact substring dedup: the replicated corpus shares
    # every 8-token span across copies, so the duplicated-span set is
    # dense — worst-case-ish load for the fingerprint agg + join-back
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_dedup,
    )

    stats["span_tokens_removed"] = stage(
        "span_dedup",
        lambda: span_dedup(docs, "doc_id", "text", k=8)
        .agg(F.sum("n_tokens_removed"))
        .first()[0],
    )

    # pathological cluster_split: ONE giant near-dup component (every
    # doc chained to the next) vs a many-tiny-clusters control of the
    # same size — the giant component concentrates one label's
    # join-back, the documented worst case for the md5 cluster split
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        cluster_split,
    )

    n_chain = mult * 20_000
    ids = spark.range(n_chain).select(F.col("id").alias("doc_id"))
    chain_pairs = spark.range(n_chain - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    tiny_pairs = spark.range(n_chain // 2).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
    )

    def _giant():
        out = cluster_split(ids, "doc_id", chain_pairs)
        return out.groupBy("cluster_id", "split").count().collect()

    def _tiny():
        out = cluster_split(ids, "doc_id", tiny_pairs)
        return out.groupBy("split").count().collect()

    if enabled("cluster_split"):
        giant = stage("cluster_split_giant_component", _giant)
        # correctness of the worst case: one cluster, one split, no leakage
        assert len(giant) == 1 and giant[0]["count"] == n_chain, giant
        stats["cluster_split_giant_rows"] = n_chain
        stats["cluster_split_tiny_splits"] = {
            r["split"]: r["count"] for r in stage("cluster_split_tiny_control", _tiny)
        }

    # standing Hamming fingerprint index: per-batch probe cost must be
    # FLAT in the index size (the batch is fixed; the corpus side is
    # pre-bucketed). Scaling shape: timings here should NOT track mult.
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_incremental_dedup,
        hamming_index_build,
    )

    fp_n = mult * 10_000
    fp_table = f"scale_fp_idx_{mult}x"
    spark.sql(f"DROP TABLE IF EXISTS {fp_table}")
    corpus_fp = spark.range(fp_n).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("phash")
    )
    batch_fp = spark.range(10_000_000, 10_005_000).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("phash")
    )
    stage("hamming_index_build", lambda: hamming_index_build(corpus_fp, fp_table))
    stats["hamming_probe_survivors"] = stage(
        "hamming_probe_5k_batch",
        lambda: hamming_incremental_dedup(
            spark, fp_table, batch_fp, max_hamming=3, append=False
        ).count(),
    )
    spark.sql(f"DROP TABLE IF EXISTS {fp_table}")

    # PageRank: per-hop cost is edge-sized — timings here SHOULD track
    # mult (linear), never faster (n² would be a join defect)
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.graph import (
        pagerank_integer,
    )

    pr_n = mult * 100_000
    r = spark.range(pr_n)
    pr_edges = r.select(
        F.col("id").alias("src"), (F.abs(F.xxhash64("id")) % pr_n).alias("dst")
    ).unionByName(
        r.select(
            F.col("id").alias("src"),
            (F.abs(F.xxhash64("id", F.lit(7))) % pr_n).alias("dst"),
        )
    )
    stats["pagerank_nodes"] = stage(
        "pagerank_3_iters", lambda: pagerank_integer(pr_edges, n_iter=3).count()
    )

    # crawl chain (round 12): gzip WARC walk -> HTTP strip -> HTML
    # extract -> URL canonicalization -> RFC 9309 robots filter ->
    # URL-grain exact dedup, at mult x documents. Cost model: the
    # decode/extract stages are Arrow-batch bound (linear, no
    # shuffle); robots is one domain-keyed broadcast join whose
    # wildcard candidates evaluate regexp_like with a PER-ROW pattern
    # column (no cross-row regex cache) — the stage to watch if the
    # rule table grows; the dedup is one fingerprint shuffle. Timings
    # here SHOULD track mult (linear).
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        canonicalize_url,
        html_to_text,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        robots_allowed,
        robots_rules,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_warc,
        explode_warc,
    )

    def _make_warc(it):
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                url = (
                    f"http://s{did % 500}.example.com/p{did % 7}"
                    f"/a?x={did % 11}&sessionid={did}"
                )
                html = (
                    f"<html><head><script>x={did}</script></head>"
                    f"<body><h1>D{did}</h1><p>body {did}</p></body></html>"
                )
                http = b"HTTP/1.1 200 OK\r\n\r\n" + html.encode()
                blobs.append(
                    build_warc(
                        [("response", url, http)],
                        gzip_records=(did % 2 == 1),
                    )
                )
            pdf = pdf[["doc_id"]].copy()
            pdf["content"] = blobs
            yield pdf

    def _crawl():
        blobs = docs.select("doc_id").mapInPandas(
            _make_warc, "doc_id long, content binary"
        )
        recs = explode_warc(blobs).select(
            "doc_id",
            canonicalize_url("target_uri").alias("url"),
            html_to_text("body_text").alias("text"),
        )
        sites = spark.range(500).select(
            F.concat(
                F.lit("s"), F.col("id").cast("string"),
                F.lit(".example.com"),
            ).alias("domain"),
            F.lit(
                "User-agent: *\nDisallow: /p1\n"
                "Disallow: /*?*sessionid=*7\nAllow: /p3\n"
            ).alias("robots_txt"),
        )
        kept = robots_allowed(recs, robots_rules(sites), url_col="url").filter(
            F.col("crawl_allowed")
        )
        return exact_dedup(kept, ["url"], order_col="doc_id").count()

    stats["crawl_chain_survivors"] = stage("crawl_chain", _crawl)

    # standing exact seen-set (round 12): per-batch probe cost must be
    # FLAT in the index size — the index side streams out of its
    # fp-bucketed layout, the batch pays one md5 + one window + one
    # anti-join. Scaling shape: this timing should NOT track mult.
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        exact_build_index,
        exact_incremental_dedup,
    )

    seen_n = mult * 20_000
    seen_table = f"scale_exact_seen_{mult}x"
    spark.sql(f"DROP TABLE IF EXISTS {seen_table}")
    corpus_urls = spark.range(seen_n).select(
        F.concat(F.lit("http://u/"), F.col("id").cast("string")).alias("url")
    )
    stage(
        "exact_seen_build",
        lambda: exact_build_index(corpus_urls, seen_table, ["url"]),
    )
    # fixed 5k batch: half already seen, half new
    batch_urls = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("http://u/"),
            F.when(F.col("id") % 2 == 0, F.col("id"))
            .otherwise(F.col("id") + 100_000_000)
            .cast("string"),
        ).alias("url"),
    )
    stats["exact_seen_survivors"] = stage(
        "exact_seen_probe_5k_batch",
        lambda: exact_incremental_dedup(
            spark, seen_table, batch_urls, ["url"],
            order_col="doc_id", append=False,
        ).count(),
    )
    spark.sql(f"DROP TABLE IF EXISTS {seen_table}")

    # politeness skew (round 14): one mega-domain holds 50% of the
    # frontier (mult*20k URLs total), the rest spread over 10k domains.
    # The per-domain rank window puts the mega-domain in ONE task —
    # politeness is per-domain serialization BY DESIGN (see
    # frontier_schedule's docstring) — so the scaling shape to watch
    # is: does the hot task stay LINEAR in its row count (a sort +
    # running count), or does something quadratic/spilly hide in it?
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        frontier_schedule,
    )

    frontier_n = mult * 20_000
    mega = F.col("id") % 2 == 0
    frontier = spark.range(frontier_n).select(
        F.concat(
            F.lit("http://"),
            F.when(mega, F.lit("mega.example.com")).otherwise(
                F.concat(
                    F.lit("d"), (F.col("id") % 10_000).cast("string"),
                    F.lit(".example.com"),
                )
            ),
            F.lit("/p"), F.col("id").cast("string"),
        ).alias("url")
    )
    stats["frontier_skew_rows"] = stage(
        "frontier_skew_mega_domain",
        lambda: frontier_schedule(frontier).count(),
    )

    # robots wildcard pre-dedup A/B (round 14): an externally-built
    # rule table carrying each domain's 4 wildcard rules 8x over —
    # robots_rules itself already dedupes repeated LINES, so the
    # duplication that reaches robots_allowed in practice comes from
    # unioned multi-snapshot/multi-crawl rule tables (simulated here
    # by an 8x self-union). Without the dedup every duplicate re-runs
    # its regexp against EVERY frontier row of the domain; with it the
    # candidate join shrinks by the duplication factor. Semantics
    # identical (max_by winner is duplicate-invariant) — A/B'd via the
    # _dedup_rules knob.
    import functools

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        robots_allowed,
        robots_rules,
    )

    wild_base = robots_rules(
        spark.range(500).select(
            F.concat(
                F.lit("w"), F.col("id").cast("string"), F.lit(".example.com")
            ).alias("domain"),
            F.lit(
                "User-agent: *\n"
                "Disallow: /*?a=3\nDisallow: /p6/*.zip$\n"
                "Disallow: /*?*session=*9\nAllow: /p3/*.html$\n"
            ).alias("robots_txt"),
        )
    )
    wild_rules = functools.reduce(
        lambda a, b: a.unionByName(b), [wild_base] * 8
    ).localCheckpoint(eager=True)
    wild_urls = spark.range(frontier_n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("http://w"), (F.col("id") % 500).cast("string"),
            F.lit(".example.com/p"), (F.col("id") % 9).cast("string"),
            F.lit("/x.zip?a="), (F.col("id") % 5).cast("string"),
            F.lit("&session="), F.col("id").cast("string"),
        ).alias("url"),
    ).localCheckpoint(eager=True)
    for label, dedup in (("dup8_raw", False), ("dup8_dedup", True)):
        stats[f"robots_wild_{label}_allowed"] = stage(
            f"robots_wildcard_{label}",
            lambda d=dedup: robots_allowed(
                wild_urls, wild_rules, _dedup_rules=d
            ).filter(F.col("crawl_allowed")).count(),
        )

    # streaming-ANN replay probe (round 15): stream_ivf_append's id
    # anti-join against the standing IVF index. The index is id-bucketed
    # as well as cell-partitioned, so the index side streams out of its
    # bucketed layout pre-shuffled — this timing should NOT track mult
    # (the same flat-probe contract the exact seen-set stage measures).
    # The append stage is the rest of the per-batch work (nearest-cell
    # assignment + partitioned bucketed write) — batch-sized too.
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
    )

    ivf_n = mult * 20_000
    ivf_table = f"scale_ivf_idx_{mult}x"
    for suffix in ("", "_drift_log", "_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {ivf_table}{suffix}")
    dim8 = [
        (
            F.pmod(F.xxhash64(F.col("id") + F.lit(j)), F.lit(1000)) / 500.0
            - 1.0
        ).cast("double")
        for j in range(8)
    ]
    ivf_corpus = spark.range(ivf_n).select(
        F.col("id").alias("vec_id"), F.array(*dim8).alias("embedding")
    )
    ivf_cents = stage(
        "ivf_seen_build",
        lambda: ivf_build_index(ivf_corpus, ivf_table, n_clusters=16),
    )
    # fixed 5k batch: half already indexed, half new
    ivf_batch = (
        spark.range(5_000)
        .select(
            F.when(F.col("id") % 2 == 0, F.col("id"))
            .otherwise(F.col("id") + 900_000_000)
            .alias("vec_id"),
            F.col("id"),
        )
        .select("vec_id", F.array(*dim8).alias("embedding"))
        .localCheckpoint(eager=True)
    )
    fresh = stage(
        "ivf_seen_probe_5k_batch",
        lambda: ivf_batch.join(
            spark.table(ivf_table).select("vec_id"),
            on="vec_id",
            how="left_anti",
        ).localCheckpoint(eager=True),
    )
    if fresh is not None:
        stats["ivf_seen_fresh"] = fresh.count()
        stats["ivf_seen_appended"] = stage(
            "ivf_seen_append_5k_batch",
            lambda: ivf_append_index(fresh, ivf_table, ivf_cents)["n_appended"],
        )
    for suffix in ("", "_drift_log", "_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {ivf_table}{suffix}")

    # streaming-ANN steady-state per-batch overhead A/B (round 16):
    # the SAME 3-micro-batch ingest run twice — once with the r15
    # foreachBatch BODY (anti-join not checkpointed, so
    # ivf_append_index's drop-count + assignment passes execute the
    # index-side scan TWICE per batch; one 1-row drift-log write job
    # per batch) and once through the current stream_ivf_append
    # (anti-join checkpointed once, log rows buffered and flushed in
    # one post-drain write). Both legs call the CURRENT append kernel,
    # so the A/B isolates exactly those two per-batch costs; the
    # rollup fusion inside the kernel (drift stats + cell skew in one
    # agg) is present in both legs and is roughly cost-neutral vs
    # r15's kernel (one drift-agg job then, one rollup job now — the
    # skew columns came free). Wall-clock and DAGScheduler job counts
    # both recorded: the steady state is dominated by fixed per-batch
    # job overhead, so jobs-per-batch IS the cost model at sf0.1.
    if enabled("ann_steady"):
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
            stream_ivf_append,
        )

        def _total_jobs():
            # DAGScheduler.nextJobId is an AtomicInteger; py4j returns
            # its primitive int value directly
            return spark._jsc.sc().dagScheduler().nextJobId()

        for variant in ("before", "after"):
            st = f"scale_ann_steady_{variant}_{mult}x"
            for suffix in ("", "_drift_log", "_centroids"):
                spark.sql(f"DROP TABLE IF EXISTS {st}{suffix}")
            st_cents = ivf_build_index(ivf_corpus, st, n_clusters=16)
            feed = tempfile.mkdtemp(prefix=f"ann_steady_{variant}_")
            for b in range(3):
                spark.range(5_000).select(
                    (F.col("id") + F.lit(800_000_000 + b * 1_000_000)).alias(
                        "vec_id"
                    ),
                    F.array(*dim8).alias("embedding"),
                ).coalesce(1).write.mode("append").parquet(feed)
            ck = tempfile.mkdtemp(prefix=f"ann_steady_ck_{variant}_")
            # q34's exact shape: ONE availableNow drain, 3 micro-batches
            schema = "vec_id bigint, embedding array<double>"
            sdf = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(feed)
            )

            def _run_before(sdf=sdf):
                def _legacy(b_df, b_id):  # the r15 foreachBatch body
                    if b_df.isEmpty():
                        return
                    sp = b_df.sparkSession
                    existing = sp.table(st).select(F.col("vec_id"))
                    fresh = b_df.join(existing, on="vec_id", how="left_anti")
                    ivf_append_index(fresh, st, st_cents)

                q = (
                    sdf.writeStream.foreachBatch(_legacy)
                    .outputMode("update")
                    .option("checkpointLocation", ck)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                spark.catalog.refreshTable(st)

            def _run_after(sdf=sdf):
                stream_ivf_append(
                    sdf, st, st_cents, checkpoint_dir=ck,
                    query_name=f"ann_steady_{variant}",
                )

            j0 = _total_jobs()
            stage(
                f"ann_steady_{variant}",
                _run_before if variant == "before" else _run_after,
            )
            stats[f"ann_steady_{variant}_jobs"] = _total_jobs() - j0
            stats[f"ann_steady_{variant}_rows"] = spark.table(st).count()
            for suffix in ("", "_drift_log", "_centroids"):
                spark.sql(f"DROP TABLE IF EXISTS {st}{suffix}")

    # drift remediation A/B (round 15): the SAME drifted index state
    # built twice — 20% of rows out-of-distribution, crammed into one
    # hot cell — remediated once by ivf_split_hot_cells (rewrites only
    # the hot + new cell directories) and once by ivf_retrain_index
    # (refit + full rewrite). The ratio is the rewrite-share argument:
    # split cost tracks the HOT CELL (drift share + one cell's corpus
    # share, here ~25% of rows at k=16), retrain tracks the corpus; at
    # production k (thousands of cells) the hot share — and the split
    # cost — shrinks toward the drift itself.
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_retrain_index,
        ivf_split_hot_cells,
    )

    drift_n = mult * 5_000
    driftvec = spark.range(10_000_000, 10_000_000 + drift_n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.lit(50.0) + (F.col("id") % 5 + j % 2).cast("double"))
                for j in range(8)
            ]
        ).alias("embedding"),
    )
    for variant, act in (
        ("split", lambda t: ivf_split_hot_cells(spark, t, max_cell_fraction=0.15)),
        ("retrain", lambda t: ivf_retrain_index(spark, t)),
    ):
        if not enabled("ivf_remed"):
            break
        rt = f"scale_ivf_remed_{variant}_{mult}x"
        for suffix in ("", "_drift_log", "_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {rt}{suffix}")
        cents = ivf_build_index(ivf_corpus, rt, n_clusters=16)
        ivf_append_index(driftvec, rt, cents)
        out = stage(f"ivf_remed_{variant}", lambda a=act, t=rt: a(t))
        stats[f"ivf_remed_{variant}_k"] = len(out) if out else None
        stats[f"ivf_remed_{variant}_rows"] = spark.table(rt).count()
        for suffix in ("", "_drift_log", "_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {rt}{suffix}")

    print(json.dumps({"multiplier": mult, "timings": timings, "stats": stats}))
    spark.stop()


if __name__ == "__main__":
    main()
