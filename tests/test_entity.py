"""Entity resolution: blocking, pairwise scoring, transitive
clustering, golden-record survivorship (operators/entity.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
    er_candidate_pairs,
    golden_records,
    levenshtein_similarity,
    resolve_entities,
)


@pytest.fixture(scope="module")
def people(spark):
    # three real entities, each with typo/formatting variants, plus a
    # singleton; block on the last 4 chars (stable under the typos used)
    rows = [
        (1, "Acme Corporation", "NY", 100.0),
        (2, "Acme Corporatio",  "NY", 250.0),   # deletion typo of 1
        (3, "Acme Korporation", "CA", 50.0),    # substitution typo of 1
        (10, "Globex Ltd 0042", "TX", 10.0),
        (11, "Globex Ltd.0042", "TX", 20.0),    # punctuation variant of 10
        (20, "Initech", "WA", 5.0),             # singleton
    ]
    return spark.createDataFrame(rows, "id long, name string, state string, bal double")


def test_candidate_pairs_block_and_threshold(people):
    pairs = er_candidate_pairs(
        people, "id", "name", F.expr("right(name, 4)"), threshold=0.85
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # 1-2 ("tion"/"atio" differ in block) — blocked apart: NOT a pair
    # 1-3 share block "tion", lev 1/16 → 0.9375 ≥ 0.85
    # 10-11 share block "0042", lev 1/15 → 0.933…
    assert got == {(1, 3), (10, 11)}
    sims = {(r.id_a, r.id_b): r.similarity for r in pairs}
    assert sims[(1, 3)] == pytest.approx(1 - 1 / 16, abs=1e-6)


def test_multi_blocking_array_key_restores_recall(people):
    # multi-block on [right4, first 6 chars]: 1-2 now co-occur via prefix
    key = F.array(F.expr("right(name, 4)"), F.substring("name", 1, 6))
    got = {
        (r.id_a, r.id_b)
        for r in er_candidate_pairs(people, "id", "name", key, 0.85).collect()
    }
    assert (1, 2) in got and (1, 3) in got and (10, 11) in got
    # one row per pair even when records share several blocks
    pairs = er_candidate_pairs(people, "id", "name", key, 0.85)
    assert pairs.count() == pairs.select("id_a", "id_b").distinct().count()


def test_resolve_entities_transitive(people):
    # with multi-blocking, 2~1 and 1~3 ⇒ {1,2,3} one entity even though
    # 2 and 3 never share a block pair above threshold
    key = F.array(F.expr("right(name, 4)"), F.substring("name", 1, 6))
    resolved = resolve_entities(people, "id", "name", key, threshold=0.85)
    ents = {r.id: r.entity_id for r in resolved.collect()}
    assert ents[1] == ents[2] == ents[3] == 1
    assert ents[10] == ents[11] == 10
    assert ents[20] == 20  # singleton resolves to itself


def test_oversized_blocks_are_skipped_not_merged(spark):
    # constant block key = non-discriminative; the cap must SKIP the
    # block (no pairs at all), never collapse distinct entities
    df = spark.createDataFrame(
        [(i, f"Entity {i:03d}") for i in range(50)], "id long, name string"
    )
    capped = er_candidate_pairs(
        df, "id", "name", F.lit("all"), threshold=0.0, max_block_size=10
    )
    assert capped.count() == 0
    uncapped = er_candidate_pairs(df, "id", "name", F.lit("all"), threshold=0.0)
    assert uncapped.count() == 50 * 49 // 2


def test_custom_similarity_override(people):
    exact = lambda a, b: (a == b).cast("double")  # noqa: E731
    pairs = er_candidate_pairs(
        people, "id", "name", F.expr("right(name, 4)"), 0.5, similarity=exact
    )
    assert pairs.count() == 0  # no two names are byte-identical


def test_golden_records_rules(people):
    key = F.array(F.expr("right(name, 4)"), F.substring("name", 1, 6))
    resolved = resolve_entities(people, "id", "name", key, threshold=0.85)
    gold = golden_records(
        resolved,
        "entity_id",
        "id",
        {
            "name": ("name", "earliest"),
            "max_bal": ("bal", "max"),
            "state": ("state", "mode"),
        },
    )
    rows = {r.entity_id: r for r in gold.collect()}
    assert set(rows) == {1, 10, 20}
    g1 = rows[1]
    assert g1.n_members == 3
    assert g1.name == "Acme Corporation"  # min-id row's value
    assert g1.max_bal == 250.0
    assert g1.state == "NY"  # 2×NY vs 1×CA
    assert rows[20].n_members == 1 and rows[20].name == "Initech"


def test_golden_mode_tiebreak_is_min_value(spark):
    df = spark.createDataFrame(
        [(1, 1, "B"), (1, 2, "A"), (1, 3, None)], "e long, id long, s string"
    )
    gold = golden_records(df, "e", "id", {"s": ("s", "mode")})
    # A and B tie at one occurrence each; NULL never wins; min value wins
    assert gold.collect()[0].s == "A"


def test_similarity_matches_sql_levenshtein(spark):
    df = spark.createDataFrame([("kitten", "sitting")], "a string, b string")
    got = df.select(
        F.round(levenshtein_similarity(F.col("a"), F.col("b")), 6).alias("s")
    ).collect()[0].s
    assert got == pytest.approx(1 - 3 / 7, abs=1e-6)


def test_unknown_rule_raises(people):
    with pytest.raises(ValueError, match="survivorship"):
        golden_records(people, "state", "id", {"x": ("bal", "median")})


# ---- incremental ER against a persisted index ----


def _resolve_and_index(spark, df, table, key):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_build_index,
        resolve_entities,
    )

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__relabel")
    resolved = resolve_entities(df, "id", "name", key, threshold=0.85)
    er_build_index(resolved, table, "id", "name", key)
    return resolved


def test_er_incremental_matches_existing_entity(spark, people):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_incremental,
    )

    key = F.expr("right(name, 4)")
    _resolve_and_index(spark, people, "er_idx_a", key)
    batch = spark.createDataFrame(
        [(100, "Acme Corporation", "TX", 1.0),   # matches entity 1 via "tion"
         (101, "Umbrella Co", "NV", 2.0)],       # brand new
        "id long, name string, state string, bal double",
    )
    got = {r.id: r.entity_id for r in er_incremental(
        spark, "er_idx_a", batch, "id", "name", key, threshold=0.85
    ).collect()}
    assert got[100] == 1
    assert got[101] == 101


def test_er_incremental_next_batch_sees_appended_rows(spark, people):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_entity_labels,
        er_incremental,
    )

    key = F.expr("right(name, 4)")
    _resolve_and_index(spark, people, "er_idx_b", key)
    b1 = spark.createDataFrame(
        [(100, "Umbrella Corp", "NV", 1.0)], "id long, name string, state string, bal double"
    )
    er_incremental(spark, "er_idx_b", b1, "id", "name", key, threshold=0.85)
    b2 = spark.createDataFrame(
        [(200, "Umbrela Corp", "NV", 2.0)],  # near-dup of the batch-1
        # row; typo keeps the right-4 block "Corp" (lev 1 -> sim 0.923)
        "id long, name string, state string, bal double",
    )
    got = {r.id: r.entity_id for r in er_incremental(
        spark, "er_idx_b", b2, "id", "name", key, threshold=0.85
    ).collect()}
    assert got[200] == 100
    labels = {r.id: r.entity_id for r in er_entity_labels(spark, "er_idx_b").collect()}
    assert labels[100] == 100 and labels[200] == 100


def test_er_incremental_bridge_merges_entities_and_compact(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_compact_index,
        er_entity_labels,
        er_incremental,
    )

    key = F.substring("name", 1, 2)
    base = spark.createDataFrame(
        [(1, "abcdefgh"), (5, "abcdxxgh")],  # sim 0.75 < 0.9: two entities
        "id long, name string",
    )
    _resolve_and_index(spark, base, "er_idx_c", key)
    pre = {r.id: r.entity_id for r in er_entity_labels(spark, "er_idx_c").collect()}
    assert pre == {1: 1, 5: 5}
    # bridge: within 1 edit of BOTH -> merges entities 1 and 5 into 1
    bridge = spark.createDataFrame([(9, "abcdefghx")], "id long, name string")
    # lev(bridge, abcdefgh)=1 -> sim 1-1/9=0.888…; use threshold 0.85
    # lev(bridge, abcdxxgh)=3 -> too far; make a closer bridge instead
    bridge = spark.createDataFrame([(9, "abcdexgh")], "id long, name string")
    # lev vs abcdefgh = 1 (f->x ... actually abcdefgh vs abcdexgh: pos6 f/x) = 1 -> 0.875
    # lev vs abcdxxgh = 1 (pos5 e/x? abcdxxgh vs abcdexgh: pos5 x/e) ... = 1 -> 0.875
    got = {r.id: r.entity_id for r in er_incremental(
        spark, "er_idx_c", bridge, "id", "name", key, threshold=0.85
    ).collect()}
    assert got[9] == 1
    labels = {r.id: r.entity_id for r in er_entity_labels(spark, "er_idx_c").collect()}
    assert labels == {1: 1, 5: 1, 9: 1}
    # relabel side table recorded the merge; compaction folds + drops it
    assert spark.catalog.tableExists("er_idx_c__relabel")
    er_compact_index(spark, "er_idx_c")
    assert not spark.catalog.tableExists("er_idx_c__relabel")
    labels2 = {r.id: r.entity_id for r in er_entity_labels(spark, "er_idx_c").collect()}
    assert labels2 == labels


@pytest.mark.slow
def test_er_relabel_health_warns_and_auto_compacts(spark):
    """The relabel-log guard: health() reports the log size, a merge
    batch past the threshold WARNS recommending compaction, and
    auto_compact_relabels runs it automatically; the refuse-to-collect
    hard cap raises with the compaction instruction (compaction itself
    bypasses the cap)."""
    import warnings as _w

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import entity as E

    key = F.substring("name", 1, 2)
    base = spark.createDataFrame(
        [(1, "abcdefgh"), (5, "abcdxxgh")], "id long, name string"
    )
    _resolve_and_index(spark, base, "er_idx_h", key)
    assert E.er_index_health(spark, "er_idx_h") == {
        "n_relabel_entries": 0,
        "hard_cap": E._RELABEL_HARD_CAP,
        "compact_recommended": False,
    }
    bridge = spark.createDataFrame([(9, "abcdexgh")], "id long, name string")
    # threshold low enough that the bridge merges entity 5 into 1
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        E.er_incremental(spark, "er_idx_h", bridge, "id", "name", key,
                         threshold=0.85)
    # 1 relabel entry, under the default 10k threshold: no warning
    assert not [w for w in caught if "relabel log" in str(w.message)]
    assert E.er_index_health(spark, "er_idx_h")["n_relabel_entries"] == 1
    # force the threshold down: next merging batch warns
    b2 = spark.createDataFrame([(12, "qrstuvwx"), (13, "qrstuvwq")],
                               "id long, name string")
    E.er_incremental(spark, "er_idx_h", b2, "id", "name", key, threshold=0.99)
    bridge2 = spark.createDataFrame([(14, "qrstuvwy")], "id long, name string")
    orig = E.er_index_health
    try:
        E.er_index_health = lambda s, t, max_relabels=1: orig(s, t, 1)
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            E.er_incremental(spark, "er_idx_h", bridge2, "id", "name", key,
                             threshold=0.85)
        assert [w for w in caught if "relabel log" in str(w.message)]
    finally:
        E.er_index_health = orig
    # auto mode: a batch that CAUSES a merge (new relabel entries bring
    # the log to the threshold) compacts — relabel table folded+dropped
    b3 = spark.createDataFrame([(20, "ghijklmn"), (21, "ghijklmo")],
                               "id long, name string")
    E.er_incremental(spark, "er_idx_h", b3, "id", "name", key, threshold=0.99)
    labels_before = {r.id: r.entity_id
                     for r in E.er_entity_labels(spark, "er_idx_h").collect()}
    bridge3 = spark.createDataFrame([(22, "ghijklmp")], "id long, name string")
    E.er_incremental(spark, "er_idx_h", bridge3, "id", "name", key,
                     threshold=0.85, auto_compact_relabels=1)
    assert not spark.catalog.tableExists("er_idx_h__relabel")
    labels = {r.id: r.entity_id
              for r in E.er_entity_labels(spark, "er_idx_h").collect()}
    assert labels[22] == labels[20] == labels[21] == 20
    assert labels[9] == labels[1] == 1
    # pre-existing assignments survive compaction except the merged one
    assert all(labels[k] == v for k, v in labels_before.items()
               if k not in (21,))
    # hard cap: an oversized log refuses the closure collect
    try:
        E._RELABEL_HARD_CAP = 0
        b4 = spark.createDataFrame([(16, "qrstuvwa")], "id long, name string")
        E.er_incremental(spark, "er_idx_h", b4, "id", "name", key,
                         threshold=0.85)  # creates a relabel entry? no merge
        # force one relabel entry then probe again
        b5 = spark.createDataFrame([(17, "lmnopqrs"), (18, "lmnopqrt")],
                                   "id long, name string")
        E.er_incremental(spark, "er_idx_h", b5, "id", "name", key,
                         threshold=0.99)
        b6 = spark.createDataFrame([(19, "lmnopqru")], "id long, name string")
        E.er_incremental(spark, "er_idx_h", b6, "id", "name", key,
                         threshold=0.85)
        with pytest.raises(RuntimeError, match="er_compact_index"):
            E.er_incremental(spark, "er_idx_h", b6.withColumn(
                "id", F.col("id") + 100), "id", "name", key, threshold=0.85)
        # compaction remains runnable past the cap (escape hatch)
        E.er_compact_index(spark, "er_idx_h")
        assert not spark.catalog.tableExists("er_idx_h__relabel")
    finally:
        E._RELABEL_HARD_CAP = 200_000


def test_er_incremental_oversized_index_block_skipped(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_incremental,
    )

    key = F.lit("all")
    base = spark.createDataFrame(
        [(i, f"Entity nr {i:03d}") for i in range(30)], "id long, name string"
    )
    _resolve_and_index(spark, base, "er_idx_d", key)
    batch = spark.createDataFrame([(100, "Entity nr 001")], "id long, name string")
    got = er_incremental(
        spark, "er_idx_d", batch, "id", "name", key,
        threshold=0.9, max_block_size=10, append=False,
    ).collect()
    # the only block is oversized on the index side -> no match possible
    assert got[0].entity_id == 100


def test_stream_entity_resolution_bridge_across_microbatches(spark, tmp_path):
    """A bridging record in a LATER micro-batch must still merge the
    two entities (micro-batching invariance of the er_incremental
    contract), exercised through the real foreachBatch stream."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_entity_labels,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_entity_resolution,
    )

    key = F.substring("name", 1, 2)
    base = spark.createDataFrame(
        [(1, "abcdefgh"), (5, "abcdxxgh")], "id long, name string"
    )
    _resolve_and_index(spark, base, "er_idx_stream", key)

    feed = str(tmp_path / "feed")
    schema = "id long, name string"
    # file 0: unrelated new entity; file 1: the bridge (1 edit from both)
    spark.createDataFrame([(7, "zzzzzz")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    spark.createDataFrame([(9, "abcdexgh")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_entity_resolution(
        sdf, "er_idx_stream", "id", "name", key,
        checkpoint_dir=str(tmp_path / "ck"), threshold=0.85,
    )
    labels = {
        r.id: r.entity_id
        for r in er_entity_labels(spark, "er_idx_stream").collect()
    }
    assert labels == {1: 1, 5: 1, 7: 7, 9: 1}


def test_er_index_probe_does_not_reshuffle_index_side(spark, people):
    """The bucketed ER index must enter the probe join WITHOUT an
    exchange on its side: only the (small) batch shuffles to the index's
    bucket layout — the claim SCALE.md's incremental-ER row makes."""
    key = F.expr("right(name, 4)")
    _resolve_and_index(spark, people, "er_idx_plan", key)
    batch = spark.createDataFrame(
        [(100, "Acme Corporation")], "id long, name string"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b = batch.select(
            F.col("id").alias("_id"), F.col("name").alias("_txt"), key.alias("_blk")
        )
        probe = spark.table("er_idx_plan").join(b, "_blk")
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # exactly one hash exchange: the batch side; the bucketed scan
        # of the index feeds the SMJ directly
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_normalize_name_canonicalizes_formatting_variants(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        normalize_name,
    )

    df = spark.createDataFrame(
        [("Acme, Inc.",), ("  acme   inc ",), ("ACME-INC",)], "name string"
    )
    got = {r.n for r in df.select(normalize_name("name").alias("n")).collect()}
    assert got == {"acme inc"}


def test_phonetic_key_blocks_spelling_variants(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        phonetic_key,
        resolve_entities,
    )

    df = spark.createDataFrame(
        [(1, "Smith & Co"), (2, "Smyth & Co"), (3, "Watson Ltd")],
        "id long, name string",
    )
    keys = {r.id: r.k for r in df.select("id", phonetic_key("name").alias("k")).collect()}
    assert keys[1] == keys[2] != keys[3]
    # end-to-end: soundex blocking recovers pairs a lastn-block misses
    resolved = resolve_entities(
        df, "id", "name", phonetic_key("name"), threshold=0.85
    )
    ents = {r.id: r.entity_id for r in resolved.collect()}
    assert ents[1] == ents[2] == 1 and ents[3] == 3


def test_token_jaccard_similarity_word_order_insensitive(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        resolve_entities,
        token_jaccard_similarity,
    )

    df = spark.createDataFrame(
        [("Corp Acme", "Acme Corp"), ("a b c", "a b d"), ("", "")],
        "a string, b string",
    )
    got = [
        r.s
        for r in df.select(
            F.round(token_jaccard_similarity(F.col("a"), F.col("b")), 6).alias("s")
        ).collect()
    ]
    assert got[0] == 1.0
    assert got[1] == pytest.approx(2 / 4, abs=1e-6)
    assert got[2] == 0.0
    # end-to-end: reordered names resolve as one entity under the token
    # scorer where levenshtein would keep them apart
    people = spark.createDataFrame(
        [(1, "Acme Corp"), (2, "Corp Acme"), (3, "Other Firm")],
        "id long, name string",
    )
    resolved = resolve_entities(
        people, "id", "name", F.lit("b"), threshold=0.99,
        similarity=token_jaccard_similarity,
    )
    ents = {r.id: r.entity_id for r in resolved.collect()}
    assert ents == {1: 1, 2: 1, 3: 3}


def test_er_multi_field_weighted_similarity_via_struct(spark):
    """Weighted multi-attribute ER needs no new operator: pack the
    fields in a STRUCT column and pass a similarity that weights
    per-field scores (0.7·name-lev + 0.3·city-token-jaccard here) —
    records matching on name but conflicting on city fall below the
    threshold, same-city typo variants clear it."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        levenshtein_similarity,
        resolve_entities,
        token_jaccard_similarity,
    )

    rows = [
        (1, "acme corporation", "new york"),
        (2, "acme corporatio", "new york"),     # typo, same city -> match
        (3, "acme corporation", "los angeles"), # same name, other city
        (4, "initech", "austin"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, city string").select(
        "id", F.struct("name", "city").alias("rec")
    )

    def sim(a, b):
        return (
            0.7 * levenshtein_similarity(a["name"], b["name"])
            + 0.3 * token_jaccard_similarity(a["city"], b["city"])
        )

    out = {
        r.id: r.entity_id
        for r in resolve_entities(
            df, "id", "rec",
            F.substring(F.col("rec")["name"], 1, 4),
            threshold=0.9, similarity=sim,
        ).collect()
    }
    assert out[1] == out[2] == 1      # typo variant merges
    assert out[3] == 3 and out[4] == 4  # city conflict keeps 3 separate


# ---- round 17: block-skew telemetry + reblock retune ----


@pytest.mark.slow
def test_er_skew_flag_and_reblock_recovers_match(spark):
    """Late r17: the ER index joins the skew-telemetry family. A
    non-discriminative block over the cap is SKIPPED outright
    (precision-first), silently losing the true match inside it — the
    probe log records it, health raises cap_truncating, the sweep
    surfaces the note naming er_reblock_index, and the reblock itself
    (a sharper key derived from the STORED text, no re-resolution)
    demonstrably recovers the lost match."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        health_sweep,
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_build_index,
        er_incremental,
        er_reblock_index,
        resolve_entities,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        get_table_meta,
    )

    t = "er_skew_idx"
    for s in (t, f"{t}__relabel", f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    # 20 corpus records all ending "0000": right-4 blocking floods one
    # block; right-8 tails are distinct per record (discriminative)
    rows = [(1, "Alpha Corporation 0000")] + [
        (i, f"Junk Record {i:02d}xx 0000") for i in range(2, 21)
    ]
    corpus = spark.createDataFrame(rows, "id long, name string")
    key4 = F.expr("right(name, 4)")
    resolved = resolve_entities(
        corpus, "id", "name", key4, threshold=0.9, max_block_size=8
    )
    er_build_index(resolved, t, "id", "name", key4)
    assert not spark.catalog.tableExists(f"{t}_skew_log")  # fresh build

    # batch: a front-typo variant of record 1 (tail untouched, so both
    # keys still co-block it with its true match)
    batch = spark.createDataFrame(
        [(100, "Alpa Corporation 0000")], "id long, name string"
    )
    # RECALL IMPACT: uncapped the match is found; capped, the flooded
    # "0000" block is skipped on both sides and the match is lost
    got_un = {
        r.id: r.entity_id
        for r in er_incremental(
            spark, t, batch, "id", "name", key4, threshold=0.9,
            append=False,
        ).collect()
    }
    assert got_un[100] == 1
    got_cap = {
        r.id: r.entity_id
        for r in er_incremental(
            spark, t, batch, "id", "name", key4, threshold=0.9,
            append=False, max_block_size=8,
        ).collect()
    }
    assert got_cap[100] == 100  # silently its own entity

    # the probe log recorded the skip...
    log = spark.table(f"{t}_skew_log").collect()
    assert len(log) == 1
    assert log[0]["n_capped_buckets"] == 1
    assert log[0]["max_bucket_rows"] == 20
    assert log[0]["cap"] == 8

    # ...health raises the flag, the sweep surfaces the er note
    sweep = health_sweep(spark, tables=(t,))
    rep = sweep["tables"][f"default.{t}"]
    assert rep["cap_truncating"] is True
    assert f"default.{t}" in sweep["attention"]
    out = run_maintenance(spark, apply=True, tables=(t,))
    applied = out["applied"].get(f"default.{t}", "")
    assert "block_skew_noted" in applied
    assert "er_reblock_index" in applied
    assert "er_compact_index" not in applied  # skew alone: note only

    # REMEDIATION: reblock to the sharper right-8 key from the stored
    # text; the same capped probe now finds the match
    epoch0 = int(get_table_meta(spark, t)["skew_epoch"])
    er_reblock_index(spark, t, F.expr("right(text, 8)"))
    meta = get_table_meta(spark, t)
    assert int(meta["skew_epoch"]) == epoch0 + 1
    assert not spark.catalog.tableExists(f"{t}_skew_log")  # cleared
    key8 = F.expr("right(name, 8)")
    got_fixed = {
        r.id: r.entity_id
        for r in er_incremental(
            spark, t, batch, "id", "name", key8, threshold=0.9,
            append=False, max_block_size=8,
        ).collect()
    }
    assert got_fixed[100] == 1  # the lost match is back, cap intact
    # the capped probe logged a CLEAN report against the new blocking
    # (nothing skipped), so the flag stays down on the retuned index
    log2 = spark.table(f"{t}_skew_log").collect()
    assert len(log2) == 1 and log2[0]["n_capped_buckets"] == 0
    rep2 = health_sweep(spark, tables=(t,))["tables"][f"default.{t}"]
    assert rep2["cap_truncating"] is False
    for s in (t, f"{t}__relabel", f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_er_compact_preserves_skew_epoch_and_flush_guard(spark, tmp_path):
    """Compaction folds relabels but does NOT re-derive block keys, so
    the skew history and its epoch must survive it; a rebuild DOES
    re-derive keys, so a stream flush holding a pre-rebuild epoch must
    drop its buffer (the minhash/hamming guard, mirrored)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_build_index,
        er_compact_index,
        resolve_entities,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        read_contract,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _flush_skew_reports as _flush_er_skew_reports,
    )

    t = "er_skew_epoch_idx"
    for s in (t, f"{t}__relabel", f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    corpus = spark.createDataFrame(
        [(1, "Acme Corporation"), (2, "Initech Ltd")], "id long, name string"
    )
    key = F.expr("right(name, 4)")
    er_build_index(
        resolve_entities(corpus, "id", "name", key, threshold=0.9),
        t, "id", "name", key,
    )
    held = read_contract(spark, t)["skew_epoch"]
    report = {
        "n_hit_buckets": 1, "max_bucket_rows": 30,
        "sum_sq_bucket_rows": 900, "n_capped_buckets": 1,
        "n_capped_batch_buckets": 0, "cap": 8,
    }
    _flush_er_skew_reports(spark, t, held, [report])
    assert spark.table(f"{t}_skew_log").count() == 1

    # compaction: epoch AND log survive (block keys unchanged)
    er_compact_index(spark, t)
    assert read_contract(spark, t)["skew_epoch"] == held
    assert spark.table(f"{t}_skew_log").count() == 1

    # rebuild: epoch rotates, log clears, stale-held flush drops
    er_build_index(
        resolve_entities(corpus, "id", "name", key, threshold=0.9),
        t, "id", "name", key,
    )
    assert not spark.catalog.tableExists(f"{t}_skew_log")
    _flush_er_skew_reports(spark, t, held, [report])
    assert not spark.catalog.tableExists(f"{t}_skew_log")
    for s in (t, f"{t}__relabel", f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_sweep_compacts_er_and_composes_with_skew_note(spark):
    """The sweep's er branch composes (late r17): a relabel log past
    the health bar triggers er_compact_index through run_maintenance,
    and when block skew is ALSO logged both the compaction and the
    note appear — the skew flag alone must never imply a rewrite
    (pinned separately in test_er_skew_flag_and_reblock_recovers_match)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        append_skew_reports as er_append_skew_reports,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_build_index,
        resolve_entities,
    )

    t = "er_sweep_compact"
    for s in (t, f"{t}__relabel", f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    corpus = spark.createDataFrame(
        [(1, "Acme Corporation"), (2, "Initech Ltd")], "id long, name string"
    )
    key = F.expr("right(name, 4)")
    er_build_index(
        resolve_entities(corpus, "id", "name", key, threshold=0.9),
        t, "id", "name", key,
    )
    # a relabel log past the 10k health bar (identity mappings are
    # harmless to fold) + one capped skew report
    spark.range(10_001).select(
        (F.col("id") + 1_000_000).alias("old_id"),
        (F.col("id") + 1_000_000).alias("new_id"),
    ).write.saveAsTable(f"{t}__relabel")
    er_append_skew_reports(spark, t, [{
        "n_hit_buckets": 1, "max_bucket_rows": 30,
        "sum_sq_bucket_rows": 900, "n_capped_buckets": 1,
        "n_capped_batch_buckets": 0, "cap": 8,
    }])

    out = run_maintenance(spark, apply=True, tables=(t,))
    applied = out["applied"].get(f"default.{t}", "")
    assert "er_compact_index" in applied
    assert "block_skew_noted" in applied
    assert not spark.catalog.tableExists(f"{t}__relabel")  # folded
    assert spark.table(t).count() == 2  # rows intact
    for s in (t, f"{t}__relabel", f"{t}_skew_log"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
