"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship medallion-style query at sf0.001.
``queries()`` maps every implemented operator from SURVEY.md §2 to a
``(spark, sf_dir) -> DataFrame`` callable; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL. Aliases are kept identical on both sides
(the driver sorts columns by name before value-hashing).

Determinism rules used throughout:
- every window/top-k has a total tie-break order;
- per-row float arithmetic (repairs, ratios) is bit-identical across
  engines, so it is left exact; cross-row float AGGREGATES are rounded
  on both sides to absorb summation-order differences;
- computed dates/timestamps are cast to strings on both sides so
  date-vs-timestamp representation differences can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark import functions as lf
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import LANG_MARKERS
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import (
    dedupe_latest,
    scd2_close,
    star_join,
    surrogate_key,
    surrogate_key_two_phase,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
    attach_fake_blobs,
    decode_images,
    sample_frames,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
    lsh_topk,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import load

SF0001 = "/root/testdata/sf0.001"


def _fixture_key(sf_dir: str) -> str:
    """Deterministic /tmp fixture key (process-salted hash() would remap
    paths every run and could collide across scale factors)."""
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:12]


# ---------------------------------------------------------------- flagship
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dedup-latest + two broadcast left joins + surrogate key +
    CASE normalization over customer/orders/nation (SURVEY.md §7 step 1 —
    the dim_customers-gold shape on the driver star schema).
    """
    orders = load(spark, SF0001, "orders")
    customer = load(spark, SF0001, "customer")
    nation = load(spark, SF0001, "nation")

    latest = dedupe_latest(orders, ["o_custkey"], "o_orderdate", ["o_orderkey"])
    enriched = star_join(
        latest.alias("o"),
        [
            (customer.alias("c"), F.col("o.o_custkey") == F.col("c.c_custkey"), "left"),
            (nation.alias("n"), F.col("c.c_nationkey") == F.col("n.n_nationkey"), "left"),
        ],
    )
    keyed = surrogate_key_two_phase(enriched, ["o_custkey"], "customer_key")
    return keyed.select(
        "customer_key",
        F.col("o_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("n_name").alias("nation_name"),
        lf.map_codes("o_orderstatus", {"O": "Open", "F": "Fulfilled", "P": "Pending"}).alias(
            "last_order_status"
        ),
        F.col("o_totalprice").alias("last_order_total"),
    )


# ---------------------------------------------------------------- helpers
def _sql_lang_score(lang: str) -> str:
    terms = [
        f"(CASE WHEN ' ' || lower(text) || ' ' LIKE '% {w} %' THEN 1 ELSE 0 END)"
        for w in LANG_MARKERS[lang]
    ]
    return "(" + " + ".join(terms) + ")"


def _sql_language_id() -> str:
    scores = {lang: _sql_lang_score(lang) for lang in LANG_MARKERS}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "".join(
        f" WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"CASE WHEN {best} = 0 THEN 'und'{whens} ELSE 'und' END"


# ---------------------------------------------------------------- queries
# Scans / projections / filters ------------------------------------------


def _q_s5_parquet_scan(spark, sf_dir):
    return load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


def _q_p1_projection(spark, sf_dir):
    return load(spark, sf_dir, "customer").select("c_custkey", "c_name")


def _q_p2_projection_rename(spark, sf_dir):
    return load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
    )


def _q_p6_filter_eq(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def _q_p8_compound_filter(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    cond = ((F.col("l_discount") >= 0.05) & (F.col("l_quantity") < 10)) | (
        F.col("l_returnflag") == "R"
    )
    return li.filter(cond).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


def _q_f8_isin(spark, sf_dir):
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_mktsegment")
    )


# Scalar / cleansing rules ------------------------------------------------


def _q_f_trim_upper(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.trim(F.col("c_name")).alias("name_trim"),
        F.upper(F.col("c_mktsegment")).alias("seg_upper"),
    )


def _q_r3_map_codes(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        lf.map_codes("o_orderstatus", {"O": "Open", "F": "Fulfilled", "P": "Pending"}).alias(
            "status_label"
        ),
    )


def _q_r4_key_surgery(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        lf.strip_prefix("c_name", "Customer#").alias("cust_number"),
        lf.strip_chars(F.col("c_name"), "#").alias("name_nohash"),
        F.substring(F.col("c_name"), 1, 8).alias("name_head"),
        F.length(F.col("c_name")).cast("bigint").alias("name_len"),
        F.col("c_name").startswith("Customer#").cast("boolean").alias("is_prefixed"),
    )


def _q_r4_product_key_split(spark, sf_dir):
    # prd_key surgery analog: build a CC-CC-style composite key, then split
    # it into category id (first 5, - -> _) and product number (char 7+).
    p = load(spark, sf_dir, "part")
    composite = F.concat_ws(
        "-", F.substring("p_type", 1, 2), F.substring("p_brand", 1, 2), F.col("p_name")
    )
    return p.select(
        "p_partkey",
        composite.alias("composite_key"),
        lf.category_id_from_key(composite).alias("cat_id"),
        lf.product_number_from_key(composite).alias("product_number"),
    )


def _q_r5_coalesce_zero(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    nullable = F.when(F.col("l_orderkey") % 7 != 0, F.col("l_linenumber"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        lf.coalesce_zero(nullable).alias("linenumber_filled"),
    )


def _q_r7_int_date(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    as_int = F.date_format("o_orderdate", "yyyyMMdd").cast("int")
    dirty = (
        F.when(F.col("o_orderkey") % 100 == 0, F.lit(0))
        .when(F.col("o_orderkey") % 101 == 0, F.lit(20231301))
        .otherwise(as_int)
    )
    return o.select(
        "o_orderkey",
        dirty.alias("order_dt_int"),
        lf.int_yyyymmdd_to_date(dirty).cast("string").alias("order_dt"),
    )


def _q_r8_recompute_amount(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice") / F.col("l_quantity")
    sales = (
        F.when(F.col("l_orderkey") % 13 == 0, F.lit(None).cast("double"))
        .when(F.col("l_orderkey") % 17 == 0, F.lit(-1.0))
        .when(F.col("l_orderkey") % 19 == 0, F.col("l_extendedprice") + 1.0)
        .otherwise(F.col("l_extendedprice"))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        sales.alias("sales_raw"),
        lf.recompute_amount(sales, F.col("l_quantity"), price).alias("sales_fixed"),
    )


def _q_r9_backfill_price(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    price = (
        F.when(F.col("l_orderkey") % 23 == 0, F.lit(None).cast("double"))
        .when(F.col("l_orderkey") % 29 == 0, F.lit(-5.0))
        .otherwise(F.col("l_extendedprice") / F.col("l_quantity"))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        lf.backfill_unit_price(F.col("l_extendedprice"), F.col("l_quantity"), price).alias(
            "price_fixed"
        ),
    )


def _q_r10_null_if_future(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        lf.null_if_future(F.col("o_orderdate"), "1995-06-01")
        .cast("string")
        .alias("orderdate_capped"),
    )


def _q_r11_prefer_source(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    primary = (
        F.when(F.col("c_custkey") % 5 == 0, F.lit("n/a"))
        .when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
    )
    fallback = F.when(F.col("c_custkey") % 3 != 0, F.lower(F.col("c_mktsegment")))
    return c.select(
        "c_custkey", lf.prefer_source(primary, fallback).alias("segment_pref")
    )


def _q_f16_date_arith(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") - F.expr("INTERVAL 1 DAY")).cast("string").alias("prev_day"),
    )


# Windows -----------------------------------------------------------------


def _q_w1_dedup_latest(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    latest = dedupe_latest(o, ["o_custkey"], "o_orderdate", ["o_orderkey"])
    return latest.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("string").alias("order_ts"), "o_totalprice"
    )


def _q_w2_surrogate_key(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return surrogate_key(c, ["c_custkey"], "customer_key").select("customer_key", "c_custkey")


def _q_w2_surrogate_two_phase(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return surrogate_key_two_phase(c, ["c_custkey"], "customer_key").select(
        "customer_key", "c_custkey"
    )


def _q_w3_scd2_close(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    closed = scd2_close(o, ["o_custkey"], "o_orderdate", "version_end", tiebreakers=["o_orderkey"])
    return closed.select(
        "o_custkey", "o_orderkey", F.col("version_end").cast("string").alias("version_end")
    )


def _q_r12_current_rows(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    closed = scd2_close(o, ["o_custkey"], "o_orderdate", "version_end", tiebreakers=["o_orderkey"])
    return closed.filter(F.col("version_end").isNull()).select("o_custkey", "o_orderkey")


# Joins -------------------------------------------------------------------


def _q_j1_j2_enrich(spark, sf_dir):
    c = load(spark, sf_dir, "customer").alias("c")
    n = load(spark, sf_dir, "nation").alias("n")
    r = load(spark, sf_dir, "region").alias("r")
    out = star_join(
        c,
        [
            (n, F.col("c.c_nationkey") == F.col("n.n_nationkey"), "left"),
            (r, F.col("n.n_regionkey") == F.col("r.r_regionkey"), "left"),
        ],
    )
    return out.select(
        "c_custkey",
        "c_name",
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
    )


def _q_j3_broadcast_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").alias("l")
    p = load(spark, sf_dir, "part").alias("p")
    out = star_join(li, [(p, F.col("l.l_partkey") == F.col("p.p_partkey"), "left")])
    return out.select("l_orderkey", "l_linenumber", F.col("p_name").alias("part_name"))


def _q_j4_j5_fact_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").alias("l")
    o = load(spark, sf_dir, "orders").alias("o")
    c = load(spark, sf_dir, "customer").alias("c")
    out = star_join(
        li,
        [
            (o, F.col("l.l_orderkey") == F.col("o.o_orderkey"), "left"),
            (c, F.col("o.o_custkey") == F.col("c.c_custkey"), "left"),
        ],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.col("o_orderstatus").alias("order_status"),
        F.col("c_mktsegment").alias("segment"),
    )


# Aggregates / sort / limit / set ops ------------------------------------


def _q_a1_groupby_agg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q_a1_rollup(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


def _q_a1_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS — the general form rollup/cube are
    shorthands of: ((flag, status), (status), ()) skips the (flag)
    level a rollup would force. SQL API on a temp view (grouping sets
    have no DataFrame builder); one shuffle, partial aggregation
    map-side like any hash aggregate."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
        "round(sum(l_quantity), 2) AS sum_qty FROM _li_gs "
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), "
        "(l_linestatus), ())"
    )


def _q_a1_hll_rollup(spark, sf_dir):
    """Mergeable distinct-count sketches (operators/sketches.py):
    per-(status, priority) register-level HLL sketches of distinct
    customers, merged up to per-status WITHOUT rescanning orders — the
    persisted-sketch pattern a 100 TB pipeline uses for incremental
    distinct counts. Oracle-backed since round 14 via the md5 hash
    family (the minhash/CMS pattern): the sketch is sparse
    (key, register, rho) ROWS, so the DuckDB oracle recomputes every
    register (low 10 md5 bits), every rho (leading zeros of the
    remaining 50 bits + 1, via exact base-2 string length), the
    lossless max-merge, and the Flajolet estimator whose Σ2^(-rho)
    denominator is carried as an exact integer — hash-checking the
    sketch machinery itself. The DataSketches binary tier
    (distinct_sketches/rollup_sketches, a1_approx_distinct) stays the
    JVM-native scale path, pinned by
    test_hll_sketches_merge_losslessly; the exact twin
    a1_count_distinct remains oracle-green."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hll_register_estimate,
        hll_register_merge,
        hll_register_sketch,
    )

    o = load(spark, sf_dir, "orders")
    fine = hll_register_sketch(
        o, ["o_orderstatus", "o_orderpriority"], "o_custkey", p=10,
        hash_impl="md5",
    )
    merged = hll_register_merge(fine, ["o_orderstatus"])
    return hll_register_estimate(
        merged, ["o_orderstatus"], p=10, out_col="approx_customers"
    )


def _q_a1_cms_topk(spark, sf_dir):
    """Mergeable count-min frequency sketches (operators/sketches.py):
    per-day CMS grids of event user_ids, merged across days WITHOUT
    rescanning events, then candidate users ranked by estimated event
    count — the persisted-sketch pattern for incremental heavy-hitter
    tracking. Oracle-backed since round 14 via the md5 hash family
    (the pq_topk pattern): the DuckDB oracle recomputes the identical
    depth×width counter grid cell for cell, the min-over-rows lookup,
    and the top-20 ranking — hash-checking the counting machinery
    itself. The xxhash64 default stays the scale path, pinned by
    test_cms_lookup_never_underestimates_* and
    test_cms_merge_equals_sketch_of_union; the exact twin (plain
    groupBy count top-k) remains the oracle-green o1_topk shape."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        cms_lookup,
        cms_merge,
        cms_sketch,
    )

    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    fine = cms_sketch(
        ev, ["day"], "user_id", depth=5, width=4096, hash_impl="md5"
    )
    merged = cms_merge(fine, [])
    probes = ev.select("user_id").distinct()
    return (
        cms_lookup(
            merged, probes, "user_id", depth=5, width=4096,
            hash_impl="md5",
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(20)
    )


def _q_a1_pivot(spark, sf_dir):
    """Pivot (wide aggregation): revenue per orderpriority × orderstatus.
    Explicit pivot values keep the schema static — at scale an implicit
    pivot runs a distinct-values job over the whole fact first."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .withColumnsRenamed({"O": "open_total", "F": "fulfilled_total", "P": "pending_total"})
    )


def _q_a1_percentile(spark, sf_dir):
    """Exact percentiles (linear interpolation) per group. Exact
    percentile is a per-group sort — fine to ~10⁷ rows per group; at
    100 TB switch to ``approx_percentile`` (t-digest, mergeable map-side
    sketch, no global sort) — see a1_approx_distinct for the
    approx-sketch pattern."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25_price"),
    )


def _q_a1_count_distinct(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"), F.count("*").alias("n_orders")
    )


def _q_o1_topk(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_custkey"))
        .limit(10)
    )


def _q_o1_set_except(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    all_cust = o.select("o_custkey").distinct()
    f_cust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return all_cust.subtract(f_cust)


def _q_o1_union(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


# Text analysis -----------------------------------------------------------


def _q_t_token_count(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        lf.token_count("text").alias("n_tokens"),
        lf.approx_bpe_token_count("text").alias("n_tokens_bpe"),
    )


def _q_t_quality_score(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", lf.quality_score("text").alias("quality"))


def _q_t_quality_model(spark, sf_dir):
    """Trained quality-classifier tier (functions/quality_model.py):
    a model fit on a labeled seed (the oracle-green heuristic
    quality_score split at its exact corpus median via percent_rank —
    deterministic, no approxQuantile), then the whole corpus scored in
    one scan pass. Oracle-backed since round 14 via the
    nearest-centroid impl (the grid-KMeans pattern applied to
    classification): per-class means of QUANTIZED-integer features are
    exact sums/counts, so the DuckDB oracle replays the features, the
    label split, both centroids, and every scoring decision. The LBFGS
    logistic regression stays the scale-path trainer
    (fit_quality_classifier), pinned by tests/test_text_vectors.py;
    the heuristic twin t_quality_score remains the oracle baseline.
    The label window is seed-sized by contract (a fit sample), so its
    single-partition sort is bounded like t_tfidf_topterms'
    adjudicated driver-bounded aggregates."""
    from pyspark.sql import Window as W

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.quality_model import (
        fit_quality_centroids,
        score_quality_centroids,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = W.orderBy(lf.quality_score("text"), F.col("doc_id"))
    labeled = d.withColumn(
        "label", (F.percent_rank().over(w) >= 0.5).cast("int")
    )
    cents = fit_quality_centroids(labeled, "text", "label")
    return score_quality_centroids(d, cents, "text").select("doc_id", "keep")


def _q_t_bpe_tokens(spark, sf_dir):
    """Learned-BPE token counting (functions/bpe.py): merge table
    learned driver-side from a seeded bounded sample (Sennrich BPE),
    applied corpus-wide as an Arrow kernel with a distinct-word cache.
    Rows-only at THIS vocab size: a 120-merge SQL replay would be
    ~10³ chained CTEs — strictly worse as a check than the pytest
    replay against an independent pure-Python reference segmenter
    (tests/test_text_vectors.py: determinism, losslessness, and
    byte-parity on real corpus words). The ALGORITHM is oracle-checked
    end-to-end by t_bpe_tokens_small (round 15): the identical
    learn+segment code at 8 merges, hash-verified against a DuckDB
    replay of both the merge learning and the segmentation. The
    whitespace/regex twins t_token_count / t_regex_tokens are the
    oracle-checked baselines."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.bpe import (
        bpe_token_count,
        learn_bpe,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    merges = learn_bpe(d, "text", num_merges=120, sample_rows=2000, seed=7)
    return d.select(
        "doc_id", bpe_token_count("text", merges).alias("n_bpe_tokens")
    )


def _q_t_bpe_tokens_small(spark, sf_dir):
    """The oracle-backed twin of t_bpe_tokens: 8 merges learned over
    the WHOLE corpus (sample_rows is set above any test SF so the
    seeded sampling is a no-op and the merge table is a pure function
    of the table contents — replayable by any engine). The DuckDB
    oracle replays BOTH halves: merge learning as 8 chained
    pair-count/argmax/apply CTE rounds over a ``|sym||sym|``-delimited
    vocab, and segmentation as 8 sequential ``replace`` passes — valid
    because a learned merge's pair can never contain a LATER merge's
    product (symbols only coarsen), so sequential-by-rank equals the
    kernel's greedy lowest-rank-first loop. The 120-merge production
    path stays pytest-pinned in t_bpe_tokens (a full-vocab SQL replay
    would be ~10^3 CTEs)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.bpe import (
        bpe_token_count,
        learn_bpe,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    merges = learn_bpe(d, "text", num_merges=8, sample_rows=1_000_000_000)
    # the SQL replay unconditionally performs 8 merge rounds, while
    # learn_bpe stops early when the best pair count is < 2 or no
    # pairs remain — on a corpus too sparse for 8 merges the two
    # sides would silently diverge (and an empty best{r} CTE nulls
    # the oracle's token counts). Fail loudly instead.
    assert len(merges) == 8, (
        f"t_bpe_tokens_small: learn_bpe stopped at {len(merges)} merges "
        "(corpus too sparse?); the DuckDB replay assumes exactly 8"
    )
    return d.select(
        "doc_id", bpe_token_count("text", merges).alias("n_bpe_tokens")
    )


def _q_t_corpus_report(spark, sf_dir):
    """Corpus datasheet (plans/report.py): per-language composition,
    token volume, mean quality, exact dup rate — one scan + one agg
    shuffle + a tiny-frame share window, fully oracle-checked (the
    deterministic 'datasheet for datasets' numbers)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.report import (
        corpus_report,
    )

    return corpus_report(load(spark, sf_dir, "documents"))


def _q_t_language_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lf.language_id("text").alias("lang_guess"))


def _q_t_doc_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", lf.doc_fingerprint("text").alias("fp"))


def _q_t_regex_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", lf.regex_token_count("text").alias("n_bpe_tokens"))


def _q_t_winnow(spark, sf_dir):
    # Serialized to one CSV string per doc: the driver's canonicalizer
    # sorts result columns pandas-side and cannot hash array cells. The
    # fingerprint set is sorted-distinct, so the CSV is canonical and
    # loses nothing. (concat_ws, NOT explode: a Generate over the
    # projected array defeats the O(n) binding inside
    # winnow_fingerprints — the optimizer inlines the k-gram hash array
    # into the generator and the per-row cost goes O(n²), measured as a
    # multi-minute stall at sf0.01. The single concat_ws reference keeps
    # the bound projection intact.)
    d = load(spark, sf_dir, "documents")
    fps = lf.winnow_fingerprints(d, "text", out_col="fps", k=5, window=4, hash="md5")
    return fps.select("doc_id", F.concat_ws(",", "fps").alias("fps_csv"))


def _q_t_gopher_flags(spark, sf_dir):
    """Gopher-style web-corpus quality heuristics (Rae et al. 2021) —
    word/line-shape measures + stopword requirement, all codegen'd
    higher-order builtins, zero shuffles."""
    d = load(spark, sf_dir, "documents")
    return lf.gopher_quality_flags(d, "text", min_words=20).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_word_ratio",
        "bullet_line_ratio",
        "ellipsis_line_ratio",
        "stopword_hits",
        "pass_gopher",
    )


def _q_t_global_shuffle(spark, sf_dir):
    """Deterministic shuffle-then-shard export layout
    (operators/curation.global_shuffle): every document gets a
    (shard, shard_pos) slot from the md5 hash order — a reproducible
    random permutation with NO global sort (hash exchange + per-shard
    sort). The oracle replays the md5 bucket + hash-ordered
    row_number in SQL."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        global_shuffle,
    )

    d = load(spark, sf_dir, "documents")
    return global_shuffle(d.select("doc_id"), "doc_id", n_shards=8, seed=42)


def _q_t_charlm_score(spark, sf_dir):
    """CCNet-style perplexity-proxy quality (functions/charlm.py):
    add-k char-trigram LM trained on the corpus, every document scored
    with its mean negative log-likelihood — the classic LM-based
    quality rank, as two bounded aggregations + broadcast-join scoring,
    zero Python. Oracle replays the full train+score pipeline in SQL
    (identical smoothing arithmetic; avg rounded to 6 per the
    cross-engine float-aggregate convention).

    Self-scoring composition: the corpus gram explode — the dominant
    cost — is paid ONCE: a materialized gram frame feeds both the fit
    (train_char_lm_from_grams) and the scoring pass (grams=), instead
    of re-exploding per consumer (round-6 perf fix, q19)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.charlm import (
        _grams,
        score_char_lm,
        train_char_lm_from_grams,
    )

    d = load(spark, sf_dir, "documents")
    g = _grams(d, "doc_id", "text", 3).localCheckpoint(eager=True)
    lm = train_char_lm_from_grams(g, n=3, add_k=0.5)
    return score_char_lm(d, lm, "doc_id", "text", grams=g)


def _q_t_pretrain_pipeline(spark, sf_dir):
    """The composed pretraining-data pipeline, one declarative plan:
    heuristic quality gate (>= 0.8) AND char-LM perplexity gate
    (nll <= 0.8 nats/trigram, model trained on the corpus itself) →
    exact weighted-without-replacement selection of 150 documents
    (weight = n_chars) → deterministic shuffle-shard layout (4 shards,
    dense positions). Every stage is an already-oracled primitive
    (t_quality_score, t_charlm_score, t_weighted_sample,
    t_global_shuffle); this query proves the COMPOSITION end-to-end —
    the full curation-and-export chain a training run consumes."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.charlm import (
        _grams,
        score_char_lm,
        train_char_lm_from_grams,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        global_shuffle,
        weighted_sample,
    )

    d = load(spark, sf_dir, "documents")
    # one materialized gram explode feeds both the LM fit and the
    # scoring pass (same round-6 perf fix as t_charlm_score)
    g = _grams(d, "doc_id", "text", 3).localCheckpoint(eager=True)
    lm = train_char_lm_from_grams(g, n=3, add_k=0.5)
    scored = (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            lf.quality_score("text").alias("quality"),
        )
        .join(score_char_lm(d, lm, "doc_id", "text", grams=g), "doc_id")
        .filter((F.col("quality") >= 0.8) & (F.col("nll") <= 0.8))
    )
    # materialize=True pins the 150-row sample and re-spreads
    # it, so the shard layout below runs distributed instead of
    # inheriting the mid-plan limit's single partition (the last
    # explain-audit offender — 0 single-partition exchanges now)
    picked = weighted_sample(
        scored.select("doc_id", "lang", "n_chars"),
        "doc_id",
        "n_chars",
        k=150,
        materialize=True,
    )
    return global_shuffle(picked, "doc_id", n_shards=4).select(
        "doc_id", "lang", "shard", "shard_pos"
    )


def _q_t_weighted_sample(spark, sf_dir):
    """Quality-weighted selection (operators/curation.weighted_sample):
    exact weighted-without-replacement top-k via Efraimidis-Spirakis
    exponential keys on md5-derived uniforms — deterministic, so the
    oracle replays the identical priorities and picks the identical
    100 documents (weights = n_chars)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        weighted_sample,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(d, "doc_id", "n_chars", k=100)


def _q_t_curation_pipeline(spark, sf_dir):
    """End-to-end LLM-data curation: language-ID filter → quality
    threshold → exact near-whitespace dedup (keep lowest doc_id per
    fingerprint) → token counts. One Catalyst pass + one fingerprint
    shuffle — the composition a 100 TB pre-training cleanup actually
    runs, demonstrated as a single declarative plan."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        lf.doc_fingerprint("text").alias("fp"),
        lf.token_count("text").alias("n_tokens"),
        lf.quality_score("text").alias("quality"),
        lf.language_id("text").alias("lang_guess"),
    )
    filtered = scored.filter((F.col("lang_guess") == "en") & (F.col("quality") >= 0.5))
    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    return (
        filtered.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "n_tokens", "quality")
    )


def _q_t_repetition_ratio(spark, sf_dir):
    """Duplicate-bigram fraction per document — Gopher/C4-style
    repetition quality signal (functions/text.py::repetition_ratio)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", lf.repetition_ratio("text").alias("rep_ratio"))


def _q_t_normalize_text(spark, sf_dir):
    """Unicode normalization (functions/text.py::normalize_text,
    round 12): odd documents carry a DECOMPOSED suffix (e + U+0301,
    O + U+0308), even documents the precomposed equivalents; after
    NFC + lowercase + whitespace collapse both parities must emit the
    byte-identical canonical form. The oracle replays with DuckDB's
    nfc_normalize; any drift in the Arrow normalization kernel, the
    option ordering (lowercase must follow composition), or NULL
    passthrough hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        normalize_text,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    raw = F.concat(
        F.when(
            F.col("doc_id") % 2 == 1,
            F.lit("Cafe\u0301  nO\u0308el\t"),   # decomposed
        ).otherwise(F.lit("Caf\u00e9  n\u00d6el\t")),  # precomposed
        F.lit("Doc "),
        F.col("doc_id").cast("string"),
        F.lit("  "),
    )
    return d.select(
        "doc_id",
        normalize_text(
            raw, form="NFC", lowercase=True, collapse_whitespace=True
        ).alias("norm_text"),
    )


_SQL_NORMALIZE_TEXT = (
    "SELECT doc_id, trim(regexp_replace(lower(nfc_normalize("
    "CASE WHEN doc_id % 2 = 1 "
    "THEN 'Cafe' || chr(769) || '  nO' || chr(776) || 'el' || chr(9) "
    "ELSE 'Caf' || chr(233) || '  n' || chr(214) || 'el' || chr(9) END "
    "|| 'Doc ' || CAST(doc_id AS VARCHAR) || '  ')), "
    "'\\s+', ' ', 'g')) AS norm_text FROM documents"
)


def _q_t_dsir_select(spark, sf_dir):
    """DSIR data selection (operators/curation.py::dsir_importance +
    dsir_select; Xie et al., NeurIPS 2023): hashed-unigram bucket
    distributions (256 md5 buckets) of the English subset vs the whole
    corpus give per-bucket log ratios; each document scores the sum of
    its tokens' ratios and the top 200 by (rounded score, doc_id) are
    kept — exact top-k mode, the Gumbel path is pytest-pinned. The
    oracle replays tokenization, md5 bucketing, Laplace smoothing,
    ratio fit and scoring end to end; any drift in any stage reorders
    the boundary and hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        dsir_select,
    )

    d = load(spark, sf_dir, "documents")
    sel = dsir_select(d, d.filter(F.col("lang") == "en"), k=200)
    return sel.select("doc_id", "dsir_logw")


_DSIR_BKT = (
    "(((strpos('0123456789abcdef', substr(md5(f),1,1))-1)*4096"
    " + (strpos('0123456789abcdef', substr(md5(f),2,1))-1)*256"
    " + (strpos('0123456789abcdef', substr(md5(f),3,1))-1)*16"
    " + (strpos('0123456789abcdef', substr(md5(f),4,1))-1)) % 256)"
)

_SQL_DSIR_SELECT = (
    "WITH tok AS (SELECT doc_id, lang, "
    "unnest(string_split_regex(lower(trim(text)), '\\s+')) AS f "
    "FROM documents), "
    f"tf AS (SELECT doc_id, lang, {_DSIR_BKT} AS b FROM tok "
    "WHERE f <> ''), "
    "tn AS (SELECT count(*) AS n FROM tf WHERE lang = 'en'), "
    "rn AS (SELECT count(*) AS n FROM tf), "
    "tc AS (SELECT b, count(*) AS c FROM tf WHERE lang = 'en' GROUP BY 1), "
    "rc AS (SELECT b, count(*) AS c FROM tf GROUP BY 1), "
    "spine AS (SELECT CAST(range AS INT) AS b FROM range(256)), "
    "ratio AS (SELECT spine.b AS b, "
    "ln((coalesce(tc.c, 0) + 1.0) / ((SELECT n FROM tn) + 256.0)) "
    "- ln((coalesce(rc.c, 0) + 1.0) / ((SELECT n FROM rn) + 256.0)) AS lr "
    "FROM spine LEFT JOIN tc ON spine.b = tc.b "
    "LEFT JOIN rc ON spine.b = rc.b), "
    "sc AS (SELECT tf.doc_id, round(sum(r.lr), 6) AS dsir_logw "
    "FROM tf JOIN ratio r ON tf.b = r.b GROUP BY 1) "
    "SELECT d.doc_id, coalesce(sc.dsir_logw, 0.0) AS dsir_logw "
    "FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id "
    "ORDER BY dsir_logw DESC, d.doc_id LIMIT 200"
)


def _q_t_hash_split(spark, sf_dir):
    """Deterministic md5-bucket train/val/test split (80/10/10) keyed on
    doc_id — stable across runs/engines/partitioning, leak-proof for
    grouped keys (functions/text.py::hash_split)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        lf.hash_bucket("doc_id").alias("bucket"),
        lf.hash_split("doc_id").alias("split"),
    )


def _q_t_chunk_documents(spark, sf_dir):
    """Overlapping fixed-token-window chunking (32-token chunks, 8-token
    overlap) — the pre-training/RAG windowing step; zero-shuffle
    posexplode (functions/text.py::chunk_documents)."""
    d = load(spark, sf_dir, "documents")
    return lf.chunk_documents(d, "text", chunk_tokens=32, overlap=8)


def _q_t_chunk_dedup(spark, sf_dir):
    """Paragraph-granularity exact dedup: chunk every document into
    overlapping token windows, then keep ONE copy of each distinct
    chunk text corpus-wide (min (doc_id, chunk_id) survives, with the
    replica count attached) — the sub-document dedup pass a
    pretraining pipeline runs to strip boilerplate shared across
    otherwise-distinct pages. One shuffle on chunk_text."""
    d = load(spark, sf_dir, "documents")
    ch = lf.chunk_documents(d, "text", chunk_tokens=32, overlap=8)
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_id")
    return (
        ch.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_copies", F.count("*").over(Window.partitionBy("chunk_text"))
        )
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            "chunk_id",
            "chunk_text",
            F.col("n_copies").cast("bigint").alias("n_copies"),
        )
    )


def _q_t_span_dedup(spark, sf_dir):
    """Exact substring dedup (Lee et al. 2022 ExactSubstr, relational):
    every duplicated 8-token span corpus-wide is removed except its
    globally-first occurrence; surviving tokens are rejoined
    (operators/dedup.span_dedup — fingerprint groupBy with map-side
    partial aggregation + AQE-splittable join back, never a window
    over the span key)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_dedup,
    )

    d = load(spark, sf_dir, "documents")
    return span_dedup(d, "doc_id", "text", k=8).select(
        "doc_id", "deduped_text", "n_tokens_removed"
    )


def _q_t_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 97 == 0 play the
    'eval suite'; every other document sharing ≥1 distinct word 8-gram
    with that set is dropped (operators/dedup.decontaminate — broadcast
    shingle semi-join + anti-join). Returns surviving doc_ids."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        decontaminate,
    )

    d = load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, "doc_id", "text").select("doc_id")


def _q_t_pii_scrub(spark, sf_dir):
    """PII redaction (functions/text.py::scrub_pii). The fixture corpus
    has no PII, so the query splices a synthetic email/URL/phone tail
    onto each document, then scrubs — exercising every pattern on every
    row while staying oracle-reproducible."""
    d = load(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" or call 5551234567"),
    )
    return d.select("doc_id", lf.scrub_pii(dirty).alias("clean_text"))


def _q_t_vocab_topk(spark, sf_dir):
    """Corpus vocabulary stats: term frequency + document frequency,
    top-50. explode is narrow (no shuffle); the groupBy partial-aggregates
    map-side so the single shuffle moves one row per distinct term per
    partition — the canonical 100 TB vocab-build shape. Deterministic
    (tf DESC, term ASC) ordering for the oracle."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    return (
        toks.groupBy(F.lower(F.col("tok")).alias("term"))
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(50)
    )


def _q_t_tfidf_topterms(spark, sf_dir):
    """Per-document TF-IDF top-3 terms: explode → (doc,term) TF agg →
    term DF agg → join back + 1-row broadcast corpus count → windowed
    top-k. The DF table and corpus count are vocabulary-/scalar-sized,
    so both join back as broadcasts — the big (doc,term) side shuffles
    once for its own agg and never again; the final window partitions by
    doc_id (uniform, no skew)."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


def _q_s14_version_changes(spark, sf_dir):
    """Row-level change feed between committed versions
    (sources/versioned.py::VersionedTable.changes, new round 6 — the
    Delta-CDF analog, DERIVED as a keyed diff of the two snapshots):
    overwrite → partition-free COW merge (updates + inserts) → COW
    delete, then changes(v1, v3) classifies every key as
    insert / update_preimage / update_postimage / delete. The oracle
    recomputes the same three logical states from the raw orders table
    and replays the classification as set arithmetic."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.versioned import (
        VersionedTable,
    )

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.round(F.col("o_totalprice"), 2).cast("double").alias("p"),
    )
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="sg-cdf-"))
    vt.write(o.filter(F.col("k") % 50 < 25))
    vt.merge(
        o.filter(F.col("k") % 4 == 0).withColumn("p", F.col("p") + 10),
        keys=["k"],
    )
    vt.delete(F.col("k") % 7 == 0)
    return vt.changes(1, 3, keys=["k"])


def _q_s15_snapshot_drift(spark, sf_dir):
    """Schema + statistics drift between committed versions
    (sources/versioned.py::VersionedTable.drift, new round 7): v1 is a
    deterministic orders subset; v2 merges in modified rows AND a new
    column (additive schema evolution via allow_new_columns). The
    report rows — row_count, per-column present/null_rate and numeric
    mean/min/max with deltas — come from the two manifests plus ONE
    full-scan aggregate per snapshot (no join, no keyed diff). The
    oracle reconstructs both logical states and replays every stat."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.versioned import (
        VersionedTable,
    )

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.round(F.col("o_totalprice"), 2).cast("double").alias("p"),
    )
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="sg-drift-"))
    vt.write(o.filter(F.col("k") % 2 == 0))
    batch = o.filter(F.col("k") % 3 == 0).select(
        "k", "s", (F.col("p") + 5).alias("p"),
        F.when(F.col("k") % 5 == 0, F.lit(None).cast("double"))
        .otherwise((F.col("k") % 10).cast("double"))
        .alias("flag"),
    )
    vt.merge(batch, keys=["k"], allow_new_columns=True)
    return vt.drift(1, 2)


def _q_t_weighted_per_lang(spark, sf_dir):
    """Per-group exact weighted sampling
    (operators/curation.py::weighted_sample_per_group, new round 6):
    the 20 highest-priority documents of EVERY language under
    Efraimidis-Spirakis n_chars-weighted priorities — the per-stratum
    form of t_weighted_sample with no driver-side k limit
    (WindowGroupLimit map-side top-k). Oracle replays the identical
    md5-derived priorities and rank."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        weighted_sample_per_group,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample_per_group(d, ["lang"], "doc_id", "n_chars", k=20)


def _q_t_corpus_drift(spark, sf_dir):
    """Snapshot-to-snapshot distribution drift (plans/report.py::
    corpus_drift, new round 6): the even-doc_id half of the corpus
    plays the OLD crawl, the odd half the NEW; per-term add-k-smoothed
    log-frequency-ratios rank the top-25 movers — the pre-training
    sanity monitor that catches a crawl gone wrong before a run trains
    on it. Oracle replays the identical smoothing arithmetic."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.report import (
        corpus_drift,
    )

    d = load(spark, sf_dir, "documents")
    return corpus_drift(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        k=25,
    )


def _q_d_dup_stats(spark, sf_dir):
    """Corpus duplication profile (new round 6): exact-dup cluster-size
    histogram over the whitespace-normalized fingerprint — the
    before/after measurement a dedup pipeline reports (what fraction of
    the corpus is singleton vs boilerplate). Two partial-agg shuffles,
    the second over cluster sizes (tiny domain)."""
    d = load(spark, sf_dir, "documents")
    sizes = d.groupBy(lf.doc_fingerprint("text").alias("fp")).agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).alias("n_docs"),
    )


def _q_a2_target_encode(spark, sf_dir):
    """Smoothed target encoding (operators/features.py::target_encode,
    new round 7): each order priority encodes to its damped mean total
    price — (n·mean_cat + s·mean_global)/(n + s), s=10. One
    category-count-sized agg + 1-row global mean broadcast back; the
    orders side never shuffles. Every 7th key's priority is NULLed so
    the oracle exercises the NULL-category level end to end (round 9:
    the join-back is eqNullSafe, so NULL encodes like any other level).
    The oracle replays the smoothing arithmetic per category."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.features import (
        target_encode,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 != 0, F.col("o_orderpriority")
        ).alias("o_orderpriority"),
        "o_totalprice",
    )
    out = target_encode(o, "o_orderpriority", "o_totalprice", smoothing=10.0)
    return out.select(
        "o_orderkey", "o_orderpriority", F.col("o_orderpriority_te").alias("te")
    )


def _q_a2_feature_scale(spark, sf_dir):
    """Per-group feature scaling (operators/features.py::zscore_scale +
    minmax_scale, new round 7): z-score (population stddev, guarded
    zero-variance) and min-max of the order total within each order
    status — one stats agg per transform broadcast back, fact side
    unshuffled. Oracle replays both normalizations."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.features import (
        minmax_scale,
        zscore_scale,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = minmax_scale(
        zscore_scale(o, ["o_totalprice"], by=["o_orderstatus"]),
        ["o_totalprice"],
        by=["o_orderstatus"],
    )
    return out.select(
        "o_orderkey", "o_orderstatus", "o_totalprice_z", "o_totalprice_mm"
    )


def _q_a2_one_hot(spark, sf_dir):
    """Bounded one-hot encoding (operators/features.py::one_hot, new
    round 7): indicator columns for the top-5 market segments (count
    order, value tiebreak — deterministic) plus the fold-in other
    column; a NULL category is 0 everywhere and 1 in _other (null-safe
    equality). The category list is one TakeOrdered-bounded agg; the
    indicators are scan-fused expressions."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.features import (
        one_hot,
    )

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = one_hot(c, "c_mktsegment", top_k=5)
    keep = ["c_custkey"] + sorted(
        col for col in out.columns if "_oh_" in col
    )
    return out.select(*keep)


def _q_v_sign_project(spark, sf_dir):
    """Signed random projection 64→8 (functions/vectors.py::
    sign_project, new round 7): Johnson-Lindenstrauss dimensionality
    reduction with a ±1 matrix regenerated from md5 parity — the cheap
    sketch tier below int8/PQ. Pure Catalyst (8 sequential folds of 64
    JVM multiply-adds per row, matrix as literals, scan-fused, no
    shuffle); the oracle regenerates the identical matrix from md5 in
    SQL and replays the fold, so a single sign flip anywhere
    hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.vectors import (
        sign_project,
    )

    e = load(spark, sf_dir, "embeddings")
    proj = e.select(
        "vec_id", sign_project("embedding", 64, 8, seed=42).alias("_p")
    )
    return proj.select(
        "vec_id", F.posexplode("_p").alias("k", "comp")
    )


def _q_v_int8_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization
    (functions/vectors.py::int8_quantize, new round 6) — the
    codebook-free 4x compression tier below PQ. Per vector: the scale,
    the quantized-code sum / extrema, and the L2 reconstruction error
    of the dequantized vector — all sequential JVM folds the oracle
    replays term-for-term (same pattern as v_dot_product)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.vectors import (
        int8_dequantize,
        int8_quantize,
    )

    e = load(spark, sf_dir, "embeddings")
    qs = e.select("vec_id", "embedding", int8_quantize("embedding").alias("_qs"))
    recon = int8_dequantize(F.col("_qs"))
    err2 = F.aggregate(
        F.zip_with(
            recon,
            F.col("embedding"),
            lambda r, x: (r - x.cast("double")) * (r - x.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return qs.select(
        "vec_id",
        F.round(F.col("_qs.scale"), 6).alias("scale"),
        F.aggregate(
            F.col("_qs.q"), F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint")
        ).alias("q_sum"),
        F.array_min("_qs.q").alias("q_min"),
        F.array_max("_qs.q").alias("q_max"),
        F.round(F.sqrt(err2), 6).alias("recon_err"),
    )


def _q_a1_outliers(spark, sf_dir):
    """Tukey-fence outlier detection per order status
    (plans/dq.py::iqr_outliers, new round 6): per-group counts of rows
    outside [q1 − 1.5·IQR, q3 + 1.5·IQR] of o_totalprice plus the
    rounded fences. Quartiles are order statistics — deterministic
    under any aggregation order, so the oracle replays them exactly
    (no float-summation noise, unlike z-scores)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import (
        iqr_outliers,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_totalprice").cast("double").alias("p")
    )
    flagged = iqr_outliers(o, "p", by=["o_orderstatus"], k=1.5)
    return flagged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        F.round(F.min("_q1"), 6).alias("q1"),
        F.round(F.min("_q3"), 6).alias("q3"),
    )


def _q_a1_hist_quantile(spark, sf_dir):
    """Mergeable histogram-quantile sketch (operators/sketches.py::
    hist_sketch/hist_quantile, new round 6 — the quantile member of
    the HLL/CMS/histogram trio): per-event-type p50/p90/p99 of value
    from 256 equi-width bins over [0, 1000) (width 1000/256 — exactly
    representable, so both engines bin identically). UNLIKE the
    hash-based sketches this one is fully SQL-expressible, so it is
    oracle-backed directly: the oracle replays binning, cumulative
    counts, and the bin-edge estimate."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hist_quantile,
        hist_sketch,
    )

    ev = load(spark, sf_dir, "events")
    sk = hist_sketch(ev, ["event_type"], "value", 0.0, 1000.0, 256)
    return hist_quantile(sk, ["event_type"], [0.5, 0.9, 0.99], 0.0, 1000.0, 256)


def _q_a1_profile(spark, sf_dir):
    """Column-level data profile of orders (plans/dq.py::
    profile_columns, new round 6): nulls, null rate, exact distinct
    count, stringified extrema per column — ONE aggregation pass (the
    1-row result is pinned so the per-column pivot can't re-run it).
    The oracle recomputes each metric directly."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import (
        profile_columns,
    )

    o = load(spark, sf_dir, "orders")
    return profile_columns(
        o, ["o_orderstatus", "o_custkey", "o_totalprice", "o_orderdate"]
    )


def _q_a1_rfm_segments(spark, sf_dir):
    """Classic RFM customer segmentation (new round 6): per-customer
    recency (days since epoch of last order) / frequency / monetary
    aggregates, each cut into quartiles by
    operators/curation.py::percentile_buckets_multi — ONE threshold
    aggregation computing all three quantile arrays over the customer
    rollup (nesting the single-column form re-evaluated the rollup per
    column: 7 exchanges vs 3 in the plan audit), one broadcast, zero
    global sorts — then the 4×4×4 segment grid's population. Monetary
    goes through round(2)-then-double so both engines quantile the
    identical values (decimal sums are exact and associative)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        percentile_buckets_multi,
    )

    o = load(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
            "recency"
        ),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).cast("double").alias("monetary"),
    )
    b = percentile_buckets_multi(
        rfm,
        {"recency": (4, "r_q"), "frequency": (4, "f_q"), "monetary": (4, "m_q")},
    )
    return b.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").alias("n_customers")
    )


def _q_t_quality_deciles(spark, sf_dir):
    """Quality-score calibration by decile
    (operators/curation.py::percentile_buckets, new round 6): the
    scalable NTILE — exact percentile thresholds as ONE corpus agg
    broadcast into a scan-fused bucket comparison, never an
    unpartitioned ntile window (which pins the whole table through one
    task). Per-decile doc counts and min/max score (order statistics —
    deterministic, unlike avg whose summation order varies)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        percentile_buckets,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", lf.quality_score("text").alias("q")
    )
    b = percentile_buckets(d, "q", n_buckets=10, out_col="decile")
    return b.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.round(F.min("q"), 6).alias("min_q"),
        F.round(F.max("q"), 6).alias("max_q"),
    )


def _q_t_bm25_batch(spark, sf_dir):
    """Batch BM25 retrieval (functions/text.py::bm25_topk_queries, new
    round 6): three query term-sets ranked in ONE plan — corpus
    tokenized once, postings filtered to the union of query terms,
    scores fanned out per query via broadcast join, query-partitioned
    top-10. Oracle replays with a literal queries CTE."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        bm25_topk_queries,
    )

    d = load(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [
            (1, "vector"), (1, "stream"),
            (2, "hash"), (2, "join"), (2, "merge"),
            (3, "window"),
        ],
        "query_id int, term string",
    )
    return bm25_topk_queries(d, q, k=10)


def _q_t_bm25_topk(spark, sf_dir):
    """Okapi BM25 lexical retrieval (functions/text.py::bm25_topk, new
    round 6): top-20 documents for a 3-term query, scored with the
    +1-smoothed idf and k1=1.2 / b=0.75. Postings are filtered to the
    query terms BEFORE the (doc, term) aggregation (query-sized
    shuffle), (N, avgdl) is the one sanctioned 1-row corpus agg, df
    joins back broadcast. The oracle replays the identical arithmetic."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        bm25_topk,
    )

    d = load(spark, sf_dir, "documents")
    return bm25_topk(d, ["vector", "stream", "hash"], k=20)


def _q_t_bm25_conjunctive(spark, sf_dir):
    """Conjunctive (AND) BM25 retrieval (functions/text.py::bm25_topk
    ``require_all_terms=True``, new round 7): identical scoring to
    t_bm25_topk but only documents containing EVERY query term rank —
    the per-doc matched-term count falls out of the same (doc, term)
    aggregation as a post-agg HAVING, zero extra shuffles. Results are
    a subset of the disjunctive top-k with identical scores (pinned by
    pytest); the oracle replays the arithmetic with HAVING count = 3."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        bm25_topk,
    )

    d = load(spark, sf_dir, "documents")
    return bm25_topk(
        d, ["vector", "stream", "hash"], k=20, require_all_terms=True
    )


def _q_t_dedupe_lines(spark, sf_dir):
    """Intra-document line dedup (functions/text.py::dedupe_lines —
    first oracle-backed entry, round 7): every word becomes its own
    line (translate space→newline — deterministic, SQL-replayable),
    then repeated lines drop keeping FIRST occurrence in order
    (array_distinct is order-preserving). Returns the deduped text
    plus before/after line counts; the oracle replays first-occurrence
    selection as a min-position window + ordered string_agg."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        dedupe_lines,
    )

    d = load(spark, sf_dir, "documents")
    lined = F.translate(F.col("text"), " ", "\n")
    deduped = dedupe_lines(lined)
    return d.select(
        "doc_id",
        deduped.alias("deduped"),
        F.size(F.split(lined, "\n")).alias("n_lines"),
        F.size(F.split(deduped, "\n")).alias("n_kept"),
    )


def _q_t_exact_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("fp", lf.doc_fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# Vectors -----------------------------------------------------------------


def _q_v_l2_norm(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.round(lf.l2_norm("embedding"), 6).alias("norm"))


def _q_v_dot_product(spark, sf_dir):
    e1 = load(spark, sf_dir, "embeddings").alias("e1")
    e2 = load(spark, sf_dir, "embeddings").alias("e2")
    joined = e1.join(e2, F.col("e2.vec_id") == F.col("e1.vec_id") + 1, "inner")
    return joined.select(
        F.col("e1.vec_id").alias("vec_id"),
        F.round(lf.dot_product(F.col("e1.embedding"), F.col("e2.embedding")), 6).alias("dot"),
    )


def _q_v_cosine_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_embedding"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(lf.cosine_similarity("embedding", "q_embedding"), 6).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(20)


def _q_v_mmr_rerank(spark, sf_dir):
    """Retrieve-then-diversify: brute-force top-40 candidates for 3
    query vectors, MMR re-rank (lam=0.7) to a diverse top-10 per query
    (operators/similarity.mmr_rerank — applyInPandas per query group,
    candidate-sized, never corpus-sized). Oracle-backed since round 14:
    pairwise sims round to 6 dp before the greedy comparison (the
    mine_hard_negatives round-before-rank rule), so the whole greedy
    selection — zero-floored redundancy penalty, (rel desc, id asc)
    tie-breaks, lam arithmetic in IEEE doubles — replays as a DuckDB
    recursive CTE picking one candidate per query per step. lam=1.0 ==
    plain relevance order additionally pinned by pytest."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = e.filter(~F.col("vec_id").isin(0, 1, 2))
    cand = brute_force_topk(corpus, queries, k=40).join(
        corpus.select("vec_id", "embedding"), "vec_id"
    )
    return mmr_rerank(cand, k=10, lam=0.7)


def _sql_cos(a: str, b: str) -> str:
    """DuckDB cosine between two 64-dim float lists, rounded 6 dp —
    the same expression the oracle-green v_cosine_topk uses."""
    def sq(v):
        return (
            f"sqrt(list_sum(list_transform({v}, "
            "x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
        )
    return (
        "round(list_sum(list_transform(range(1,65), "
        f"i -> CAST({a}[i] AS DOUBLE)*CAST({b}[i] AS DOUBLE)))"
        f" / ({sq(a)} * {sq(b)}), 6)"
    )


# Greedy MMR as a recursive CTE: `sel` carries ONE row per query per
# step (the latest pick + the picked-id list); each recursion ranks the
# remaining candidates by the MMR score — lam in IEEE doubles exactly
# as numpy computes it, redundancy penalty = greatest(0, max pairwise
# sim to picked) on 6-dp-rounded sims, ties (rel desc, id asc) — and
# keeps rn=1. UNION ALL accumulates the 10 picks per query.
def _sql_bpe_small(n_merges: int = 8) -> str:
    """DuckDB replay of t_bpe_tokens_small: BPE merge learning as
    ``n_merges`` chained (pair-count → deterministic argmax → apply)
    CTE rounds over a ``|a||b||…|``-delimited symbol-string vocab,
    then segmentation as the same merges applied as SEQUENTIAL
    ``replace`` passes per word occurrence. Sequential-by-rank equals
    the engine's greedy lowest-rank-first inference because a merge's
    pair can never contain a later merge's product (learning only
    coarsens symbols), and the double-bar encoding makes each replace
    boundary-safe and left-to-right non-overlapping exactly like the
    Python loop. Precondition (holds for the testdata corpus, single
    chars + '</w>' only): text contains no '|'."""
    parts = [
        "WITH corpus AS MATERIALIZED (SELECT doc_id, lower(text) AS t "
        "FROM documents WHERE text IS NOT NULL AND text <> ''), ",
        "words AS MATERIALIZED (SELECT doc_id, w FROM corpus, "
        "UNNEST(regexp_split_to_array(t, '\\s+')) AS u(w) WHERE w <> ''), ",
        "vocab0 AS MATERIALIZED (SELECT "
        "regexp_replace(w, '(.)', '|\\1|', 'g') || '|</w>|' AS sym, "
        "COUNT(*) AS cnt FROM words GROUP BY 1), ",
    ]
    for r in range(1, n_merges + 1):
        prev = f"vocab{r - 1}"
        parts.append(
            f"pairs{r} AS MATERIALIZED (SELECT syms[i] AS a, syms[i+1] AS b, "
            f"SUM(cnt) AS c FROM (SELECT regexp_split_to_array(trim(sym, '|'), "
            f"'\\|\\|') AS syms, cnt FROM {prev}), "
            f"UNNEST(range(1, len(syms))) AS t(i) GROUP BY 1, 2), "
        )
        parts.append(
            f"best{r} AS MATERIALIZED (SELECT a, b, "
            f"'|' || a || '||' || b || '|' AS pat, "
            f"'|' || a || b || '|' AS rep FROM pairs{r} "
            f"ORDER BY c DESC, a, b LIMIT 1), "
        )
        parts.append(
            f"vocab{r} AS MATERIALIZED (SELECT replace(sym, "
            f"(SELECT pat FROM best{r}), (SELECT rep FROM best{r})) AS sym, "
            f"cnt FROM {prev}), "
        )
    seg = "regexp_replace(w, '(.)', '|\\1|', 'g') || '|</w>|'"
    for r in range(1, n_merges + 1):
        seg = (
            f"replace({seg}, (SELECT pat FROM best{r}), "
            f"(SELECT rep FROM best{r}))"
        )
    parts.append(
        f"wc AS MATERIALIZED (SELECT doc_id, "
        f"(length({seg}) - length(replace({seg}, '|', ''))) // 2 AS n "
        f"FROM words) "
    )
    parts.append(
        "SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS INT) AS n_bpe_tokens "
        "FROM documents d LEFT JOIN (SELECT doc_id, SUM(n) AS n FROM wc "
        "GROUP BY doc_id) s ON s.doc_id = d.doc_id"
    )
    return "".join(parts)


_SQL_BPE_SMALL = _sql_bpe_small(8)

_SQL_MMR_RERANK = (
    "WITH RECURSIVE "
    "corpus AS (SELECT vec_id, embedding FROM embeddings "
    "WHERE vec_id NOT IN (0,1,2)), "
    "q AS (SELECT vec_id AS query_id, embedding FROM embeddings "
    "WHERE vec_id IN (0,1,2)), "
    "scored AS (SELECT q.query_id, e.vec_id, "
    + _sql_cos("e.embedding", "q.embedding")
    + " AS rel FROM corpus e, q), "
    "cand AS (SELECT query_id, vec_id, rel FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY rel DESC, vec_id) AS rn FROM scored) WHERE rn <= 40), "
    "pair AS (SELECT a.query_id, a.vec_id AS x, b.vec_id AS y, "
    + _sql_cos("ea.embedding", "eb.embedding")
    + " AS sim FROM cand a JOIN corpus ea ON ea.vec_id = a.vec_id "
    "JOIN cand b ON b.query_id = a.query_id "
    "JOIN corpus eb ON eb.vec_id = b.vec_id), "
    "sel AS ("
    "SELECT query_id, vec_id, rel, 1 AS mmr_rank, [vec_id] AS picked "
    "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1 "
    "UNION ALL "
    "SELECT query_id, vec_id, rel, mmr_rank + 1, "
    "list_append(picked, vec_id) FROM ("
    "SELECT s.query_id, c.vec_id, c.rel, s.mmr_rank, s.picked, "
    "row_number() OVER (PARTITION BY s.query_id ORDER BY "
    "CAST(0.7 AS DOUBLE)*c.rel - "
    "(CAST(1.0 AS DOUBLE)-CAST(0.7 AS DOUBLE)) * "
    "greatest(CAST(0 AS DOUBLE), (SELECT max(p.sim) FROM pair p "
    "WHERE p.query_id = s.query_id AND p.x = c.vec_id "
    "AND list_contains(s.picked, p.y))) DESC, "
    "c.rel DESC, c.vec_id ASC) AS rn "
    "FROM sel s JOIN cand c ON c.query_id = s.query_id "
    "AND NOT list_contains(s.picked, c.vec_id) "
    "WHERE s.mmr_rank < 10) WHERE rn = 1) "
    "SELECT query_id, vec_id, rel AS cos_sim, "
    "CAST(mmr_rank AS INT) AS mmr_rank FROM sel"
)


def _q_v_hard_negatives(spark, sf_dir):
    """Hard-negative mining for retrieval-training data
    (operators/similarity.py::mine_hard_negatives, round 10 — the DPR/
    Sentence-BERT recipe): vectors 0-2 are queries, each with two
    labeled positives (q+10, q+20); the miner returns the top-10
    most-similar non-positives per query after skipping the 2 most
    suspicious survivors (exclude_top — unlabeled positives concentrate
    at the head). The oracle replays scoring, the positive anti-join,
    the semi-hard skip, and the rank window in SQL; rounding happens
    BEFORE ranking on both sides so ties break identically."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        mine_hard_negatives,
    )

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") > 2)
    positives = queries.select(
        "query_id", (F.col("query_id") + 10).alias("vec_id")
    ).unionByName(
        queries.select("query_id", (F.col("query_id") + 20).alias("vec_id"))
    )
    return mine_hard_negatives(
        corpus, queries, positives, k=10, exclude_top=2
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos_sim",
        F.col("neg_rank").cast("int").alias("neg_rank"),
    )


def _q_v_knn_classify(spark, sf_dir):
    """kNN label propagation (operators/similarity.knn_classify):
    vectors 0-4 play the unlabeled queries, the rest of the embeddings
    corpus keeps its labels; each query takes the majority label of its
    10 nearest neighbors by cosine, ties broken by nearest supporting
    evidence. Exact retrieval tier — ranking AND voting replay fully
    in SQL (the IVF impl is the sublinear scale path, agreement pinned
    by test_knn_classify_ivf_agrees_on_separated_clusters)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        knn_classify,
    )

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") > 4)
    return knn_classify(corpus, queries, k=10)


# Dedup tiers (operators/dedup.py) ----------------------------------------


def _q_d_exact_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_dedup(d, ["text"], order_col="doc_id")


def _q_d_ngram_jaccard(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.2)


def _q_d_containment_pairs(spark, sf_dir):
    """Asymmetric n-gram CONTAINMENT pairs
    (operators/dedup.py::ngram_containment_pairs, new round 6): the
    quote/subset near-dup signal — a short document wholly contained in
    a long one scores ~1.0 containment but low Jaccard. Same
    inverted-index plan + max_df skew cap as d_ngram_jaccard; the
    oracle replays the set arithmetic exactly."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    d = load(spark, sf_dir, "documents")
    return ngram_containment_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.6)


def _q_d_minhash_pairs(spark, sf_dir):
    """Banded MinHash-LSH candidate pairs (operators/dedup.py::
    minhash_lsh_pairs). Oracle-backed since round 14 via the md5 hash
    family (impl="md5": base hash = first 8 md5 hex chars of the
    shingle, 2-universal mix a·x+b mod 2⁶³ with md5-derived odd/offset
    coefficients): the DuckDB oracle recomputes all 64 signature
    components per document, the 16-band bucket grouping (by the band
    slice VALUES — Spark's xxhash64 bucket key is a pure optimization
    over slice equality), the candidate self-join and the
    component-agreement Jaccard estimate at threshold 0.5. The crc32
    arrow default stays the scale path (q11's bench workload,
    unchanged); exact-Jaccard semantics remain oracle-checked via
    d_ngram_jaccard."""
    d = load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", threshold=0.5, impl="md5")


def _q_d_minhash_dedup(spark, sf_dir):
    """Greedy MinHash-LSH dedup (operators/dedup.py::minhash_lsh_dedup).
    Oracle-backed since round 14 via the md5 hash family — the DuckDB
    oracle replays d_minhash_pairs' full signature/band/estimate
    pipeline, then applies the documented greedy semantics exactly:
    survivors are the documents whose doc_id never appears as id_b in
    a thresholded pair (one anti-join). The crc32 arrow default stays
    the scale path — bench q11 pins that workload unchanged — and the
    transitive (connected-component) semantics stay oracle-checked via
    d_cc_dedup's recursive-CTE closure."""
    d = load(spark, sf_dir, "documents")
    return minhash_lsh_dedup(d, "doc_id", "text", threshold=0.5, impl="md5")


def _q_d_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidate pairs (operators/dedup.py::simhash +
    simhash_near_dups). Oracle-backed since round 14 via the md5 hash
    family: the DuckDB oracle recomputes every 64-bit sign-sum sketch
    bit for bit (±1 contributions per shingle bit position,
    zero-floor sign fold, two's-complement MSB), the top-16-bit
    bucket join, and the bit_count(xor) Hamming filter. Every 5th doc
    gets a PLANTED near-dup copy (one trailing token, id+100000) so
    the fixture yields dozens of pairs — natural near-dups are too
    sparse at sf0.01 to make the hash sensitive to sketch defects.
    The xxhash64 default stays the scale path (pinned by the simhash
    pytest suite)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailingmark")).alias("text"),
    )
    return simhash_near_dups(
        d.unionByName(copies), "doc_id", "text",
        max_hamming=6, hash_impl="md5",
    )


def _q_d_cc_dedup(spark, sf_dir):
    """Component-based dedup: every document labeled with the MIN doc_id
    of its near-dup connected component (transitive closure over the
    exact n-gram-Jaccard pair graph — same edges as d_ngram_jaccard).
    Pair-greedy dedup under-deletes on some pair topologies (survivors
    = ids never appearing as id_b, a superset of the component minima);
    one-per-cluster is the semantics a
    curation pipeline actually wants, and the oracle proves the
    distributed label propagation (operators/dedup.connected_components)
    equals DuckDB's recursive-CTE transitive closure."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        connected_components,
    )

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.2)
    labels = connected_components(pairs)
    return (
        d.select("doc_id")
        .join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )


def _q_t_cluster_split(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/curation.py::
    cluster_split, new round 9): near-dup clusters (connected
    components over the exact n-gram-Jaccard pair graph — the same
    edges d_cc_dedup proves against DuckDB's recursive closure) drive
    the deterministic md5 split, so every member of a cluster lands in
    the same split and no near-duplicate of a test document leaks into
    train. The oracle replays the transitive closure AND the md5
    bucket arithmetic end to end."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        cluster_split,
    )

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.2)
    out = cluster_split(d.select("doc_id"), "doc_id", pairs)
    return out.select("doc_id", "cluster_id", "split")


# Entity resolution (operators/entity.py) ----------------------------------


def _er_dirty_customers(spark, sf_dir):
    """Deterministic dirty-entity fixture: every customer, plus — for
    custkey % 7 == 0 — a typo variant (2nd char dropped, id offset by
    1e8) standing in for the same real-world entity arriving from a
    second system. The last-6-chars block key survives the typo (the
    digits are untouched) and is unique per custkey at any SF, so each
    block holds exactly {original, variant}."""
    c = load(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").cast("bigint").alias("id"),
        "c_name",
        "c_acctbal",
        "c_mktsegment",
    )
    variants = c.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 100000000).cast("bigint").alias("id"),
        F.concat(
            F.substring("c_name", 1, 1), F.expr("substring(c_name, 3)")
        ).alias("c_name"),
        "c_acctbal",
        "c_mktsegment",
    )
    return base.unionByName(variants)


def _q_er_resolve(spark, sf_dir):
    """Entity resolution end-to-end: block on right(name, 6), score
    normalized Levenshtein inside blocks, cluster transitively, label
    every record with its entity id (operators/entity.resolve_entities).
    The general form of the reference's hand-written key-conformance
    surgery (SURVEY.md §2.3 — strip NAS / strip hyphens / split
    prd_key), for when two systems encode one entity with typos instead
    of a fixed rewrite. Oracle replays blocking + levenshtein + a
    recursive-CTE transitive closure."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        resolve_entities,
    )

    dirty = _er_dirty_customers(spark, sf_dir)
    return resolve_entities(
        dirty, "id", "c_name", F.expr("right(c_name, 6)"), threshold=0.9
    ).select("id", "entity_id")


def _q_er_incremental(spark, sf_dir):
    """Steady-state entity resolution (operators/entity.er_incremental):
    the original customers are resolved once and persisted as a
    bucketed ER index; the typo-variant batch then resolves against the
    index only — blocking join + batch-sized clustering, no corpus
    re-resolve — and appends under its assigned labels. The oracle is
    the FULL-resolution recursive CTE over the union, because
    er_incremental's contract (property-tested) is exact equality with
    from-scratch resolution for any split."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_build_index,
        er_entity_labels,
        er_incremental,
        resolve_entities,
    )

    table = "er_idx_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__relabel")
    dirty = _er_dirty_customers(spark, sf_dir)
    key = F.expr("right(c_name, 6)")
    base = dirty.filter(F.col("id") < 100000000)
    batch = dirty.filter(F.col("id") >= 100000000)
    er_build_index(
        resolve_entities(base, "id", "c_name", key, threshold=0.9),
        table, "id", "c_name", key,
    )
    er_incremental(spark, table, batch, "id", "c_name", key, threshold=0.9)
    return er_entity_labels(spark, table)


def _q_er_reblock_incremental(spark, sf_dir):
    """Blocking-key retune on a LIVE standing ER index
    (operators/entity.py::er_reblock_index — the ER member of the r17
    retune family, from the STORED record text, no re-resolution): the
    clean base resolves and indexes under ``right(name, 6)``, the
    even-id half of the typo feed resolves incrementally under that
    key, the index is then REBLOCKED to the sharper ``right(text, 8)``
    and the odd-id half resolves under the new key. In this fixture
    the two keys induce IDENTICAL candidate topology (name tails are
    the zero-padded customer number, so both keys block exactly by
    customer; the typos live at the front of the string), so the final
    labels replay in the same recursive-CTE oracle as er_incremental —
    but a broken reblock is loudly visible: batch 2 blocks at 8 chars
    against an index still carrying 6-char (or garbage) block keys,
    joins nothing, resolves standalone, and fails the label hash."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_build_index,
        er_entity_labels,
        er_incremental,
        er_reblock_index,
        resolve_entities,
    )

    table = "er_reblock_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__relabel")
    dirty = _er_dirty_customers(spark, sf_dir)
    key6 = F.expr("right(c_name, 6)")
    base = dirty.filter(F.col("id") < 100000000)
    batch = dirty.filter(F.col("id") >= 100000000)
    er_build_index(
        resolve_entities(base, "id", "c_name", key6, threshold=0.9),
        table, "id", "c_name", key6,
    )
    er_incremental(
        spark, table, batch.filter(F.col("id") % 2 == 0),
        "id", "c_name", key6, threshold=0.9,
    )
    er_reblock_index(spark, table, F.expr("right(text, 8)"))
    er_incremental(
        spark, table, batch.filter(F.col("id") % 2 == 1),
        "id", "c_name", F.expr("right(c_name, 8)"), threshold=0.9,
    )
    return er_entity_labels(spark, table)


def _q_x1_er_stream(spark, sf_dir):
    """Streaming entity mastering
    (streaming/events.stream_entity_resolution): the typo-variant feed
    arrives as a file stream in single-file micro-batches, each
    resolved against the standing ER index via er_incremental. Because
    the incremental contract is exact for any split, the final label
    state is micro-batching-invariant and the oracle is again the
    full-resolution recursive CTE."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_build_index,
        er_entity_labels,
        resolve_entities,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_entity_resolution,
    )

    table = "er_idx_s_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__relabel")
    dirty = _er_dirty_customers(spark, sf_dir)
    key = F.expr("right(c_name, 6)")
    base = dirty.filter(F.col("id") < 100000000)
    batch = dirty.filter(F.col("id") >= 100000000)
    er_build_index(
        resolve_entities(base, "id", "c_name", key, threshold=0.9),
        table, "id", "c_name", key,
    )
    feed = tempfile.mkdtemp(prefix="er-feed-") + "/feed"
    batch.repartition(3).write.parquet(feed)
    sdf = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_entity_resolution(
        sdf, table, "id", "c_name", key,
        checkpoint_dir=tempfile.mkdtemp(prefix="ck-er-"),
        threshold=0.9,
    )
    return er_entity_labels(spark, table)


def _q_er_golden(spark, sf_dir):
    """Survivorship over the resolved clusters: one golden record per
    entity — membership count, min-id row's name ("earliest" system of
    record), max account balance, deterministic-mode market segment
    (operators/entity.golden_records)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        golden_records,
        resolve_entities,
    )

    dirty = _er_dirty_customers(spark, sf_dir)
    resolved = resolve_entities(
        dirty, "id", "c_name", F.expr("right(c_name, 6)"), threshold=0.9
    )
    return golden_records(
        resolved,
        "entity_id",
        "id",
        {
            "name": ("c_name", "earliest"),
            "max_acctbal": ("c_acctbal", "max"),
            "segment": ("c_mktsegment", "mode"),
        },
    )


# Similarity search (operators/similarity.py) ------------------------------


def _q_d_cosine_dedup(spark, sf_dir):
    """Fifth dedup tier — semantic (embedding-cosine) near-dup removal,
    exact all-pairs impl as the oracle-checked baseline."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        embedding_cosine_dedup,
    )

    e = load(spark, sf_dir, "embeddings")
    return embedding_cosine_dedup(
        e, "vec_id", "embedding", threshold=0.4, impl="exact"
    ).select("vec_id", "label")


def _q_d_cosine_dedup_lsh(spark, sf_dir):
    """Scale path for the semantic tier: hyperplane-LSH bucketed
    candidates (4 tables × 4 planes), exact cosine filter within
    buckets, greedy min-id survivor. Oracle-backed since round 14 via
    the md5 plane family (±1 Rademacher planes, table t regenerated
    from sign_matrix(64, 4, 7+t)): the DuckDB oracle recomputes every
    table's bucket signature, the within-bucket candidate union, the
    cosine threshold and the id_b loser set — so recall is no longer
    "approximate by construction" to the checker, it is replayed
    exactly. d_cosine_dedup stays the exact all-pairs baseline."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        embedding_cosine_dedup,
    )

    e = load(spark, sf_dir, "embeddings")
    return embedding_cosine_dedup(
        e, "vec_id", "embedding", threshold=0.4, impl="lsh",
        n_planes=4, n_tables=4, plane_impl="md5",
    ).select("vec_id", "label")


def _q_v_lsh_topk(spark, sf_dir):
    """Multi-table sign-LSH top-k (operators/similarity.py::lsh_topk).
    Oracle-backed since round 14 via the md5 plane family (±1
    Rademacher hyperplanes regenerated from md5 parity — Charikar SRP
    is valid for any symmetric plane distribution, and ±1 weights make
    every per-plane product exact in doubles): the DuckDB oracle
    regenerates the 64×64 sign matrix, recomputes all 8 tables' 8-bit
    bucket signatures for corpus and queries, replays the 1-bit
    multiprobe expansion, the bucket join, candidate dedup, exact
    cosine and the (cos desc, id) ranking. The gaussian default stays
    the scale path; recall-vs-exact is pinned by pytest."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(
        e.filter(F.col("vec_id") >= 3), q, k=10, dim=64, plane_impl="md5"
    )


def _q_v_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (operators/similarity.py::
    pq_encode/pq_topk): the memory tier of the ANN story — m=8
    one-byte codes replace 64 floats on the corpus side (64×), and
    queries score codes via per-query lookup tables, never touching
    corpus floats. Oracle-backed since round 14 with an ARITHMETIC
    codebook — centroid (j,c,t) = (((j·64+c)·8+t) mod 17 − 8) / 8, all
    exact binary fractions in [−1, 1] — so the entire encode (argmin
    over expanded ‖v‖²−2v·c+‖c‖² with the constant ‖v‖² term shared
    across codes) and ADC scoring (per-subspace squared-diff tables,
    summed, rounded 6 dp, ranked dist-then-id) replays in DuckDB
    arithmetic. pq_train (the k-means fit) stays pytest-pinned
    (test_pq_topk_recall_vs_exact runs the trained path end-to-end);
    the exact twin v_cosine_topk remains the recall baseline."""
    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        PQCodebook,
        pq_encode,
        pq_topk,
    )

    e = load(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 3)
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = np.arange(8 * 64 * 8).reshape(8, 64, 8)
    books = (idx % 17 - 8) / 8.0
    cb = PQCodebook(books, dim=64, seed=0)
    return pq_topk(pq_encode(corpus, cb), q, cb, k=10).select(
        # _adc_scored rebuilds query ids as literals (int32 when they
        # fit); cast back to the input's long so schemas line up
        F.col("query_id").cast("long").alias("query_id"),
        "vec_id", "adc_dist", "rank",
    )


# PQ replay: cb = the arithmetic codebook; enc = per (vector, subspace)
# the argmin-distance code using the SAME expanded form as pq_encode
# (the shared ||v||^2 term drops out of the argmin, so only exact
# -2*v.c and ||c||^2 terms order the codes — summation-order-safe);
# qd = per (query, subspace, code) partial squared distances; final
# score = sum of m lookups, rounded 6, ranked (dist, id).
_SQL_PQ_TOPK = (
    "WITH cb AS (SELECT j, c, t, "
    "(CAST(((j*64 + c)*8 + t) % 17 AS DOUBLE) - 8) / 8 AS val "
    "FROM range(8) _j(j), range(64) _c(c), range(8) _t(t)), "
    "corpus AS (SELECT vec_id, embedding FROM embeddings "
    "WHERE vec_id >= 3), "
    "q AS (SELECT vec_id AS query_id, embedding FROM embeddings "
    "WHERE vec_id < 3), "
    "enc_d AS (SELECT e.vec_id, cb.j, cb.c, "
    "sum(CAST(e.embedding[cb.j*8 + cb.t + 1] AS DOUBLE) * cb.val) "
    "AS vc, sum(cb.val * cb.val) AS cc "
    "FROM corpus e, cb GROUP BY e.vec_id, cb.j, cb.c), "
    "code AS (SELECT vec_id, j, c FROM ("
    "SELECT *, row_number() OVER (PARTITION BY vec_id, j "
    "ORDER BY -2*vc + cc, c) AS rn FROM enc_d) WHERE rn = 1), "
    "qd AS (SELECT q.query_id, cb.j, cb.c, "
    "sum((CAST(q.embedding[cb.j*8 + cb.t + 1] AS DOUBLE) - cb.val) * "
    "(CAST(q.embedding[cb.j*8 + cb.t + 1] AS DOUBLE) - cb.val)) AS pd "
    "FROM q, cb GROUP BY q.query_id, cb.j, cb.c), "
    "adc AS (SELECT qd.query_id, code.vec_id, "
    "round(sum(qd.pd), 6) AS adc_dist "
    "FROM code JOIN qd ON qd.j = code.j AND qd.c = code.c "
    "GROUP BY qd.query_id, code.vec_id) "
    "SELECT query_id, vec_id, adc_dist, CAST(rank AS INT) AS rank FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY adc_dist, vec_id) AS rank FROM adc) WHERE rank <= 10"
)


def _q_v_decontaminate(spark, sf_dir):
    """Embedding-space benchmark decontamination (operators/dedup.py::
    decontaminate_semantic): vec_id < 10 plays the eval suite; every
    corpus vector within cosine 0.4 of ANY bench vector is dropped.
    Exact impl — the bench side broadcasts, so this is |corpus|×|bench|
    JVM dot products with no corpus shuffle; the oracle replays the
    same cosine threshold with NOT EXISTS."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        decontaminate_semantic,
    )

    e = load(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") < 10)
    corpus = e.filter(F.col("vec_id") >= 10)
    return decontaminate_semantic(
        corpus, bench, "vec_id", "embedding", threshold=0.4
    ).select("vec_id", "label")


def _q_v_semantic_dedup(spark, sf_dir):
    """SemDeDup tier (operators/dedup.py::semantic_dedup): KMeans cells
    over the embedding space, within-cell cosine pairs, greedy min-id
    survivors. Oracle-backed since round 14 via the grid-KMeans impl
    (similarity.py::grid_kmeans_fit — md5-seeded init,
    quantized-integer centroid sums, fixed Lloyd rounds) with
    Catalyst-fold within-cell cosines: the DuckDB oracle replays the
    trainer, the cell assignment, every in-cell pair at threshold 0.4,
    and the greedy anti-join. MLlib + the Arrow matmul kernel stay the
    scale path, pinned by
    test_semantic_dedup_matches_exact_on_separated_clusters; the exact
    all-pairs twin d_cosine_dedup remains oracle-green."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    e = load(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, "vec_id", "embedding", threshold=0.4, n_clusters=8, seed=42,
        impl="grid",
    ).select("vec_id", "label")


# Multimodal plumbing (operators/multimodal.py) ----------------------------


def _q_m_decode_images(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    blobs = attach_fake_blobs(d, "text")
    return decode_images(blobs).select("doc_id", "width", "height", "channels")


def _q_m_resize_images(spark, sf_dir):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        resize_images,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    blobs = attach_fake_blobs(d, "text")
    out = resize_images(blobs, target_w=64, target_h=64)
    return out.select(
        "doc_id", F.lower(F.hex("resized")).alias("resized_hex"), "width", "height"
    )


def _q_m_decode_audio(spark, sf_dir):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        decode_audio,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    blobs = attach_fake_blobs(d, "text", mime="audio/fake")
    return decode_audio(blobs).select(
        "doc_id", "sample_rate", "n_channels", "duration_seconds"
    )


def _q_m_media_decode(spark, sf_dir):
    """REAL-codec decode tier end-to-end with an arithmetic oracle
    (operators/multimodal.py::_parse_bmp/_parse_wav — the pure-Python
    uncompressed-format parsers, new round 6): a deterministic 24-bpp
    BMP (width = 1 + doc_id % 13, height = 1 + doc_id % 7) and an
    8 kHz mono WAV (100 + doc_id % 50 frames) are synthesized per
    document, then decoded by the REAL header parsers — the stub tier
    is unreachable for these bytes. Round 7 adds a third real codec:
    a stdlib-zlib PNG (width = 1 + doc_id % 11, height = 1 + doc_id %
    5, RGB/RGBA alternating by parity) decoded through the pure
    inflate+unfilter tier (multimodal.py::_decode_png). The oracle
    recomputes the expected dimensions/duration arithmetically, so a
    parser bug OR a silent fall-through to the sha256 fake
    hash-mismatches immediately."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        decode_audio,
        encode_bmp,
        encode_png,
        encode_wav,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        for pdf in it:
            imgs, wavs, pngs = [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 1 + did % 13, 1 + did % 7
                imgs.append(encode_bmp(w, h, bytes(w * h * 3)))
                wavs.append(encode_wav(8000, 1, b"\x00\x00" * (100 + did % 50)))
                pw, ph = 1 + did % 11, 1 + did % 5
                pch = 3 if did % 2 == 0 else 4
                pngs.append(
                    encode_png(pw, ph, bytes(pw * ph * pch), channels=pch)
                )
            pdf["img"] = imgs
            pdf["wav"] = wavs
            pdf["png"] = pngs
            yield pdf

    blobs = d.mapInPandas(
        make, "doc_id long, img binary, wav binary, png binary"
    )
    out = (
        decode_images(blobs, "png")
        .withColumnRenamed("width", "png_width")
        .withColumnRenamed("height", "png_height")
        .withColumnRenamed("channels", "png_channels")
    )
    out = decode_audio(decode_images(out, "img"), "wav")
    return out.select(
        "doc_id", "width", "height", "channels",
        "png_width", "png_height", "png_channels",
        "sample_rate", "n_channels", "duration_seconds",
    )


def _q_m_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG tier end-to-end with an arithmetic oracle
    (operators/jpeg.py, new round 9): a deterministic gradient image
    (width = 8 + doc_id % 17, height = 8 + doc_id % 11; gray for odd
    ids, RGB for even; 4:2:0 when doc_id % 4 == 0, restart markers
    when doc_id % 8 == 0) is encoded per document by the pure-Python
    encoder, decoded back by the pure-Python Huffman+IDCT decoder
    inside the same Arrow batch (max pixel error vs the source,
    within_tol = err <= 12), and its header re-parsed through the
    decode_images Spark tier. The oracle recomputes dims
    arithmetically and expects within_tol = 1 everywhere — a decoder
    bug, an encoder bug, OR a silent fall-through to the sha256 fake
    hash-mismatches immediately. JPEG is lossy, so the pinned contract
    is a tolerance, never pixel bytes."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        for pdf in it:
            blobs, errs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 17, 8 + did % 11
                ch = 1 if did % 2 else 3
                sub = "420" if (ch == 3 and did % 4 == 0) else "444"
                dri = 2 if did % 8 == 0 else 0
                # non-wrapping linear ramp (max 72+34+20+49 = 175): a
                # smooth field keeps DCT error tiny; a mod-256 sawtooth
                # would add Gibbs ringing at the wrap cliffs and make
                # the tolerance flaky
                px = bytes(
                    x * 3 + y * 2 + c * 10 + did % 50
                    for y in range(h) for x in range(w) for c in range(ch)
                )
                blob = encode_jpeg(
                    w, h, px, channels=ch, quality=92,
                    subsampling=sub, restart_interval=dri,
                )
                dec = decode_jpeg(blob)
                if dec is None or dec[:3] != (w, h, ch):
                    errs.append(255)
                else:
                    errs.append(max(abs(a - b) for a, b in zip(dec[3], px)))
                blobs.append(blob)
            pdf["content"] = blobs
            pdf["px_max_err"] = errs
            yield pdf

    blobs = d.mapInPandas(make, "doc_id long, content binary, px_max_err int")
    out = decode_images(blobs)
    return out.select(
        "doc_id",
        "width",
        "height",
        "channels",
        (F.col("px_max_err") <= 12).cast("int").alias("within_tol"),
    )


def _q_m_video_dedup(spark, sf_dir):
    """Container-level video near-dup detection
    (operators/multimodal.py::frame_hash_pairs, new round 6): sampled
    fixed-size frames → per-frame fingerprint → exact Jaccard over
    distinct frame-hash sets via the shared inverted-index core
    (dedup.set_jaccard_pairs) — re-encodes/trims that preserve most
    sampled frames pair up, unrelated media share nothing. The oracle
    reconstructs the same frame sets from the deterministic fixture
    bytes and replays the set arithmetic."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        frame_hash_pairs,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    blobs = attach_fake_blobs(d, "text")
    return frame_hash_pairs(
        blobs, "doc_id", "content", frame_bytes=16, every_n=2, threshold=0.5
    )


def _q_m_frame_sample(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    blobs = attach_fake_blobs(d, "text")
    frames = sample_frames(blobs, frame_bytes=16, every_n=2)
    return frames.select(
        "doc_id",
        F.col("frame_index").cast("bigint").alias("frame_index"),
        F.hex("frame").alias("frame_hex"),
    )


# Full medallion pipeline (plans/medallion.py) -----------------------------
# CRM/ERP-shaped inputs are synthesized deterministically from the TPC-H
# tables (the same %-pattern dirt-injection used by r7/r8/r9), run through
# the real silver transforms + gold builders, and matched against a DuckDB
# oracle that replays the identical arithmetic.


def _synth_crm_cust_info(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("cst_id"),
        F.col("c_name").alias("cst_key"),
        F.concat(F.lit("  "), F.col("c_name")).alias("cst_firstname"),
        F.concat(F.upper("c_mktsegment"), F.lit(" ")).alias("cst_lastname"),
        F.when(F.col("c_custkey") % 3 == 0, "S")
        .when(F.col("c_custkey") % 3 == 1, "M")
        .otherwise("X")
        .alias("cst_marital_status"),
        F.when(F.col("c_custkey") % 2 == 0, "F")
        .when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("string"))
        .otherwise("M")
        .alias("cst_gndr"),
        F.date_add(
            F.to_date(F.lit("1995-01-01")), (F.col("c_custkey") % 1000).cast("int")
        ).alias("cst_create_date"),
    )
    stale = (
        base.filter(F.col("cst_id") % 10 == 0)
        .withColumn("cst_create_date", F.date_sub(F.col("cst_create_date"), 30))
        .withColumn("cst_firstname", F.lit(" stale "))
    )
    return base.unionByName(stale)


_SQL_CRM_CUST = (
    "base AS (SELECT c_custkey AS cst_id, c_name AS cst_key, "
    "'  ' || c_name AS cst_firstname, upper(c_mktsegment) || ' ' AS cst_lastname, "
    "CASE WHEN c_custkey % 3 = 0 THEN 'S' WHEN c_custkey % 3 = 1 THEN 'M' "
    "ELSE 'X' END AS cst_marital_status, "
    "CASE WHEN c_custkey % 2 = 0 THEN 'F' WHEN c_custkey % 5 = 0 THEN NULL "
    "ELSE 'M' END AS cst_gndr, "
    "DATE '1995-01-01' + CAST(c_custkey % 1000 AS INT) AS cst_create_date "
    "FROM customer), "
    "crm AS (SELECT * FROM base UNION ALL "
    "SELECT cst_id, cst_key, ' stale ', cst_lastname, cst_marital_status, "
    "cst_gndr, cst_create_date - 30 FROM base WHERE cst_id % 10 = 0), "
    "silver_cust AS (SELECT cst_id, cst_key, trim(cst_firstname) AS cst_firstname, "
    "trim(cst_lastname) AS cst_lastname, "
    "CASE upper(trim(cst_marital_status)) WHEN 'S' THEN 'Single' "
    "WHEN 'M' THEN 'Married' ELSE 'n/a' END AS cst_marital_status, "
    "CASE upper(trim(cst_gndr)) WHEN 'F' THEN 'Female' WHEN 'M' THEN 'Male' "
    "ELSE 'n/a' END AS cst_gndr, cst_create_date FROM ("
    "SELECT * FROM crm QUALIFY row_number() OVER (PARTITION BY cst_id "
    "ORDER BY cst_create_date DESC) = 1) WHERE cst_id IS NOT NULL)"
)


def _synth_erp_cust_az12(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 4 != 0).select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.concat(F.lit("NAS"), F.col("c_name"))
        )
        .otherwise(F.col("c_name"))
        .alias("cid"),
        F.when(F.col("c_custkey") % 11 == 0, F.to_date(F.lit("2050-01-01")))
        .otherwise(
            F.date_add(
                F.to_date(F.lit("1960-01-01")), (F.col("c_custkey") % 9000).cast("int")
            )
        )
        .alias("bdate"),
        F.when(F.col("c_custkey") % 6 == 0, "FEMALE")
        .when(F.col("c_custkey") % 6 == 1, "MALE")
        .when(F.col("c_custkey") % 6 == 2, "F")
        .when(F.col("c_custkey") % 6 == 3, "")
        .otherwise(F.lit(None).cast("string"))
        .alias("gen"),
    )


_SQL_ERP_AZ12 = (
    "az12 AS (SELECT CASE WHEN c_custkey % 2 = 0 THEN 'NAS' || c_name "
    "ELSE c_name END AS cid, "
    "CASE WHEN c_custkey % 11 = 0 THEN DATE '2050-01-01' "
    "ELSE DATE '1960-01-01' + CAST(c_custkey % 9000 AS INT) END AS bdate, "
    "CASE WHEN c_custkey % 6 = 0 THEN 'FEMALE' WHEN c_custkey % 6 = 1 THEN 'MALE' "
    "WHEN c_custkey % 6 = 2 THEN 'F' WHEN c_custkey % 6 = 3 THEN '' "
    "ELSE NULL END AS gen FROM customer WHERE c_custkey % 4 <> 0), "
    "silver_az12 AS (SELECT "
    "CASE WHEN cid LIKE 'NAS%' THEN substring(cid, 4) ELSE cid END AS cid, "
    "CASE WHEN bdate > TIMESTAMP '1995-06-01' THEN NULL ELSE bdate END AS bdate, "
    "CASE upper(trim(gen)) WHEN 'F' THEN 'Female' WHEN 'FEMALE' THEN 'Female' "
    "WHEN 'M' THEN 'Male' WHEN 'MALE' THEN 'Male' ELSE 'n/a' END AS gen FROM az12)"
)


def _synth_erp_loc_a101(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 5 != 1).select(
        F.concat(
            F.substring("c_name", 1, 3), F.lit("-"), F.expr("substring(c_name, 4)")
        ).alias("cid"),
        F.when(F.col("c_custkey") % 7 == 0, "DE")
        .when(F.col("c_custkey") % 7 == 1, "US")
        .when(F.col("c_custkey") % 7 == 2, "USA")
        .when(F.col("c_custkey") % 7 == 3, "")
        .when(F.col("c_custkey") % 7 == 4, F.lit(None).cast("string"))
        .when(F.col("c_custkey") % 7 == 5, " France ")
        .otherwise("Canada")
        .alias("cntry"),
    )


_SQL_ERP_LOC = (
    "loc AS (SELECT substring(c_name, 1, 3) || '-' || substring(c_name, 4) AS cid, "
    "CASE WHEN c_custkey % 7 = 0 THEN 'DE' WHEN c_custkey % 7 = 1 THEN 'US' "
    "WHEN c_custkey % 7 = 2 THEN 'USA' WHEN c_custkey % 7 = 3 THEN '' "
    "WHEN c_custkey % 7 = 4 THEN NULL WHEN c_custkey % 7 = 5 THEN ' France ' "
    "ELSE 'Canada' END AS cntry FROM customer WHERE c_custkey % 5 <> 1), "
    "silver_loc AS (SELECT regexp_replace(cid, '-', '', 'g') AS cid, "
    "CASE WHEN trim(cntry) IS NULL OR trim(cntry) = '' THEN 'n/a' "
    "WHEN trim(cntry) = 'DE' THEN 'Germany' "
    "WHEN trim(cntry) IN ('US', 'USA') THEN 'United States' "
    "ELSE trim(cntry) END AS cntry FROM loc)"
)

_SQL_DIMC_CTE = (
    "dimc AS (SELECT row_number() OVER (ORDER BY ci.cst_id) AS customer_key, "
    "ci.cst_id AS customer_id, ci.cst_key AS customer_number, "
    "ci.cst_firstname AS first_name, ci.cst_lastname AS last_name, "
    "la.cntry AS country, ci.cst_marital_status AS marital_status, "
    "CASE WHEN ci.cst_gndr IS NOT NULL AND ci.cst_gndr <> 'n/a' THEN ci.cst_gndr "
    "ELSE coalesce(ca.gen, 'n/a') END AS gender, "
    "CAST(CAST(ca.bdate AS DATE) AS VARCHAR) AS birthdate, "
    "CAST(ci.cst_create_date AS VARCHAR) AS create_date "
    "FROM silver_cust ci LEFT JOIN silver_az12 ca ON ci.cst_key = ca.cid "
    "LEFT JOIN silver_loc la ON ci.cst_key = la.cid)"
)

_SQL_DIM_CUSTOMERS = (
    f"WITH {_SQL_CRM_CUST}, {_SQL_ERP_AZ12}, {_SQL_ERP_LOC}, {_SQL_DIMC_CTE} "
    "SELECT * FROM dimc"
)


def _q_g_dim_customers(spark, sf_dir, scale_safe=True):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
        gold_dim_customers,
        silver_crm_cust_info,
        silver_erp_cust_az12,
        silver_erp_loc_a101,
    )

    cust = silver_crm_cust_info(_synth_crm_cust_info(spark, sf_dir))
    az12 = silver_erp_cust_az12(_synth_erp_cust_az12(spark, sf_dir), as_of="1995-06-01")
    loc = silver_erp_loc_a101(_synth_erp_loc_a101(spark, sf_dir))
    dim = gold_dim_customers(cust, az12, loc, scale_safe=scale_safe)
    return dim.withColumn("birthdate", F.col("birthdate").cast("string")).withColumn(
        "create_date", F.col("create_date").cast("string")
    )


def _q_g_dim_customers_faithful(spark, sf_dir):
    """Reference-faithful parity mode: global-window surrogate key
    (single-task sort — parity testing only; the default is two-phase)."""
    return _q_g_dim_customers(spark, sf_dir, scale_safe=False)


def _synth_crm_prd_info(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    base = p.select(
        F.col("p_partkey").alias("prd_id"),
        F.concat_ws(
            "-",
            F.substring("p_type", 1, 2),
            F.substring("p_brand", 1, 2),
            F.concat(F.lit("P"), F.col("p_partkey").cast("string")),
        ).alias("prd_key"),
        F.col("p_name").alias("prd_nm"),
        F.when(F.col("p_partkey") % 23 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("p_retailprice"))
        .alias("prd_cost"),
        F.when(F.col("p_partkey") % 5 == 0, "M")
        .when(F.col("p_partkey") % 5 == 1, "R")
        .when(F.col("p_partkey") % 5 == 2, "S")
        .when(F.col("p_partkey") % 5 == 3, "T")
        .otherwise("Q")
        .alias("prd_line"),
        F.date_add(
            F.to_date(F.lit("1995-01-01")), (F.col("p_partkey") % 500).cast("int")
        ).alias("prd_start_dt"),
    )
    v2 = base.filter(F.col("prd_id") % 4 == 0).withColumn(
        "prd_start_dt", F.date_add(F.col("prd_start_dt"), 200)
    )
    return base.unionByName(v2)


_SQL_CRM_PRD = (
    "pbase AS (SELECT p_partkey AS prd_id, "
    "substring(p_type, 1, 2) || '-' || substring(p_brand, 1, 2) || '-P' || p_partkey"
    " AS prd_key, p_name AS prd_nm, "
    "CASE WHEN p_partkey % 23 = 0 THEN NULL ELSE p_retailprice END AS prd_cost, "
    "CASE WHEN p_partkey % 5 = 0 THEN 'M' WHEN p_partkey % 5 = 1 THEN 'R' "
    "WHEN p_partkey % 5 = 2 THEN 'S' WHEN p_partkey % 5 = 3 THEN 'T' "
    "ELSE 'Q' END AS prd_line, "
    "DATE '1995-01-01' + CAST(p_partkey % 500 AS INT) AS prd_start_dt FROM part), "
    "prd AS (SELECT * FROM pbase UNION ALL "
    "SELECT prd_id, prd_key, prd_nm, prd_cost, prd_line, prd_start_dt + 200 "
    "FROM pbase WHERE prd_id % 4 = 0), "
    "silver_prd0 AS (SELECT prd_id, prd_key AS full_key, prd_nm, "
    "coalesce(prd_cost, 0) AS prd_cost, "
    "CASE upper(trim(prd_line)) WHEN 'M' THEN 'Mountain' WHEN 'R' THEN 'Road' "
    "WHEN 'S' THEN 'Other Sales' WHEN 'T' THEN 'Touring' ELSE 'n/a' END AS prd_line, "
    "prd_start_dt FROM prd), "
    "silver_prd AS (SELECT prd_id, "
    "replace(substring(full_key, 1, 5), '-', '_') AS cat_id, "
    "substring(full_key, 7) AS prd_key, prd_nm, prd_cost, prd_line, prd_start_dt, "
    "CAST(lead(prd_start_dt) OVER (PARTITION BY full_key "
    "ORDER BY prd_start_dt) - INTERVAL 1 DAY AS DATE) AS prd_end_dt "
    "FROM silver_prd0)"
)


def _synth_px_cat(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    ids = p.select(
        F.concat_ws(
            "_", F.substring("p_type", 1, 2), F.substring("p_brand", 1, 2)
        ).alias("id")
    ).distinct()
    return ids.select(
        "id",
        F.concat(F.lit("CAT-"), F.col("id")).alias("cat"),
        F.concat(F.lit("SUB-"), F.col("id")).alias("subcat"),
        F.when(F.substring("id", 1, 1) <= "M", "Yes").otherwise("No").alias(
            "maintenance"
        ),
    )


_SQL_PX_CAT = (
    "cats AS (SELECT id, 'CAT-' || id AS cat, 'SUB-' || id AS subcat, "
    "CASE WHEN substring(id, 1, 1) <= 'M' THEN 'Yes' ELSE 'No' END AS maintenance "
    "FROM (SELECT DISTINCT substring(p_type, 1, 2) || '_' || "
    "substring(p_brand, 1, 2) AS id FROM part))"
)

_SQL_DIMP_CTE = (
    "dimp AS (SELECT row_number() OVER (ORDER BY pn.prd_start_dt, pn.prd_key) "
    "AS product_key, pn.prd_id AS product_id, pn.prd_key AS product_number, "
    "pn.prd_nm AS product_name, pn.cat_id AS category_id, pc.cat AS category, "
    "pc.subcat AS subcategory, pc.maintenance, pn.prd_cost AS cost, "
    "pn.prd_line AS product_line, CAST(pn.prd_start_dt AS VARCHAR) AS start_date "
    "FROM silver_prd pn LEFT JOIN cats pc ON pn.cat_id = pc.id "
    "WHERE pn.prd_end_dt IS NULL)"
)

_SQL_DIM_PRODUCTS = (
    f"WITH {_SQL_CRM_PRD}, {_SQL_PX_CAT}, {_SQL_DIMP_CTE} SELECT * FROM dimp"
)


def _q_g_dim_products(spark, sf_dir):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
        gold_dim_products,
        silver_crm_prd_info,
        silver_erp_px_cat_g1v2,
    )

    prd = silver_crm_prd_info(_synth_crm_prd_info(spark, sf_dir))
    cat = silver_erp_px_cat_g1v2(_synth_px_cat(spark, sf_dir))
    dim = gold_dim_products(prd, cat)
    return dim.withColumn("start_date", F.col("start_date").cast("string"))


def _synth_crm_sales_details(spark, sf_dir):
    # parallel=True: the silver repair chain downstream is expression-heavy
    # per row, so widening a single-row-group scan pays for its exchange.
    li = load(spark, sf_dir, "lineitem", parallel=True)
    o = load(spark, sf_dir, "orders")
    sd = li.join(o, li.l_orderkey == o.o_orderkey, "inner")
    return sd.select(
        F.concat(F.lit("SO"), F.col("l_orderkey").cast("string")).alias("sls_ord_num"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("sls_prd_key"),
        F.col("o_custkey").alias("sls_cust_id"),
        F.when(F.col("l_orderkey") % 100 == 0, 0)
        .when(F.col("l_orderkey") % 101 == 0, 20231301)
        .otherwise(F.date_format("o_orderdate", "yyyyMMdd").cast("int"))
        .alias("sls_order_dt"),
        F.date_format("l_shipdate", "yyyyMMdd").cast("int").alias("sls_ship_dt"),
        F.date_format(F.date_add("l_shipdate", 30), "yyyyMMdd")
        .cast("int")
        .alias("sls_due_dt"),
        F.when(F.col("l_orderkey") % 13 == 0, F.lit(None).cast("double"))
        .when(F.col("l_orderkey") % 17 == 0, -1.0)
        .when(F.col("l_orderkey") % 19 == 0, F.col("l_extendedprice") + 1.0)
        .otherwise(F.col("l_extendedprice"))
        .alias("sls_sales"),
        F.col("l_quantity").alias("sls_quantity"),
        F.when(F.col("l_orderkey") % 23 == 0, F.lit(None).cast("double"))
        .when(F.col("l_orderkey") % 29 == 0, -5.0)
        .otherwise(F.col("l_extendedprice") / F.col("l_quantity"))
        .alias("sls_price"),
    )


_SQL_CRM_SALES = (
    "sdraw AS (SELECT 'SO' || l_orderkey AS sls_ord_num, "
    "'P' || l_partkey AS sls_prd_key, o_custkey AS sls_cust_id, "
    "CASE WHEN l_orderkey % 100 = 0 THEN 0 WHEN l_orderkey % 101 = 0 THEN 20231301 "
    "ELSE CAST(strftime(o_orderdate, '%Y%m%d') AS INT) END AS sls_order_dt, "
    "CAST(strftime(l_shipdate, '%Y%m%d') AS INT) AS sls_ship_dt, "
    "CAST(strftime(CAST(l_shipdate AS DATE) + 30, '%Y%m%d') AS INT) AS sls_due_dt, "
    "CASE WHEN l_orderkey % 13 = 0 THEN NULL WHEN l_orderkey % 17 = 0 THEN -1.0 "
    "WHEN l_orderkey % 19 = 0 THEN l_extendedprice + 1.0 "
    "ELSE l_extendedprice END AS sls_sales, "
    "l_quantity AS sls_quantity, "
    "CASE WHEN l_orderkey % 23 = 0 THEN NULL WHEN l_orderkey % 29 = 0 THEN -5.0 "
    "ELSE l_extendedprice / l_quantity END AS sls_price "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
    "silver_sales AS (SELECT sls_ord_num, sls_prd_key, sls_cust_id, "
    "CASE WHEN sls_order_dt = 0 OR length(CAST(sls_order_dt AS VARCHAR)) <> 8 "
    "THEN NULL ELSE CAST(try_strptime(CAST(sls_order_dt AS VARCHAR), '%Y%m%d') AS DATE)"
    " END AS sls_order_dt, "
    "CAST(try_strptime(CAST(sls_ship_dt AS VARCHAR), '%Y%m%d') AS DATE) AS sls_ship_dt, "
    "CAST(try_strptime(CAST(sls_due_dt AS VARCHAR), '%Y%m%d') AS DATE) AS sls_due_dt, "
    "CAST(CASE WHEN sls_sales IS NULL OR sls_sales <= 0 "
    "OR sls_sales <> sls_quantity * abs(sls_price) "
    "THEN sls_quantity * abs(sls_price) ELSE sls_sales END AS DOUBLE) AS sls_sales_f, "
    "sls_quantity, sls_price FROM sdraw), "
    "silver_sd AS (SELECT sls_ord_num, sls_prd_key, sls_cust_id, sls_order_dt, "
    "sls_ship_dt, sls_due_dt, sls_sales_f AS sls_sales, sls_quantity, "
    "CASE WHEN sls_price IS NULL OR sls_price <= 0 THEN sls_sales_f / "
    "(CASE WHEN sls_quantity <> 0 THEN sls_quantity ELSE 1 END) "
    "ELSE CAST(sls_price AS DOUBLE) END AS sls_price FROM silver_sales)"
)


def _q_g_fact_sales(spark, sf_dir):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
        gold_fact_sales,
        silver_crm_sales_details,
    )

    sales = silver_crm_sales_details(_synth_crm_sales_details(spark, sf_dir))
    dim_prod = _q_g_dim_products(spark, sf_dir)
    dim_cust = _q_g_dim_customers(spark, sf_dir)
    fact = gold_fact_sales(sales, dim_prod, dim_cust)
    return (
        fact.withColumn("order_date", F.col("order_date").cast("string"))
        .withColumn("shipping_date", F.col("shipping_date").cast("string"))
        .withColumn("due_date", F.col("due_date").cast("string"))
    )


_SQL_FACT_SALES = (
    f"WITH {_SQL_CRM_CUST}, {_SQL_ERP_AZ12}, {_SQL_ERP_LOC}, {_SQL_DIMC_CTE}, "
    f"{_SQL_CRM_PRD}, {_SQL_PX_CAT}, {_SQL_DIMP_CTE}, {_SQL_CRM_SALES} "
    "SELECT sd.sls_ord_num AS order_number, pr.product_key, cu.customer_key, "
    "CAST(sd.sls_order_dt AS VARCHAR) AS order_date, "
    "CAST(sd.sls_ship_dt AS VARCHAR) AS shipping_date, "
    "CAST(sd.sls_due_dt AS VARCHAR) AS due_date, "
    "sd.sls_sales AS sales_amount, sd.sls_quantity AS quantity, "
    "sd.sls_price AS price "
    "FROM silver_sd sd "
    "LEFT JOIN dimp pr ON sd.sls_prd_key = pr.product_number "
    "LEFT JOIN dimc cu ON sd.sls_cust_id = cu.customer_id"
)


def _q_g_fact_sales_pit(spark, sf_dir):
    """Point-in-time star join (operators/joins.py::scd2_pit_join over
    the medallion silver layer, new round 9): each sales fact attaches
    the SCD-2 product VERSION valid at its order date — cost and line
    as they were when the order was placed, not the current row the
    reference's gold join uses. Orders before a product's first
    version (TPC-H dates start 1992, versions 1995+) and NULL order
    dates attach NULLs; superseded versions (every 4th product gets a
    +200-day v2) stop matching the day v2 starts. One
    |facts|+|versions| exchange on the product key (asof union walk) +
    scan-fused validity mask; the oracle replays the BETWEEN validity
    join over the same silver CTEs."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import (
        scd2_pit_join,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
        silver_crm_prd_info,
        silver_crm_sales_details,
    )

    sales = silver_crm_sales_details(
        _synth_crm_sales_details(spark, sf_dir)
    ).select(
        "sls_ord_num",
        # asof's union walk joins on a shared column name
        F.col("sls_prd_key").alias("prd_key"),
        "sls_order_dt",
    )
    prd = silver_crm_prd_info(_synth_crm_prd_info(spark, sf_dir)).select(
        "prd_key", "prd_start_dt", "prd_end_dt", "prd_cost", "prd_line"
    )
    out = scd2_pit_join(
        sales, prd, on="prd_key", fact_ts="sls_order_dt",
        start_col="prd_start_dt", end_col="prd_end_dt",
        dim_cols=["prd_cost", "prd_line"],
    )
    return out.select(
        F.col("sls_ord_num").alias("order_number"),
        F.col("prd_key").alias("product_number"),
        F.col("sls_order_dt").cast("string").alias("order_date"),
        F.col("right_prd_start_dt").cast("string").alias("version_start"),
        F.col("right_prd_cost").alias("version_cost"),
        F.col("right_prd_line").alias("version_line"),
    )


_SQL_FACT_SALES_PIT = (
    f"WITH {_SQL_CRM_PRD}, {_SQL_CRM_SALES} "
    "SELECT sd.sls_ord_num AS order_number, "
    "sd.sls_prd_key AS product_number, "
    "CAST(sd.sls_order_dt AS VARCHAR) AS order_date, "
    "CAST(p.prd_start_dt AS VARCHAR) AS version_start, "
    "p.prd_cost AS version_cost, p.prd_line AS version_line "
    "FROM silver_sd sd LEFT JOIN silver_prd p "
    "ON p.prd_key = sd.sls_prd_key "
    "AND sd.sls_order_dt >= p.prd_start_dt "
    "AND (p.prd_end_dt IS NULL OR sd.sls_order_dt <= p.prd_end_dt)"
)


# Entity-resolution CTEs shared by er_resolve / er_golden: the dirty
# fixture (_er_dirty_customers), last-6-chars blocking, normalized-
# levenshtein scoring, and a recursive-CTE transitive closure mirroring
# operators/entity.resolve_entities + dedup.connected_components.
_SQL_ER_CTES = (
    "base AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name, "
    "c_acctbal AS bal, c_mktsegment AS seg FROM customer "
    "UNION ALL "
    "SELECT CAST(c_custkey + 100000000 AS BIGINT), "
    "substring(c_name, 1, 1) || substring(c_name, 3), c_acctbal, "
    "c_mktsegment FROM customer WHERE c_custkey % 7 = 0), "
    "blk AS (SELECT id, name, right(name, 6) AS b FROM base), "
    "cand AS (SELECT a.id AS id_a, b.id AS id_b "
    "FROM blk a JOIN blk b ON a.b = b.b AND a.id < b.id "
    "WHERE round(1 - levenshtein(a.name, b.name) "
    "/ greatest(length(a.name), length(b.name)), 6) >= 0.9), "
    "edges AS (SELECT id_a AS a, id_b AS b FROM cand "
    "UNION SELECT id_b, id_a FROM cand), "
    "reach AS (SELECT a, b FROM edges "
    "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), "
    "comp AS (SELECT a AS id, least(a, min(b)) AS component "
    "FROM reach GROUP BY a)"
)


# Word-3-gram shingle inverted index -> exact Jaccard on pairs sharing
# >=1 (rare) shingle; mirrors operators/dedup.ngram_jaccard_pairs.
# Shared by d_ngram_jaccard (pair listing) and d_cc_dedup (transitive
# closure over the same edges).
_SQL_NGRAM_PAIR_CTES = (
    "t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks "
    "FROM documents), "
    "s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in generate_series(1, greatest(len(toks) - 2, 0))]) AS sh FROM t), "
    "ex0 AS (SELECT doc_id, unnest(sh) AS shingle FROM s), "
    "rare AS (SELECT shingle FROM ex0 GROUP BY shingle "
    "HAVING count(DISTINCT doc_id) <= 1000), "
    "ex AS (SELECT ex0.doc_id, ex0.shingle FROM ex0 JOIN rare USING (shingle)), "
    "sizes AS (SELECT doc_id, count(DISTINCT shingle) AS sz FROM ex GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
    "FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2), "
    "pairs AS (SELECT id_a, id_b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard "
    "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
    "JOIN sizes sb ON sb.doc_id = id_b "
    "WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.2)"
)


def _q_g_pipeline_runner(spark, sf_dir):
    """Execute the full 15-node medallion DAG through plans/runner.py
    (dependency order with independent nodes run concurrently, catalog
    sinks per node, observe-piggybacked DQ gates, warehouse
    double-write) and return the terminal
    gold.fact_sales table. The runner-wired twin of _q_g_fact_sales:
    same oracle, but the rows travelled bronze → silver → gold through
    materialized catalog tables exactly like the reference's job graph
    (SURVEY.md §3 — 6 bronze → 6 silver → 3 gold via S3/catalog
    handoff). scale_safe=True exercises the two-phase surrogate-key
    path end-to-end."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
        build_pipeline,
    )

    pipe = build_pipeline(as_of="1995-06-01", scale_safe=True)
    pipe.run(
        spark,
        sources={
            "crm_cust_info": _synth_crm_cust_info(spark, sf_dir),
            "crm_prd_info": _synth_crm_prd_info(spark, sf_dir),
            "crm_sales_details": _synth_crm_sales_details(spark, sf_dir),
            "erp_cust_az12": _synth_erp_cust_az12(spark, sf_dir),
            "erp_loc_a101": _synth_erp_loc_a101(spark, sf_dir),
            "erp_px_cat_g1v2": _synth_px_cat(spark, sf_dir),
        },
    )
    fact = spark.table("gold.fact_sales")
    return (
        fact.withColumn("order_date", F.col("order_date").cast("string"))
        .withColumn("shipping_date", F.col("shipping_date").cast("string"))
        .withColumn("due_date", F.col("due_date").cast("string"))
    )


# DQ gate (plans/dq.py) ----------------------------------------------------


def _q_s9_dq_gate(spark, sf_dir):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import (
        DQRule,
        _metrics,
    )

    li = load(spark, sf_dir, "lineitem")
    rules = [
        DQRule("qty_not_null", "not_null", column="l_quantity"),
        DQRule("okey_distinct", "unique", column="l_orderkey"),
        DQRule(
            "disc_range",
            "predicate",
            predicate=(F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
        ),
    ]
    return li.agg(*_metrics(li, rules))


def _q_f17_current_timestamp(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        (F.current_timestamp() > F.lit("2020-01-01").cast("timestamp")).alias(
            "ts_after_2020"
        ),
    )


# JSON payload extraction (§2.8 extension — reference uses no JSON) ---------


def _q_e_json_extract(spark, sf_dir):
    """Parse the events table's JSON ``props`` payload with an explicit
    schema (``from_json`` — JVM-side, codegen'd, no UDF) and aggregate
    the extracted field. The reference's operator surface has no JSON
    functions (SURVEY §2.8: None); the events fixture carries one, so
    the engine covers the family."""
    e = load(spark, sf_dir, "events")
    k = F.from_json("props", "k int")["k"]
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.count("*").alias("n_events"),
            F.sum(F.when(k > 50, 1).otherwise(0)).alias("n_high"),
        )
    )


# Event-time windows ------------------------------------------------------


def _q_x1_tumbling_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def _q_x1_sliding_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n_events", "total_value")
    )


def _q_x1_session_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
        )
    )


def _q_w4_merge_upsert(spark, sf_dir):
    """W4 (extension): CDC-style merge/upsert — updates overwrite
    matching keys, new keys insert, unmatched target rows survive. One
    key shuffle (union + dedup-latest), no join; see
    operators/windows.py::merge_upsert."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        merge_upsert,
    )

    t = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    changed = (
        t.filter(F.col("c_custkey") % 7 == 0)
        .withColumn("c_mktsegment", F.lit("UPDATED"))
    )
    new = t.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"),
        F.concat(F.lit("NEW"), F.col("c_custkey").cast("string")).alias("c_name"),
        F.lit("NEWSEG").alias("c_mktsegment"),
    )
    return merge_upsert(t, changed.unionByName(new), ["c_custkey"])


def _q_j8_star_revenue(spark, sf_dir):
    """TPC-H-Q5-shaped 6-table star join (round 7): revenue per nation
    for orders in 1995 where the supplier and customer share the
    nation — region ⟈ nation ⟈ customer ⟈ orders ⟈ lineitem ⟈
    supplier. The classic multi-way OLAP join: tiny dims broadcast
    (region/nation), the lineitem-orders spine shuffles on the key
    once, the date filter pushes to the orders scan, and AQE reorders
    the rest. Oracle is the identical SQL."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    out = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-01-01"))
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
    return out


def _q_j7_bloom_join(spark, sf_dir):
    """Explicit bloom-pruned semi join (operators/joins.py::
    bloom_semi_join, new round 7): a deterministic xxhash64 bloom built
    over the urgent orders' keys (one driver round-trip of ≤ 1024
    bigint words) prunes the lineitem SCAN before any exchange, then
    the exact semi join runs on the survivors — false positives never
    reach the result, so the bloom only cuts shuffle volume. The
    oracle is the plain semi join: pruning is semantics-free by
    construction, and a hash mismatch means the bloom dropped a true
    match."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import (
        bloom_semi_join,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    urgent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    hit = bloom_semi_join(li, urgent, "l_orderkey")
    return hit.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _q_j_salted_skew(spark, sf_dir):
    """Skew-defeating salted join (operators/joins.py::salted_join —
    see SCALE.md): events.user_id is a hot-key distribution (10k events
    over 150 users). Salting is semantics-preserving, so the result
    hash-matches a plain SQL join — which is exactly the point: same
    answer, hot key spread over ``salt`` reducers."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import (
        salted_join,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, "user_id", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def _q_j6_semi_anti_join(spark, sf_dir):
    """Existence joins: customers WITH at least one open order
    (left_semi) and customers WITHOUT any (left_anti), one flagged
    union — the EXISTS / NOT EXISTS pair. Semi/anti never materialize
    the probe side's payload: the build side reduces to its join key
    (distinct-on-key at the exchange), so at 100 TB the shuffle carries
    keys, not order rows, and AQE broadcasts the reduced side when it
    fits."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O").select(
        "o_custkey"
    )
    on = F.col("c_custkey") == F.col("o_custkey")
    with_open = c.join(o, on, "left_semi").withColumn(
        "order_status", F.lit("with_open_orders")
    )
    without = c.join(o, on, "left_anti").withColumn(
        "order_status", F.lit("no_open_orders")
    )
    return with_open.unionByName(without)


def _q_x2_asof_join(spark, sf_dir):
    """Backward as-of join (union-trick, one shuffle): each purchase
    picks up the latest click at-or-before it by the same user. Oracle
    is DuckDB's native ASOF LEFT JOIN — an independent implementation
    of the same point-in-time semantics."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("purchase_ts"),
        F.col("right_ts").cast("string").alias("click_ts"),
        F.col("right_value").alias("click_value"),
    )


def _q_j9_scd2_pit(spark, sf_dir):
    """SCD-2 point-in-time join (operators/joins.py::scd2_pit_join,
    new round 9): each lineitem attaches the price VERSION valid at
    its ship date. Versions are synthesized deterministically from
    part — three per key starting 1992/1994/1996 (even keys) or
    1993/1995/1997 (odd), inclusive ends at next-start − 1 day; even
    keys' last version CLOSES at 1996-12-31 (facts shipping later fall
    in a validity gap → NULLs), odd keys' stays open. Exercises both
    NULL paths (before-first-version and after-expiry) that a naive
    as-of lookup would get wrong by attaching a stale version. One
    |facts|+|versions| key exchange (asof union walk) + scan-fused
    validity mask; the oracle replays the BETWEEN join directly."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import (
        scd2_pit_join,
    )

    p = load(spark, sf_dir, "part")
    v = p.select(
        "p_partkey", "p_retailprice", F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("v")
    )
    start = F.make_date(
        F.lit(1992) + 2 * F.col("v") + F.col("p_partkey") % 2,
        F.lit(1), F.lit(1),
    )
    next_start = F.make_date(
        F.lit(1994) + 2 * F.col("v") + F.col("p_partkey") % 2,
        F.lit(1), F.lit(1),
    )
    dim = v.select(
        "p_partkey",
        start.alias("start_dt"),
        F.when(F.col("v") < 2, F.date_sub(next_start, 1))
        .when(F.col("p_partkey") % 2 == 0, F.lit("1996-12-31").cast("date"))
        .alias("end_dt"),
        F.round(F.col("p_retailprice").cast("double") + F.col("v"), 2).alias(
            "version_price"
        ),
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_shipdate")
        # asof's union walk joins on a shared column name
        .withColumnRenamed("l_partkey", "p_partkey")
    )
    out = scd2_pit_join(
        li, dim, on="p_partkey", fact_ts="l_shipdate",
        dim_cols=["version_price"],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.col("p_partkey").alias("l_partkey"),
        F.col("l_shipdate").cast("string").alias("ship_date"),
        F.col("right_start_dt").cast("string").alias("valid_from"),
        F.col("right_end_dt").cast("string").alias("valid_to"),
        F.col("right_version_price").alias("version_price"),
    )


def _q_x2_asof_forward(spark, sf_dir):
    """FORWARD as-of join (operators/joins.py::asof_join
    direction=\"forward\", new round 7): each click picks up the
    earliest purchase at-or-after it by the same user — the same
    single-shuffle union walk as the backward form with the timestamp
    order reversed. Oracle is DuckDB's native ASOF LEFT JOIN with the
    comparison flipped (p.ts <= c.ts) — an independent implementation
    of forward point-in-time semantics."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import asof_join

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["value"], direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("click_ts"),
        F.col("right_ts").cast("string").alias("purchase_ts"),
        F.col("right_value").alias("purchase_value"),
    )


def _q_x2_range_join(spark, sf_dir):
    """Binned interval join (equi-join on epoch bins, exact post-filter
    — never a nested loop): every error within 5 minutes after any
    signup, no equality key. Oracle is DuckDB's inequality join (IEJoin)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import range_join

    e = load(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("ts").alias("signup_ts")
    )
    x = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    out = range_join(s, x, "signup_ts", "error_ts", 300.0)
    return out.select("signup_id", "error_id")


def _q_x2_funnel(spark, sf_dir):
    """Ordered conversion funnel view → click → purchase
    (operators/windows.py::funnel_counts, new round 6): per-step user
    counts where each stage must occur STRICTLY AFTER the user's
    earliest qualifying previous stage. len(steps) user-keyed shuffles
    over shrinking frontiers, scan pruned per event type; the oracle
    replays the identical min-frontier recursion."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        funnel_counts,
    )

    ev = load(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"])


def _q_x2_resample_ffill(spark, sf_dir):
    """Hypertable-style fixed-interval resampling with gap fill
    (operators/windows.py::resample_ffill, new round 6): per-user
    hourly grid between each user's first and last event — event
    counts (0 in gaps), per-bucket value sums, and the
    last-observation-carried-forward series. Per-key bounded sequence
    explode + one key+bucket agg + key-partitioned fill window; the
    oracle replays the grid and LOCF with IGNORE NULLS."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        resample_ffill,
    )

    ev = load(spark, sf_dir, "events")
    out = resample_ffill(ev, "user_id", "ts", 3600, value_col="value")
    return out.select(
        "user_id",
        "bucket",
        "n_events",
        F.round("bucket_value", 6).alias("bucket_value"),
        F.round("filled_value", 6).alias("filled_value"),
    )


def _q_x2_sessionize(spark, sf_dir):
    """Per-event session ASSIGNMENT rolled to session grain
    (operators/windows.py::sessionize/session_stats, new round 7): an
    event starts a new session when its gap to the user's previous
    event exceeds 30 minutes; sessions then roll up to (n_events,
    start, end, duration). One user-keyed shuffle carries the lag, the
    running sum AND the rollup (same key); gap arithmetic is integer
    microseconds so the oracle replays bit-identically via epoch_us."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        session_stats,
    )

    ev = load(spark, sf_dir, "events")
    out = session_stats(
        ev, "user_id", "ts", 1800, tiebreak_cols=["event_id"]
    )
    return out.select(
        "user_id",
        "session_index",
        "n_events",
        F.col("session_start").cast("string").alias("session_start"),
        F.col("session_end").cast("string").alias("session_end"),
        "duration_seconds",
    )


def _q_x2_sessionize_chunked(spark, sf_dir):
    """Skew-bounded sessionization (operators/windows.py::
    _sessionize_chunked, new round 9): same 30-min-gap sessions as
    x2_sessionize but pre-sessionized per (user, 1-hour chunk) and
    fused on chunk-grain metadata — the hot-key straggler bound (one
    task per key-chunk instead of one task per key's full history).
    Output-identical by construction, so it shares x2_sessionize's
    oracle SQL verbatim."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        session_stats,
    )

    ev = load(spark, sf_dir, "events")
    out = session_stats(
        ev, "user_id", "ts", 1800, tiebreak_cols=["event_id"],
        chunk_seconds=3600,
    )
    return out.select(
        "user_id",
        "session_index",
        "n_events",
        F.col("session_start").cast("string").alias("session_start"),
        F.col("session_end").cast("string").alias("session_end"),
        "duration_seconds",
    )


def _q_x2_retention(spark, sf_dir):
    """Weekly cohort retention (operators/windows.py::
    retention_cohorts, new round 7): users bucketed by the integer
    week of their first event; per (cohort, week offset), how many
    return, with retention_rate against the cohort size. Distinct
    (user, week) pairs → per-user min-week → one (cohort, offset)
    count-distinct shuffle — no event-grain window; the oracle replays
    the identical integer-week arithmetic."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        retention_cohorts,
    )

    ev = load(spark, sf_dir, "events")
    return retention_cohorts(ev, "user_id", "ts", 7 * 86400)


def _q_w6_rolling_median(spark, sf_dir):
    """EXACT rolling median of the trailing 5 events per user
    (operators/windows.py::rolling_quantile, new round 7): Spark's
    exact percentile aggregate over a row-bounded window — no approx
    sketch, no Python, one key-partitioned sort. The oracle is
    DuckDB's quantile_cont over the identical frame."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        rolling_quantile,
    )

    ev = load(spark, sf_dir, "events")
    out = rolling_quantile(
        ev, "user_id", "value", 0.5, 5, ("ts", "event_id")
    )
    return out.select("event_id", "user_id", "rolling_q")


def _q_x2_interarrival(spark, sf_dir):
    """Per-event-type inter-arrival-gap profile (operators/windows.py::
    interarrival_stats, new round 7): consecutive-event gaps in
    microsecond-exact seconds aggregated to count/avg/exact-median/max
    — the operational heartbeat question as one window + one agg on
    the same key (a single shuffle end-to-end)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        interarrival_stats,
    )

    ev = load(spark, sf_dir, "events")
    return interarrival_stats(
        ev, "event_type", "ts", tiebreak_cols=["event_id"]
    )


def _q_x1_retention_stream(spark, sf_dir):
    """Streaming cohort retention (streaming/events.py::
    stream_incremental_distinct + operators/windows.py::
    retention_from_pairs, new round 7): the distinct (user, week)
    pairs accumulate in an append-only state table (each batch
    anti-joins the standing table and appends only NEW tuples —
    tuple-level idempotent under redelivery), then the cohort rollup
    reads the state instead of replaying the stream. Must hash-match
    the batch x2_retention oracle exactly — distinct-pair accumulation
    is order-insensitive by construction."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        retention_from_pairs,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_incremental_distinct,
    )

    table = "retention_pairs_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sdf = _stream_events_src(spark, sf_dir)
    pairs = sdf.select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp"))
            / (7 * 86400 * 1_000_000)
        )
        .cast("bigint")
        .alias("period"),
    )
    with tempfile.TemporaryDirectory() as ck:
        stream_incremental_distinct(
            pairs, table, ck, ["user_id", "period"],
            query_name="x1_retention_stream",
        )
    return retention_from_pairs(spark.table(table), "user_id", "period")


def _q_x2_transitions(spark, sf_dir):
    """Event path analysis (operators/windows.py::event_transitions,
    new round 7): Markov transition counts over per-user event
    streams — (from, to) pair counts plus each source's outgoing
    share. One user-keyed lead window; the count agg and share window
    run over the |event types|² transition domain (metadata-scale).
    Oracle replays the lead + counts + share window."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        event_transitions,
    )

    ev = load(spark, sf_dir, "events")
    return event_transitions(
        ev, "user_id", "ts", "event_type", tiebreak_cols=["event_id"]
    )


def _q_x2_interval_join(spark, sf_dir):
    """Equi-key + time-interval join (streaming/events.py::interval_join):
    every purchase by the same user within 2 hours AFTER each click —
    the attribution join. Batch compilation: one shuffle per side on
    user_id, range predicate as join filter. The oracle is DuckDB's
    inequality join over the same predicate."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        interval_join,
    )

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    out = interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts", "2 hours"
    )
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.col("click_ts").cast("string").alias("click_ts"),
        F.col("purchase_ts").cast("string").alias("purchase_ts"),
    )


def _q_x1_interval_stream(spark, sf_dir):
    """Stream-stream interval join: the SAME attribution join as
    x2_interval_join with BOTH sides under readStream — Spark's
    symmetric stateful join, state bounded by the two watermarks plus
    the range condition (clicks evict after watermark + 2 h, purchases
    after watermark). Drained with availableNow in append mode (each
    match emits exactly once when it forms) and must hash-match the
    identical batch DuckDB oracle."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        interval_join,
        run_available_now,
    )

    s1 = _stream_events_src(spark, sf_dir)
    s2 = _stream_events_src(spark, sf_dir)
    clicks = s1.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = s2.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts", "2 hours",
        watermark="2 hours",
    )
    out = run_available_now(joined, "x1_interval_stream_tbl", output_mode="append")
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.col("click_ts").cast("string").alias("click_ts"),
        F.col("purchase_ts").cast("string").alias("purchase_ts"),
    )


def _stream_events_src(spark, sf_dir, suffix="", copies=("events.parquet",)):
    """Shared streaming-source setup for the x1_*_stream queries.

    The streaming file source needs a DIRECTORY; symlink the testdata
    parquet file into one (a real deployment streams from a landing
    dir — ``copies`` > 1 simulates at-least-once redelivery). The ts
    physical layout (nanos / NTZ-micros / LTZ-micros — it has varied
    across testdata generations) is detected from the parquet footer by
    :func:`stream_events_auto` and normalized to a UTC-session
    TIMESTAMP, matching ``session.load``.
    """
    import os

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_events_auto,
    )

    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.join(sf_dir, "events.parquet")
    stream_dir = "/tmp/sg_stream_" + suffix + _fixture_key(sf_dir)
    os.makedirs(stream_dir, exist_ok=True)
    for name in copies:
        link = os.path.join(stream_dir, name)
        if not os.path.exists(link):
            os.symlink(src, link)
    return stream_events_auto(spark, stream_dir)


def _q_x1_hist_stream(spark, sf_dir):
    """Streaming quantile state (streaming/events.py::
    stream_histogram_sketch, new round 6): the event stream's values
    land as per-batch histogram bins merged into a persisted sketch
    table, then per-event-type p50/p90/p99 rank over the WHOLE streamed
    history. Because histogram merge is lossless (bins only add), this
    is the batch a1_hist_quantile computed incrementally — and unlike
    the hash-based sketch streams it is ORACLE-BACKED: the oracle is
    the identical batch binning SQL."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hist_quantile,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_histogram_sketch,
    )

    table = "hist_stream_q_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sdf = _stream_events_src(spark, sf_dir)
    with tempfile.TemporaryDirectory() as ck:
        stream_histogram_sketch(
            sdf, table, ck, keys=["event_type"], value_col="value",
            lo=0.0, hi=1000.0, n_bins=256, query_name="x1_hist_stream",
        )
    return hist_quantile(
        spark.table(table), ["event_type"], [0.5, 0.9, 0.99], 0.0, 1000.0, 256
    )


def _q_s16_quarantine(spark, sf_dir):
    """Row-level DQ routing (plans/dq.py::quarantine_split, new round
    7 — the dead-letter pattern): rows failing any row-expressible
    rule route to quarantine carrying the SORTED list of every rule
    they broke; clean rows pass unchanged. Two filters over one shared
    scan-fused projection, no shuffle. Oracle replays the routing and
    the failed-rule list as CASE arithmetic."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import (
        DQRule,
        quarantine_split,
    )

    ev = load(spark, sf_dir, "events")
    rules = [
        DQRule("value_small", "predicate", predicate=F.col("value") < 50),
        DQRule("no_errors", "predicate", predicate=F.col("event_type") != "error"),
    ]
    good, bad = quarantine_split(ev, rules)
    return good.select(
        "event_id", F.lit("good").alias("routed"), F.lit("").alias("failed_rules")
    ).unionByName(
        bad.select(
            "event_id",
            F.lit("quarantine").alias("routed"),
            F.array_join("_dq_failed", ",").alias("failed_rules"),
        )
    )


def _q_x1_quarantine_stream(spark, sf_dir):
    """Streaming dead-letter routing (streaming/events.py::
    stream_quarantine, new round 7): every micro-batch splits through
    the same quarantine_split — clean rows append to one table,
    violators (with their rule list) to another, so bad input never
    stops the pipeline OR silently disappears. Reading both tables
    back must hash-match the batch s16_quarantine oracle exactly."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import DQRule
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_quarantine,
    )

    key = _fixture_key(sf_dir)
    good_t, bad_t = f"dq_good_{key}", f"dq_bad_{key}"
    spark.sql(f"DROP TABLE IF EXISTS {good_t}")
    spark.sql(f"DROP TABLE IF EXISTS {bad_t}")
    rules = [
        DQRule("value_small", "predicate", predicate=F.col("value") < 50),
        DQRule("no_errors", "predicate", predicate=F.col("event_type") != "error"),
    ]
    sdf = _stream_events_src(spark, sf_dir)
    with tempfile.TemporaryDirectory() as ck:
        stream_quarantine(
            sdf, good_t, bad_t, ck, rules, query_name="x1_quarantine_stream"
        )
    return (
        spark.table(good_t)
        .select(
            "event_id",
            F.lit("good").alias("routed"),
            F.lit("").alias("failed_rules"),
        )
        .unionByName(
            spark.table(bad_t).select(
                "event_id",
                F.lit("quarantine").alias("routed"),
                F.array_join("_dq_failed", ",").alias("failed_rules"),
            )
        )
    )


def _q_x1_sessionize_stream(spark, sf_dir):
    """Incremental sessionization (streaming/events.py::
    stream_sessionize, new round 7): per-batch session intervals fused
    into a persisted session table — order-insensitive by construction
    (interval fusion reconstructs the unique session partition of the
    streamed point set), so the table read back through
    session_table_stats must HASH-MATCH the batch x2_sessionize oracle
    exactly. State is one row per session and compacts as sessions
    fuse; only batch-touched keys pass through the fuse window."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        session_table_stats,
        stream_sessionize,
    )

    table = "sess_stream_q_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sdf = _stream_events_src(spark, sf_dir)
    with tempfile.TemporaryDirectory() as ck:
        stream_sessionize(
            sdf, table, ck, key_col="user_id", ts_col="ts",
            gap_seconds=1800, query_name="x1_sessionize_stream",
        )
    out = session_table_stats(spark, table, "user_id")
    return out.select(
        "user_id",
        "session_index",
        "n_events",
        F.col("session_start").cast("string").alias("session_start"),
        F.col("session_end").cast("string").alias("session_end"),
        "duration_seconds",
    )


def _q_x1_tumbling_stream(spark, sf_dir):
    """Structured Streaming path: the SAME tumbling aggregation as
    x1_tumbling_window compiled as an incremental stateful plan
    (readStream → window agg → availableNow memory sink) — and it must
    hash-match the identical batch DuckDB oracle."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        run_available_now,
        tumbling_counts,
    )

    sdf = _stream_events_src(spark, sf_dir)
    agg = tumbling_counts(sdf, "1 hour", watermark="2 hours")
    out = run_available_now(agg, "x1_stream_tbl")
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def _q_x1_sliding_stream(spark, sf_dir):
    """Structured Streaming twin of x1_sliding_window: the identical
    hopping-window aggregation compiled incrementally (readStream →
    window(1h, 30m) agg → availableNow memory sink) — hash-matches the
    same batch DuckDB oracle, completing stream/batch parity for every
    window shape the engine ships (tumbling, sliding, session)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        run_available_now,
        sliding_counts,
    )

    sdf = _stream_events_src(spark, sf_dir)
    agg = sliding_counts(sdf, "1 hour", "30 minutes", watermark="2 hours")
    out = run_available_now(agg, "x1_sliding_stream_tbl")
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "n_events",
        "total_value",
    )


def _q_x1_stream_warehouse(spark, sf_dir):
    """Streaming→warehouse: the tumbling aggregation landed through
    foreachBatch into the SAME WarehouseSink the batch gold writes use
    (streaming/events.py::stream_to_warehouse — the streaming twin of
    the reference's gold→Snowflake write, dim_customers_gold.py:72-81).
    The landed table must hash-match the identical batch oracle."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        WarehouseSink,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_to_warehouse,
        tumbling_counts,
    )

    sdf = _stream_events_src(spark, sf_dir)
    agg = tumbling_counts(sdf, "1 hour", watermark="2 hours")
    with tempfile.TemporaryDirectory() as ck:
        stream_to_warehouse(
            agg, WarehouseSink(), "wh_stream_tumbling_q", ck,
            query_name="x1_stream_wh",
        )
    return spark.table("wh_stream_tumbling_q").select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def _q_x1_cms_stream(spark, sf_dir):
    """Streaming heavy-hitter state: the event stream's user_id
    frequencies land as per-batch count-min grids merged into a
    persisted sketch table (streaming/events.py::stream_frequency_sketch),
    then the top-20 candidates rank by sketch estimate over the WHOLE
    streamed history. Because CMS merge is lossless (sum of grids ==
    grid of union, pinned by test_stream_frequency_sketch_*), this is
    the batch a1_cms_topk computed incrementally — identical rows,
    and (round 14) hash-checked against the same md5-family DuckDB
    oracle as the batch twin."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        cms_lookup,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_frequency_sketch,
    )

    # per-(sf_dir) table name like every other stateful query here —
    # a shared fixed name would let sf0.01/sf0.1 (or concurrent
    # harness runs) clobber each other's sketch state
    table = "cms_stream_q_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    sdf = _stream_events_src(spark, sf_dir).withColumn("day", F.to_date("ts"))
    with tempfile.TemporaryDirectory() as ck:
        stream_frequency_sketch(
            sdf, table, ck, keys=["day"], value_col="user_id",
            depth=5, width=4096, hash_impl="md5",
            query_name="x1_cms_stream",
        )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        cms_merge,
    )

    merged = cms_merge(spark.table(table), [])
    probes = ev.select("user_id").distinct()
    return (
        cms_lookup(
            merged, probes, "user_id", depth=5, width=4096,
            hash_impl="md5",
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(20)
    )


def _q_x1_hll_stream(spark, sf_dir):
    """Streaming distinct-count state: per-event_type register-level
    HLL sketches of distinct users, max-merged across micro-batches
    into a persisted register table
    (streaming/events.py::stream_distinct_sketch), then estimated over
    the WHOLE streamed history. Register max-merge is lossless AND
    idempotent (redelivery cannot inflate a max), so the drained
    stream equals the batch sketch of all events — hash-checked
    against the same md5-family DuckDB oracle shape as the batch twin
    a1_hll_rollup."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hll_register_estimate,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_distinct_sketch,
    )

    table = "hll_stream_q_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sdf = _stream_events_src(spark, sf_dir)
    with tempfile.TemporaryDirectory() as ck:
        stream_distinct_sketch(
            sdf, table, ck, keys=["event_type"], value_col="user_id",
            hash_impl="md5", query_name="x1_hll_stream",
        )
    state = spark.table(table).drop("_applied_batch")
    return hll_register_estimate(
        state, ["event_type"], out_col="approx_users"
    )


def _q_x1_ann_stream(spark, sf_dir):
    """Streaming ANN ingest steady state
    (streaming/events.py::stream_ivf_append): a grid-IVF index is
    built on the even-id half of the corpus (centroids trained there),
    the odd-id half arrives as two embedding micro-batches appended
    through the standing index's exact grid assignment, then the
    queries probe the accreted index. Because grid appends assign
    through the SAME exact Catalyst path as the build, the drained
    stream equals one index over the whole corpus with even-trained
    centroids — the DuckDB oracle replays the even-only training, the
    full-corpus assignment, the probes, and the cosine ranking."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_ivf_append,
    )

    e = load(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 3)
    table = "ann_stream_q_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    centroids = ivf_build_index(
        corpus.filter(F.col("vec_id") % 2 == 0), table, n_clusters=16,
        impl="grid",
    )
    odds = corpus.filter(F.col("vec_id") % 2 == 1)
    feed = tempfile.mkdtemp(prefix="ann-stream-feed-")
    for res in (1, 3):
        odds.filter(F.col("vec_id") % 4 == res).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in odds.schema.fields
    )
    sdf = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    with tempfile.TemporaryDirectory() as ck:
        stream_ivf_append(
            sdf, table, centroids, ck, query_name="x1_ann_stream"
        )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_query_index(spark, table, q, centroids, k=10)


def _q_x1_stateful_totals(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals. Drained with availableNow over a single input file
    (= one micro-batch), every user emits exactly one complete-state
    row, so the result equals the plain batch GROUP BY — an exact
    oracle for the escape-hatch operator the built-in aggregates can't
    express incrementally."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        run_available_now,
        running_user_totals,
    )

    sdf = _stream_events_src(spark, sf_dir)
    out = run_available_now(
        running_user_totals(sdf), "x1_stateful_tbl", output_mode="update"
    )
    return out.select("user_id", "n_events", "total_value")


def _q_x1_stream_enrich(spark, sf_dir):
    """Stream-static join: event stream enriched with the (static)
    customer dim — broadcast per micro-batch, zero shuffle, zero
    streaming state (streaming/events.py::stream_static_join) — then a
    stateful agg by segment×type; hash-matches the batch join oracle."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        run_available_now,
        stream_static_join,
    )

    sdf = _stream_events_src(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream_static_join(sdf, cust, F.col("c_custkey") == F.col("user_id"))
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_available_now(agg, "x1_stream_enrich_tbl")


def _q_x1_session_stream(spark, sf_dir):
    """Structured Streaming session windows: the SAME gap-based
    sessionization as x1_session_window compiled as an incremental
    stateful plan (session_window + watermark merges adjacent state
    across micro-batches) — must hash-match the identical batch DuckDB
    oracle."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        run_available_now,
        sessionized,
    )

    sdf = _stream_events_src(spark, sf_dir)
    sess = sessionized(sdf, "30 minutes", watermark="2 hours")
    out = run_available_now(sess, "x1_session_stream_tbl")
    return out.select(
        "user_id",
        F.col("session_start").cast("string").alias("session_start"),
        "n_events",
    )


def _q_x1_stream_dedup(spark, sf_dir):
    """Streaming exactly-once dedup: the input directory carries TWO
    copies of every event (simulated at-least-once redelivery);
    ``dropDuplicatesWithinWatermark`` on event_id restores exactly one.
    Duplicate rows are identical, so the kept-row choice is immaterial
    and the result hash-matches the batch DuckDB oracle."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        dedup_events,
        run_available_now,
    )

    sdf = _stream_events_src(
        spark, sf_dir, suffix="dup_",
        copies=("events_a.parquet", "events_b.parquet"),
    )
    deduped = dedup_events(sdf, ("event_id",), watermark="2 hours")
    out = run_available_now(deduped, "x1_stream_dedup_tbl", output_mode="append")
    return out.select(
        "event_id",
        F.col("ts").cast("string").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


# IO layer (sources/io.py) -------------------------------------------------


def _q_s4_csv_source(spark, sf_dir):
    """S4: schema'd CSV read (no inference). The fixture is materialized
    from the parquet `nation` table once per (sf_dir) into /tmp."""
    import os

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import read_csv

    out = "/tmp/sg_csv_" + _fixture_key(sf_dir) + "/nation"
    if not os.path.exists(out):
        load(spark, sf_dir, "nation").write.mode("overwrite").option(
            "header", "true"
        ).csv(out)
    return read_csv(
        spark,
        out,
        schema="n_nationkey int, n_name string, n_regionkey int",
    )


def _q_s6_partition_pruning(spark, sf_dir):
    """S6 at scale: partitioned parquet table write, then a filtered
    read that PRUNES — only the selected partition's files are listed
    or scanned (plan shows the partition filter; asserted in
    tests/test_io.py::test_partitioned_write_prunes). At 100 TB this is
    the difference between scanning 2 TB and 100 TB for a one-segment
    query."""
    import os

    path = "/tmp/sg_part_" + _fixture_key(sf_dir) + "/orders_by_status"
    if not os.path.exists(path):
        (
            load(spark, sf_dir, "orders")
            .write.mode("overwrite")
            .format("parquet")
            .option("compression", "snappy")
            .partitionBy("o_orderstatus")
            .option("path", path)
            .saveAsTable("sg_orders_part")
        )
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def _q_s6_s1_table_roundtrip(spark, sf_dir):
    """S6 + S1: parquet+snappy write with catalog registration, then a
    catalog table scan reads it back (external location so the round
    trip works under any caller-provided session)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import read_parquet

    path = "/tmp/sg_tbl_" + _fixture_key(sf_dir) + "/region"
    (
        load(spark, sf_dir, "region")
        .write.mode("overwrite")
        .format("parquet")
        .option("compression", "snappy")
        .option("path", path)
        .saveAsTable("sg_region_rt")
    )
    return spark.table("sg_region_rt")


def _q_s13_orc_roundtrip(spark, sf_dir):
    """ORC sink + scan (sources/io.py): write nation as an ORC+snappy
    catalog table through the same stage-and-swap writer as parquet,
    read it back, and aggregate — proving the second columnar lake
    format end-to-end. The oracle computes the same aggregate straight
    off the parquet fixture (the round trip must be lossless)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import write_table

    table = "sg_nation_orc_" + _fixture_key(sf_dir)
    write_table(
        load(spark, sf_dir, "nation"), table, format="orc",
        bloom_filter_cols=["n_name"],
    )
    return (
        spark.table(table)
        .groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_name"),
        )
    )


def _q_s7_warehouse_sink(spark, sf_dir):
    """S7: warehouse-sink abstraction (catalog backend locally; the same
    interface carries JDBC/Snowflake options on a real cluster)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import WarehouseSink

    sink = WarehouseSink(backend="catalog")
    df = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sink.write(df, "sg_wh_nation")
    return spark.table("sg_wh_nation")


def _q_v_cosine_pairs(spark, sf_dir):
    """Exact embedding near-dup pairs (cosine >= threshold) — the
    correctness baseline for LSH near-dup mining. O(n²) by construction:
    at 100 TB use lsh_topk / minhash instead (this is the oracle)."""
    e = load(spark, sf_dir, "embeddings")
    # norms projected per ROW before the pair join (cosine_from_norms):
    # per-pair work is only the dot product — measured 11.5 s -> ~2.5 s
    # at sf0.01 vs the inline cosine_similarity form
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        lf.l2_norm("embedding").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        lf.l2_norm("embedding").alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(lf.cosine_from_norms("va", "vb", "na", "nb"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


def _q_s4_json_source(spark, sf_dir):
    """S4-adjacent: JSON-lines source with explicit schema."""
    import os

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import read_json

    out = "/tmp/sg_json_" + _fixture_key(sf_dir) + "/region"
    if not os.path.exists(out):
        load(spark, sf_dir, "region").write.mode("overwrite").json(out)
    return read_json(spark, out, schema="r_regionkey int, r_name string")


def _q_a1_cube(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


def _q_a1_approx_distinct(spark, sf_dir):
    # rows-only: HLL sketches differ between engines by construction;
    # the exact twin a1_count_distinct is the oracle-checked reference.
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_cust")
    )


def _q_a1_approx_percentile(spark, sf_dir):
    """The 100 TB form of a1_percentile: approx_percentile's mergeable
    map-side sketch (Greenwald-Khanna in Spark) replaces the per-group
    sort — no per-group materialization, partial-aggregated like any
    sum. Rows-only: sketch estimates differ between engines by
    construction; the exact twin a1_percentile is oracle-checked, and
    tests/test_cleansing.py::test_approx_percentile_within_bound pins
    the estimate against the exact values with the accuracy-parameter
    error bound."""
    li = load(spark, sf_dir, "lineitem")
    acc = 10_000  # max rank error = n / acc
    return li.groupBy("l_returnflag").agg(
        F.expr(f"approx_percentile(l_quantity, 0.5, {acc})").alias("median_qty"),
        F.expr(f"approx_percentile(l_quantity, 0.9, {acc})").alias("p90_qty"),
        F.expr(f"approx_percentile(l_extendedprice, 0.25, {acc})").alias(
            "p25_price"
        ),
    )


def _q_o1_intersect(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


def _q_p3_p5_p9_field_ops(spark, sf_dir):
    """P3 field projection + P5 drop + P9 alias-qualified columns."""
    n = load(spark, sf_dir, "nation").alias("n")
    r = load(spark, sf_dir, "region").alias("r")
    joined = n.join(r, F.col("n.n_regionkey") == F.col("r.r_regionkey"), "left")
    return joined.select(
        F.col("n.n_nationkey").alias("nation_id"),
        F.col("n.n_name").alias("nation_name"),
        F.col("r.r_name").alias("region_name"),
        F.col("n.n_regionkey").alias("to_drop"),
    ).drop("to_drop")


def _q_v_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (operators/similarity.py::ivf_topk).
    Oracle-backed since round 14 via the deterministic grid-KMeans
    trainer (impl="grid" — md5-seeded init, quantized-integer centroid
    sums so no float aggregation order exists, fixed Lloyd rounds,
    tie-broken assignments): the DuckDB oracle replays the init, every
    Lloyd iteration, the corpus assignment, the n_probe=4 query probe,
    and the in-cell cosine ranking. MLlib KMeans stays the scale-path
    default (impl="mllib"), pinned by the IVF recall pytest; the exact
    twins v_cosine_topk / v_cosine_pairs remain oracle-green."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_topk,
    )

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e.filter(F.col("vec_id") >= 3), q, k=10, impl="grid")


def _q_v_ivf_index_topk(spark, sf_dir):
    """Write-once/query-many IVF: the cell-PARTITIONED catalog index
    table, queried with a static partition filter (directories pruned
    at listing time — asserted in tests/test_dedup_similarity.py).
    Oracle-backed since round 14 via the grid-KMeans impl on BOTH the
    build and the probe — cells, probes, and the cosine ranking are
    the same replayable arithmetic as v_ivf_topk, and partition
    pruning is layout-only, so the two entries share one DuckDB
    oracle. MLlib stays the scale-path default."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    table = "ivf_index_grid_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    centroids = ivf_build_index(
        e.filter(F.col("vec_id") >= 3), table, n_clusters=16, impl="grid"
    )
    return ivf_query_index(spark, table, q, centroids, k=10)


def _q_v_ivf_split_topk(spark, sf_dir):
    """The round-15 drift-remediation tier, oracle-backed END TO END:
    build a grid IVF index on three quarters of the corpus, stream in
    a drifted quarter (synthetic out-of-distribution vectors, element
    j = (vec_id % 5) + 3 + (j % 2) — integer-valued, so float32
    storage and the ×2^20 quantization are EXACT in both engines) that
    crams into one cell past the 0.3 hot fraction, run
    ``ivf_split_hot_cells`` (bounded grid 2-means over the hot cell's
    own rows, committed as one index rewrite), then probe the 5-cell
    index at n_probe=2. The
    DuckDB oracle replays every stage: the k=4 grid fit, the append
    assignment, the size/fraction hot-cell detection, the k=2 sub-fit
    (same md5-seeded init over the hot rows), the child reassignment
    (child 0 keeps the hot id, child 1 becomes cell 4), and the cosine
    ranking. Fixture margin: at every shipped SF exactly one cell
    exceeds 0.3 (runner-up ≤ 0.26) — verified at sf0.001/0.01/0.1."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
        ivf_split_hot_cells,
    )

    e = load(spark, sf_dir, "embeddings")
    t = "ivf_split_q_" + _fixture_key(sf_dir)
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    a = e.filter((F.col("vec_id") >= 3) & (F.col("vec_id") % 4 != 0)).select(
        "vec_id", "embedding"
    )
    cents = ivf_build_index(a, t, n_clusters=4, impl="grid")
    drift = e.filter((F.col("vec_id") >= 3) & (F.col("vec_id") % 4 == 0)).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda j: ((F.col("vec_id") % 5) + 3 + (j % 2)).cast("float"),
        ).alias("embedding"),
    )
    ivf_append_index(drift, t, cents)
    new_cents = ivf_split_hot_cells(spark, t, max_cell_fraction=0.3)
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_query_index(spark, t, q, new_cents, k=10, n_probe=2)


def _q_v_ivf_maintain_topk(spark, sf_dir):
    """Round 16: the drift-shape-AWARE maintenance choose-path,
    oracle-backed end to end. Same fixture as v_ivf_split_topk (grid
    build on three quarters, drifted quarter whose vectors all bin to
    ONE cell), but the remediation is picked and executed by
    ``maintenance.run_maintenance`` off the persisted drift log: the
    append logs batch_top_cell_fraction = 1.0, ``table_health``
    classifies the drift LOCALIZED (>= 0.9 concentration bar), and the
    sweep — scoped to this table via ``tables=(t,)`` so a shared
    warehouse is never touched — applies ``ivf_split_hot_cells``
    within the split budget. The final index state is therefore
    hash-identical to the direct-split entry, and the SAME DuckDB
    replay (k=4 grid fit, append assignment, 0.3-fraction hot-cell
    detection, md5-seeded 2-means sub-fit, child reassignment, 5-cell
    probe at n_probe=2) verifies both the CHOICE and the surgery: had
    the sweep retrained instead (k=4 refit over the drifted union),
    every cell assignment would differ and the value hash would
    mismatch. The asserted ``applied`` action makes a wrong choice
    fail loudly rather than ambiguously."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_load_centroids,
        ivf_query_index,
    )

    e = load(spark, sf_dir, "embeddings")
    t = "ivf_maint_q_" + _fixture_key(sf_dir)
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    a = e.filter((F.col("vec_id") >= 3) & (F.col("vec_id") % 4 != 0)).select(
        "vec_id", "embedding"
    )
    cents = ivf_build_index(a, t, n_clusters=4, impl="grid")
    # CONSTANT pattern (no %5 spread): every drifted vector is the
    # same far point, so the whole batch bins to ONE nearest old cell
    # and the logged batch_top_cell_fraction is exactly 1.0 — the
    # localized shape the >= 0.9 bar requires (the split entry's
    # 5-pattern drift splits ~80/20 over two cells and correctly
    # classifies as GLOBAL -> retrain)
    drift = e.filter((F.col("vec_id") >= 3) & (F.col("vec_id") % 4 == 0)).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda j: (F.lit(3) + (j % 2)).cast("float"),
        ).alias("embedding"),
    )
    ivf_append_index(drift, t, cents)
    out = run_maintenance(
        spark,
        apply=True,
        retrain_ivf=True,
        ivf_split_fraction=0.3,
        ivf_split_rounds=1,
        tables=(t,),
    )
    applied = out["applied"].get(f"default.{t}") or out["applied"].get(t, "")
    assert applied.startswith("ivf_split_hot_cells"), (
        f"maintenance chose {applied!r}, expected the hot-cell split "
        f"(drift log shape: {out['tables']})"
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_query_index(
        spark, t, q, ivf_load_centroids(spark, t), k=10, n_probe=2
    )


def _q_v_ivf_merge_topk(spark, sf_dir):
    """Round 16: the cold-cell merge (ivf_merge_cold_cells — the
    defragmentation counterpart of the hot-cell split), oracle-backed
    end to end. Corpus: skewed constant blobs derived from vec_id
    (masses 40/40/18/2%, integer-valued patterns so float32 storage
    and the x2^20 quantization are exact in both engines), grid-built
    at k=4. WHATEVER cell composition the md5-seeded fit lands on,
    every cell's mass is a sum of whole blobs, so the 0.1 cold
    threshold has margin by construction and at least one cell (the
    2% sliver, or an empty cell when init collides inside a constant
    blob) is always cold while the largest always survives. The merge
    folds the cold rows into their nearest surviving cell, drops the
    cold partitions, and restores the dense 0..k-1 id invariant by
    swap-remove renumbering; the DuckDB oracle replays the fit, the
    cold detection over the FULL matrix range (empty cells included),
    the reassignment (survivor-position tie-break), the closed-form
    renumber mapping (holes below S ascending x survivor ids >= S
    descending == the loop's outcome), and the 2-probe cosine top-10
    over the shrunk matrix. Queries probe blobs 0/1/2 (query vectors
    = the blob patterns for vec_id < 3)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_merge_cold_cells,
        ivf_query_index,
    )

    e = load(spark, sf_dir, "embeddings")
    t = "ivf_merge_q_" + _fixture_key(sf_dir)
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    m = F.col("vec_id") % 100
    pat = (
        F.when(m < 40, 0).when(m < 80, 1).when(m < 98, 2).otherwise(3)
    )
    corpus = e.filter(F.col("vec_id") >= 3).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda j: (pat * 10 + 3 + (j % 2)).cast("float"),
        ).alias("embedding"),
    )
    ivf_build_index(corpus, t, n_clusters=4, impl="grid")
    merged = ivf_merge_cold_cells(spark, t, min_cell_fraction=0.1)
    assert len(merged) < 4, "fixture expects at least one cold cell"
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda j: (F.col("vec_id") * 10 + 3 + (j % 2)).cast("float"),
        ).alias("embedding"),
    )
    return ivf_query_index(spark, t, q, merged, k=10, n_probe=2)


def _q_v_ivf_maintain_merge_topk(spark, sf_dir):
    """Round 17: the maintenance sweep CHOOSES the cold-cell merge —
    the fragmentation counterpart of v_ivf_maintain_topk's drift
    choose-path. Same skewed constant-blob fixture as v_ivf_merge_topk
    (masses 40/40/18/2%, integer-valued patterns), grid-built at k=4:
    ``table_health`` flags ``merge_recommended`` off the per-cell row
    counts (the 2% sliver — or an empty matrix slot — is always below
    the fraction-of-mean bar, while the largest cell, >= 25% by
    pigeonhole, always survives), the drift log is clean (no appends,
    so retrain_recommended stays False), and ``run_maintenance`` under
    the ``retrain_ivf`` opt-in applies ``ivf_merge_cold_cells`` at
    ``ivf_merge_fraction=0.4`` of the mean — exactly the direct
    entry's 0.1-of-total bar at k=4, so the final index state is
    hash-identical to v_ivf_merge_topk and the SAME DuckDB replay
    (fit, full-range cold detection, nearest-surviving fold,
    closed-form swap-remove renumber, 2-probe top-10) verifies both
    the CHOICE and the surgery. The asserted ``applied`` action makes
    a wrong choice fail loudly rather than ambiguously."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import (
        run_maintenance,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_load_centroids,
        ivf_query_index,
    )

    e = load(spark, sf_dir, "embeddings")
    t = "ivf_maintmerge_q_" + _fixture_key(sf_dir)
    for s in (t, f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    m = F.col("vec_id") % 100
    pat = (
        F.when(m < 40, 0).when(m < 80, 1).when(m < 98, 2).otherwise(3)
    )
    corpus = e.filter(F.col("vec_id") >= 3).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda j: (pat * 10 + 3 + (j % 2)).cast("float"),
        ).alias("embedding"),
    )
    ivf_build_index(corpus, t, n_clusters=4, impl="grid")
    out = run_maintenance(
        spark,
        apply=True,
        retrain_ivf=True,
        ivf_merge_fraction=0.4,
        tables=(t,),
    )
    applied = out["applied"].get(f"default.{t}") or out["applied"].get(t, "")
    assert applied.startswith("ivf_merge_cold_cells"), (
        f"maintenance chose {applied!r}, expected the cold-cell merge "
        f"(health report: {out['tables']})"
    )
    merged = ivf_load_centroids(spark, t)
    assert len(merged) < 4, "fixture expects at least one cold cell"
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda j: (F.col("vec_id") * 10 + 3 + (j % 2)).cast("float"),
        ).alias("embedding"),
    )
    return ivf_query_index(spark, t, q, merged, k=10, n_probe=2)


def _q_d_minhash_index_dedup(spark, sf_dir):
    """Write-once MinHash index + incremental batch dedup
    (operators/dedup.py::minhash_build_index / minhash_incremental_dedup
    — the text-tier twin of the IVF vector index): even doc_ids are
    indexed as the standing corpus, odd doc_ids arrive as a batch and
    keep only documents that near-dup neither the index nor an earlier
    batch document. Oracle-backed since round 14 via the md5 hash
    family (same replayable signature as d_minhash_pairs, at the index
    path's shingle_n=5): the DuckDB oracle recomputes every 5-gram
    signature, the 16-band slice-key grouping (the bucketed table's
    xxhash64 key is a pure optimization over slice equality), the
    batch-vs-corpus probe AND the within-batch self-join at
    threshold 0.5 (>= 32/64 matching components — exact integer
    compare, no float), and the anti-join survivor rule. The crc32
    arrow default stays the scale path (bench q16/q22 pin it);
    append/maintenance behavior stays pytest-pinned."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
    )

    table = "mh_idx_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    minhash_build_index(corpus, table, impl="md5")
    surv = minhash_incremental_dedup(
        spark, table, batch, threshold=0.5, append=False
    )
    return surv.select("doc_id").orderBy("doc_id")


def _q_m_minhash_reband_dedup(spark, sf_dir):
    """Banding retune from stored signatures
    (operators/dedup.py::minhash_reband_index — the bounded verb the
    ``cap_truncating`` health flag points to): the standing corpus
    index is built at 8 bands, re-banded to 16 WITHOUT touching the
    corpus text (one scan of the band-0 signature slice, one bucketed
    rewrite — at 100 TB the signatures are orders of magnitude smaller
    than the documents), then the odd batch dedups against it.
    reband(8→16) ≡ build(16) because banding is a pure function of
    (signature, band count), so the SAME DuckDB replay that greens
    d_minhash_index_dedup (md5 family, 16-band slice-key grouping,
    ≥ 32/64 integer threshold) hash-verifies the retune end to end: a
    reband that derived any bucket from the wrong signature slice
    would change the candidate set and fail the survivor hash."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
        minhash_incremental_dedup,
        minhash_reband_index,
    )

    table = "mh_reband_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    minhash_build_index(corpus, table, impl="md5", bands=8)
    minhash_reband_index(spark, table, bands=16)
    surv = minhash_incremental_dedup(
        spark, table, batch, threshold=0.5, append=False
    )
    return surv.select("doc_id").orderBy("doc_id")


def _q_d_span_index_dedup(spark, sf_dir):
    """Persisted span-fingerprint index + incremental exact-substring
    dedup (operators/dedup.py::span_build_index /
    span_incremental_dedup — the standing-state form of t_span_dedup):
    even doc_ids are the indexed standard, odd doc_ids arrive as a
    batch; batch tokens covered by historical or within-batch
    duplicated 8-token spans are removed. DROP+rebuild keeps the query
    deterministic; append=False so re-runs measure identical work.
    Oracle-backed since round 14: the fingerprints are an
    implementation detail — the SEMANTICS (any historical span
    occurrence outranks the batch; within the batch the first
    occurrence by (doc_id, pos) survives) replay at the span-STRING
    level in the same SQL shape as the green t_span_dedup oracle,
    with the corpus/batch split on doc_id parity. The one-shot
    equivalence stays pinned by
    test_span_incremental_matches_full_span_dedup_for_one_shot."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_build_index,
        span_incremental_dedup,
    )

    table = "span_idx_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    span_build_index(corpus, table, k=8)
    out = span_incremental_dedup(spark, table, batch, append=False)
    return out.select("doc_id", "deduped_text", "n_tokens_removed").orderBy(
        "doc_id"
    )


def _q_s10_incremental_load(spark, sf_dir):
    """CDC-style incremental ingestion (plans/incremental.py): run 1
    full-loads orders into a catalog target; run 2 pulls only the delta
    at-or-after the target's high watermark — updated rows carry
    corpus-max-date + (1..30) key-derived days, so EVERY update clears
    the bound and the MERGE is exercised for every key%3 row, not a
    thin date slice — and MERGEs it (updates win per key). The oracle
    replays the same two-batch semantics in SQL, proving both the
    watermark filter and the merge."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.incremental import (
        incremental_upsert,
    )

    table = "inc_orders_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    incremental_upsert(
        spark, o, table, keys=["o_orderkey"], watermark_col="o_orderdate"
    )
    maxd = o.agg(F.max("o_orderdate").alias("_m"))
    updates = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .join(F.broadcast(maxd))
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + 100, 2).alias("o_totalprice"),
            F.date_add(
                F.col("_m"), (F.col("o_orderkey") % 30 + 1).cast("int")
            ).alias("o_orderdate"),
        )
    )
    final = incremental_upsert(
        spark, updates, table, keys=["o_orderkey"], watermark_col="o_orderdate"
    )
    return final.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
    )


def _q_s11_versioned_merge(spark, sf_dir):
    """Snapshot-versioned table (sources/versioned.py): version 1
    overwrites a base slice of orders partitioned by o_orderstatus,
    version 2 atomically APPENDS a disjoint slice (parent files reused,
    never rewritten), version 3 MERGEs a CDC batch (+50 on price for
    every even key — updates win per key, unmatched keys insert) via
    partition-scoped copy-on-write: only the touched status partitions
    are rewritten; untouched parent directories are carried forward
    with exclusion predicates (pure partition pruning). The oracle
    replays base ∪ append, then the upsert, in SQL."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.versioned import (
        VersionedTable,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="vt-s11-"))
    vt.write(
        o.filter(F.col("o_orderkey") % 3 != 0), partition_by=["o_orderstatus"]
    )
    vt.write(
        o.filter((F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 4 == 0)),
        mode="append",
    )
    batch = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") + 50, 2).alias("o_totalprice"),
        "o_orderdate",
    )
    vt.merge(batch, keys=["o_orderkey"])
    return vt.read().select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
    )


def _q_x1_versioned_stream(spark, sf_dir):
    """Streaming CDC landing into a snapshot-versioned table
    (streaming/events.py::stream_versioned_merge): run 1 streams the
    raw event feed and commits the latest-event-per-user snapshot;
    run 2 streams an update feed (every event_id%5==0 event re-emitted
    one year later with value+1000) and MERGEs it — each micro-batch
    is one committed snapshot version, winners resolved by
    (ts, event_id) within the batch AND against the current snapshot,
    so arrival order can't change the result. The oracle replays both
    feeds and the same winner resolution in SQL."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.versioned import (
        VersionedTable,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_events_auto,
        stream_versioned_merge,
    )

    root = tempfile.mkdtemp(prefix="vt-x1-")
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    sdf1 = _stream_events_src(spark, sf_dir, suffix="vm").select(*cols)
    stream_versioned_merge(
        sdf1, root, ("user_id",), "ts",
        checkpoint_dir=tempfile.mkdtemp(prefix="ck-x1vm1-"),
        tiebreakers=("event_id",), query_name="x1_vm_run1",
    )
    updates = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select(
            "event_id",
            (F.col("ts") + F.expr("INTERVAL 1 YEAR")).alias("ts"),
            "user_id",
            "event_type",
            (F.col("value") + 1000).alias("value"),
        )
    )
    upd_dir = tempfile.mkdtemp(prefix="vt-x1-upd-") + "/feed"
    updates.write.parquet(upd_dir)
    sdf2 = stream_events_auto(spark, upd_dir).select(*cols)
    stream_versioned_merge(
        sdf2, root, ("user_id",), "ts",
        checkpoint_dir=tempfile.mkdtemp(prefix="ck-x1vm2-"),
        tiebreakers=("event_id",), query_name="x1_vm_run2",
    )
    return VersionedTable(spark, root).read().select(
        "user_id",
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.col("ts").cast("string").alias("ts"),
    )


def _q_s12_zorder_roundtrip(spark, sf_dir):
    """Z-order layout rewrite (sources/layout.py): orders clustered on
    (o_custkey, o_orderdate) — quantile buckets from one bounded
    approxQuantile pass, Morton interleave in pure bitwise Catalyst,
    one repartitionByRange shuffle — written and read back. The oracle
    is the identity projection: the rewrite must preserve content
    exactly (the pruning-effectiveness claims are pinned by
    tests/test_layout.py against parquet footer statistics)."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.layout import (
        zorder_write,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    path = tempfile.mkdtemp(prefix="zorder-s12-") + "/orders"
    zorder_write(o, path, ["o_custkey", "o_orderdate"], bits=4,
                 target_partitions=16)
    return spark.read.parquet(path).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
    )


# Curation operators (operators/curation.py) ------------------------------


def _q_t_pack_sequences(spark, sf_dir):
    """Sequence packing: every document assigned to a fixed-budget
    training sequence by contiguous offset binning within md5 shards
    (operators/curation.py::pack_sequences — one partitioned window,
    never global). n_chars stands in for the token count (a column, so
    the oracle needs no tokenizer)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        pack_sequences,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = pack_sequences(d, "n_chars", budget=2000, order_col="doc_id", n_shards=8)
    return out.select(
        "doc_id", "seq_id", F.col("_seq_offset").alias("seq_offset")
    )


def _q_t_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling (operators/curation.py::
    stratified_sample): md5-bucket thresholds per stratum, stable across
    engines/runs/partitionings — the oracle applies the identical
    arithmetic and must select the identical rows."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        stratified_sample,
    )

    d = load(spark, sf_dir, "documents")
    out = stratified_sample(
        d,
        "lang",
        {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.25, "zh": 0.1},
        key_col="doc_id",
        seed=42,
    )
    return out.select("doc_id", "lang")


def _q_t_best_per_lang(spark, sf_dir):
    """Per-group selection (operators/curation.py::topk_per_group): the
    5 highest-quality documents per language. Ordering uses the ROUNDED
    quality score so Spark and the oracle rank identically."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        topk_per_group,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", lf.quality_score("text").alias("quality")
    )
    return topk_per_group(
        d,
        ["lang"],
        [F.desc("quality"), F.asc("doc_id")],
        k=5,
        rank_col="rank",
    ).select("lang", F.col("rank").cast("bigint").alias("rank"), "doc_id", "quality")


def _q_t_mixture_weights(spark, sf_dir):
    """Mixture reweighting (operators/curation.py::mixture_weights):
    per-language sampling weights toward a target mix — two-stage agg
    plus a 1-row broadcast total, no second pass over the corpus."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        mixture_weights,
    )

    d = load(spark, sf_dir, "documents")
    out = mixture_weights(
        d, "lang",
        {"en": 0.4, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15},
    )
    return out.select(
        "lang",
        "n_rows",
        F.round("observed_share", 6).alias("observed_share"),
        F.round("target_share", 6).alias("target_share"),
        F.round("weight", 6).alias("weight"),
    )


def _q_a1_unpivot(spark, sf_dir):
    """Unpivot/melt (the inverse of a1_pivot): part's two numeric
    measures stacked into (part, measure, value) rows via ``F.stack`` —
    pure Catalyst projection+generate, shuffle-free, the standard
    wide→long reshape for metric tables."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'retailprice', p_retailprice, 'size', "
            "CAST(p_size AS DOUBLE)) AS (measure, value)"
        ),
    )


def _q_w5_moving_avg(spark, sf_dir):
    """Rolling window frame (ROWS BETWEEN): per-user 3-event moving
    average of event value in time order — the frame-spec side of the
    window family (W1–W3 cover ranking/offset functions). Partitioned
    by user: never a global window."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-2, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("avg3"),
    )


def _q_t_apply_mixture(spark, sf_dir):
    """Materialized mixture resampling (operators/curation.py::
    apply_mixture): every document repeated floor(weight) times plus a
    deterministic md5-bucket extra with probability frac(weight) — the
    oracle replays the identical weight arithmetic and bucketing, so
    the exact multiset of (doc_id, copy_idx) must match."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        apply_mixture,
    )

    d = load(spark, sf_dir, "documents")
    out = apply_mixture(
        d,
        "lang",
        {"en": 0.3, "de": 0.25, "fr": 0.2, "es": 0.15, "zh": 0.1},
        key_col="doc_id",
        seed=7,
    )
    return out.select("doc_id", "lang", "copy_idx")


# ---- reference-corpus parity: the medallion pipeline over the
# ---- reference's OWN CRM/ERP CSV extracts (its de-facto acceptance
# ---- test, SURVEY §5 item 3) — not synthetic shapes. sf_dir is
# ---- ignored; the corpus is fixed. DuckDB replays the identical CSV
# ---- reads, so the hash compare is parity on the real data.

def _reference_sources(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.reference_corpus import (
        load_reference_sources,
    )

    return load_reference_sources(spark)


def _q_g_reference_dim_customers(spark, sf_dir):
    """gold dim_customers over the real corpus: exercises R1 (5 real
    duplicate cst_ids), R2/R3 (padded names/codes), R4 (11,042 NAS ids,
    hyphenated loc ids), R10 (16 genuinely future birthdates), R11,
    J1+J2 and W2 on 18,484 surviving customers."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
        gold_dim_customers,
        silver_crm_cust_info,
        silver_erp_cust_az12,
        silver_erp_loc_a101,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.reference_corpus import (
        REFERENCE_AS_OF,
    )

    src = _reference_sources(spark)
    cust = silver_crm_cust_info(src["crm_cust_info"])
    az12 = silver_erp_cust_az12(src["erp_cust_az12"], as_of=REFERENCE_AS_OF)
    loc = silver_erp_loc_a101(src["erp_loc_a101"])
    dim = gold_dim_customers(cust, az12, loc)
    return dim.withColumn("birthdate", F.col("birthdate").cast("string")).withColumn(
        "create_date", F.col("create_date").cast("string")
    )


def _q_g_reference_fact_sales(spark, sf_dir):
    """gold fact_sales over the real corpus: R7 (19 zero/short integer
    dates), R8 (20 sales!=qty*price rows), R9 (12 NULL/non-positive
    prices), J4+J5 against both real dims; 60,398 facts out, none
    dropped (left joins)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
        gold_dim_products,
        gold_fact_sales,
        silver_crm_prd_info,
        silver_crm_sales_details,
        silver_erp_px_cat_g1v2,
    )

    src = _reference_sources(spark)
    sales = silver_crm_sales_details(src["crm_sales_details"])
    dim_prod = gold_dim_products(
        silver_crm_prd_info(src["crm_prd_info"]),
        silver_erp_px_cat_g1v2(src["erp_px_cat_g1v2"]),
    )
    dim_cust = _q_g_reference_dim_customers(spark, sf_dir).select(
        "customer_key", "customer_id"
    )
    fact = gold_fact_sales(sales, dim_prod, dim_cust)
    return (
        fact.withColumn("order_date", F.col("order_date").cast("string"))
        .withColumn("shipping_date", F.col("shipping_date").cast("string"))
        .withColumn("due_date", F.col("due_date").cast("string"))
    )


_REF_BASE = "/root/reference/datasets"

_SQL_REF_CUST = (
    f"rawc AS (SELECT * FROM read_csv('{_REF_BASE}/crm/cust_info.csv', "
    "header=true, columns={'cst_id':'INTEGER','cst_key':'VARCHAR',"
    "'cst_firstname':'VARCHAR','cst_lastname':'VARCHAR',"
    "'cst_marital_status':'VARCHAR','cst_gndr':'VARCHAR',"
    "'cst_create_date':'DATE'})), "
    "silver_cust AS (SELECT cst_id, cst_key, "
    "trim(cst_firstname) AS cst_firstname, trim(cst_lastname) AS cst_lastname, "
    "CASE upper(trim(cst_marital_status)) WHEN 'S' THEN 'Single' "
    "WHEN 'M' THEN 'Married' ELSE 'n/a' END AS cst_marital_status, "
    "CASE upper(trim(cst_gndr)) WHEN 'F' THEN 'Female' WHEN 'M' THEN 'Male' "
    "ELSE 'n/a' END AS cst_gndr, cst_create_date FROM ("
    "SELECT * FROM rawc QUALIFY row_number() OVER (PARTITION BY cst_id "
    "ORDER BY cst_create_date DESC) = 1) WHERE cst_id IS NOT NULL)"
)

_SQL_REF_AZ12 = (
    f"rawaz AS (SELECT * FROM read_csv('{_REF_BASE}/erp/CUST_AZ12.csv', "
    "header=true, columns={'cid':'VARCHAR','bdate':'DATE','gen':'VARCHAR'})), "
    "silver_az12 AS (SELECT "
    "CASE WHEN cid LIKE 'NAS%' THEN substring(cid, 4) ELSE cid END AS cid, "
    "CASE WHEN bdate > DATE '2026-01-01' THEN NULL ELSE bdate END AS bdate, "
    "CASE upper(trim(gen)) WHEN 'F' THEN 'Female' WHEN 'FEMALE' THEN 'Female' "
    "WHEN 'M' THEN 'Male' WHEN 'MALE' THEN 'Male' ELSE 'n/a' END AS gen "
    "FROM rawaz)"
)

_SQL_REF_LOC = (
    f"rawloc AS (SELECT * FROM read_csv('{_REF_BASE}/erp/LOC_A101.csv', "
    "header=true, columns={'cid':'VARCHAR','cntry':'VARCHAR'})), "
    "silver_loc AS (SELECT regexp_replace(cid, '-', '', 'g') AS cid, "
    "CASE WHEN trim(cntry) IS NULL OR trim(cntry) = '' THEN 'n/a' "
    "WHEN trim(cntry) = 'DE' THEN 'Germany' "
    "WHEN trim(cntry) IN ('US', 'USA') THEN 'United States' "
    "ELSE trim(cntry) END AS cntry FROM rawloc)"
)

_SQL_REF_DIMC = (
    "dimc AS (SELECT row_number() OVER (ORDER BY ci.cst_id) AS customer_key, "
    "ci.cst_id AS customer_id, ci.cst_key AS customer_number, "
    "ci.cst_firstname AS first_name, ci.cst_lastname AS last_name, "
    "la.cntry AS country, ci.cst_marital_status AS marital_status, "
    "CASE WHEN ci.cst_gndr IS NOT NULL AND ci.cst_gndr <> 'n/a' THEN ci.cst_gndr "
    "ELSE coalesce(ca.gen, 'n/a') END AS gender, "
    "CAST(ca.bdate AS VARCHAR) AS birthdate, "
    "CAST(ci.cst_create_date AS VARCHAR) AS create_date "
    "FROM silver_cust ci LEFT JOIN silver_az12 ca ON ci.cst_key = ca.cid "
    "LEFT JOIN silver_loc la ON ci.cst_key = la.cid)"
)

_SQL_REF_DIM_CUSTOMERS = (
    f"WITH {_SQL_REF_CUST}, {_SQL_REF_AZ12}, {_SQL_REF_LOC}, {_SQL_REF_DIMC} "
    "SELECT * FROM dimc"
)

_SQL_REF_PRD = (
    f"rawp AS (SELECT * FROM read_csv('{_REF_BASE}/crm/prd_info.csv', "
    "header=true, columns={'prd_id':'INTEGER','prd_key':'VARCHAR',"
    "'prd_nm':'VARCHAR','prd_cost':'INTEGER','prd_line':'VARCHAR',"
    "'prd_start_dt':'DATE','prd_end_dt':'DATE'})), "
    # the raw prd_end_dt is ignored: R6 recomputes it (SCD-2 close over
    # the SPLIT key, matching silver_crm_prd_info)
    "silver_prd AS (SELECT prd_id, "
    "replace(substring(prd_key, 1, 5), '-', '_') AS cat_id, "
    "substring(prd_key, 7) AS prd_key, prd_nm, "
    "coalesce(prd_cost, 0) AS prd_cost, "
    "CASE upper(trim(prd_line)) WHEN 'M' THEN 'Mountain' WHEN 'R' THEN 'Road' "
    "WHEN 'S' THEN 'Other Sales' WHEN 'T' THEN 'Touring' ELSE 'n/a' END "
    "AS prd_line, prd_start_dt, "
    "CAST(lead(prd_start_dt) OVER (PARTITION BY substring(prd_key, 7) "
    "ORDER BY prd_start_dt) - INTERVAL 1 DAY AS DATE) AS prd_end_dt "
    "FROM rawp)"
)

_SQL_REF_CATS = (
    f"cats AS (SELECT * FROM read_csv('{_REF_BASE}/erp/PX_CAT_G1V2.csv', "
    "header=true, columns={'id':'VARCHAR','cat':'VARCHAR','subcat':'VARCHAR',"
    "'maintenance':'VARCHAR'}))"
)

_SQL_REF_DIMP = (
    "dimp AS (SELECT row_number() OVER (ORDER BY pn.prd_start_dt, pn.prd_key) "
    "AS product_key, pn.prd_key AS product_number "
    "FROM silver_prd pn LEFT JOIN cats pc ON pn.cat_id = pc.id "
    "WHERE pn.prd_end_dt IS NULL)"
)

_SQL_REF_SALES = (
    f"rawsd AS (SELECT * FROM read_csv('{_REF_BASE}/crm/sales_details.csv', "
    "header=true, columns={'sls_ord_num':'VARCHAR','sls_prd_key':'VARCHAR',"
    "'sls_cust_id':'INTEGER','sls_order_dt':'INTEGER','sls_ship_dt':'INTEGER',"
    "'sls_due_dt':'INTEGER','sls_sales':'INTEGER','sls_quantity':'INTEGER',"
    "'sls_price':'INTEGER'})), "
    "silver_sales AS (SELECT sls_ord_num, sls_prd_key, sls_cust_id, "
    "CASE WHEN sls_order_dt = 0 OR length(CAST(sls_order_dt AS VARCHAR)) <> 8 "
    "THEN NULL ELSE CAST(try_strptime(CAST(sls_order_dt AS VARCHAR), '%Y%m%d') "
    "AS DATE) END AS sls_order_dt, "
    "CASE WHEN sls_ship_dt = 0 OR length(CAST(sls_ship_dt AS VARCHAR)) <> 8 "
    "THEN NULL ELSE CAST(try_strptime(CAST(sls_ship_dt AS VARCHAR), '%Y%m%d') "
    "AS DATE) END AS sls_ship_dt, "
    "CASE WHEN sls_due_dt = 0 OR length(CAST(sls_due_dt AS VARCHAR)) <> 8 "
    "THEN NULL ELSE CAST(try_strptime(CAST(sls_due_dt AS VARCHAR), '%Y%m%d') "
    "AS DATE) END AS sls_due_dt, "
    "CAST(CASE WHEN sls_sales IS NULL OR sls_sales <= 0 "
    "OR sls_sales <> sls_quantity * abs(sls_price) "
    "THEN sls_quantity * abs(sls_price) ELSE sls_sales END AS DOUBLE) "
    "AS sls_sales_f, sls_quantity, sls_price FROM rawsd), "
    "silver_sd AS (SELECT sls_ord_num, sls_prd_key, sls_cust_id, sls_order_dt, "
    "sls_ship_dt, sls_due_dt, sls_sales_f AS sls_sales, sls_quantity, "
    "CASE WHEN sls_price IS NULL OR sls_price <= 0 THEN sls_sales_f / "
    "(CASE WHEN sls_quantity <> 0 THEN sls_quantity ELSE 1 END) "
    "ELSE CAST(sls_price AS DOUBLE) END AS sls_price FROM silver_sales)"
)

_SQL_REF_FACT_SALES = (
    f"WITH {_SQL_REF_CUST}, {_SQL_REF_AZ12}, {_SQL_REF_LOC}, {_SQL_REF_DIMC}, "
    f"{_SQL_REF_PRD}, {_SQL_REF_CATS}, {_SQL_REF_DIMP}, {_SQL_REF_SALES} "
    "SELECT sd.sls_ord_num AS order_number, pr.product_key, cu.customer_key, "
    "CAST(sd.sls_order_dt AS VARCHAR) AS order_date, "
    "CAST(sd.sls_ship_dt AS VARCHAR) AS shipping_date, "
    "CAST(sd.sls_due_dt AS VARCHAR) AS due_date, "
    "sd.sls_sales AS sales_amount, sd.sls_quantity AS quantity, "
    "sd.sls_price AS price "
    "FROM silver_sd sd "
    "LEFT JOIN dimp pr ON sd.sls_prd_key = pr.product_number "
    "LEFT JOIN dimc cu ON sd.sls_cust_id = cu.customer_id"
)


def _q_m_image_ahash_pairs(spark, sf_dir):
    """Image perceptual near-dup — the multimodal twin of MinHash
    (operators/multimodal.py::image_perceptual_hash + image_hash_pairs,
    round 10): per document a deterministic 16×16 gray gradient
    (px = a·x + b·y + k with a = 1 + g%7, b = 1 + g%5, g = doc_id//2,
    and a brightness offset k = 7·(doc_id%2) + g%5) is encoded as a
    REAL BMP, decoded back through the real pixel tier, aHashed
    (area-mean 8×8 grid, exact rational compares), and Hamming-banded
    into near-dup pairs (≤ 2). The brightness term k CANCELS in aHash,
    so even/odd siblings pair at hamming 0 through the actual
    decode→hash path; the oracle recomputes every hash ARITHMETICALLY
    from the closed form (bit(i,j) = a(4i+1) + b(4j+1) > 15(a+b)) and
    scores all pairs — any decode, luma, downsample, banding, or
    bit_count defect hash-mismatches. Banding recall is total here by
    pigeonhole (4 bands > max_hamming 2)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        encode_bmp,
        image_hash_pairs,
        image_perceptual_hash,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        import numpy as np

        yy, xx = np.mgrid[0:16, 0:16]  # y outer, x inner — row-major scan
        for pdf in it:
            ids = pdf["doc_id"].to_numpy()
            g = ids // 2
            a, b = 1 + g % 7, 1 + g % 5
            k = 7 * (ids % 2) + g % 5
            # px[i, y, x] = a_i*x + b_i*y + k_i (max 191, no uint8 wrap),
            # each gray value tripled into RGB — byte-identical to the
            # per-pixel generator this replaces
            px = (
                a[:, None, None] * xx + b[:, None, None] * yy + k[:, None, None]
            ).astype(np.uint8)
            px3 = np.repeat(px.reshape(len(ids), 256), 3, axis=1)
            pdf["content"] = [
                encode_bmp(16, 16, row.tobytes()) for row in px3
            ]
            yield pdf

    blobs = d.mapInPandas(make, "doc_id long, content binary")
    hashes = image_perceptual_hash(blobs, "content", method="ahash")
    pairs = image_hash_pairs(hashes, "doc_id", "phash", max_hamming=2)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def _gr_edge_fixture(docs, n):
    """The shared deterministic link graph for the gr_* entries (and
    their oracles' SQL twin — keep all three in sync): i -> (7i+3) mod
    n, i -> (13i+1) mod n, every 10th doc -> hub 0, distinct."""
    e1 = docs.select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 3) % n).alias("dst")
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 13 + 1) % n).alias("dst")
    )
    e3 = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    return e1.unionByName(e2).unionByName(e3).distinct()


def _q_gr_pagerank(spark, sf_dir):
    """Integer-mass PageRank (operators/graph.py::pagerank_integer,
    round 10 — link-centrality quality prior for corpus curation):
    a deterministic multigraph-free link graph over documents (i →
    (7i+3) mod n, i → (13i+1) mod n, every 10th doc → hub 0, distinct)
    runs 3 damped power iterations with exact int64 floor arithmetic,
    so the ranks are BIT-identical in any engine — the oracle unrolls
    the same 3 iterations as chained SQL aggregations. Exercises the
    iterative-join shape (edge-sized join + dst aggregation per
    iteration, checkpointed), the dangling convention, and the
    teleport base."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.graph import (
        pagerank_integer,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    edges = _gr_edge_fixture(docs, docs.count())
    pr = pagerank_integer(edges, n_iter=3)
    return pr.select(F.col("node").cast("long").alias("node"), "rank")


def _sql_pagerank_oracle(n_iter: int = 3, seed_pred: str | None = None) -> str:
    """Unrolled integer-PageRank SQL over the shared edge fixture;
    ``seed_pred`` (a boolean SQL expression over ``doc_id``) switches
    to the TrustRank form — init mass and teleport base only on
    seeds, scoped once in a CTE (never textually rewritten)."""
    init = "CAST(1000000000 AS BIGINT)"
    tele = "150000000"
    seeds_cte = ""
    if seed_pred is not None:
        # a seeds CTE scopes the predicate once — no fragile textual
        # qualification of the caller's expression
        seeds_cte = (
            f"sd AS (SELECT doc_id AS node FROM documents WHERE "
            f"{seed_pred}), "
        )
        init = (
            "CAST(CASE WHEN node IN (SELECT node FROM sd) "
            "THEN 1000000000 ELSE 0 END AS BIGINT)"
        )
        tele = (
            "CASE WHEN nodes.node IN (SELECT node FROM sd) "
            "THEN 150000000 ELSE 0 END"
        )
    base = "WITH nn AS (SELECT count(*) AS n FROM documents), "
    base += (
        "e AS (SELECT DISTINCT src, dst FROM ("
        "SELECT doc_id AS src, (doc_id * 7 + 3) % (SELECT n FROM nn) AS dst "
        "FROM documents "
        "UNION ALL SELECT doc_id, (doc_id * 13 + 1) % (SELECT n FROM nn) "
        "FROM documents "
        "UNION ALL SELECT doc_id, 0 FROM documents WHERE doc_id % 10 = 0)), "
        "deg AS (SELECT src, count(*) AS d FROM e GROUP BY src), "
        "nodes AS (SELECT doc_id AS node FROM documents), "
        f"{seeds_cte}"
        f"r0 AS (SELECT node, {init} AS rank FROM nodes)"
    )
    for k in range(1, n_iter + 1):
        base += (
            f", r{k} AS (SELECT nodes.node, CAST({tele} + "
            f"COALESCE(SUM((r.rank * 85) // (100 * deg.d)), 0) AS BIGINT) "
            f"AS rank FROM nodes "
            f"LEFT JOIN e ON e.dst = nodes.node "
            f"LEFT JOIN deg ON deg.src = e.src "
            f"LEFT JOIN r{k - 1} r ON r.node = e.src "
            f"GROUP BY nodes.node)"
        )
    return base + f" SELECT node, rank FROM r{n_iter}"


_SQL_GR_PAGERANK = _sql_pagerank_oracle(3)
_SQL_GR_TRUSTRANK = _sql_pagerank_oracle(3, seed_pred="doc_id % 25 = 0")


def _q_gr_trustrank(spark, sf_dir):
    """TrustRank (operators/graph.py::pagerank_integer with seeds —
    Gyöngyi et al., VLDB 2004): the gr_pagerank link graph with every
    25th document as a vetted seed; only seeds hold teleport mass, so
    rank is trust flowing OUT of the seed set — the spam-demotion /
    source-trust quality prior a web-corpus pipeline runs next to
    plain centrality. Exact int64 arithmetic, same unrolled-SQL oracle
    with the seed CASE; nodes unreachable from any seed must rank
    exactly 0."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.graph import (
        pagerank_integer,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    edges = _gr_edge_fixture(docs, docs.count())
    seeds = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("node")
    )
    pr = pagerank_integer(edges, n_iter=3, seeds=seeds)
    return pr.select(F.col("node").cast("long").alias("node"), "rank")


def _q_m_resample_audio(spark, sf_dir):
    """Audio normalization tier (operators/multimodal.py::
    resample_audio, round 10 — the audio twin of m_resize_images):
    the m_audio_fp_pairs WAV fixture (8x512 samples at 8192 Hz per
    doc) is resampled to 16384 Hz mono through the real PCM tier
    inside one Arrow batch, the output re-decoded (decode_audio header
    parse), and the spectral fingerprint recomputed on the RESAMPLED
    bytes — band energies live at fixed Hz, so the fingerprint is
    invariant and fp_invariant must be 1 everywhere. The oracle
    recomputes the output's rate/duration arithmetically (n_out =
    2·4096 exactly at a 2:1 ratio) and expects invariance — any
    interpolation, re-encode, or header defect mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        _audio_fp_int,
        decode_audio,
        encode_wav,
        resample_audio,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        import numpy as np

        n = np.arange(512)
        sin_t = np.sin(2 * np.pi * np.outer(28 + 19 * np.arange(9), n) / 512)
        for pdf in it:
            blobs, fps = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                g = did // 2
                r4, r7, s = g % 4, g % 7, 1 + (g % 11) % 3
                base = 700 if did % 2 == 0 else 280
                amps = np.array(
                    [
                        [
                            base * (1 + (r4 + r7 * (w + 1) + s * (m + 1)) % 4)
                            for m in range(9)
                        ]
                        for w in range(8)
                    ],
                    dtype=np.float64,
                )
                pcm = np.rint(amps @ sin_t).astype("<i2").tobytes()
                blob = encode_wav(8192, 1, pcm)
                blobs.append(blob)
                fp = _audio_fp_int(blob)
                fps.append(fp - (1 << 64) if fp >= 1 << 63 else fp)
            pdf["content"] = blobs
            pdf["fp_src"] = fps
            yield pdf

    blobs = d.mapInPandas(make, "doc_id long, content binary, fp_src long")
    res = resample_audio(blobs, target_sr=16384)

    def check(it):
        for pdf in it:
            inv = []
            for src_fp, out in zip(pdf["fp_src"], pdf["resampled"]):
                fp2 = _audio_fp_int(bytes(out)) if out is not None else None
                if fp2 is not None and fp2 >= 1 << 63:
                    fp2 -= 1 << 64
                inv.append(1 if fp2 == src_fp else 0)
            pdf["fp_invariant"] = inv
            yield pdf[["doc_id", "resampled", "fp_invariant"]]

    checked = res.mapInPandas(
        check, "doc_id long, resampled binary, fp_invariant int"
    )
    meta = decode_audio(checked, "resampled")
    return meta.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        F.round("duration_seconds", 6).alias("duration_seconds"),
        "fp_invariant",
    )


_SQL_RESAMPLE_AUDIO = (
    # 4096 samples at 8192 Hz resampled 2:1 -> 8192 samples at
    # 16384 Hz mono = exactly 0.5 s; the fingerprint is invariant
    "SELECT doc_id, 16384 AS sample_rate, 1 AS n_channels, "
    "0.5 AS duration_seconds, 1 AS fp_invariant FROM documents"
)


def _q_t_canonical_urls(spark, sf_dir):
    """URL canonicalization for crawl-level dedup
    (functions/text.py::canonicalize_url, round 10): per document a
    synthetic URL is built from doc_id arithmetic — even siblings get
    the clean form, odd siblings the same fetch buried under an
    UPPERCASED host, an explicit :80, a trailing slash, two tracking
    params, shuffled param order, and a fragment. Canonicalization
    must collapse both to the identical closed-form string the oracle
    reconstructs arithmetically — any defect in scheme/host casing,
    port stripping, tracking-param removal, param sorting, slash or
    fragment handling hash-mismatches on the odd rows."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        canonicalize_url,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    g = (F.col("doc_id") / 2).cast("long")
    a, b = (g % 5).cast("string"), (g % 4).cast("string")
    hostpath_lc = F.concat(
        F.lit("site"), (g % 50).cast("string"), F.lit(".example.com")
    )
    path = F.concat(
        F.lit("/p"), (g % 7).cast("string"), F.lit("/q"), (g % 3).cast("string")
    )
    clean = F.concat(
        F.lit("http://"), hostpath_lc, path, F.lit("?a="), a, F.lit("&b="), b
    )
    messy = F.concat(
        F.lit("HTTP://"),
        F.upper(hostpath_lc),
        F.lit(":80"),
        path,
        F.lit("/?utm_campaign=x&b="),
        b,
        F.lit("&gclid=9&a="),
        a,
        F.lit("#frag"),
    )
    url = F.when(F.col("doc_id") % 2 == 0, clean).otherwise(messy)
    return d.select(
        "doc_id", canonicalize_url(url).alias("canonical_url")
    )


_SQL_CANONICAL_URLS = (
    # closed-form expected canon: both siblings collapse to the clean
    # form with params sorted (a= before b= lexicographically)
    "SELECT doc_id, 'http://site' || CAST((doc_id // 2) % 50 AS VARCHAR) "
    "|| '.example.com/p' || CAST((doc_id // 2) % 7 AS VARCHAR) "
    "|| '/q' || CAST((doc_id // 2) % 3 AS VARCHAR) "
    "|| '?a=' || CAST((doc_id // 2) % 5 AS VARCHAR) "
    "|| '&b=' || CAST((doc_id // 2) % 4 AS VARCHAR) "
    "AS canonical_url FROM documents"
)


def _q_m_audio_quality(spark, sf_dir):
    """Speech-corpus quality gates (operators/multimodal.py::
    audio_quality_stats, round 10): per document a WAV is constructed
    with EXACTLY doc_id%7 leading zeros, 100 body samples at
    1000+doc_id%100, doc_id%5 full-scale (32767) samples, and
    doc_id%3 trailing zeros — so every gate statistic has an integer
    closed form the oracle reconstructs (n_clipped is recovered from
    the 6-dp clipping_ratio × n_samples, exact for n ≤ 110). Any PCM
    parse, mixdown, clipping, peak, or silence-run defect
    hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        audio_quality_stats,
        encode_wav,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        import struct as st

        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                vals = (
                    [0] * (did % 7)
                    + [1000 + did % 100] * 100
                    + [32767] * (did % 5)
                    + [0] * (did % 3)
                )
                blobs.append(
                    encode_wav(8000, 1, st.pack(f"<{len(vals)}h", *vals))
                )
            pdf["content"] = blobs
            yield pdf

    blobs = d.mapInPandas(make, "doc_id long, content binary")
    s = audio_quality_stats(blobs)
    return s.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        "peak_abs",
        F.round(F.col("clipping_ratio") * F.col("n_samples"))
        .cast("long")
        .alias("n_clipped"),
        "leading_silence",
        "trailing_silence",
    )


_SQL_AUDIO_QUALITY = (
    "SELECT doc_id, 8000 AS sample_rate, "
    "doc_id % 7 + 100 + doc_id % 5 + doc_id % 3 AS n_samples, "
    "CASE WHEN doc_id % 5 > 0 THEN 32767 ELSE 1000 + doc_id % 100 END "
    "AS peak_abs, doc_id % 5 AS n_clipped, "
    "doc_id % 7 AS leading_silence, doc_id % 3 AS trailing_silence "
    "FROM documents"
)


def _q_m_image_exif(spark, sf_dir):
    """EXIF provenance extraction (operators/multimodal.py::
    parse_exif + extract_image_metadata, round 10): per document a
    REAL baseline JPEG gets an APP1 TIFF block spliced after SOI —
    little-endian for even doc_ids, BIG-endian for odd (both byte
    orders driver-verified), orientation 1+doc%8, DateTimeOriginal
    seconds = doc%60, camera Cam{doc%5}, GPS IFD present iff doc%3==0
    — then the Spark tier re-extracts everything through the real
    IFD walk. The oracle reconstructs every field arithmetically; any
    marker-walk, endian, inline-vs-offset value, sub-IFD, or GPS-flag
    defect hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_exif_app1,
        extract_image_metadata,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        base = encode_jpeg(8, 8, bytes(range(64)), channels=1)
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                app1 = build_exif_app1(
                    orientation=1 + did % 8,
                    taken_at=f"2024:01:01 00:00:{did % 60:02d}",
                    make=f"Cam{did % 5}",
                    gps=(did % 3 == 0),
                    byte_order="<" if did % 2 == 0 else ">",
                )
                blobs.append(base[:2] + app1 + base[2:])
            pdf["content"] = blobs
            yield pdf

    blobs = d.mapInPandas(make, "doc_id long, content binary")
    return extract_image_metadata(blobs).select(
        "doc_id", "orientation", "taken_at", "camera", "has_gps"
    )


_SQL_IMAGE_EXIF = (
    "SELECT doc_id, CAST(1 + doc_id % 8 AS INTEGER) AS orientation, "
    "'2024:01:01 00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') "
    "AS taken_at, 'Cam' || CAST(doc_id % 5 AS VARCHAR) AS camera, "
    "doc_id % 3 = 0 AS has_gps FROM documents"
)


def _q_t_html_extract(spark, sf_dir):
    """Web-corpus HTML extraction (functions/text.py::html_to_text,
    round 10): per document a full HTML page is synthesized — script
    AND style blocks carrying doc-dependent decoy text (which must
    never leak), a comment, entity-escaped body text, block structure
    — and extracted back to text. The oracle reconstructs the expected
    extraction arithmetically; a leak from script/style/comments, a
    broken entity decode, lost block newlines, or bad whitespace
    collapse all hash-mismatch."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        html_to_text,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title><style>.x{color:red}</style><script>var leak="),
        did,
        F.lit(';</script></head><body>  <h1>Title '), (F.col("doc_id") % 50).cast("string"),
        F.lit("</h1><p>alpha &amp; beta "), did,
        F.lit("</p><!-- hidden "), did,
        F.lit(" --><div>row "), (F.col("doc_id") % 7).cast("string"),
        F.lit("</div><ul><li>item "), (F.col("doc_id") % 3).cast("string"),
        F.lit("</li></ul>tail&nbsp;"), did, F.lit("</body></html>"),
    )
    return d.select("doc_id", html_to_text(html).alias("text"))


_SQL_HTML_EXTRACT = (
    # <title> is an inline tag (not in the block-closer set), so the
    # head text and the h1 share the first extracted line
    "SELECT doc_id, 'Doc ' || CAST(doc_id AS VARCHAR) || "
    "' Title ' || CAST(doc_id % 50 AS VARCHAR) || chr(10) || "
    "'alpha & beta ' || CAST(doc_id AS VARCHAR) || chr(10) || "
    "'row ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || "
    "'item ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || "
    "'tail ' || CAST(doc_id AS VARCHAR) AS text FROM documents"
)


def _q_t_warc_pipeline(spark, sf_dir):
    """The crawl-to-corpus chain in ONE driver-verified pass
    (operators/multimodal.py::parse_warc/explode_warc +
    functions/text.py::html_to_text/canonicalize_url, round 10): per
    document a WARC/1.0 blob is built with a request record (must be
    SKIPPED), and a 200 response whose target URI is the messy
    closed-form URL of t_canonical_urls and whose HTTP body is the
    decoy-laden HTML page of t_html_extract; the chain explodes the
    records, strips the HTTP envelope, extracts the text, and
    canonicalizes the URL. Round 11: odd documents ship in the REAL
    Common Crawl container (.warc.gz, one gzip member per record) —
    content is identical after decompression so the oracle is shared,
    and any defect in the gzip member walk shows up as a hash
    mismatch on exactly the odd half. Any defect anywhere in the
    container walk, HTTP split, HTML extraction, or URL normalization
    hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        canonicalize_url,
        html_to_text,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_warc,
        explode_warc,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                g = did // 2
                url = (
                    f"HTTP://SITE{g % 50}.EXAMPLE.COM:80/p{g % 7}/q{g % 3}"
                    f"/?utm_campaign=x&b={g % 4}&gclid=9&a={g % 5}#frag"
                )
                html = (
                    f"<html><head><title>Doc {did}</title>"
                    "<style>.x{color:red}</style>"
                    f"<script>var leak={did};</script></head><body>  "
                    f"<h1>Title {did % 50}</h1><p>alpha &amp; beta {did}"
                    f"</p><!-- hidden {did} --><div>row {did % 7}</div>"
                    f"<ul><li>item {did % 3}</li></ul>tail&nbsp;{did}"
                    "</body></html>"
                )
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                    + html.encode()
                )
                blobs.append(
                    build_warc(
                        [
                            ("request", url, b"GET / HTTP/1.1\r\n\r\n"),
                            ("response", url, http),
                        ],
                        gzip_records=(did % 2 == 1),
                    )
                )
            pdf["content"] = blobs
            yield pdf

    blobs = d.mapInPandas(make, "doc_id long, content binary")
    recs = explode_warc(blobs)
    return recs.select(
        "doc_id",
        "http_status",
        canonicalize_url("target_uri").alias("canonical_url"),
        html_to_text("body_text").alias("text"),
    )


_SQL_WARC_PIPELINE = (
    "SELECT doc_id, 200 AS http_status, "
    "'http://site' || CAST((doc_id // 2) % 50 AS VARCHAR) "
    "|| '.example.com/p' || CAST((doc_id // 2) % 7 AS VARCHAR) "
    "|| '/q' || CAST((doc_id // 2) % 3 AS VARCHAR) "
    "|| '?a=' || CAST((doc_id // 2) % 5 AS VARCHAR) "
    "|| '&b=' || CAST((doc_id // 2) % 4 AS VARCHAR) AS canonical_url, "
    "'Doc ' || CAST(doc_id AS VARCHAR) || "
    "' Title ' || CAST(doc_id % 50 AS VARCHAR) || chr(10) || "
    "'alpha & beta ' || CAST(doc_id AS VARCHAR) || chr(10) || "
    "'row ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || "
    "'item ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || "
    "'tail ' || CAST(doc_id AS VARCHAR) AS text FROM documents"
)


def _q_t_robots_filter(spark, sf_dir):
    """Crawl-compliance frontier filtering (operators/curation.py::
    robots_rules + robots_allowed, round 10; RFC 9309 wildcards round
    11): per sibling-pair g a unique domain d{g}.example.com publishes
    "Disallow: /p{g%7}" with the longest-match exception
    "Allow: /p{g%7}/q{g%3}" and the wildcard rule
    "Disallow: /p{g%7}/*.zip$". Doc requests by residue: odd docs hit
    a sibling path under the literal disallow (blocked); doc_id%4==0
    docs request .../f.zip — the anchored wildcard (spec 10) beats the
    shorter Allow (spec 6), blocked; doc_id%8==6 docs request
    .../fxzip — allowed only if the '.' in the wildcard is properly
    regex-escaped; remaining evens hit the allowed subtree. Closed
    form: crawl_allowed = even AND doc_id%4 != 0. Any group parsing,
    longest-match, allow-tie, wildcard-compile, anchor, escape, or
    domain-extraction defect hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        robots_allowed,
        robots_rules,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    g = (F.col("doc_id") / 2).cast("long")
    p, q = (g % 7).cast("string"), (g % 3).cast("string")
    dom = F.concat(F.lit("d"), g.cast("string"), F.lit(".example.com"))
    robots = F.concat(
        F.lit("User-agent: *\nDisallow: /p"), p,
        F.lit("\nAllow: /p"), p, F.lit("/q"), q,
        F.lit("\nDisallow: /p"), p, F.lit("/*.zip$\n"),
    )
    rules = robots_rules(
        d.select(dom.alias("domain"), robots.alias("robots_txt")).distinct()
    )
    tail = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("/q"), q, F.lit("/f.zip")))
        .when(F.col("doc_id") % 8 == 6, F.concat(F.lit("/q"), q, F.lit("/fxzip")))
        .when(F.col("doc_id") % 2 == 0, F.concat(F.lit("/q"), q))
        .otherwise(F.lit("/x"))
    )
    urls = d.select(
        "doc_id",
        F.concat(F.lit("http://"), dom, F.lit("/p"), p, tail).alias("url"),
    )
    return robots_allowed(urls, rules).select("doc_id", "url", "crawl_allowed")


def _q_t_frontier_schedule(spark, sf_dir):
    """Politeness scheduling over a crawl frontier
    (operators/curation.py::robots_directives + frontier_schedule,
    round 12): 20 domains d{k}.example.com each publish a robots.txt
    whose Crawl-delay is k%4+1 seconds (k%5==0 domains OMIT the line —
    those fall back to the 1.0 s default) plus one Sitemap line (two
    when k%3==0 — sitemaps are file-global). Every document becomes a
    frontier URL on its doc_id%20 domain; the schedule assigns 0-based
    per-domain slots in URL order and offset = slot × delay. Any
    defect in the directive walk (group selection, delay parse,
    global sitemap collection), the host extraction, the
    default-delay fallback, or the slot window hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        frontier_schedule,
        robots_directives,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 20
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("http://d"), k.cast("string"),
            F.lit(".example.com/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    rk = F.col("id")
    robots = spark.range(20).select(
        F.concat(
            F.lit("d"), rk.cast("string"), F.lit(".example.com")
        ).alias("domain"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.when(rk % 5 == 0, F.lit("")).otherwise(
                F.concat(
                    F.lit("Crawl-delay: "), (rk % 4 + 1).cast("string"),
                    F.lit("\n"),
                )
            ),
            F.lit("Sitemap: http://sm/a.xml\n"),
            F.when(
                rk % 3 == 0, F.lit("Sitemap: http://sm/b.xml\n")
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    dirs = robots_directives(robots)
    sched = frontier_schedule(urls, dirs, default_delay=1.0)
    return sched.join(
        F.broadcast(
            dirs.select(
                F.col("domain").alias("fetch_domain"),
                F.size("sitemaps").alias("n_sitemaps"),
            )
        ),
        "fetch_domain",
    ).select(
        "doc_id",
        F.col("fetch_domain").alias("domain"),
        "fetch_slot",
        "fetch_offset_seconds",
        "n_sitemaps",
    )


def _q_t_sitemap_urls(spark, sf_dir):
    """Sitemap discovery (operators/curation.py::parse_sitemaps,
    round 12): even documents carry a namespaced <urlset> with two
    <loc> entries — one entity-escaped (&amp;) and
    whitespace-padded, one plain — odd documents a prefixed
    <sitemapindex> naming one child sitemap. The walk must explode
    per-loc, classify urlset vs index, decode XML entities, trim, and
    accept namespace prefixes; any defect hash-mismatches against the
    arithmetic reconstruction."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        parse_sitemaps,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    ds = F.col("doc_id").cast("string")
    xml = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit(
                '<urlset xmlns="http://www.sitemaps.org/schemas/'
                'sitemap/0.9"><url><loc> http://s'
            ),
            ds, F.lit(".com/a?x=1&amp;y="), ds,
            F.lit(" </loc><lastmod>2024-01-01</lastmod></url>"
                  "<url><loc>http://s"),
            ds, F.lit(".com/b"), ds, F.lit("</loc></url></urlset>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<sm:sitemapindex xmlns:sm='x'><sm:sitemap>"
                  "<sm:loc>http://s"),
            ds, F.lit(".com/sm"), ds,
            F.lit(".xml</sm:loc></sm:sitemap></sm:sitemapindex>"),
        )
    )
    return parse_sitemaps(d.withColumn("sitemap_xml", xml)).select(
        "doc_id", "loc", "kind"
    )


def _q_d_exact_index_dedup(spark, sf_dir):
    """Standing exact seen-set (operators/dedup.py::exact_build_index
    + exact_incremental_dedup, round 12) — the URL-frontier dedup of a
    standing crawl. Seed index = the URLs of doc_id%5==0 docs (keys =
    multiples of 5 mod 50). Batch 1 (odd docs, key doc_id%50, always
    odd) drops its key-multiple-of-5 rows against the index and keeps
    the min doc per remaining key; its survivors APPEND. Batch 2
    (even docs, key (doc_id%50)+1 — all odd) must come back EMPTY:
    every key is either a multiple of 5 (in the seed) or an odd
    non-multiple batch 1 just appended — consecutive doc_ids from 0
    guarantee coverage. A broken probe, window, or append emits
    phantom batch-2 rows (or drops batch-1 ones) and
    hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        exact_build_index,
        exact_incremental_dedup,
    )

    t = "q_exact_seen_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    d = load(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 50
    url = F.concat(F.lit("http://f.com/"), k.cast("string"))
    url2 = F.concat(F.lit("http://f.com/"), (k + 1).cast("string"))
    exact_build_index(
        d.filter(F.col("doc_id") % 5 == 0).select(url.alias("url")),
        t,
        ["url"],
    )
    s1 = exact_incremental_dedup(
        spark, t,
        d.filter(F.col("doc_id") % 2 == 1).select("doc_id", url.alias("url")),
        ["url"], order_col="doc_id",
    )
    s2 = exact_incremental_dedup(
        spark, t,
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", url2.alias("url")),
        ["url"], order_col="doc_id",
    )
    return s1.withColumn("batch", F.lit(1)).unionByName(
        s2.withColumn("batch", F.lit(2))
    ).select("doc_id", "url", "batch")


_SQL_EXACT_INDEX_DEDUP = (
    "WITH odd AS (SELECT doc_id, doc_id % 50 AS k, "
    "row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) AS rn "
    "FROM documents WHERE doc_id % 2 = 1) "
    "SELECT doc_id, 'http://f.com/' || CAST(k AS VARCHAR) AS url, "
    "CAST(1 AS INT) AS batch FROM odd WHERE k % 5 <> 0 AND rn = 1"
)


def _q_x1_frontier_stream(spark, sf_dir):
    """Streaming URL-frontier dedup
    (streaming/events.stream_exact_dedup): the same two batches as
    d_exact_index_dedup arrive as two availableNow drains of a file
    stream (file 2 written only after drain 1, so the micro-batch
    split is exact), each probing + extending the standing exact
    seen-set under foreachBatch with replay-exact stamp threading.
    The sink must hold exactly the batch path's survivors — batch 2
    still provably empty iff drain 1's append landed."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        exact_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_exact_dedup,
    )

    idx = "exact_seen_s_" + _fixture_key(sf_dir)
    sink = "exact_sink_s_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    spark.sql(f"DROP TABLE IF EXISTS {sink}")
    d = load(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 50
    url = F.concat(F.lit("http://f.com/"), k.cast("string"))
    url2 = F.concat(F.lit("http://f.com/"), (k + 1).cast("string"))
    exact_build_index(
        d.filter(F.col("doc_id") % 5 == 0).select(url.alias("url")),
        idx,
        ["url"],
    )
    feed = tempfile.mkdtemp(prefix="frontier-feed-") + "/feed"
    ck = tempfile.mkdtemp(prefix="ck-frontier-")
    batches = [
        d.filter(F.col("doc_id") % 2 == 1).select("doc_id", url.alias("url")),
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", url2.alias("url")),
    ]
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(feed)
        sdf = spark.readStream.schema("doc_id long, url string").parquet(feed)
        stream_exact_dedup(sdf, idx, sink, ck, ["url"], order_col="doc_id")
    return spark.table(sink).select("doc_id", "url")


_SQL_FRONTIER_STREAM = (
    "WITH odd AS (SELECT doc_id, doc_id % 50 AS k, "
    "row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) AS rn "
    "FROM documents WHERE doc_id % 2 = 1) "
    "SELECT doc_id, 'http://f.com/' || CAST(k AS VARCHAR) AS url "
    "FROM odd WHERE k % 5 <> 0 AND rn = 1"
)


_SQL_SITEMAP_URLS = (
    "SELECT doc_id, 'http://s' || CAST(doc_id AS VARCHAR) "
    "|| '.com/a?x=1&y=' || CAST(doc_id AS VARCHAR) AS loc, "
    "'url' AS kind FROM documents WHERE doc_id % 2 = 0 "
    "UNION ALL "
    "SELECT doc_id, 'http://s' || CAST(doc_id AS VARCHAR) "
    "|| '.com/b' || CAST(doc_id AS VARCHAR), 'url' "
    "FROM documents WHERE doc_id % 2 = 0 "
    "UNION ALL "
    "SELECT doc_id, 'http://s' || CAST(doc_id AS VARCHAR) "
    "|| '.com/sm' || CAST(doc_id AS VARCHAR) || '.xml', 'sitemap' "
    "FROM documents WHERE doc_id % 2 = 1"
)


def _q_x1_frontier_schedule_stream(spark, sf_dir):
    """Streaming politeness scheduling
    (streaming/events.stream_frontier_schedule): the t_frontier_schedule
    fixture split into two availableNow drains — odd documents then
    even — against the same 20-domain directives. Batch-2 slots must
    CONTINUE each domain's counter where batch 1 stopped (state = a
    hash-partitioned next_slot table with replay-exact stamps), so the
    combined sink equals one global per-domain ranking ordered
    batch-then-doc_id. Any defect in the counter state, the stamp
    algebra, the delay join, or the default fallback
    hash-mismatches."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        robots_directives,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_frontier_schedule,
    )

    st = "frontier_state_s_" + _fixture_key(sf_dir)
    sk = "frontier_sink_s_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {st}")
    spark.sql(f"DROP TABLE IF EXISTS {sk}")
    rk = F.col("id")
    robots = spark.range(20).select(
        F.concat(
            F.lit("d"), rk.cast("string"), F.lit(".example.com")
        ).alias("domain"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.when(rk % 5 == 0, F.lit("")).otherwise(
                F.concat(
                    F.lit("Crawl-delay: "), (rk % 4 + 1).cast("string"),
                    F.lit("\n"),
                )
            ),
        ).alias("robots_txt"),
    )
    dirs = robots_directives(robots)
    d = load(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 20
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("http://d"), k.cast("string"),
            F.lit(".example.com/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    feed = tempfile.mkdtemp(prefix="fsched-feed-") + "/feed"
    ck = tempfile.mkdtemp(prefix="ck-fsched-")
    for par in (1, 0):  # odd batch first, then even
        urls.filter(F.col("doc_id") % 2 == par).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        sdf = spark.readStream.schema("doc_id long, url string").parquet(feed)
        stream_frontier_schedule(
            sdf, st, sk, ck, directives=dirs, order_col="doc_id"
        )
    return spark.table(sk).select(
        "doc_id", "fetch_domain", "fetch_slot", "fetch_offset_seconds"
    )


_SQL_FRONTIER_SCHEDULE_STREAM = (
    "WITH p AS (SELECT doc_id, doc_id % 20 AS k, "
    "row_number() OVER (PARTITION BY doc_id % 20 "
    "ORDER BY doc_id % 2 DESC, doc_id) - 1 AS fetch_slot "
    "FROM documents) "
    "SELECT doc_id, 'd' || CAST(k AS VARCHAR) || '.example.com' "
    "AS fetch_domain, fetch_slot, "
    "CAST(round(fetch_slot * (CASE WHEN k % 5 = 0 THEN 1.0 "
    "ELSE CAST(k % 4 + 1 AS DOUBLE) END), 6) AS DOUBLE) "
    "AS fetch_offset_seconds FROM p"
)


_SQL_FRONTIER_SCHEDULE = (
    "WITH f AS (SELECT doc_id, doc_id % 20 AS k, "
    "'p' || CAST(doc_id AS VARCHAR) AS leaf FROM documents), "
    "s AS (SELECT doc_id, k, "
    "row_number() OVER (PARTITION BY k ORDER BY leaf) - 1 AS fetch_slot "
    "FROM f) "
    "SELECT doc_id, "
    "'d' || CAST(k AS VARCHAR) || '.example.com' AS domain, "
    "fetch_slot, "
    "CAST(round(fetch_slot * (CASE WHEN k % 5 = 0 THEN 1.0 "
    "ELSE CAST(k % 4 + 1 AS DOUBLE) END), 6) AS DOUBLE) "
    "AS fetch_offset_seconds, "
    "CAST(CASE WHEN k % 3 = 0 THEN 2 ELSE 1 END AS INT) AS n_sitemaps "
    "FROM s"
)


def _q_t_crawl_tick(spark, sf_dir):
    """End-to-end crawl tick over standing state
    (operators/curation.py::crawl_tick, round 14): three ticks
    (doc_id%3, run in order) of sitemap-XML batches against one
    standing seen-set + frontier-counter pair. Per doc: domain
    k=doc_id%20, leaf=(doc_id//20)%10 (so URLs REPEAT across ticks and
    must dedup against the seen-set while slots CONTINUE the
    counters); the loc is uppercase-host + fragment + entity-escaped
    (canonicalizer must fold all three); doc_id%10==9 docs carry a
    <sitemapindex> child instead (discovered, never scheduled);
    domains k%4==0 disallow /p1 (blocked URLs never enter the seen
    set); delays k%4+1 except k%5==0 domains (default 1.0). The
    oracle replays the whole composition: the combined fetched table
    equals one global per-domain ranking of the robots-surviving
    first-occurrence URLs ordered (tick, doc_id). Any defect in the
    sitemap walk, canonicalization, RFC 9309 matching, seen-set
    algebra, counter continuation, or the delay join hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        crawl_tick,
    )

    key = _fixture_key(sf_dir)
    seen, state, fetched = (
        f"crawl_seen_{key}", f"crawl_state_{key}", f"crawl_fetched_{key}"
    )
    for t in (seen, state, fetched):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    rk = F.col("id")
    robots = spark.range(20).select(
        F.concat(
            F.lit("d"), rk.cast("string"), F.lit(".example.com")
        ).alias("domain"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.when(rk % 4 == 0, F.lit("Disallow: /p1\n")).otherwise(F.lit("")),
            F.when(rk % 5 == 0, F.lit("")).otherwise(
                F.concat(
                    F.lit("Crawl-delay: "), (rk % 4 + 1).cast("string"),
                    F.lit("\n"),
                )
            ),
        ).alias("robots_txt"),
    )
    d = load(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 20).cast("string")
    leaf = ((F.col("doc_id") / 20).cast("bigint") % 10).cast("string")
    xml = F.when(
        F.col("doc_id") % 10 == 9,
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>http://d"), k,
            F.lit(".example.com/child.xml</loc></sitemap></sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<urlset><url><loc>HTTP://D"), k,
            F.lit(".example.com/p"), leaf,
            F.lit("?a=1&amp;b=2#frag</loc></url></urlset>"),
        )
    )
    batches = d.withColumn("sitemap_xml", xml)
    out = None
    for tick in (0, 1, 2):
        out = crawl_tick(
            spark,
            batches.filter(F.col("doc_id") % 3 == tick),
            tick,
            seen_table=seen, frontier_state_table=state,
            fetched_table=fetched, robots_df=robots,
            # state sized to the fixture (200-URL space, 20 domains):
            # the SCALE.md ground rule — bucket/partition counts track
            # the data, not the defaults; cuts per-tick small-file
            # churn ~20% here, invisible to the oracle (layout only)
            seen_buckets=8, state_partitions=8,
        )
    result = out.sparkSession.table(fetched).select(
        "doc_id", "url", "fetch_domain", "fetch_slot",
        "fetch_offset_seconds", "sim_fp", "sim_status",
        F.col("_batch_id").cast("bigint").alias("tick"),
    )
    return result


def _q_x1_crawl_stream(spark, sf_dir):
    """Streaming crawl tick (streaming/events.stream_crawl_tick,
    round 14): the t_crawl_tick fixture's three tick batches drained
    as three availableNow micro-batches through ONE checkpoint — the
    full chain (sitemap walk → canonicalize → robots → standing
    seen-set → fetch-sim → politeness counters) runs inside
    foreachBatch with checkpoint-scoped stamps on BOTH state advances.
    The combined fetched table must equal the batch composition's
    global per-domain ranking (same oracle as t_crawl_tick); any
    defect in the stamp threading, the per-batch seen-set algebra, or
    the counter continuation hash-mismatches."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_crawl_tick,
    )

    key = _fixture_key(sf_dir)
    seen, state, fetched = (
        f"crawl_seen_s_{key}", f"crawl_state_s_{key}", f"crawl_fetched_s_{key}"
    )
    for t in (seen, state, fetched):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    rk = F.col("id")
    robots = spark.range(20).select(
        F.concat(
            F.lit("d"), rk.cast("string"), F.lit(".example.com")
        ).alias("domain"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.when(rk % 4 == 0, F.lit("Disallow: /p1\n")).otherwise(F.lit("")),
            F.when(rk % 5 == 0, F.lit("")).otherwise(
                F.concat(
                    F.lit("Crawl-delay: "), (rk % 4 + 1).cast("string"),
                    F.lit("\n"),
                )
            ),
        ).alias("robots_txt"),
    )
    d = load(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 20).cast("string")
    leaf = ((F.col("doc_id") / 20).cast("bigint") % 10).cast("string")
    xml = F.when(
        F.col("doc_id") % 10 == 9,
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>http://d"), k,
            F.lit(".example.com/child.xml</loc></sitemap></sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<urlset><url><loc>HTTP://D"), k,
            F.lit(".example.com/p"), leaf,
            F.lit("?a=1&amp;b=2#frag</loc></url></urlset>"),
        )
    )
    batches = d.withColumn("sitemap_xml", xml)
    feed = tempfile.mkdtemp(prefix="crawl-feed-") + "/feed"
    ck = tempfile.mkdtemp(prefix="ck-crawl-")
    for tick in (0, 1, 2):
        batches.filter(F.col("doc_id") % 3 == tick).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        sdf = spark.readStream.schema("doc_id long, sitemap_xml string").parquet(
            feed
        )
        stream_crawl_tick(
            sdf, seen, state, fetched, ck, robots_df=robots,
            # same state sizing as the batch fixture (layout only)
            seen_buckets=8, state_partitions=8,
        )
    return spark.table(fetched).select(
        "doc_id", "url", "fetch_domain", "fetch_slot",
        "fetch_offset_seconds", "sim_fp", "sim_status",
        F.col("_batch_id").cast("bigint").alias("tick"),
    )


_SQL_MINHASH_PAIRS = "WITH coef AS (SELECT i, ('0x'||substr(md5('a:1:' || CAST(i AS VARCHAR)),1,15))::BIGINT | 1 AS a, ('0x'||substr(md5('b:1:' || CAST(i AS VARCHAR)),1,15))::BIGINT AS b FROM range(64) _i(i)), toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents WHERE text IS NOT NULL AND trim(text) <> ''), s AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, greatest(len(t)-2, 0))]) AS sh FROM toks), ex AS (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE len(sh) > 0), xs AS (SELECT doc_id, ('0x'||substr(md5(shingle),1,8))::BIGINT AS x FROM ex), h AS (SELECT xs.doc_id, coef.i, min(((coef.a::HUGEINT * xs.x + coef.b) % 9223372036854775808)::BIGINT) AS hv FROM xs, coef GROUP BY xs.doc_id, coef.i), sig AS (SELECT doc_id, list(hv ORDER BY i) AS sg FROM h GROUP BY doc_id), bandkey AS (SELECT doc_id, band, array_to_string([CAST(sg[4*band + r + 1] AS VARCHAR) for r in [0,1,2,3]], ',') AS key, sg FROM sig, range(16) _b(band)), cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sg AS sga, b.sg AS sgb FROM bandkey a JOIN bandkey b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id), est AS (SELECT id_a, id_b, round(CAST(list_sum(list_transform(range(1,65), k -> CASE WHEN sga[k] = sgb[k] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0, 6) AS jaccard_est FROM cand) SELECT id_a, id_b, jaccard_est FROM est WHERE jaccard_est >= 0.5"


# Register-level HLL rollup: replay the md5 register/rho geometry, the
# lossless per-register max-merge (fine grain collapses out — merging
# per-(status,priority) maxima equals sketching per-status directly,
# and a drained micro-batch stream equals the batch sketch), and the
# Flajolet estimator. The Σ2^(-rho) denominator is the exact integer
# Σ2^(51-rho) (absent registers contribute 2^51 each), so no float
# aggregation order exists to drift between engines; the literal
# double expressions mirror the Python/Spark evaluation order.
def _sql_hll_register(table: str, key_col: str, value_col: str, out_col: str) -> str:
    return (
        f"WITH h AS (SELECT {key_col}, "
        f"('0x'||substr(md5(CAST({value_col} AS VARCHAR)),1,15))::BIGINT AS h FROM {table}), "
        f"reg AS (SELECT {key_col}, h % 1024 AS register, "
        "51 - length(ltrim(bin(h // 1024), '0')) AS rho FROM h), "
        f"mx AS (SELECT {key_col}, register, max(rho) AS rho FROM reg GROUP BY 1, 2), "
        f"agg AS (SELECT {key_col}, sum((1::BIGINT << (51 - rho)))::BIGINT AS s_hit, "
        "count(*) AS n_regs FROM mx GROUP BY 1), "
        f"est AS (SELECT {key_col}, "
        "(0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0 * 2251799813685248.0 "
        "/ CAST(s_hit + (1024 - n_regs) * 2251799813685248 AS DOUBLE) AS e_raw, "
        "1024 - n_regs AS zeros FROM agg) "
        f"SELECT {key_col}, CAST(round(CASE WHEN e_raw <= 2560.0 AND zeros > 0 "
        "THEN 1024.0 * ln(1024.0 / CAST(zeros AS DOUBLE)) ELSE e_raw END, 0) AS BIGINT) "
        f"AS {out_col} FROM est"
    )


_SQL_HLL_ROLLUP = _sql_hll_register(
    "orders", "o_orderstatus", "o_custkey", "approx_customers"
)
_SQL_HLL_STREAM = _sql_hll_register(
    "events", "event_type", "user_id", "approx_users"
)


# Standing-index incremental dedup: same md5 signature family as the
# pairs oracle but at the INDEX path's shingle_n=5 (minhash_build_index
# default). Corpus = even doc_ids (the indexed standard), batch = odd;
# a batch doc loses if any band slice matches a corpus doc with >= 32
# of 64 signature components equal (threshold 0.5, exact integer
# compare), or an earlier (smaller-id) batch doc likewise. Survivors =
# the batch anti-joined on the loser set — including sub-5-token and
# empty docs, which have no signature and always survive.
_SQL_MINHASH_INDEX_DEDUP = (
    "WITH coef AS (SELECT i, ('0x'||substr(md5('a:1:' || CAST(i AS VARCHAR)),1,15))::BIGINT | 1 AS a, "
    "('0x'||substr(md5('b:1:' || CAST(i AS VARCHAR)),1,15))::BIGINT AS b FROM range(64) _i(i)), "
    "toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents "
    "WHERE text IS NOT NULL AND trim(text) <> ''), "
    "s AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4], ' ') "
    "for i in generate_series(1, greatest(len(t)-4, 0))]) AS sh FROM toks), "
    "ex AS (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE len(sh) > 0), "
    "xs AS (SELECT doc_id, ('0x'||substr(md5(shingle),1,8))::BIGINT AS x FROM ex), "
    "h AS (SELECT xs.doc_id, coef.i, min(((coef.a::HUGEINT * xs.x + coef.b) % 9223372036854775808)::BIGINT) AS hv "
    "FROM xs, coef GROUP BY xs.doc_id, coef.i), "
    "sig AS (SELECT doc_id, list(hv ORDER BY i) AS sg FROM h GROUP BY doc_id), "
    "bandkey AS (SELECT doc_id, band, array_to_string([CAST(sg[4*band + r + 1] AS VARCHAR) "
    "for r in [0,1,2,3]], ',') AS key, sg FROM sig, range(16) _b(band)), "
    "corp AS (SELECT * FROM bandkey WHERE doc_id % 2 = 0), "
    "bat AS (SELECT * FROM bandkey WHERE doc_id % 2 = 1), "
    "vsc AS (SELECT DISTINCT n.doc_id FROM bat n JOIN corp c ON n.band = c.band AND n.key = c.key "
    "WHERE list_sum(list_transform(range(1,65), k -> CASE WHEN n.sg[k] = c.sg[k] THEN 1 ELSE 0 END)) >= 32), "
    "within AS (SELECT DISTINCT b.doc_id FROM bat a JOIN bat b "
    "ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id "
    "WHERE list_sum(list_transform(range(1,65), k -> CASE WHEN a.sg[k] = b.sg[k] THEN 1 ELSE 0 END)) >= 32) "
    "SELECT d.doc_id FROM documents d WHERE d.doc_id % 2 = 1 "
    "AND d.doc_id NOT IN (SELECT doc_id FROM vsc UNION SELECT doc_id FROM within) "
    "ORDER BY d.doc_id"
)


# Greedy dedup = the pairs pipeline above + the documented survivor
# rule (drop every id_b): reuse _SQL_MINHASH_PAIRS verbatim as a CTE
# so the two oracles can never drift apart.
_SQL_MINHASH_DEDUP = (
    "WITH pairs AS (" + _SQL_MINHASH_PAIRS + ") "
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars "
    "FROM documents d "
    "WHERE d.doc_id NOT IN (SELECT id_b FROM pairs)"
)


_SQL_COSINE_DEDUP_LSH = "WITH m AS (SELECT t, k, j, CASE WHEN ('0x'||substr(md5(CAST(7 + t AS VARCHAR) || ':' || CAST(k AS VARCHAR) || ':' || CAST(j AS VARCHAR)),1,1))::INT < 8 THEN 1.0 ELSE -1.0 END AS s FROM range(4) _t(t), range(4) _k(k), range(64) _j(j)), bits AS (SELECT e.vec_id, m.t, m.k, CASE WHEN sum(CAST(e.embedding[m.j + 1] AS DOUBLE) * m.s) > 0 THEN 1 ELSE 0 END AS bit FROM embeddings e, m GROUP BY e.vec_id, m.t, m.k), bk AS (SELECT vec_id, t, sum(bit * (1::BIGINT << k))::BIGINT AS bucket FROM bits GROUP BY vec_id, t), cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id), pairs AS (SELECT id_a, id_b, round(list_sum(list_transform(range(1,65), i -> CAST(e1.embedding[i] AS DOUBLE)*CAST(e2.embedding[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e1.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(e2.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cos FROM cand JOIN embeddings e1 ON e1.vec_id = cand.id_a JOIN embeddings e2 ON e2.vec_id = cand.id_b), losers AS (SELECT DISTINCT id_b FROM pairs WHERE cos >= 0.4) SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN (SELECT id_b FROM losers)"


_SQL_LSH_TOPK = "WITH m AS (SELECT k, j, CASE WHEN ('0x'||substr(md5('42:' || CAST(k AS VARCHAR) || ':' || CAST(j AS VARCHAR)),1,1))::INT < 8 THEN 1.0 ELSE -1.0 END AS s FROM range(64) _k(k), range(64) _j(j)), corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3), qv AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3), cd AS (SELECT e.vec_id, m.k // 8 AS t, m.k % 8 AS i, CASE WHEN sum(CAST(e.embedding[m.j + 1] AS DOUBLE) * m.s) > 0 THEN 1 ELSE 0 END AS bit FROM corpus e, m GROUP BY e.vec_id, m.k), cb AS (SELECT vec_id, t, sum(bit * (1::BIGINT << i))::BIGINT AS bucket FROM cd GROUP BY vec_id, t), qd AS (SELECT q.query_id, m.k // 8 AS t, m.k % 8 AS i, CASE WHEN sum(CAST(q.embedding[m.j + 1] AS DOUBLE) * m.s) > 0 THEN 1 ELSE 0 END AS bit FROM qv q, m GROUP BY q.query_id, m.k), qb AS (SELECT query_id, t, sum(bit * (1::BIGINT << i))::BIGINT AS bucket FROM qd GROUP BY query_id, t), probes AS (SELECT DISTINCT query_id, t, xor(bucket, o) AS bucket FROM qb, (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS o)), cand AS (SELECT DISTINCT p.query_id, c0.vec_id FROM probes p JOIN cb c0 ON c0.t = p.t AND c0.bucket = p.bucket), scored AS (SELECT cand.query_id, cand.vec_id, round(list_sum(list_transform(range(1,65), i -> CAST(c.embedding[i] AS DOUBLE)*CAST(q.embedding[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cos_sim FROM cand JOIN corpus c ON c.vec_id = cand.vec_id JOIN qv q ON q.query_id = cand.query_id) SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank FROM scored) WHERE rank <= 10"


# Deterministic grid-KMeans replay (similarity.py::grid_kmeans_fit):
# md5-seeded init, quantized-integer centroid sums (exact BIGINTs — no
# float aggregation order), float(s)/float(n) centroid division, and
# squared-L2 folds in array order with (d, cell) tie-breaks. The CTE
# chain below IS the Lloyd loop, one block per iteration; empty cells
# keep their previous centroid via the LEFT JOIN + COALESCE.
def _sql_grid_kmeans_ctes(
    src: str, k: int, iters: int, dim: int = 64, prefix: str = ""
) -> str:
    """``prefix`` namespaces the generated CTEs (cent0, dist1, ...) so
    one oracle can run TWO grid fits — e.g. v_ivf_split_topk's k=4
    build plus the k=2 sub-fit over the hot cell's own rows."""
    d_expr = (
        "list_sum(list_transform(range(1,{n}), j -> "
        "(CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]) * "
        "(CAST(c.vq[j] AS DOUBLE) - ct.cvec[j])))".format(n=dim + 1)
    )
    x = prefix
    parts = [
        f"{x}cent0 AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell, "
        f"list_transform(vq, x -> CAST(x AS DOUBLE)) AS cvec FROM {src} "
        f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})"
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"{x}dist{i} AS (SELECT c.vec_id, c.vq, ct.cell, {d_expr} AS d "
            f"FROM {src} c, {x}cent{p} ct)"
        )
        parts.append(
            f"{x}asg{i} AS (SELECT vec_id, vq, cell FROM (SELECT *, "
            f"row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn "
            f"FROM {x}dist{i}) WHERE rn = 1)"
        )
        parts.append(
            f"{x}upd{i} AS (SELECT cell, list(CAST(s AS DOUBLE)/CAST(n AS DOUBLE) ORDER BY j) AS cvec "
            f"FROM (SELECT cell, j, sum(vq[j]) AS s, count(*) AS n "
            f"FROM {x}asg{i}, range(1,{dim + 1}) r(j) GROUP BY cell, j) GROUP BY cell)"
        )
        parts.append(
            f"{x}cent{i} AS (SELECT p.cell, COALESCE(u.cvec, p.cvec) AS cvec "
            f"FROM {x}cent{p} p LEFT JOIN {x}upd{i} u ON u.cell = p.cell)"
        )
    return ", ".join(parts)


_SQL_QUANT = (
    "list_transform(embedding, x -> "
    "CAST(round(CAST(x AS DOUBLE) * 1048576.0, 0) AS BIGINT))"
)
_SQL_COS64 = (
    "round(list_sum(list_transform(range(1,65), i -> "
    "CAST(c.embedding[i] AS DOUBLE)*CAST(q.embedding[i] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)"
)

_SQL_IVF_TOPK = (
    "WITH corpq AS (SELECT vec_id, embedding, " + _SQL_QUANT + " AS vq "
    "FROM embeddings WHERE vec_id >= 3), "
    + _sql_grid_kmeans_ctes("corpq", k=16, iters=2)
    + ", fdist AS (SELECT c.vec_id, ct.cell, "
    "list_sum(list_transform(range(1,65), j -> "
    "(CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]) * (CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]))) AS d "
    "FROM corpq c, cent2 ct), "
    "fasg AS (SELECT vec_id, cell FROM (SELECT *, "
    "row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM fdist) WHERE rn = 1), "
    "qq AS (SELECT vec_id AS query_id, embedding, " + _SQL_QUANT + " AS vq "
    "FROM embeddings WHERE vec_id < 3), "
    "qdist AS (SELECT c.query_id, ct.cell, "
    "list_sum(list_transform(range(1,65), j -> "
    "(CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]) * (CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]))) AS d "
    "FROM qq c, cent2 ct), "
    "probes AS (SELECT query_id, cell FROM (SELECT *, "
    "row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn FROM qdist) WHERE rn <= 4), "
    "cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN fasg a ON a.cell = p.cell), "
    "scored AS (SELECT cand.query_id, cand.vec_id, " + _SQL_COS64 + " AS cos_sim "
    "FROM cand JOIN embeddings c ON c.vec_id = cand.vec_id "
    "JOIN (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3) q "
    "ON q.query_id = cand.query_id) "
    "SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM "
    "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank "
    "FROM scored) WHERE rank <= 10"
)


# Round-15 drift-remediation oracle: replays build -> drifted append ->
# hot-cell detection -> grid 2-means sub-fit -> child reassignment ->
# 5-cell probe, end to end (see _q_v_ivf_split_topk's docstring).
_SQL_D64 = (
    "list_sum(list_transform(range(1,65), j -> "
    "(CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]) * "
    "(CAST(c.vq[j] AS DOUBLE) - ct.cvec[j])))"
)

def _sql_ivf_split_topk(drift_expr: str) -> str:
    """The v_ivf_split_topk replay, parameterized by the synthetic
    drift vector's element expression (a function of ``vec_id`` and
    element index ``j``, integer-valued so float32 storage and the
    x2^20 quantization stay exact): v_ivf_split_topk uses the
    5-pattern spread, v_ivf_maintain_topk the fully-concentrated
    constant pattern (every drifted vector bins to ONE cell, which is
    what makes maintenance classify the drift as localized)."""
    return (
    "WITH corpq AS (SELECT vec_id, embedding, " + _SQL_QUANT + " AS vq "
    "FROM embeddings WHERE vec_id >= 3 AND vec_id % 4 <> 0), "
    + _sql_grid_kmeans_ctes("corpq", k=4, iters=2)
    + ", driftq AS (SELECT vec_id, "
    f"list_transform(range(1,65), j -> CAST({drift_expr} AS DOUBLE)) AS embedding, "
    f"list_transform(range(1,65), j -> CAST(({drift_expr}) * 1048576 AS BIGINT)) AS vq "
    "FROM embeddings WHERE vec_id >= 3 AND vec_id % 4 = 0), "
    "fdistA AS (SELECT c.vec_id, c.vq, ct.cell, " + _SQL_D64 + " AS d FROM corpq c, cent2 ct), "
    "fasgA AS (SELECT vec_id, vq, cell FROM (SELECT *, row_number() OVER "
    "(PARTITION BY vec_id ORDER BY d, cell) AS rn FROM fdistA) WHERE rn = 1), "
    "fdistB AS (SELECT c.vec_id, c.vq, ct.cell, " + _SQL_D64 + " AS d FROM driftq c, cent2 ct), "
    "fasgB AS (SELECT vec_id, vq, cell FROM (SELECT *, row_number() OVER "
    "(PARTITION BY vec_id ORDER BY d, cell) AS rn FROM fdistB) WHERE rn = 1), "
    "allasg AS (SELECT * FROM fasgA UNION ALL SELECT * FROM fasgB), "
    "cellcounts AS (SELECT cell, count(*) AS n FROM allasg GROUP BY cell), "
    "hot AS (SELECT cell FROM cellcounts WHERE n > 0.3 * "
    "(SELECT sum(n) FROM cellcounts) AND n >= 2), "
    "hotrows AS (SELECT vec_id, vq FROM allasg WHERE cell = (SELECT cell FROM hot)), "
    + _sql_grid_kmeans_ctes("hotrows", k=2, iters=2, prefix="s_")
    + ", childdist AS (SELECT c.vec_id, ct.cell, " + _SQL_D64 + " AS d FROM hotrows c, s_cent2 ct), "
    "childasg AS (SELECT vec_id, cell AS child FROM (SELECT *, row_number() OVER "
    "(PARTITION BY vec_id ORDER BY d, cell) AS rn FROM childdist) WHERE rn = 1), "
    "finalasg AS (SELECT vec_id, cell FROM allasg WHERE cell <> (SELECT cell FROM hot) "
    "UNION ALL SELECT vec_id, CASE WHEN child = 0 THEN (SELECT cell FROM hot) "
    "ELSE 4 END AS cell FROM childasg), "
    "newcent AS (SELECT p.cell, CASE WHEN p.cell = (SELECT cell FROM hot) "
    "THEN (SELECT cvec FROM s_cent2 WHERE cell = 0) ELSE p.cvec END AS cvec FROM cent2 p "
    "UNION ALL SELECT 4 AS cell, (SELECT cvec FROM s_cent2 WHERE cell = 1) AS cvec), "
    "qq AS (SELECT vec_id AS query_id, embedding, " + _SQL_QUANT + " AS vq "
    "FROM embeddings WHERE vec_id < 3), "
    "qdist AS (SELECT c.query_id, ct.cell, " + _SQL_D64 + " AS d FROM qq c, newcent ct), "
    "probes AS (SELECT query_id, cell FROM (SELECT *, row_number() OVER "
    "(PARTITION BY query_id ORDER BY d, cell) AS rn FROM qdist) WHERE rn <= 2), "
    "cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN finalasg a ON a.cell = p.cell), "
    "allemb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3 AND vec_id % 4 <> 0 "
    "UNION ALL SELECT vec_id, embedding FROM driftq), "
    "scored AS (SELECT cand.query_id, cand.vec_id, " + _SQL_COS64 + " AS cos_sim "
    "FROM cand JOIN allemb c ON c.vec_id = cand.vec_id "
    "JOIN (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3) q "
    "ON q.query_id = cand.query_id) "
    "SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM "
    "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank "
    "FROM scored) WHERE rank <= 10"
    )


_SQL_IVF_SPLIT_TOPK = _sql_ivf_split_topk("(vec_id % 5) + 3 + (j % 2)")
_SQL_IVF_MAINTAIN_TOPK = _sql_ivf_split_topk("3 + (j % 2)")


# Cold-cell merge replay (v_ivf_merge_topk, round 16): a skewed
# constant-blob corpus (blob masses 40/40/18/2% of ids, integer-valued
# patterns -> float32 + x2^20 exact) is grid-built at k=4 — WHATEVER
# cell composition the md5-seeded fit lands on (blob-per-cell,
# shared cells + empty cells, ...), every cell's mass is a sum of
# whole blobs, so the 0.1 cold threshold is never borderline and at
# least one cell is always cold (the 2% sliver or an empty cell)
# while the largest (>= 25% by pigeonhole) always survives. The SQL
# replays the fit, the full assignment, the cold detection over the
# COMPLETE 0..k-1 matrix range (empty cells included), the
# nearest-surviving-centroid reassignment of the cold rows
# (tie-break by survivor position, = grid_assign_cells over the
# survivor list), the swap-remove renumbering in closed form (holes
# below S=|survivors| ascending pair with survivor ids >= S
# descending — provably the loop's outcome), and the 2-probe cosine
# top-10 over the shrunk matrix.
_SQL_IVF_MERGE_TOPK = (
    "WITH corpq AS (SELECT vec_id, "
    "list_transform(range(1,65), j -> CAST("
    "(CASE WHEN vec_id % 100 < 40 THEN 0 WHEN vec_id % 100 < 80 THEN 1 "
    "WHEN vec_id % 100 < 98 THEN 2 ELSE 3 END) * 10 + 3 + (j % 2) "
    "AS DOUBLE)) AS embedding, "
    "list_transform(range(1,65), j -> CAST(("
    "(CASE WHEN vec_id % 100 < 40 THEN 0 WHEN vec_id % 100 < 80 THEN 1 "
    "WHEN vec_id % 100 < 98 THEN 2 ELSE 3 END) * 10 + 3 + (j % 2)"
    ") * 1048576 AS BIGINT)) AS vq "
    "FROM embeddings WHERE vec_id >= 3), "
    + _sql_grid_kmeans_ctes("corpq", k=4, iters=2)
    + ", fdist AS (SELECT c.vec_id, c.vq, ct.cell, " + _SQL_D64 + " AS d "
    "FROM corpq c, cent2 ct), "
    "fasg AS (SELECT vec_id, vq, cell FROM (SELECT *, row_number() OVER "
    "(PARTITION BY vec_id ORDER BY d, cell) AS rn FROM fdist) WHERE rn = 1), "
    "cellcounts AS (SELECT r.cell, COALESCE(cnt.n, 0) AS n FROM "
    "(SELECT CAST(unnest(range(4)) AS INT) AS cell) r LEFT JOIN "
    "(SELECT cell, count(*) AS n FROM fasg GROUP BY cell) cnt USING (cell)), "
    "cold AS (SELECT cell FROM cellcounts "
    "WHERE n < 0.1 * (SELECT sum(n) FROM cellcounts)), "
    "surv AS (SELECT cell, row_number() OVER (ORDER BY cell) - 1 AS pos "
    "FROM cellcounts WHERE cell NOT IN (SELECT cell FROM cold)), "
    "sn AS (SELECT count(*) AS s FROM surv), "
    "holes AS (SELECT cell AS hole, row_number() OVER (ORDER BY cell) AS rn "
    "FROM cold WHERE cell < (SELECT s FROM sn)), "
    "movers AS (SELECT cell, row_number() OVER (ORDER BY cell DESC) AS rn "
    "FROM surv WHERE cell >= (SELECT s FROM sn)), "
    "remap AS (SELECT surv.cell AS old, CASE WHEN surv.cell < (SELECT s FROM sn) "
    "THEN surv.cell ELSE (SELECT hole FROM holes JOIN movers USING (rn) "
    "WHERE movers.cell = surv.cell) END AS new FROM surv), "
    "coldrows AS (SELECT f.vec_id, f.vq FROM fasg f "
    "JOIN cold ON f.cell = cold.cell), "
    "colddist AS (SELECT c.vec_id, ct.cell, ct.pos, " + _SQL_D64 + " AS d "
    "FROM coldrows c, (SELECT s.cell, s.pos, ct2.cvec FROM surv s "
    "JOIN cent2 ct2 ON ct2.cell = s.cell) ct), "
    "coldasg AS (SELECT vec_id, cell FROM (SELECT *, row_number() OVER "
    "(PARTITION BY vec_id ORDER BY d, pos) AS rn FROM colddist) WHERE rn = 1), "
    "finalasg AS (SELECT f.vec_id, r.new AS cell FROM fasg f "
    "JOIN remap r ON f.cell = r.old "
    "UNION ALL SELECT ca.vec_id, r.new AS cell FROM coldasg ca "
    "JOIN remap r ON ca.cell = r.old), "
    "newcent AS (SELECT r.new AS cell, ct.cvec FROM cent2 ct "
    "JOIN remap r ON ct.cell = r.old), "
    "qq AS (SELECT vec_id AS query_id, "
    "list_transform(range(1,65), j -> CAST(vec_id * 10 + 3 + (j % 2) AS DOUBLE)) AS embedding, "
    "list_transform(range(1,65), j -> CAST((vec_id * 10 + 3 + (j % 2)) * 1048576 AS BIGINT)) AS vq "
    "FROM embeddings WHERE vec_id < 3), "
    "qdist AS (SELECT c.query_id, ct.cell, " + _SQL_D64 + " AS d "
    "FROM qq c, newcent ct), "
    "probes AS (SELECT query_id, cell FROM (SELECT *, row_number() OVER "
    "(PARTITION BY query_id ORDER BY d, cell) AS rn FROM qdist) WHERE rn <= 2), "
    "cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN finalasg a ON a.cell = p.cell), "
    "scored AS (SELECT cand.query_id, cand.vec_id, " + _SQL_COS64 + " AS cos_sim "
    "FROM cand JOIN corpq c ON c.vec_id = cand.vec_id "
    "JOIN qq q ON q.query_id = cand.query_id) "
    "SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM "
    "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank "
    "FROM scored) WHERE rank <= 10"
)


# Nearest-centroid quality model replay (quality_model.py round-14
# tier): quantized features -> percent_rank median label split ->
# exact-integer class centroids -> per-doc squared-distance decision.
def _sql_quality_model() -> str:
    tok = (
        "CASE WHEN text IS NULL THEN NULL WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
    )
    ntd = f"CAST(coalesce({tok}, 0) AS DOUBLE)"
    ncd = "CAST(length(text) AS DOUBLE)"
    mwl = f"(CASE WHEN {ntd} > 0 THEN {ncd} / {ntd} ELSE 0.0 END)"

    def ratio(p: str) -> str:
        return (
            f"(CASE WHEN {ncd} > 0 THEN "
            f"CAST(length(regexp_replace(text, '{p}', '', 'g')) AS DOUBLE) / {ncd} "
            "ELSE 0.0 END)"
        )

    stop = (
        f"round(CASE WHEN {ntd} > 0 THEN "
        "CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
        "t -> list_contains(['the','and','of','is'], t))) AS DOUBLE) "
        f"/ {ntd} ELSE 0.0 END, 6)"
    )
    rep = (
        "COALESCE(round(CASE WHEN text IS NULL THEN NULL "
        "WHEN (len(string_split_regex(trim(text), '\\s+')) - 1) > 0 THEN "
        "1.0 - CAST(len(list_distinct(list_transform("
        "range(1, len(string_split_regex(trim(text), '\\s+'))), "
        "i -> string_split_regex(trim(text), '\\s+')[i] || ' ' || "
        "string_split_regex(trim(text), '\\s+')[i+1]))) AS DOUBLE) "
        "/ CAST(len(string_split_regex(trim(text), '\\s+')) - 1 AS DOUBLE) "
        "ELSE 0.0 END, 6), 0.0)"
    )
    feats = [
        f"({ntd} / ({ntd} + 50.0))",
        f"({mwl} / ({mwl} + 5.0))",
        ratio("[^A-Za-z]"),
        ratio("[^0-9]"),
        ratio("[^!-/:-@\\[-`{-~]"),
        ratio("[^A-Z]"),
        stop,
        rep,
    ]
    fq = ", ".join(
        f"CAST(round({f} * 1048576.0, 0) AS BIGINT)" for f in feats
    )
    quality = (
        "round(CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0 ELSE "
        "0.5 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
        " / CAST(length(text) AS DOUBLE)) "
        "+ 0.3 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)"
        " / CAST(length(text) AS DOUBLE)) "
        "+ 0.2 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) END, 6)"
    )
    dsq = (
        "list_sum(list_transform(range(1,9), j -> "
        "(CAST(f.fq[j] AS DOUBLE) - {c}.cvec[j]) * "
        "(CAST(f.fq[j] AS DOUBLE) - {c}.cvec[j])))"
    )
    return (
        f"WITH feat AS (SELECT doc_id, [{fq}] AS fq FROM documents), "
        f"lab AS (SELECT doc_id, CASE WHEN percent_rank() OVER "
        f"(ORDER BY {quality}, doc_id) >= 0.5 THEN 1 ELSE 0 END AS label FROM documents), "
        "cs AS (SELECT label, j, sum(fq[j]) AS s, count(*) AS n "
        "FROM feat JOIN lab USING (doc_id), range(1,9) r(j) GROUP BY label, j), "
        "cent AS (SELECT label, list(CAST(s AS DOUBLE)/CAST(n AS DOUBLE) ORDER BY j) AS cvec "
        "FROM cs GROUP BY label), "
        "dd AS (SELECT f.doc_id, "
        + dsq.format(c="c1") + " AS d1, " + dsq.format(c="c0") + " AS d0 "
        "FROM feat f, (SELECT cvec FROM cent WHERE label = 1) c1, "
        "(SELECT cvec FROM cent WHERE label = 0) c0) "
        "SELECT doc_id, d1 <= d0 AS keep FROM dd"
    )


_SQL_QUALITY_MODEL = _sql_quality_model()


# Streaming ANN ingest replay: centroids trained on the EVEN half only
# (the built index), every corpus vector assigned with them (appends go
# through the same exact grid assignment as the build), then the
# standard probe + cosine ranking.
_SQL_ANN_STREAM = (
    "WITH corpq AS (SELECT vec_id, embedding, " + _SQL_QUANT + " AS vq "
    "FROM embeddings WHERE vec_id >= 3), "
    "corpe AS (SELECT * FROM corpq WHERE vec_id % 2 = 0), "
    + _sql_grid_kmeans_ctes("corpe", k=16, iters=2)
    + ", fdist AS (SELECT c.vec_id, ct.cell, "
    "list_sum(list_transform(range(1,65), j -> "
    "(CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]) * (CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]))) AS d "
    "FROM corpq c, cent2 ct), "
    "fasg AS (SELECT vec_id, cell FROM (SELECT *, "
    "row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM fdist) WHERE rn = 1), "
    "qq AS (SELECT vec_id AS query_id, embedding, " + _SQL_QUANT + " AS vq "
    "FROM embeddings WHERE vec_id < 3), "
    "qdist AS (SELECT c.query_id, ct.cell, "
    "list_sum(list_transform(range(1,65), j -> "
    "(CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]) * (CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]))) AS d "
    "FROM qq c, cent2 ct), "
    "probes AS (SELECT query_id, cell FROM (SELECT *, "
    "row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn FROM qdist) WHERE rn <= 4), "
    "cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN fasg a ON a.cell = p.cell), "
    "scored AS (SELECT cand.query_id, cand.vec_id, " + _SQL_COS64 + " AS cos_sim "
    "FROM cand JOIN embeddings c ON c.vec_id = cand.vec_id "
    "JOIN (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3) q "
    "ON q.query_id = cand.query_id) "
    "SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM "
    "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank "
    "FROM scored) WHERE rank <= 10"
)


# SemDeDup replay: same grid-KMeans CTE chain at k=8 over ALL non-null
# embeddings, final cell assignment with the trained centroids, in-cell
# cosine pairs at threshold 0.4, greedy drop of every id_b.
_SQL_SEMANTIC_DEDUP = (
    "WITH corpq AS (SELECT vec_id, embedding, " + _SQL_QUANT + " AS vq "
    "FROM embeddings WHERE embedding IS NOT NULL), "
    + _sql_grid_kmeans_ctes("corpq", k=8, iters=2)
    + ", fdist AS (SELECT c.vec_id, ct.cell, "
    "list_sum(list_transform(range(1,65), j -> "
    "(CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]) * (CAST(c.vq[j] AS DOUBLE) - ct.cvec[j]))) AS d "
    "FROM corpq c, cent2 ct), "
    "fasg AS (SELECT vec_id, cell FROM (SELECT *, "
    "row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM fdist) WHERE rn = 1), "
    "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
    _SQL_COS64.replace("q.embedding", "e2.embedding").replace(
        "c.embedding", "e1.embedding"
    ) + " AS cos_sim "
    "FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id "
    "JOIN embeddings e1 ON e1.vec_id = a.vec_id "
    "JOIN embeddings e2 ON e2.vec_id = b.vec_id), "
    "losers AS (SELECT DISTINCT id_b FROM pairs WHERE cos_sim >= 0.4) "
    "SELECT vec_id, label FROM embeddings "
    "WHERE vec_id NOT IN (SELECT id_b FROM losers)"
)


_SQL_SPAN_INDEX_DEDUP = "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents), spans AS (SELECT k.doc_id, CAST(s.i AS BIGINT) AS pos, array_to_string(k.t[CAST(s.i AS INT):CAST(s.i AS INT)+7], ' ') AS g FROM toks k CROSS JOIN LATERAL (SELECT unnest(range(1, len(k.t) - 8 + 2)) AS i) s), hist AS (SELECT DISTINCT g FROM spans WHERE doc_id % 2 = 0), bspans AS (SELECT doc_id, pos, g FROM spans WHERE doc_id % 2 = 1), hist_hits AS (SELECT b.doc_id, b.pos FROM bspans b JOIN hist USING (g)), dup_hits AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn FROM bspans) WHERE cnt >= 2 AND rn >= 2), hits AS (SELECT doc_id, pos FROM hist_hits UNION SELECT doc_id, pos FROM dup_hits), kept AS (SELECT k.doc_id, s.i AS j, k.t[CAST(s.i AS INT)] AS tok FROM toks k CROSS JOIN LATERAL (SELECT unnest(range(1, len(k.t) + 1)) AS i) s WHERE k.doc_id % 2 = 1 AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = k.doc_id AND h.pos <= s.i AND s.i <= h.pos + 7)), agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS kt, count(*) AS nk FROM kept GROUP BY doc_id) SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(a.kt, '') END AS deduped_text, CASE WHEN d.text IS NULL THEN NULL ELSE CAST(len(string_split_regex(trim(d.text), '\\s+')) - coalesce(a.nk, 0) AS BIGINT) END AS n_tokens_removed FROM documents d LEFT JOIN agg a USING (doc_id) WHERE d.doc_id % 2 = 1"


_SQL_SIMHASH_PAIRS = "WITH base AS (SELECT doc_id, text FROM documents), corpus AS (SELECT doc_id, text FROM base UNION ALL SELECT doc_id + 100000 AS doc_id, text || ' trailingmark' AS text FROM base WHERE doc_id % 5 = 0), t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus), s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+1], ' ') for i in generate_series(1, greatest(len(toks)-1, 0))]) AS sh FROM t), ex AS (SELECT doc_id, unnest(sh) AS shingle FROM s), bits AS (SELECT doc_id, p, CASE WHEN (('0x'||substr(md5(shingle),1,16))::UBIGINT >> (63 - p)) & 1 = 1 THEN 1 ELSE -1 END AS contrib FROM ex, range(64) _p(p)), sums AS (SELECT doc_id, p, sum(contrib) AS w FROM bits GROUP BY doc_id, p), sb AS (SELECT doc_id, p, CASE WHEN w > 0 THEN 1 ELSE 0 END AS b FROM sums), vals AS (SELECT doc_id, sum(CASE WHEN p = 0 THEN (CASE WHEN b = 1 THEN -9223372036854775808 ELSE 0 END) ELSE b * (1::BIGINT << (63 - greatest(p, 1))) END)::BIGINT AS sh, sum(CASE WHEN p < 16 THEN b * (1::BIGINT << (15 - least(p, 15))) ELSE 0 END)::BIGINT AS bucket FROM sb GROUP BY doc_id) SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming FROM vals a JOIN vals b ON a.bucket = b.bucket AND a.doc_id < b.doc_id WHERE bit_count(xor(a.sh, b.sh)) <= 6"


_SQL_CMS_TOPK = (
    "WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL), "
    "cells AS (SELECT user_id, r, "
    "('0x'||substr(md5(user_id::VARCHAR || '#' || "
    "CAST(42 + r AS VARCHAR)),1,8))::BIGINT % 4096 AS bucket "
    "FROM ev, range(5) _r(r)), "
    "grid AS (SELECT r AS row, bucket, count(*) AS cnt "
    "FROM cells GROUP BY r, bucket), "
    "probes AS (SELECT DISTINCT user_id FROM ev), "
    "pc AS (SELECT user_id, r, "
    "('0x'||substr(md5(user_id::VARCHAR || '#' || "
    "CAST(42 + r AS VARCHAR)),1,8))::BIGINT % 4096 AS bucket "
    "FROM probes, range(5) _r(r)), "
    "est AS (SELECT pc.user_id, min(coalesce(g.cnt, 0)) AS est_count "
    "FROM pc LEFT JOIN grid g ON g.row = pc.r AND g.bucket = pc.bucket "
    "GROUP BY pc.user_id) "
    "SELECT user_id, est_count FROM est "
    "ORDER BY est_count DESC, user_id LIMIT 20"
)


_SQL_CRAWL_TICK = (
    "WITH d AS (SELECT doc_id, doc_id % 20 AS k, "
    "(doc_id // 20) % 10 AS leaf, doc_id % 3 AS tick "
    "FROM documents WHERE doc_id % 10 <> 9), "
    "c AS (SELECT *, 'http://d' || CAST(k AS VARCHAR) || "
    "'.example.com/p' || CAST(leaf AS VARCHAR) || '?a=1&b=2' AS url "
    "FROM d WHERE NOT (k % 4 = 0 AND leaf = 1)), "
    "f AS (SELECT *, row_number() OVER (PARTITION BY url "
    "ORDER BY tick, doc_id) AS rn FROM c), "
    "s AS (SELECT doc_id, k, tick, url, "
    "row_number() OVER (PARTITION BY k ORDER BY tick, doc_id) - 1 "
    "AS fetch_slot FROM f WHERE rn = 1) "
    "SELECT doc_id, url, "
    "'d' || CAST(k AS VARCHAR) || '.example.com' AS fetch_domain, "
    "fetch_slot, "
    "CAST(round(fetch_slot * (CASE WHEN k % 5 = 0 THEN 1.0 "
    "ELSE CAST(k % 4 + 1 AS DOUBLE) END), 6) AS DOUBLE) "
    "AS fetch_offset_seconds, "
    "md5(url) AS sim_fp, CAST(200 AS INT) AS sim_status, "
    "CAST(tick AS BIGINT) AS tick FROM s"
)


_SQL_ROBOTS_FILTER = (
    "SELECT doc_id, 'http://d' || CAST(doc_id // 2 AS VARCHAR) "
    "|| '.example.com/p' || CAST((doc_id // 2) % 7 AS VARCHAR) || "
    "CASE WHEN doc_id % 4 = 0 "
    "THEN '/q' || CAST((doc_id // 2) % 3 AS VARCHAR) || '/f.zip' "
    "WHEN doc_id % 8 = 6 "
    "THEN '/q' || CAST((doc_id // 2) % 3 AS VARCHAR) || '/fxzip' "
    "WHEN doc_id % 2 = 0 "
    "THEN '/q' || CAST((doc_id // 2) % 3 AS VARCHAR) ELSE '/x' END AS url, "
    "doc_id % 2 = 0 AND doc_id % 4 <> 0 AS crawl_allowed FROM documents"
)


_FP_SPREAD = 0x0001_0001_0001_0001  # class id repeated in all 4 bands


def _fp_index_fixture(spark, sf_dir):
    """(doc_id, phash, b) fingerprint fixture for the standing-index
    entries: class c = doc_id % 40 spread across all four 16-bit bands,
    xor a 2-bit variant v4 = (doc_id // 40) % 4 in band 1 — same-class
    docs sit at hamming ≤ 2 (near-dups iff popcount(v4a ^ v4b) ≤ 1),
    cross-class docs differ in all 4 bands (hamming ≥ 4, never pair at
    max_hamming 1). b = doc_id % 2 splits the corpus into two arrival
    batches. Pure Catalyst arithmetic, exactly replayable in SQL."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    fp = (F.col("doc_id") % 40) * F.lit(_FP_SPREAD)
    v4 = ((F.col("doc_id") / 40).cast("long") % 4) * 65536
    return d.select(
        "doc_id",
        fp.bitwiseXOR(v4).alias("phash"),
        (F.col("doc_id") % 2).cast("int").alias("b"),
    )


def _q_m_hash_index_dedup(spark, sf_dir):
    """Standing fingerprint index, incremental form
    (operators/multimodal.py::hamming_index_build +
    hamming_incremental_dedup, round 10 — the media twin of
    d_minhash_index_dedup): batch 1 (even doc_ids) self-dedups into an
    empty bucketed index; batch 2 (odd) drops docs within hamming 1 of
    the INDEXED SURVIVORS or of an earlier doc in its own batch, and
    its survivors append. The oracle replays both batches' drop rules
    as correlated EXISTS over the closed-form fingerprints (banding
    recall is total by pigeonhole: 4 bands > max_hamming 1, so the
    band-join is invisible to semantics) — any banding, bucket-join,
    append, or NULL-handling defect hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_incremental_dedup,
        hamming_index_build,
    )

    table = "fp_idx_q_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    f = _fp_index_fixture(spark, sf_dir)
    hamming_index_build(
        spark.createDataFrame([], "doc_id long, phash long"), table
    )
    surv1 = hamming_incremental_dedup(
        spark, table, f.filter(F.col("b") == 0).drop("b"), max_hamming=1
    )
    surv2 = hamming_incremental_dedup(
        spark, table, f.filter(F.col("b") == 1).drop("b"), max_hamming=1
    )
    return surv1.select("doc_id", F.lit(1).alias("batch")).unionByName(
        surv2.select("doc_id", F.lit(2).alias("batch"))
    )


def _q_m_hamming_reband_dedup(spark, sf_dir):
    """Band-width retune on a LIVE standing index
    (operators/multimodal.py::hamming_reband_index — the media twin of
    minhash_reband_index and the verb the family's ``cap_truncating``
    flag points to): batch 1 (even doc_ids) self-dedups into the index
    at the default 16-bit banding, the index is then re-banded to
    8-bit width FROM ITS STORED FINGERPRINTS (one band-0 slice scan,
    never a media re-decode), and batch 2 (odd) probes + appends under
    the new banding. Pigeonhole recall is total at BOTH widths for
    max_hamming 1 (4 bands > 1 and 8 bands > 1), so the semantics
    replay in the same closed-form EXISTS oracle as m_hash_index_dedup
    — but a broken reband is loudly visible: batch 2 re-explodes its
    probes at the META-recorded 8-bit width, so an index left in
    16-bit val space (a no-op reband) or re-derived from the wrong
    fingerprint slices joins on disjoint (band, val) keys, loses every
    candidate, and fails the survivor hash."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_incremental_dedup,
        hamming_index_build,
        hamming_reband_index,
    )

    table = "fp_reband_q_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    f = _fp_index_fixture(spark, sf_dir)
    hamming_index_build(
        spark.createDataFrame([], "doc_id long, phash long"), table
    )
    surv1 = hamming_incremental_dedup(
        spark, table, f.filter(F.col("b") == 0).drop("b"), max_hamming=1
    )
    surv1 = surv1.localCheckpoint(eager=True)  # pin before the rotation
    hamming_reband_index(spark, table, band_bits=8)
    surv2 = hamming_incremental_dedup(
        spark, table, f.filter(F.col("b") == 1).drop("b"), max_hamming=1
    )
    return surv1.select("doc_id", F.lit(1).alias("batch")).unionByName(
        surv2.select("doc_id", F.lit(2).alias("batch"))
    )


def _q_x1_media_dedup_stream(spark, sf_dir):
    """Streaming media dedup (streaming/events.stream_media_dedup):
    the same two batches arrive as two availableNow drains of a file
    stream (file 2 written only after drain 1 completes, so the
    micro-batch split is exact), each probing + extending the standing
    Hamming index via hamming_incremental_dedup under foreachBatch.
    The final index therefore holds exactly the batch path's
    survivors, and the oracle is the same closed-form EXISTS replay
    projected to survivor ids."""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_index_build,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_media_dedup,
    )

    table = "fp_idx_s_" + _fixture_key(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    f = _fp_index_fixture(spark, sf_dir)
    hamming_index_build(
        spark.createDataFrame([], "doc_id long, phash long"), table
    )
    feed = tempfile.mkdtemp(prefix="fp-feed-") + "/feed"
    ck = tempfile.mkdtemp(prefix="ck-fp-")
    for b in (0, 1):
        f.filter(F.col("b") == b).drop("b").coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        sdf = spark.readStream.schema("doc_id long, phash long").parquet(feed)
        stream_media_dedup(sdf, table, ck, max_hamming=1)
    return (
        spark.table(table)
        .select("doc_id", "fp")
        .distinct()
        .withColumn("batch", (F.col("doc_id") % 2 + 1).cast("int"))
    )


_SQL_FP_FIXTURE = (
    "f AS (SELECT doc_id, xor((doc_id % 40) * 281479271743489, "
    "((doc_id // 40) % 4) * 65536) AS h, doc_id % 2 AS b FROM documents), "
    "s1 AS (SELECT doc_id, h FROM f WHERE b = 0 AND NOT EXISTS ("
    "SELECT 1 FROM f a WHERE a.b = 0 AND a.doc_id < f.doc_id "
    "AND bit_count(xor(a.h, f.h)) <= 1)), "
    "s2 AS (SELECT doc_id, h FROM f WHERE b = 1 AND NOT EXISTS ("
    "SELECT 1 FROM s1 WHERE bit_count(xor(s1.h, f.h)) <= 1) "
    "AND NOT EXISTS (SELECT 1 FROM f a WHERE a.b = 1 "
    "AND a.doc_id < f.doc_id AND bit_count(xor(a.h, f.h)) <= 1))"
)

_SQL_HASH_INDEX_DEDUP = (
    f"WITH {_SQL_FP_FIXTURE} "
    "SELECT doc_id, 1 AS batch FROM s1 "
    "UNION ALL SELECT doc_id, 2 AS batch FROM s2"
)

_SQL_MEDIA_DEDUP_STREAM = (
    f"WITH {_SQL_FP_FIXTURE} "
    "SELECT doc_id, h AS fp, 1 AS batch FROM s1 "
    "UNION ALL SELECT doc_id, h AS fp, 2 AS batch FROM s2"
)


def _q_m_audio_fp_pairs(spark, sf_dir):
    """Audio spectral near-dup — the AUDIO twin of image aHash and
    text MinHash (operators/multimodal.py::audio_spectral_hash +
    audio_hash_pairs, round 10): per document a real RIFF/PCM WAV is
    synthesized (8 windows x 512 samples at 8192 Hz; window w carries
    nine bin-aligned sines at 448+304m Hz with amplitudes
    700·(1 + (r4 + r7(w+1) + s(m+1)) mod 4), r4 = g%4, r7 = g%7,
    s = 1 + (g%11)%3, g = doc_id//2 — s coprime to 4, so adjacent
    bands NEVER tie), encoded through encode_wav, decoded back through
    the real PCM tier, fingerprinted (rfft band energies, bit(w,m) =
    E(w,m) > E(w,m+1)), and Hamming-banded into near-dup pairs (≤ 3).
    Odd siblings re-encode at 0.4x volume (amplitude 280), which
    CANCELS in the adjacent-band compares, so they pair at hamming 0
    through the actual encode→decode→FFT path; the oracle recomputes
    every hash ARITHMETICALLY from the closed form (bit = (r4 +
    r7(w+1) + s(m+1))%4 > (r4 + r7(w+1) + s(m+2))%4 — sine energy is
    monotone in amplitude and bin alignment kills leakage) and scores
    all pairs — any WAV parse, mixdown, FFT, band-binning, banding, or
    bit_count defect hash-mismatches. Banding recall is total by
    pigeonhole (4 bands > max_hamming 3)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        audio_hash_pairs,
        audio_spectral_hash,
        encode_wav,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        import numpy as np

        n = np.arange(512)
        sin_t = np.sin(2 * np.pi * np.outer(28 + 19 * np.arange(9), n) / 512)
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                g = did // 2
                r4, r7, s = g % 4, g % 7, 1 + (g % 11) % 3
                base = 700 if did % 2 == 0 else 280
                amps = np.array(
                    [
                        [
                            base * (1 + (r4 + r7 * (w + 1) + s * (m + 1)) % 4)
                            for m in range(9)
                        ]
                        for w in range(8)
                    ],
                    dtype=np.float64,
                )
                pcm = np.rint(amps @ sin_t).astype("<i2").tobytes()
                blobs.append(encode_wav(8192, 1, pcm))
            pdf["content"] = blobs
            yield pdf

    blobs = d.mapInPandas(make, "doc_id long, content binary")
    hashes = audio_spectral_hash(blobs, "content")
    pairs = audio_hash_pairs(hashes, "doc_id", "afp", max_hamming=3)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


_SQL_AUDIO_FP_PAIRS = (
    "WITH params AS (SELECT doc_id, (doc_id // 2) % 4 AS r4, "
    "(doc_id // 2) % 7 AS r7, 1 + ((doc_id // 2) % 11) % 3 AS s "
    "FROM documents), "
    "grid AS (SELECT w.w, m.m FROM generate_series(0, 7) w(w), "
    "generate_series(0, 7) m(m)), "
    # closed-form fingerprint: band m amplitude multiplier is
    # 1 + (r4 + r7(w+1) + s(m+1)) % 4; energy is monotone in amplitude
    # -> bit(w,m) = (r4 + r7(w+1) + s(m+1))%4 > (r4 + r7(w+1) + s(m+2))%4
    "uh AS (SELECT doc_id, sum(CASE WHEN "
    "(r4 + r7 * (w + 1) + s * (m + 1)) % 4 > "
    "(r4 + r7 * (w + 1) + s * (m + 2)) % 4 "
    "THEN CAST(1 AS HUGEINT) << (w * 8 + m) "
    "ELSE CAST(0 AS HUGEINT) END) AS u FROM params, grid GROUP BY doc_id), "
    "hashes AS (SELECT doc_id, CAST(u - CASE WHEN u >= CAST("
    "'9223372036854775808' AS HUGEINT) THEN CAST("
    "'18446744073709551616' AS HUGEINT) ELSE 0 END AS BIGINT) AS h FROM uh) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming "
    "FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.h, b.h)) <= 3"
)


_SQL_IMAGE_AHASH_PAIRS = (
    "WITH params AS (SELECT doc_id, "
    "1 + (doc_id // 2) % 7 AS a, 1 + (doc_id // 2) % 5 AS b FROM documents), "
    "grid AS (SELECT i.i, j.j FROM generate_series(0, 7) i(i), "
    "generate_series(0, 7) j(j)), "
    # closed-form aHash of the 16x16 gradient a*x + b*y + k: cell (i,j)
    # mean = a(2i+.5) + b(2j+.5) + k, mean of means = 7.5(a+b) + k; the
    # brightness k cancels -> bit = a(4i+1) + b(4j+1) > 15(a+b)
    "uh AS (SELECT doc_id, sum(CASE WHEN a * (4 * i + 1) + b * (4 * j + 1) "
    "> 15 * (a + b) THEN CAST(1 AS HUGEINT) << (j * 8 + i) "
    "ELSE CAST(0 AS HUGEINT) END) AS u FROM params, grid GROUP BY doc_id), "
    "hashes AS (SELECT doc_id, CAST(u - CASE WHEN u >= CAST("
    "'9223372036854775808' AS HUGEINT) THEN CAST("
    "'18446744073709551616' AS HUGEINT) ELSE 0 END AS BIGINT) AS h FROM uh) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming "
    "FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.h, b.h)) <= 2"
)


def _q_m_decode_progressive(spark, sf_dir):
    """PROGRESSIVE JPEG tier end-to-end (operators/jpeg_progressive.py,
    round 10) with the same arithmetic-oracle pattern as m_decode_jpeg:
    per document a deterministic gradient is encoded as a multi-scan
    SOF2 progressive JPEG (gray for odd ids, RGB for even, 4:2:0 when
    doc_id % 4 == 0), decoded back through the full spectral-selection
    + successive-approximation path inside the same Arrow batch, and
    its header re-parsed through the decode_images Spark tier. Both
    encoders share one quantization pipeline, so the tolerance
    contract matches the baseline entry's; the oracle recomputes dims
    arithmetically and expects within_tol = 1 everywhere — any scan
    decode, refinement, EOB-run, or dispatch defect hash-mismatches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        decode_jpeg,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg_progressive import (
        encode_jpeg_progressive,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        decode_images,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        for pdf in it:
            blobs, errs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 17, 8 + did % 11
                ch = 1 if did % 2 else 3
                sub = "420" if (ch == 3 and did % 4 == 0) else "444"
                px = bytes(
                    x * 3 + y * 2 + c * 10 + did % 50
                    for y in range(h) for x in range(w) for c in range(ch)
                )
                blob = encode_jpeg_progressive(
                    w, h, px, channels=ch, quality=92, subsampling=sub,
                )
                dec = decode_jpeg(blob)
                if dec is None or dec[:3] != (w, h, ch):
                    errs.append(255)
                else:
                    errs.append(max(abs(a - b) for a, b in zip(dec[3], px)))
                blobs.append(blob)
            pdf["content"] = blobs
            pdf["px_max_err"] = errs
            yield pdf

    blobs = d.mapInPandas(make, "doc_id long, content binary, px_max_err int")
    out = decode_images(blobs)
    return out.select(
        "doc_id",
        "width",
        "height",
        "channels",
        (F.col("px_max_err") <= 12).cast("int").alias("within_tol"),
    )


def _q_g_reference_dim_products(spark, sf_dir):
    """gold dim_products over the real corpus, completing the gold trio
    on the reference's own data: R4 key surgery on 397 real product
    keys, R5 (2 real NULL costs), R3 padded line codes, R6/R12 SCD-2
    close + current-rows (397 versions → 295 current), J3 broadcast to
    the real 37-row category dim (one id, CO_PE, genuinely unmatched —
    null-extends)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
        gold_dim_products,
        silver_crm_prd_info,
        silver_erp_px_cat_g1v2,
    )

    src_tables = _reference_sources(spark)
    dim = gold_dim_products(
        silver_crm_prd_info(src_tables["crm_prd_info"]),
        silver_erp_px_cat_g1v2(src_tables["erp_px_cat_g1v2"]),
    )
    return dim.withColumn("start_date", F.col("start_date").cast("string"))


_SQL_REF_DIM_PRODUCTS = (
    f"WITH {_SQL_REF_PRD}, {_SQL_REF_CATS} "
    "SELECT row_number() OVER (ORDER BY pn.prd_start_dt, pn.prd_key) "
    "AS product_key, pn.prd_id AS product_id, pn.prd_key AS product_number, "
    "pn.prd_nm AS product_name, pn.cat_id AS category_id, pc.cat AS category, "
    "pc.subcat AS subcategory, pc.maintenance, pn.prd_cost AS cost, "
    "pn.prd_line AS product_line, CAST(pn.prd_start_dt AS VARCHAR) AS start_date "
    "FROM silver_prd pn LEFT JOIN cats pc ON pn.cat_id = pc.id "
    "WHERE pn.prd_end_dt IS NULL"
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order is load-bearing: the driver's correctness
    harness verifies the FIRST 50 entries only, and entries ROTATE
    across rounds so every registered query keeps a driver verdict
    against CURRENT testdata.

    r17 window (this ordering): the round-17 addition
    (v_ivf_maintain_merge_topk — the sweep-chosen cold-cell merge;
    needs its first driver verdict), then the ENTIRE 14-entry
    r12-verified remainder (mandatory this round: it projects r12 >=
    floor r11 at the budget-6 gate), then the first 35 of the
    50-entry r13-verified tranche in registration order. After this
    window the worst projected verdict sits at r13 vs floor r11 — two
    rounds of margin held. r18 = the 15-entry r13 remainder + the r14
    tranche's head (35); r19 = the r14 remainder + the r15 tranche's
    head; the r16-verified tranche (last round's front-50) rotates
    last as the freshest cohort. The full ordering is now generated
    BY verdict age (newest driver verdict ascending, registration
    position as the tie-break, never-verified entries first), which
    is the self-maintaining form of the same schedule.

    Rotation arithmetic (why the budget is 6, not 5): 218 registered
    entries cycle through a 50-slot window, so a full re-verification
    pass takes ceil(N/50) >= 5 rounds even with ZERO slots spent on
    newly added queries — and every round adds oracle-backed entries
    that must be sampled soon after they land. A 5-round budget is
    therefore only satisfiable when the verdict cohorts are already
    perfectly smoothed; the inherited cohorts are lumpy (blocks of
    exactly 50), so rounds 13-17 smooth them. From r15 on the worst
    projected verdict sits strictly above the floor (margin), with
    ~10 spare slots per round for new entries. ENFORCE with
    ``python tools/check_rotation.py`` (fails when any entry's newest
    driver verdict would exceed the staleness budget under the current
    ordering) and run the registry meta-test after reordering
    (tests/test_curation.py::test_registry_contract_consistency)."""
    return {
    # ---- r17 front-50: the round-17 addition (first driver
    # ---- verdict: the sweep-chosen cold-cell merge), then the
    # ---- ENTIRE 14-entry r12-verified remainder (mandatory this
    # ---- round), then the r13-verified tranche
    # ---- oldest-registered-first (35 of 50).
        "v_ivf_maintain_merge_topk": _q_v_ivf_maintain_merge_topk,
        "m_minhash_reband_dedup": _q_m_minhash_reband_dedup,
        "m_hamming_reband_dedup": _q_m_hamming_reband_dedup,
        "er_reblock_incremental": _q_er_reblock_incremental,
        "m_decode_audio": _q_m_decode_audio,
        "t_corpus_drift": _q_t_corpus_drift,
        "d_containment_pairs": _q_d_containment_pairs,
        "t_weighted_per_lang": _q_t_weighted_per_lang,
        "s14_version_changes": _q_s14_version_changes,
        "d_dup_stats": _q_d_dup_stats,
        "v_int8_quantize": _q_v_int8_quantize,
        "a1_rfm_segments": _q_a1_rfm_segments,
        "m_video_dedup": _q_m_video_dedup,
        "t_quality_deciles": _q_t_quality_deciles,
        "x2_funnel": _q_x2_funnel,
        "t_bm25_topk": _q_t_bm25_topk,
        "m_media_decode": _q_m_media_decode,
        "t_frontier_schedule": _q_t_frontier_schedule,
        "t_sitemap_urls": _q_t_sitemap_urls,
        "d_exact_index_dedup": _q_d_exact_index_dedup,
        "x1_frontier_stream": _q_x1_frontier_stream,
        "x1_frontier_schedule_stream": _q_x1_frontier_schedule_stream,
        "t_dsir_select": _q_t_dsir_select,
        "t_normalize_text": _q_t_normalize_text,
        "a1_profile": _q_a1_profile,
        "x2_resample_ffill": _q_x2_resample_ffill,
        "a1_hist_quantile": _q_a1_hist_quantile,
        "x1_hist_stream": _q_x1_hist_stream,
        "a1_outliers": _q_a1_outliers,
        "t_bm25_batch": _q_t_bm25_batch,
        "v_decontaminate": _q_v_decontaminate,
        "g_dim_customers": _q_g_dim_customers,
        "g_dim_products": _q_g_dim_products,
        "g_fact_sales": _q_g_fact_sales,
        "g_pipeline_runner": _q_g_pipeline_runner,
        "d_cc_dedup": _q_d_cc_dedup,
        "s9_dq_gate": _q_s9_dq_gate,
        "s10_incremental_load": _q_s10_incremental_load,
        "x2_asof_join": _q_x2_asof_join,
        "w4_merge_upsert": _q_w4_merge_upsert,
        "x1_stateful_totals": _q_x1_stateful_totals,
        "s6_partition_pruning": _q_s6_partition_pruning,
        "e_json_extract": _q_e_json_extract,
        "t_bm25_conjunctive": _q_t_bm25_conjunctive,
        "x2_sessionize": _q_x2_sessionize,
        "x2_retention": _q_x2_retention,
        "w6_rolling_median": _q_w6_rolling_median,
        "x2_interarrival": _q_x2_interarrival,
        "x1_sessionize_stream": _q_x1_sessionize_stream,
        "m_decode_images": _q_m_decode_images,
        "x2_asof_forward": _q_x2_asof_forward,
        "v_sign_project": _q_v_sign_project,
        "s15_snapshot_drift": _q_s15_snapshot_drift,
    # ---- behind the cap, in forward rotation order ----
    # r18 leaders: the r13-tranche remainder (15)
        "t_chunk_dedup": _q_t_chunk_dedup,
        "t_decontaminate": _q_t_decontaminate,
        "t_gopher_flags": _q_t_gopher_flags,
        "j7_bloom_join": _q_j7_bloom_join,
        "t_dedupe_lines": _q_t_dedupe_lines,
        "a2_target_encode": _q_a2_target_encode,
        "v_cosine_pairs": _q_v_cosine_pairs,
        "a2_feature_scale": _q_a2_feature_scale,
        "a2_one_hot": _q_a2_one_hot,
        "x1_interval_stream": _q_x1_interval_stream,
        "x1_session_stream": _q_x1_session_stream,
        "x2_transitions": _q_x2_transitions,
        "x1_sliding_stream": _q_x1_sliding_stream,
        "x1_sliding_window": _q_x1_sliding_window,
        "x1_stream_dedup": _q_x1_stream_dedup,
    # r18/r19: the r14-verified tranche (the r14 front-50)
        "t_crawl_tick": _q_t_crawl_tick,
        "x1_crawl_stream": _q_x1_crawl_stream,
        "v_mmr_rerank": _q_v_mmr_rerank,
        "v_pq_topk": _q_v_pq_topk,
        "d_minhash_pairs": _q_d_minhash_pairs,
        "d_minhash_dedup": _q_d_minhash_dedup,
        "d_minhash_index_dedup": _q_d_minhash_index_dedup,
        "d_simhash_pairs": _q_d_simhash_pairs,
        "d_span_index_dedup": _q_d_span_index_dedup,
        "d_cosine_dedup_lsh": _q_d_cosine_dedup_lsh,
        "v_lsh_topk": _q_v_lsh_topk,
        "a1_cms_topk": _q_a1_cms_topk,
        "x1_cms_stream": _q_x1_cms_stream,
        "a1_hll_rollup": _q_a1_hll_rollup,
        "x1_hll_stream": _q_x1_hll_stream,
        "v_ivf_topk": _q_v_ivf_topk,
        "v_ivf_index_topk": _q_v_ivf_index_topk,
        "v_semantic_dedup": _q_v_semantic_dedup,
        "t_quality_model": _q_t_quality_model,
        "x1_ann_stream": _q_x1_ann_stream,
        "x1_stream_enrich": _q_x1_stream_enrich,
        "x1_stream_warehouse": _q_x1_stream_warehouse,
        "x1_retention_stream": _q_x1_retention_stream,
        "j8_star_revenue": _q_j8_star_revenue,
        "s16_quarantine": _q_s16_quarantine,
        "x1_quarantine_stream": _q_x1_quarantine_stream,
        "a1_unpivot": _q_a1_unpivot,
        "j_salted_skew": _q_j_salted_skew,
        "s7_warehouse_sink": _q_s7_warehouse_sink,
        "t_apply_mixture": _q_t_apply_mixture,
        "t_best_per_lang": _q_t_best_per_lang,
        "t_mixture_weights": _q_t_mixture_weights,
        "t_pack_sequences": _q_t_pack_sequences,
        "t_stratified_sample": _q_t_stratified_sample,
        "w2_surrogate_two_phase": _q_w2_surrogate_two_phase,
        "w5_moving_avg": _q_w5_moving_avg,
        "d_cosine_dedup": _q_d_cosine_dedup,
        "d_exact_dedup": _q_d_exact_dedup,
        "d_ngram_jaccard": _q_d_ngram_jaccard,
        "g_dim_customers_faithful": _q_g_dim_customers_faithful,
        "er_resolve": _q_er_resolve,
        "er_golden": _q_er_golden,
        "er_incremental": _q_er_incremental,
        "x1_er_stream": _q_x1_er_stream,
        "a1_groupby_agg": _q_a1_groupby_agg,
        "j4_j5_fact_join": _q_j4_j5_fact_join,
        "s6_s1_table_roundtrip": _q_s6_s1_table_roundtrip,
        "p2_projection_rename": _q_p2_projection_rename,
        "g_fact_sales_pit": _q_g_fact_sales_pit,
        "j9_scd2_pit": _q_j9_scd2_pit,
    # r19: the r15-verified tranche (the r15 front-50)
        "t_bpe_tokens_small": _q_t_bpe_tokens_small,
        "v_ivf_split_topk": _q_v_ivf_split_topk,
        "t_cluster_split": _q_t_cluster_split,
        "m_decode_jpeg": _q_m_decode_jpeg,
        "a1_approx_distinct": _q_a1_approx_distinct,
        "x2_sessionize_chunked": _q_x2_sessionize_chunked,
        "a1_cube": _q_a1_cube,
        "a1_rollup": _q_a1_rollup,
        "a1_grouping_sets": _q_a1_grouping_sets,
        "a1_pivot": _q_a1_pivot,
        "a1_percentile": _q_a1_percentile,
        "a1_count_distinct": _q_a1_count_distinct,
        "s4_csv_source": _q_s4_csv_source,
        "s4_json_source": _q_s4_json_source,
        "s5_parquet_scan": _q_s5_parquet_scan,
        "p1_projection": _q_p1_projection,
        "t_global_shuffle": _q_t_global_shuffle,
        "x2_interval_join": _q_x2_interval_join,
        "x2_range_join": _q_x2_range_join,
        "x1_tumbling_window": _q_x1_tumbling_window,
        "x1_session_window": _q_x1_session_window,
        "p3_p5_p9_field_ops": _q_p3_p5_p9_field_ops,
        "p6_filter_eq": _q_p6_filter_eq,
        "p8_compound_filter": _q_p8_compound_filter,
        "f8_isin": _q_f8_isin,
        "f_trim_upper": _q_f_trim_upper,
        "f16_date_arith": _q_f16_date_arith,
        "r8_recompute_amount": _q_r8_recompute_amount,
        "j1_j2_enrich": _q_j1_j2_enrich,
        "j3_broadcast_join": _q_j3_broadcast_join,
        "w2_surrogate_key": _q_w2_surrogate_key,
        "o1_topk": _q_o1_topk,
        "o1_set_except": _q_o1_set_except,
        "o1_intersect": _q_o1_intersect,
        "s13_orc_roundtrip": _q_s13_orc_roundtrip,
        "m_resize_images": _q_m_resize_images,
        "t_charlm_score": _q_t_charlm_score,
        "t_token_count": _q_t_token_count,
        "t_quality_score": _q_t_quality_score,
        "t_language_id": _q_t_language_id,
        "t_doc_fingerprint": _q_t_doc_fingerprint,
        "t_regex_tokens": _q_t_regex_tokens,
        "t_exact_dedup": _q_t_exact_dedup,
        "t_repetition_ratio": _q_t_repetition_ratio,
        "t_pii_scrub": _q_t_pii_scrub,
        "t_vocab_topk": _q_t_vocab_topk,
        "t_tfidf_topterms": _q_t_tfidf_topterms,
        "t_hash_split": _q_t_hash_split,
        "t_chunk_documents": _q_t_chunk_documents,
        "t_curation_pipeline": _q_t_curation_pipeline,
    # r19/r20: the r16-verified tranche (last round's front-50,
    # the freshest cohort — rotates last)
        "v_ivf_maintain_topk": _q_v_ivf_maintain_topk,
        "v_ivf_merge_topk": _q_v_ivf_merge_topk,
        "v_l2_norm": _q_v_l2_norm,
        "s11_versioned_merge": _q_s11_versioned_merge,
        "v_cosine_topk": _q_v_cosine_topk,
        "t_robots_filter": _q_t_robots_filter,
        "t_warc_pipeline": _q_t_warc_pipeline,
        "t_html_extract": _q_t_html_extract,
        "m_image_exif": _q_m_image_exif,
        "m_audio_quality": _q_m_audio_quality,
        "t_canonical_urls": _q_t_canonical_urls,
        "m_resample_audio": _q_m_resample_audio,
        "v_hard_negatives": _q_v_hard_negatives,
        "gr_pagerank": _q_gr_pagerank,
        "gr_trustrank": _q_gr_trustrank,
        "g_reference_dim_products": _q_g_reference_dim_products,
        "m_decode_progressive": _q_m_decode_progressive,
        "m_image_ahash_pairs": _q_m_image_ahash_pairs,
        "g_reference_dim_customers": _q_g_reference_dim_customers,
        "g_reference_fact_sales": _q_g_reference_fact_sales,
        "m_audio_fp_pairs": _q_m_audio_fp_pairs,
        "m_hash_index_dedup": _q_m_hash_index_dedup,
        "x1_media_dedup_stream": _q_x1_media_dedup_stream,
        "v_dot_product": _q_v_dot_product,
        "f17_current_timestamp": _q_f17_current_timestamp,
        "w1_dedup_latest": _q_w1_dedup_latest,
        "w3_scd2_close": _q_w3_scd2_close,
        "r3_map_codes": _q_r3_map_codes,
        "r4_key_surgery": _q_r4_key_surgery,
        "r4_product_key_split": _q_r4_product_key_split,
        "r5_coalesce_zero": _q_r5_coalesce_zero,
        "r7_int_date": _q_r7_int_date,
        "r9_backfill_price": _q_r9_backfill_price,
        "r10_null_if_future": _q_r10_null_if_future,
        "r11_prefer_source": _q_r11_prefer_source,
        "r12_current_rows": _q_r12_current_rows,
        "j6_semi_anti_join": _q_j6_semi_anti_join,
        "t_span_dedup": _q_t_span_dedup,
        "v_knn_classify": _q_v_knn_classify,
        "t_weighted_sample": _q_t_weighted_sample,
        "t_pretrain_pipeline": _q_t_pretrain_pipeline,
        "s12_zorder_roundtrip": _q_s12_zorder_roundtrip,
        "x1_versioned_stream": _q_x1_versioned_stream,
        "t_corpus_report": _q_t_corpus_report,
        "t_bpe_tokens": _q_t_bpe_tokens,
        "x1_tumbling_stream": _q_x1_tumbling_stream,
        "t_winnow": _q_t_winnow,
        "a1_approx_percentile": _q_a1_approx_percentile,
        "o1_union": _q_o1_union,
        "m_frame_sample": _q_m_frame_sample,
    }


_RETENTION_SQL = (
    # shared by x2_retention (batch) and x1_retention_stream (the
    # append-only distinct-pair state twin): weekly cohort retention
    "WITH up AS (SELECT DISTINCT user_id, "
    "CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) "
    "/ (7 * 86400 * 1000000.0)) AS BIGINT) AS p FROM events), "
    "f AS (SELECT user_id, min(p) AS cohort FROM up GROUP BY 1), "
    "c AS (SELECT cohort AS cohort_period, p - cohort AS "
    "period_offset, count(DISTINCT up.user_id) AS n_users "
    "FROM up JOIN f USING (user_id) GROUP BY 1, 2) "
    "SELECT cohort_period, period_offset, n_users, "
    "round(n_users::DOUBLE / max(CASE WHEN period_offset = 0 "
    "THEN n_users END) OVER (PARTITION BY cohort_period), 6) "
    "AS retention_rate FROM c"
)


_QUARANTINE_SQL = (
    # shared by s16_quarantine (batch) and x1_quarantine_stream (the
    # foreachBatch dead-letter twin): routing + full failed-rule list
    "SELECT event_id, "
    "CASE WHEN value >= 50 OR event_type = 'error' THEN 'quarantine' "
    "ELSE 'good' END AS routed, "
    "CASE WHEN event_type = 'error' AND value >= 50 "
    "THEN 'no_errors,value_small' "
    "WHEN event_type = 'error' THEN 'no_errors' "
    "WHEN value >= 50 THEN 'value_small' ELSE '' END AS failed_rules "
    "FROM events"
)


_SESSIONIZE_SQL = (
    # shared by x2_sessionize (batch) and x1_sessionize_stream (the
    # incremental interval-fusion twin): 30-min-gap sessions rolled to
    # session grain, microsecond-exact
    "WITH o AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, "
    "CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL "
    "OR epoch_us(CAST(ts AS TIMESTAMP)) "
    "- lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800 * 1000000 "
    "THEN 1 ELSE 0 END AS brk FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "s AS (SELECT user_id, ts, CAST(sum(brk) OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS session_index FROM o) "
    "SELECT user_id, session_index, count(*) AS n_events, "
    "CAST(min(ts) AS VARCHAR) AS session_start, "
    "CAST(max(ts) AS VARCHAR) AS session_end, "
    "round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 6) "
    "AS duration_seconds FROM s GROUP BY 1, 2"
)


_INTERVAL_JOIN_SQL = (
    # shared by x2_interval_join (batch) and x1_interval_stream (the
    # stream-stream twin): purchases by the same user within 2 h after
    # each click, via DuckDB's inequality join
    "SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, "
    "CAST(c.ts AS VARCHAR) AS click_ts, CAST(p.ts AS VARCHAR) AS purchase_ts "
    "FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c "
    "JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p "
    "ON p.user_id = c.user_id "
    "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR"
)


def oracle_sql() -> dict[str, str]:
    status_case = (
        "CASE WHEN upper(trim(o_orderstatus)) = 'O' THEN 'Open' "
        "WHEN upper(trim(o_orderstatus)) = 'F' THEN 'Fulfilled' "
        "WHEN upper(trim(o_orderstatus)) = 'P' THEN 'Pending' ELSE 'n/a' END"
    )
    dirty_int_date = (
        "CASE WHEN o_orderkey % 100 = 0 THEN 0 "
        "WHEN o_orderkey % 101 = 0 THEN 20231301 "
        "ELSE CAST(strftime(o_orderdate, '%Y%m%d') AS INT) END"
    )
    r8_sales = (
        "CASE WHEN l_orderkey % 13 = 0 THEN NULL "
        "WHEN l_orderkey % 17 = 0 THEN -1.0 "
        "WHEN l_orderkey % 19 = 0 THEN l_extendedprice + 1.0 "
        "ELSE l_extendedprice END"
    )
    r9_price = (
        "CASE WHEN l_orderkey % 23 = 0 THEN NULL "
        "WHEN l_orderkey % 29 = 0 THEN -5.0 "
        "ELSE l_extendedprice / l_quantity END"
    )
    r11_primary = (
        "CASE WHEN c_custkey % 5 = 0 THEN 'n/a' "
        "WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END"
    )
    r11_fallback = "CASE WHEN c_custkey % 3 <> 0 THEN lower(c_mktsegment) END"
    fp = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"
    tok = (
        "CASE WHEN text IS NULL THEN NULL WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
    )
    quality = (
        "round(CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0 ELSE "
        "0.5 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
        " / CAST(length(text) AS DOUBLE)) "
        "+ 0.3 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)"
        " / CAST(length(text) AS DOUBLE)) "
        "+ 0.2 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) END, 6)"
    )
    dot64 = (
        "list_sum(list_transform(range(1, 65), "
        "i -> CAST(e1.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))"
    )
    norm_sql = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    qnorm = "sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    enorm = "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    qdot = (
        "list_sum(list_transform(range(1, 65), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
    )
    _SQL_DOT_E1E2 = (
        "list_sum(list_transform(range(1, 65), "
        "i -> CAST(e1.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))"
    )
    _SQL_NORM_E1 = (
        "sqrt(list_sum(list_transform(e1.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    _SQL_NORM_E2 = (
        "sqrt(list_sum(list_transform(e2.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return {
        "s5_parquet_scan": "SELECT n_nationkey, n_name, n_regionkey FROM nation",
        "p1_projection": "SELECT c_custkey, c_name FROM customer",
        "p2_projection_rename": (
            "SELECT c_custkey AS customer_id, c_name AS customer_name, "
            "c_mktsegment AS segment FROM customer"
        ),
        "p6_filter_eq": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE o_orderstatus = 'F'"
        ),
        "p8_compound_filter": (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem "
            "WHERE (l_discount >= 0.05 AND l_quantity < 10) OR l_returnflag = 'R'"
        ),
        "f8_isin": (
            "SELECT c_custkey, c_mktsegment FROM customer "
            "WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')"
        ),
        "f_trim_upper": (
            "SELECT c_custkey, trim(c_name) AS name_trim, "
            "upper(c_mktsegment) AS seg_upper FROM customer"
        ),
        "r3_map_codes": f"SELECT o_orderkey, {status_case} AS status_label FROM orders",
        "r4_key_surgery": (
            "SELECT c_custkey, "
            "CASE WHEN c_name LIKE 'Customer#%' THEN substring(c_name, 10) ELSE c_name END"
            " AS cust_number, "
            "replace(c_name, '#', '') AS name_nohash, "
            "substring(c_name, 1, 8) AS name_head, "
            "CAST(length(c_name) AS BIGINT) AS name_len, "
            "(c_name LIKE 'Customer#%') AS is_prefixed "
            "FROM customer"
        ),
        "r4_product_key_split": (
            "WITH k AS (SELECT p_partkey, "
            "substring(p_type, 1, 2) || '-' || substring(p_brand, 1, 2) || '-' || p_name"
            " AS composite_key FROM part) "
            "SELECT p_partkey, composite_key, "
            "replace(substring(composite_key, 1, 5), '-', '_') AS cat_id, "
            "substring(composite_key, 7) AS product_number FROM k"
        ),
        "r5_coalesce_zero": (
            "SELECT l_orderkey, l_linenumber, "
            "coalesce(CASE WHEN l_orderkey % 7 <> 0 THEN l_linenumber END, 0)"
            " AS linenumber_filled FROM lineitem"
        ),
        "r7_int_date": (
            f"WITH d AS (SELECT o_orderkey, {dirty_int_date} AS order_dt_int FROM orders) "
            "SELECT o_orderkey, order_dt_int, "
            "CAST(CAST(CASE WHEN order_dt_int = 0 OR length(CAST(order_dt_int AS VARCHAR)) <> 8 "
            "THEN NULL ELSE try_strptime(CAST(order_dt_int AS VARCHAR), '%Y%m%d') END"
            " AS DATE) AS VARCHAR) AS order_dt FROM d"
        ),
        "r8_recompute_amount": (
            f"WITH s AS (SELECT l_orderkey, l_linenumber, {r8_sales} AS sales_raw, "
            "l_quantity, l_extendedprice / l_quantity AS price FROM lineitem) "
            "SELECT l_orderkey, l_linenumber, sales_raw, "
            "CASE WHEN sales_raw IS NULL OR sales_raw <= 0 "
            "OR sales_raw <> l_quantity * abs(price) "
            "THEN l_quantity * abs(price) ELSE sales_raw END AS sales_fixed FROM s"
        ),
        "r9_backfill_price": (
            f"WITH s AS (SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity, "
            f"{r9_price} AS price FROM lineitem) "
            "SELECT l_orderkey, l_linenumber, "
            "CASE WHEN price IS NULL OR price <= 0 THEN l_extendedprice / "
            "(CASE WHEN l_quantity <> 0 THEN l_quantity ELSE 1 END) "
            "ELSE CAST(price AS DOUBLE) END AS price_fixed FROM s"
        ),
        "r10_null_if_future": (
            "SELECT o_orderkey, CAST(CASE WHEN o_orderdate > TIMESTAMP '1995-06-01' "
            "THEN NULL ELSE o_orderdate END AS VARCHAR) AS orderdate_capped FROM orders"
        ),
        "r11_prefer_source": (
            f"WITH s AS (SELECT c_custkey, {r11_primary} AS p, {r11_fallback} AS f "
            "FROM customer) "
            "SELECT c_custkey, CASE WHEN p IS NOT NULL AND p <> 'n/a' THEN p "
            "ELSE coalesce(f, 'n/a') END AS segment_pref FROM s"
        ),
        "f16_date_arith": (
            "SELECT o_orderkey, CAST(o_orderdate - INTERVAL 1 DAY AS VARCHAR)"
            " AS prev_day FROM orders"
        ),
        "w1_dedup_latest": (
            "SELECT o_custkey, o_orderkey, CAST(o_orderdate AS VARCHAR) AS order_ts, "
            "o_totalprice FROM orders "
            "QUALIFY row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate DESC, o_orderkey DESC) = 1"
        ),
        "w2_surrogate_key": (
            "SELECT row_number() OVER (ORDER BY c_custkey) AS customer_key, "
            "c_custkey FROM customer"
        ),
        "w2_surrogate_two_phase": (
            "SELECT row_number() OVER (ORDER BY c_custkey) AS customer_key, "
            "c_custkey FROM customer"
        ),
        "w3_scd2_close": (
            "SELECT o_custkey, o_orderkey, "
            "CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate, o_orderkey) - INTERVAL 1 DAY AS VARCHAR)"
            " AS version_end FROM orders"
        ),
        "r12_current_rows": (
            "SELECT o_custkey, o_orderkey FROM orders "
            "QUALIFY lead(o_orderdate) OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate, o_orderkey) IS NULL"
        ),
        "j1_j2_enrich": (
            "SELECT c_custkey, c_name, n_name AS nation_name, r_name AS region_name "
            "FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "LEFT JOIN region r ON n.n_regionkey = r.r_regionkey"
        ),
        "j3_broadcast_join": (
            "SELECT l_orderkey, l_linenumber, p_name AS part_name "
            "FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey"
        ),
        "j4_j5_fact_join": (
            "SELECT l_orderkey, l_linenumber, l_extendedprice, "
            "o_orderstatus AS order_status, c_mktsegment AS segment "
            "FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "LEFT JOIN customer c ON o.o_custkey = c.c_custkey"
        ),
        "a1_groupby_agg": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(avg(l_discount), 6) AS avg_disc, "
            "count(*) AS count_order FROM lineitem "
            "WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "a1_rollup": (
            "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
            "round(sum(l_quantity), 2) AS sum_qty FROM lineitem "
            "GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "a1_pivot": (
            "SELECT o_orderpriority, "
            "round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2)"
            " AS open_total, "
            "round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2)"
            " AS fulfilled_total, "
            "round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2)"
            " AS pending_total "
            "FROM orders GROUP BY o_orderpriority"
        ),
        "a1_percentile": (
            "SELECT l_returnflag, "
            "round(quantile_cont(l_quantity, 0.5), 6) AS median_qty, "
            "round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty, "
            "round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "a1_count_distinct": (
            "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, "
            "count(*) AS n_orders FROM orders GROUP BY o_orderstatus"
        ),
        "o1_topk": (
            "SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue FROM orders "
            "GROUP BY o_custkey ORDER BY revenue DESC, o_custkey LIMIT 10"
        ),
        "o1_set_except": (
            "SELECT DISTINCT o_custkey FROM orders EXCEPT "
            "SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'"
        ),
        "o1_union": (
            "SELECT DISTINCT nationkey FROM ("
            "SELECT c_nationkey AS nationkey FROM customer "
            "UNION ALL SELECT s_nationkey AS nationkey FROM supplier)"
        ),
        "t_token_count": (
            f"SELECT doc_id, {tok} AS n_tokens, "
            "CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe FROM documents"
        ),
        "t_quality_score": f"SELECT doc_id, {quality} AS quality FROM documents",
        "t_language_id": (
            f"SELECT doc_id, lang, {_sql_language_id()} AS lang_guess FROM documents"
        ),
        "t_doc_fingerprint": f"SELECT doc_id, {fp} AS fp FROM documents",
        # GPT-2-ish pretokenizer; '' doubles the quote inside the SQL literal
        "t_regex_tokens": (
            "SELECT doc_id, CAST(len(regexp_extract_all(text, "
            "'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'"
            ")) AS BIGINT) AS n_bpe_tokens FROM documents"
        ),
        # winnowing over md5-prefix k-gram hashes; window min is the
        # lexicographic min, identical across engines
        "t_winnow": (
            "WITH t AS (SELECT doc_id, "
            "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s FROM documents), "
            "g AS (SELECT doc_id, CASE WHEN length(s) - 4 >= 1 THEN "
            "[substring(md5(s[i:i+4]), 1, 8) "
            "for i in generate_series(1, length(s) - 4)] END AS gh FROM t), "
            "w AS (SELECT doc_id, CASE "
            "WHEN len(gh) - 3 >= 1 THEN list_sort(list_distinct("
            "[list_min(gh[i:i+3]) for i in generate_series(1, len(gh) - 3)])) "
            "WHEN len(gh) >= 1 THEN [list_min(gh)] END AS fps FROM g) "
            "SELECT doc_id, coalesce(array_to_string(fps, ','), '') AS fps_csv FROM w"
        ),
        "t_exact_dedup": (
            f"SELECT {fp} AS fp, min(doc_id) AS keep_doc_id, count(*) AS n_copies "
            "FROM documents GROUP BY 1"
        ),
        "t_tfidf_topterms": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
            "FROM documents), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2), "
            "idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
            "n AS (SELECT count(*) AS n_docs FROM documents), "
            "scored AS (SELECT t.doc_id, t.term, "
            "round(t.tf * ln(n.n_docs::DOUBLE / i.df), 6) AS tfidf "
            "FROM tf t JOIN idf i USING (term) CROSS JOIN n), "
            "r AS (SELECT *, row_number() OVER "
            "(PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM scored) "
            "SELECT doc_id, term, tfidf FROM r WHERE rn <= 3"
        ),
        "t_vocab_topk": (
            "SELECT lower(tok) AS term, count(*) AS tf, "
            "count(DISTINCT doc_id) AS df FROM "
            "(SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok "
            "FROM documents) GROUP BY 1 ORDER BY tf DESC, term LIMIT 50"
        ),
        "t_pii_scrub": (
            "WITH dirty AS (SELECT doc_id, text || ' contact user' || "
            "doc_id::VARCHAR || '@example.com via https://ex.com/d/' || "
            "doc_id::VARCHAR || ' or call 5551234567' AS t FROM documents) "
            "SELECT doc_id, "
            "regexp_replace(regexp_replace(regexp_replace(t, "
            "'https?://[^\\s]+', '<URL>', 'g'), "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'), "
            "'[0-9][0-9]{6,}', '<NUM>', 'g') AS clean_text FROM dirty"
        ),
        "t_repetition_ratio": (
            "WITH toks AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS t FROM documents), "
            "grams AS (SELECT doc_id, len(t) - 1 AS total, "
            "CASE WHEN len(t) >= 2 THEN "
            "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) "
            "ELSE [] END AS g FROM toks) "
            "SELECT doc_id, round(CASE WHEN total > 0 THEN "
            "1.0 - len(list_distinct(g))::DOUBLE / total::DOUBLE "
            "ELSE 0.0 END, 6) AS rep_ratio FROM grams"
        ),
        # nibble arithmetic on the md5 hex prefix == Spark's conv(_,16,10)
        "t_pack_sequences": (
            "WITH s AS (SELECT doc_id, n_chars, "
            "('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 8 AS shard "
            "FROM documents), "
            "c AS (SELECT doc_id, shard, "
            "CAST(sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id) "
            "- n_chars AS BIGINT) AS pre FROM s) "
            "SELECT doc_id, "
            "CAST(shard * 4294967296 + pre // 2000 AS BIGINT) AS seq_id, "
            "CAST(pre % 2000 AS BIGINT) AS seq_offset FROM c"
        ),
        "t_charlm_score": (
            "WITH s AS (SELECT doc_id, CASE WHEN length(text) >= 3 THEN "
            "[substr(text, i, 3) for i in "
            "generate_series(1, length(text) - 2)] "
            "ELSE [] END AS gl FROM documents), "
            "g AS (SELECT doc_id, unnest(gl) AS gram FROM s), "
            "sp AS (SELECT doc_id, substr(gram, 1, 2) AS ctx, "
            "substr(gram, 3, 1) AS ch FROM g), "
            "counts AS (SELECT ctx, ch, count(*) AS c FROM sp "
            "GROUP BY ctx, ch), "
            "v AS (SELECT count(DISTINCT ch) AS vs FROM counts), "
            "totals AS (SELECT ctx, sum(c) AS tot FROM counts GROUP BY ctx), "
            "lm AS (SELECT ctx, ch, ln((c + 0.5) / (tot + 0.5 * vs)) AS logp "
            "FROM counts JOIN totals USING (ctx) CROSS JOIN v), "
            "sc AS (SELECT doc_id, count(*) AS n_grams, "
            "round(-avg(logp), 6) AS nll FROM sp "
            "JOIN lm USING (ctx, ch) GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(sc.n_grams, 0) AS n_grams, sc.nll "
            "FROM documents d LEFT JOIN sc USING (doc_id)"
        ),
        # composition of the charlm / quality / weighted-sample /
        # global-shuffle oracles, stacked as CTEs
        "t_pretrain_pipeline": (
            "WITH s AS (SELECT doc_id, CASE WHEN length(text) >= 3 THEN "
            "[substr(text, i, 3) for i in "
            "generate_series(1, length(text) - 2)] "
            "ELSE [] END AS gl FROM documents), "
            "g AS (SELECT doc_id, unnest(gl) AS gram FROM s), "
            "sp AS (SELECT doc_id, substr(gram, 1, 2) AS ctx, "
            "substr(gram, 3, 1) AS ch FROM g), "
            "counts AS (SELECT ctx, ch, count(*) AS c FROM sp "
            "GROUP BY ctx, ch), "
            "v AS (SELECT count(DISTINCT ch) AS vs FROM counts), "
            "totals AS (SELECT ctx, sum(c) AS tot FROM counts GROUP BY ctx), "
            "lm AS (SELECT ctx, ch, ln((c + 0.5) / (tot + 0.5 * vs)) AS logp "
            "FROM counts JOIN totals USING (ctx) CROSS JOIN v), "
            "sc AS (SELECT doc_id, round(-avg(logp), 6) AS nll FROM sp "
            "JOIN lm USING (ctx, ch) GROUP BY doc_id), "
            f"q AS (SELECT doc_id, lang, n_chars, {quality} AS quality "
            "FROM documents), "
            "kept AS (SELECT q.doc_id, q.lang, q.n_chars FROM q "
            "JOIN sc ON sc.doc_id = q.doc_id "
            "WHERE q.quality >= 0.8 AND sc.nll <= 0.8), "
            "pri AS (SELECT doc_id, lang, "
            "pow(((('0x'||substr(md5(doc_id::VARCHAR || '#42'),1,8))::BIGINT)"
            "::DOUBLE + 0.5) / 4294967296.0, 1.0 / n_chars::DOUBLE) AS p "
            "FROM kept WHERE n_chars IS NOT NULL AND n_chars > 0), "
            "pick AS (SELECT doc_id, lang FROM pri "
            "ORDER BY p DESC, doc_id ASC LIMIT 150), "
            "sh AS (SELECT doc_id, lang, md5(doc_id::VARCHAR || '#42') AS h "
            "FROM pick), "
            "b AS (SELECT doc_id, lang, h, "
            "CAST(('0x'||substr(h,1,8))::BIGINT % 4 AS INT) AS shard FROM sh) "
            "SELECT doc_id, lang, shard, CAST(row_number() OVER ("
            "PARTITION BY shard ORDER BY h, doc_id) - 1 AS INT) AS shard_pos "
            "FROM b"
        ),
        "t_weighted_sample": (
            "WITH p AS (SELECT doc_id, lang, n_chars, "
            "pow(((('0x'||substr(md5(doc_id::VARCHAR || '#42'),1,8))::BIGINT)"
            "::DOUBLE + 0.5) / 4294967296.0, 1.0 / n_chars::DOUBLE) AS pri "
            "FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0) "
            "SELECT doc_id, lang, n_chars FROM p "
            "ORDER BY pri DESC, doc_id ASC LIMIT 100"
        ),
        "t_global_shuffle": (
            "WITH s AS (SELECT doc_id, md5(doc_id::VARCHAR || '#42') AS h "
            "FROM documents), "
            "b AS (SELECT doc_id, h, "
            "CAST(('0x'||substr(h,1,8))::BIGINT % 8 AS INT) AS shard FROM s) "
            "SELECT doc_id, shard, CAST(row_number() OVER ("
            "PARTITION BY shard ORDER BY h, doc_id) - 1 AS INT) AS shard_pos "
            "FROM b"
        ),
        "t_stratified_sample": (
            "SELECT doc_id, lang FROM documents "
            "WHERE ('0x'||substr(md5(doc_id::VARCHAR || '#42'),1,8))::BIGINT "
            "% 10000 < CAST(floor(CASE lang WHEN 'en' THEN 0.5 "
            "WHEN 'de' THEN 1.0 WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.25 "
            "WHEN 'zh' THEN 0.1 ELSE 0.0 END * 10000) AS BIGINT)"
        ),
        "t_best_per_lang": (
            f"WITH q AS (SELECT doc_id, lang, {quality} AS quality "
            "FROM documents) "
            "SELECT lang, rank, doc_id, quality FROM ("
            "SELECT *, row_number() OVER (PARTITION BY lang "
            "ORDER BY quality DESC, doc_id) AS rank FROM q) WHERE rank <= 5"
        ),
        "a1_unpivot": (
            "SELECT p_partkey, 'retailprice' AS measure, "
            "p_retailprice AS value FROM part "
            "UNION ALL SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) "
            "FROM part"
        ),
        "w5_moving_avg": (
            "SELECT event_id, user_id, round(avg(value) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS avg3 "
            "FROM events"
        ),
        "t_apply_mixture": (
            "WITH c AS (SELECT lang, count(*) AS n_rows FROM documents "
            "GROUP BY lang), t AS (SELECT sum(n_rows) AS total FROM c), "
            # least(…, 100) mirrors apply_mixture's max_weight=100 blast-
            # radius clamp, so a skewed corpus can't silently diverge the
            # engines (ADVICE r04)
            "w AS (SELECT lang, least((CASE lang WHEN 'en' THEN 0.3 "
            "WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.2 WHEN 'es' THEN 0.15 "
            "WHEN 'zh' THEN 0.1 ELSE 0.0 END) / (n_rows::DOUBLE / total), "
            "100.0) AS weight FROM c, t), "
            "d AS (SELECT doc_id, d0.lang, weight, "
            "CAST(floor(weight) AS BIGINT) AS base, "
            "('0x'||substr(md5(doc_id::VARCHAR || '#7'),1,8))::BIGINT "
            "% 10000 AS bucket FROM documents d0 JOIN w USING (lang)), "
            "n AS (SELECT doc_id, lang, base + CASE WHEN bucket < "
            "CAST(floor((weight - base) * 10000) AS BIGINT) THEN 1 ELSE 0 "
            "END AS n FROM d) "
            "SELECT doc_id, lang, unnest(generate_series(1, n)) AS copy_idx "
            "FROM n"
        ),
        "t_mixture_weights": (
            "WITH c AS (SELECT lang, count(*) AS n_rows FROM documents "
            "GROUP BY lang), t AS (SELECT sum(n_rows) AS total FROM c) "
            "SELECT lang, n_rows, "
            "round(n_rows::DOUBLE / total, 6) AS observed_share, "
            "CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.15 "
            "WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.15 WHEN 'zh' THEN 0.15 "
            "ELSE 0.0 END AS target_share, "
            "round((CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.15 "
            "WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.15 WHEN 'zh' THEN 0.15 "
            "ELSE 0.0 END) / (n_rows::DOUBLE / total), 6) AS weight "
            "FROM c, t"
        ),
        "t_hash_split": (
            "WITH b AS (SELECT doc_id, "
            "((strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR),1,1))-1)*4096 "
            "+(strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR),2,1))-1)*256 "
            "+(strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR),3,1))-1)*16 "
            "+(strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR),4,1))-1)) % 100 "
            "AS bucket FROM documents) "
            "SELECT doc_id, CAST(bucket AS INT) AS bucket, "
            "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' "
            "ELSE 'test' END AS split FROM b"
        ),
        "t_chunk_documents": (
            "WITH toks AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS t FROM documents), "
            "sized AS (SELECT doc_id, t, CASE WHEN len(t) <= 32 THEN 1 "
            "ELSE CAST(ceil((len(t) - 32)::DOUBLE / 24) AS INT) + 1 END AS n_chunks "
            "FROM toks) "
            "SELECT s.doc_id, CAST(c.i AS INT) AS chunk_id, "
            "array_to_string(s.t[c.i*24+1 : c.i*24+32], ' ') AS chunk_text, "
            "CAST(len(s.t[c.i*24+1 : c.i*24+32]) AS INT) AS chunk_n_tokens "
            "FROM sized s CROSS JOIN LATERAL "
            "(SELECT unnest(range(0, s.n_chunks)) AS i) c"
        ),
        # benchmark shingles (8-grams) semi-join; NOT IN drops hits
        "t_decontaminate": (
            "WITH t AS (SELECT doc_id, "
            "regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents), "
            "s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+7], ' ') "
            "for i in generate_series(1, greatest(len(toks) - 7, 0))]) AS sh FROM t), "
            "bsh AS (SELECT DISTINCT unnest(sh) AS shingle FROM s "
            "WHERE doc_id % 97 = 0), "
            "ex AS (SELECT doc_id, unnest(sh) AS shingle FROM s "
            "WHERE doc_id % 97 <> 0), "
            "contaminated AS (SELECT DISTINCT ex.doc_id FROM ex "
            "JOIN bsh USING (shingle)) "
            "SELECT doc_id FROM documents WHERE doc_id % 97 <> 0 "
            "AND doc_id NOT IN (SELECT doc_id FROM contaminated)"
        ),
        # same chunk CTEs + one-per-distinct-chunk-text window
        "t_chunk_dedup": (
            "WITH toks AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS t FROM documents), "
            "sized AS (SELECT doc_id, t, CASE WHEN len(t) <= 32 THEN 1 "
            "ELSE CAST(ceil((len(t) - 32)::DOUBLE / 24) AS INT) + 1 END AS n_chunks "
            "FROM toks), "
            "chunks AS (SELECT s.doc_id, CAST(c.i AS INT) AS chunk_id, "
            "array_to_string(s.t[c.i*24+1 : c.i*24+32], ' ') AS chunk_text "
            "FROM sized s CROSS JOIN LATERAL "
            "(SELECT unnest(range(0, s.n_chunks)) AS i) c) "
            "SELECT doc_id, chunk_id, chunk_text, n_copies FROM ("
            "SELECT doc_id, chunk_id, chunk_text, "
            "CAST(count(*) OVER (PARTITION BY chunk_text) AS BIGINT) AS n_copies, "
            "row_number() OVER (PARTITION BY chunk_text "
            "ORDER BY doc_id, chunk_id) AS rn FROM chunks) WHERE rn = 1"
        ),
        "t_span_dedup": (
            # exact-substring dedup replayed on raw span text (the
            # engine groups on unhex(md5(span)) — same partition up to
            # md5 collisions, i.e. identical): non-first occurrences of
            # any corpus-duplicated 8-token span cover their tokens
            "WITH toks AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS t FROM documents), "
            "spans AS (SELECT k.doc_id, CAST(s.i AS BIGINT) AS pos, "
            "array_to_string(k.t[CAST(s.i AS INT):CAST(s.i AS INT)+7], ' ') AS g "
            "FROM toks k CROSS JOIN LATERAL "
            "(SELECT unnest(range(1, len(k.t) - 8 + 2)) AS i) s), "
            "marked AS (SELECT doc_id, pos, "
            "count(*) OVER (PARTITION BY g) AS cnt, "
            "row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn "
            "FROM spans), "
            "hits AS (SELECT doc_id, pos FROM marked WHERE cnt >= 2 AND rn >= 2), "
            "kept AS (SELECT k.doc_id, s.i AS j, k.t[CAST(s.i AS INT)] AS tok "
            "FROM toks k CROSS JOIN LATERAL "
            "(SELECT unnest(range(1, len(k.t) + 1)) AS i) s "
            "WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = k.doc_id "
            "AND h.pos <= s.i AND s.i <= h.pos + 7)), "
            "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS kt, "
            "count(*) AS nk FROM kept GROUP BY doc_id) "
            "SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL "
            "ELSE coalesce(a.kt, '') END AS deduped_text, "
            "CASE WHEN d.text IS NULL THEN NULL ELSE "
            "CAST(len(string_split_regex(trim(d.text), '\\s+')) "
            "- coalesce(a.nk, 0) AS BIGINT) END AS n_tokens_removed "
            "FROM documents d LEFT JOIN agg a USING (doc_id)"
        ),
        "t_curation_pipeline": (
            f"WITH scored AS (SELECT doc_id, {fp} AS fp, {tok} AS n_tokens, "
            f"{quality} AS quality, {_sql_language_id()} AS lang_guess FROM documents), "
            "filtered AS (SELECT * FROM scored "
            "WHERE lang_guess = 'en' AND quality >= 0.5), "
            "dedup AS (SELECT *, row_number() OVER "
            "(PARTITION BY fp ORDER BY doc_id) AS rn FROM filtered) "
            "SELECT doc_id, n_tokens, quality FROM dedup WHERE rn = 1"
        ),
        "v_l2_norm": f"SELECT vec_id, round({norm_sql}, 6) AS norm FROM embeddings",
        "v_mmr_rerank": _SQL_MMR_RERANK,
        "t_bpe_tokens_small": _SQL_BPE_SMALL,
        "v_ivf_split_topk": _SQL_IVF_SPLIT_TOPK,
        # the maintenance choose-path must land in EXACTLY the index
        # state the direct hot-cell split produces (same replay shape,
        # fully-concentrated drift pattern): a wrong choice — full
        # retrain — re-fits k=4 over the drifted union and every cell
        # assignment, hence the value hash, diverges
        "v_ivf_maintain_topk": _SQL_IVF_MAINTAIN_TOPK,
        # cold-cell merge: fit + cold detection + fold + closed-form
        # swap-remove renumber + probe, replayed end to end
        "v_ivf_merge_topk": _SQL_IVF_MERGE_TOPK,
        # round 17: the SWEEP chooses (and runs) the merge off the
        # fragmentation health signal; the final index state must be
        # hash-identical to the direct-merge entry, so the SAME replay
        # verifies the choice — a wrong choice (retrain refits k=4 and
        # every assignment diverges; a skip leaves 4 cells) breaks the
        # hash, and the asserted applied action breaks loudly first
        "v_ivf_maintain_merge_topk": _SQL_IVF_MERGE_TOPK,
        "v_pq_topk": _SQL_PQ_TOPK,
        "v_dot_product": (
            f"SELECT e1.vec_id AS vec_id, round({dot64}, 6) AS dot "
            "FROM embeddings e1 JOIN embeddings e2 ON e2.vec_id = e1.vec_id + 1"
        ),
        "v_cosine_topk": (
            f"WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0) "
            f"SELECT e.vec_id AS vec_id, round({qdot} / ({enorm} * {qnorm}), 6) AS cos_sim "
            "FROM embeddings e, q WHERE e.vec_id <> 0 "
            "ORDER BY cos_sim DESC, vec_id LIMIT 20"
        ),
        "v_hard_negatives": (
            "WITH q AS (SELECT vec_id AS query_id, embedding "
            "FROM embeddings WHERE vec_id <= 2), "
            "pos AS (SELECT query_id, query_id + 10 AS vec_id FROM q "
            "UNION ALL SELECT query_id, query_id + 20 FROM q), "
            f"scored AS (SELECT q.query_id, e.vec_id, "
            f"round({qdot} / ({enorm} * {qnorm}), 6) AS cos_sim "
            "FROM embeddings e CROSS JOIN q WHERE e.vec_id > 2), "
            "neg AS (SELECT s.* FROM scored s WHERE NOT EXISTS ("
            "SELECT 1 FROM pos WHERE pos.query_id = s.query_id "
            "AND pos.vec_id = s.vec_id)), "
            "ranked AS (SELECT query_id, vec_id, cos_sim, row_number() "
            "OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) "
            "AS r FROM neg) "
            "SELECT query_id, vec_id, cos_sim, CAST(r - 2 AS INTEGER) "
            "AS neg_rank FROM ranked WHERE r > 2 AND r <= 12"
        ),
        "v_knn_classify": (
            "WITH q AS (SELECT vec_id AS query_id, embedding "
            "FROM embeddings WHERE vec_id <= 4), "
            f"scored AS (SELECT q.query_id, e.vec_id, e.label, "
            f"round({qdot} / ({enorm} * {qnorm}), 6) AS cos_sim "
            "FROM embeddings e CROSS JOIN q WHERE e.vec_id > 4), "
            "ranked AS (SELECT query_id, vec_id, label, cos_sim, "
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored), "
            "votes AS (SELECT query_id, label, count(*) AS n_votes, "
            "min(rnk) AS best FROM ranked WHERE rnk <= 10 "
            "GROUP BY query_id, label) "
            "SELECT query_id, label AS predicted_label, "
            "CAST(n_votes AS BIGINT) AS n_votes FROM ("
            "SELECT query_id, label, n_votes, row_number() OVER ("
            "PARTITION BY query_id ORDER BY n_votes DESC, best, label) AS rn "
            "FROM votes) WHERE rn = 1"
        ),
        # ts is parquet TIMESTAMP(NANOS): cast to µs TIMESTAMP to match the
        # engine's truncation (session.load) before bucketing/printing.
        "w4_merge_upsert": (
            "WITH t AS (SELECT c_custkey, c_name, c_mktsegment FROM customer), "
            "u AS (SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment "
            "FROM t WHERE c_custkey % 7 = 0 "
            "UNION ALL SELECT c_custkey + 100000, "
            "'NEW' || CAST(c_custkey AS VARCHAR), 'NEWSEG' "
            "FROM t WHERE c_custkey % 11 = 0) "
            "SELECT * FROM u "
            "UNION ALL SELECT * FROM t "
            "WHERE c_custkey NOT IN (SELECT c_custkey FROM u)"
        ),
        "j_salted_skew": (
            "SELECT c.c_mktsegment, count(*) AS n_events, "
            "round(sum(e.value), 2) AS total_value "
            "FROM events e JOIN customer c ON c.c_custkey = e.user_id "
            "GROUP BY c.c_mktsegment"
        ),
        "j6_semi_anti_join": (
            "WITH o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') "
            "SELECT c_custkey, c_mktsegment, 'with_open_orders' AS order_status "
            "FROM customer c WHERE EXISTS "
            "(SELECT 1 FROM o WHERE o.o_custkey = c.c_custkey) "
            "UNION ALL "
            "SELECT c_custkey, c_mktsegment, 'no_open_orders' AS order_status "
            "FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM o WHERE o.o_custkey = c.c_custkey)"
        ),
        "x2_asof_join": (
            "WITH p AS (SELECT event_id, user_id, ts, value FROM events "
            "WHERE event_type = 'purchase'), "
            "c AS (SELECT user_id, ts, value FROM events "
            "WHERE event_type = 'click') "
            "SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS purchase_ts, "
            "CAST(c.ts AS VARCHAR) AS click_ts, c.value AS click_value "
            "FROM p ASOF LEFT JOIN c "
            "ON p.user_id = c.user_id AND p.ts >= c.ts"
        ),
        "j9_scd2_pit": (
            # the oracle is the direct BETWEEN validity join — an
            # independent encoding of the same point-in-time semantics
            # the asof-walk + validity-mask computes
            "WITH v AS (SELECT p_partkey, "
            "make_date(1992 + 2*t.v + p_partkey % 2, 1, 1) AS start_dt, "
            "CASE WHEN t.v < 2 "
            "THEN make_date(1994 + 2*t.v + p_partkey % 2, 1, 1) - 1 "
            "WHEN p_partkey % 2 = 0 THEN DATE '1996-12-31' END AS end_dt, "
            "round(CAST(p_retailprice AS DOUBLE) + t.v, 2) AS version_price "
            "FROM part, (VALUES (0),(1),(2)) t(v)) "
            "SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, "
            "CAST(l.l_shipdate AS VARCHAR) AS ship_date, "
            "CAST(v.start_dt AS VARCHAR) AS valid_from, "
            "CAST(v.end_dt AS VARCHAR) AS valid_to, v.version_price "
            "FROM lineitem l LEFT JOIN v ON v.p_partkey = l.l_partkey "
            "AND l.l_shipdate >= v.start_dt "
            "AND (v.end_dt IS NULL OR l.l_shipdate <= v.end_dt)"
        ),
        "x2_asof_forward": (
            "WITH c AS (SELECT event_id, user_id, ts, value FROM events "
            "WHERE event_type = 'click'), "
            "p AS (SELECT user_id, ts, value FROM events "
            "WHERE event_type = 'purchase') "
            "SELECT c.event_id, c.user_id, CAST(c.ts AS VARCHAR) AS click_ts, "
            "CAST(p.ts AS VARCHAR) AS purchase_ts, p.value AS purchase_value "
            "FROM c ASOF LEFT JOIN p "
            "ON c.user_id = p.user_id AND c.ts <= p.ts"
        ),
        "j8_star_revenue": (
            "SELECT r_name, n_name, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "count(*) AS n_items "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE c_nationkey = s_nationkey "
            "AND o_orderdate >= TIMESTAMP '1995-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-01-01' "
            "GROUP BY 1, 2"
        ),
        "j7_bloom_join": (
            "SELECT l_returnflag, count(*) AS n_items, "
            "round(sum(l_quantity), 2) AS sum_qty FROM lineitem "
            "WHERE l_orderkey IN (SELECT o_orderkey FROM orders "
            "WHERE o_orderpriority = '1-URGENT') GROUP BY 1"
        ),
        "x2_range_join": (
            "SELECT s.event_id AS signup_id, x.event_id AS error_id "
            "FROM (SELECT event_id, ts FROM events WHERE event_type = 'signup') s "
            "JOIN (SELECT event_id, ts FROM events WHERE event_type = 'error') x "
            "ON x.ts >= s.ts AND x.ts <= s.ts + INTERVAL 300 SECOND"
        ),
        "x2_interval_join": _INTERVAL_JOIN_SQL,
        "x1_interval_stream": _INTERVAL_JOIN_SQL,
        "e_json_extract": (
            "SELECT event_type, "
            "round(avg(CAST(json_extract(props, '$.k') AS INT)), 4) AS avg_k, "
            "count(*) AS n_events, "
            "CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS INT) > 50 "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_high "
            "FROM events GROUP BY event_type"
        ),
        "x1_tumbling_window": (
            "SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS VARCHAR)"
            " AS window_start, "
            "event_type, count(*) AS n_events, round(sum(value), 2) AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        "x1_sliding_window": (
            "SELECT CAST(ws AS VARCHAR) AS window_start, count(*) AS n_events, "
            "round(sum(value), 2) AS total_value FROM ("
            "SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS ws, value"
            " FROM events "
            "UNION ALL "
            "SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) "
            "- INTERVAL '30 minutes' AS ws, value FROM events) GROUP BY ws"
        ),
        "x1_sliding_stream": (
            "SELECT CAST(ws AS VARCHAR) AS window_start, count(*) AS n_events, "
            "round(sum(value), 2) AS total_value FROM ("
            "SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS ws, value"
            " FROM events "
            "UNION ALL "
            "SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) "
            "- INTERVAL '30 minutes' AS ws, value FROM events) GROUP BY ws"
        ),
        "x1_session_window": (
            "WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events), "
            "gaps AS (SELECT user_id, ts, "
            "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
            "> INTERVAL '30 minutes' OR lag(ts) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_session FROM ev), "
            "sessions AS (SELECT user_id, ts, "
            "sum(new_session) OVER (PARTITION BY user_id ORDER BY ts "
            "ROWS UNBOUNDED PRECEDING) AS session_id FROM gaps) "
            "SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start, "
            "count(*) AS n_events FROM sessions GROUP BY user_id, session_id"
        ),
        "x1_stream_enrich": (
            "SELECT c.c_mktsegment, e.event_type, count(*) AS n_events, "
            "round(sum(e.value), 2) AS total_value "
            "FROM events e JOIN customer c ON c.c_custkey = e.user_id "
            "GROUP BY 1, 2"
        ),
        "x1_tumbling_stream": (
            "SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS VARCHAR)"
            " AS window_start, "
            "event_type, count(*) AS n_events, round(sum(value), 2) AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        # Gopher quality heuristics: same tokenize/line splits in SQL
        "t_gopher_flags": (
            "WITH t AS (SELECT doc_id, "
            "regexp_split_to_array(trim(text), '\\s+') AS toks, "
            "string_split(text, chr(10)) AS lines FROM documents) "
            "SELECT doc_id, "
            "CAST(len(toks) AS BIGINT) AS n_words, "
            "round(CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)"
            " / len(toks), 6) AS mean_word_len, "
            "round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))"
            " AS DOUBLE) / len(toks), 6) AS alpha_word_ratio, "
            "round(CAST(len(list_filter(lines, l -> starts_with(trim(l), '-') "
            "OR starts_with(trim(l), '•'))) AS DOUBLE) / len(lines), 6)"
            " AS bullet_line_ratio, "
            "round(CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')))"
            " AS DOUBLE) / len(lines), 6) AS ellipsis_line_ratio, "
            "CAST(len(list_filter(['the','be','to','of','and','that','have','with'],"
            " s -> list_contains(list_transform(toks, w -> lower(w)), s)))"
            " AS BIGINT) AS stopword_hits, "
            "(len(toks) >= 20 AND len(toks) <= 100000 "
            "AND round(CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)"
            " / len(toks), 6) BETWEEN 3.0 AND 10.0 "
            "AND round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))"
            " AS DOUBLE) / len(toks), 6) >= 0.8 "
            "AND round(CAST(len(list_filter(lines, l -> starts_with(trim(l), '-') "
            "OR starts_with(trim(l), '•'))) AS DOUBLE) / len(lines), 6) <= 0.9 "
            "AND round(CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')))"
            " AS DOUBLE) / len(lines), 6) <= 0.3 "
            "AND len(list_filter(['the','be','to','of','and','that','have','with'],"
            " s -> list_contains(list_transform(toks, w -> lower(w)), s))) >= 2)"
            " AS pass_gopher "
            "FROM t"
        ),
        # drained in one availableNow micro-batch, the custom stateful
        # operator's complete-state rows equal the plain batch GROUP BY
        "x1_stateful_totals": (
            "SELECT user_id, count(*) AS n_events, "
            "round(sum(value), 2) AS total_value FROM events GROUP BY user_id"
        ),
        # identical tumbling oracle — the foreachBatch-landed warehouse
        # table must contain exactly the batch aggregation
        "x1_stream_warehouse": (
            "SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS VARCHAR)"
            " AS window_start, "
            "event_type, count(*) AS n_events, round(sum(value), 2) AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        # identical sessionization oracle as x1_session_window — the
        # streaming plan must converge to the same sessions
        "x1_session_stream": (
            "WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events), "
            "gaps AS (SELECT user_id, ts, "
            "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
            "> INTERVAL '30 minutes' OR lag(ts) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_session FROM ev), "
            "sessions AS (SELECT user_id, ts, "
            "sum(new_session) OVER (PARTITION BY user_id ORDER BY ts "
            "ROWS UNBOUNDED PRECEDING) AS session_id FROM gaps) "
            "SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start, "
            "count(*) AS n_events FROM sessions GROUP BY user_id, session_id"
        ),
        "x1_stream_dedup": (
            "SELECT event_id, CAST(ts AS VARCHAR) AS ts, user_id, "
            "event_type, value FROM events"
        ),
        "s4_csv_source": "SELECT n_nationkey, n_name, n_regionkey FROM nation",
        "s4_json_source": "SELECT r_regionkey, r_name FROM region",
        "a1_cube": (
            "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
            "round(sum(l_quantity), 2) AS sum_qty FROM lineitem "
            "GROUP BY CUBE (l_returnflag, l_linestatus)"
        ),
        "o1_intersect": (
            "SELECT c_nationkey AS nationkey FROM customer INTERSECT "
            "SELECT s_nationkey AS nationkey FROM supplier"
        ),
        "p3_p5_p9_field_ops": (
            "SELECT n_nationkey AS nation_id, n_name AS nation_name, "
            "r_name AS region_name FROM nation n "
            "LEFT JOIN region r ON n.n_regionkey = r.r_regionkey"
        ),
        "s6_s1_table_roundtrip": "SELECT * FROM region",
        "s6_partition_pruning": (
            "SELECT o_orderpriority, count(*) AS n_orders, "
            "round(sum(o_totalprice), 2) AS total_price "
            "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority"
        ),
        "s7_warehouse_sink": "SELECT n_nationkey, n_name FROM nation",
        "s13_orc_roundtrip": (
            "SELECT n_regionkey, count(*) AS n_nations, "
            "min(n_name) AS first_name FROM nation GROUP BY n_regionkey"
        ),
        "d_cosine_dedup": (
            "WITH p AS (SELECT e1.vec_id AS id_a, e2.vec_id AS id_b, "
            f"round({_SQL_DOT_E1E2} / ({_SQL_NORM_E1} * {_SQL_NORM_E2}), 6) AS cos_sim "
            "FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id), "
            "losers AS (SELECT DISTINCT id_b FROM p WHERE cos_sim >= 0.4) "
            "SELECT vec_id, label FROM embeddings "
            "WHERE vec_id NOT IN (SELECT id_b FROM losers)"
        ),
        "v_cosine_pairs": (
            "WITH p AS (SELECT e1.vec_id AS id_a, e2.vec_id AS id_b, "
            f"round({_SQL_DOT_E1E2} / ({_SQL_NORM_E1} * {_SQL_NORM_E2}), 6) AS cos_sim "
            "FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id) "
            "SELECT * FROM p WHERE cos_sim >= 0.3"
        ),
        "g_dim_customers": _SQL_DIM_CUSTOMERS,
        "g_dim_customers_faithful": _SQL_DIM_CUSTOMERS,
        "g_dim_products": _SQL_DIM_PRODUCTS,
        "g_fact_sales": _SQL_FACT_SALES,
        "g_reference_dim_customers": _SQL_REF_DIM_CUSTOMERS,
        "g_reference_fact_sales": _SQL_REF_FACT_SALES,
        "g_reference_dim_products": _SQL_REF_DIM_PRODUCTS,
        "m_image_ahash_pairs": _SQL_IMAGE_AHASH_PAIRS,
        "m_audio_fp_pairs": _SQL_AUDIO_FP_PAIRS,
        "m_hash_index_dedup": _SQL_HASH_INDEX_DEDUP,
        # reband(16→8) preserves semantics at max_hamming 1 (total
        # pigeonhole recall at both widths), so the same EXISTS replay
        # verifies the retune — see _q_m_hamming_reband_dedup
        "m_hamming_reband_dedup": _SQL_HASH_INDEX_DEDUP,
        "x1_media_dedup_stream": _SQL_MEDIA_DEDUP_STREAM,
        "gr_pagerank": _SQL_GR_PAGERANK,
        "gr_trustrank": _SQL_GR_TRUSTRANK,
        "t_canonical_urls": _SQL_CANONICAL_URLS,
        "m_audio_quality": _SQL_AUDIO_QUALITY,
        "m_image_exif": _SQL_IMAGE_EXIF,
        "t_html_extract": _SQL_HTML_EXTRACT,
        "t_warc_pipeline": _SQL_WARC_PIPELINE,
        "t_robots_filter": _SQL_ROBOTS_FILTER,
        "t_frontier_schedule": _SQL_FRONTIER_SCHEDULE,
        "t_crawl_tick": _SQL_CRAWL_TICK,
        "a1_cms_topk": _SQL_CMS_TOPK,
        "d_simhash_pairs": _SQL_SIMHASH_PAIRS,
        "d_span_index_dedup": _SQL_SPAN_INDEX_DEDUP,
        "v_lsh_topk": _SQL_LSH_TOPK,
        "d_cosine_dedup_lsh": _SQL_COSINE_DEDUP_LSH,
        "d_minhash_pairs": _SQL_MINHASH_PAIRS,
        "d_minhash_dedup": _SQL_MINHASH_DEDUP,
        "d_minhash_index_dedup": _SQL_MINHASH_INDEX_DEDUP,
        # reband(8→16) ≡ build(16): banding is a pure function of
        # (signature, band count), so the 16-band replay verifies the
        # retune — see _q_m_minhash_reband_dedup
        "m_minhash_reband_dedup": _SQL_MINHASH_INDEX_DEDUP,
        "a1_hll_rollup": _SQL_HLL_ROLLUP,
        "x1_hll_stream": _SQL_HLL_STREAM,
        "v_ivf_topk": _SQL_IVF_TOPK,
        # identical semantics to v_ivf_topk (partition pruning is
        # layout-only), so the index entry shares its oracle
        "v_ivf_index_topk": _SQL_IVF_TOPK,
        "v_semantic_dedup": _SQL_SEMANTIC_DEDUP,
        "t_quality_model": _SQL_QUALITY_MODEL,
        "x1_ann_stream": _SQL_ANN_STREAM,
        "x1_cms_stream": _SQL_CMS_TOPK,
        "x1_crawl_stream": _SQL_CRAWL_TICK,
        "t_sitemap_urls": _SQL_SITEMAP_URLS,
        "d_exact_index_dedup": _SQL_EXACT_INDEX_DEDUP,
        "x1_frontier_stream": _SQL_FRONTIER_STREAM,
        "x1_frontier_schedule_stream": _SQL_FRONTIER_SCHEDULE_STREAM,
        "t_dsir_select": _SQL_DSIR_SELECT,
        "t_normalize_text": _SQL_NORMALIZE_TEXT,
        "m_resample_audio": _SQL_RESAMPLE_AUDIO,
        "m_decode_progressive": (
            # dims are pure doc_id arithmetic; within_tol = 1 asserts
            # the progressive roundtrip stayed inside the SAME pixel
            # tolerance as the baseline entry (shared quantization)
            "SELECT doc_id, CAST(8 + doc_id % 17 AS INT) AS width, "
            "CAST(8 + doc_id % 11 AS INT) AS height, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT) "
            "AS channels, CAST(1 AS INT) AS within_tol FROM documents"
        ),
        "g_fact_sales_pit": _SQL_FACT_SALES_PIT,
        # runner-wired twin: identical result contract, rows travelled
        # through the materialized bronze/silver/gold catalog DAG
        "g_pipeline_runner": _SQL_FACT_SALES,
        "s9_dq_gate": (
            "SELECT count(*) AS _dq_rows, "
            "CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " AS _dq_qty_not_null, "
            "count(DISTINCT l_orderkey) AS _dq_okey_distinct, "
            "CAST(sum(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 0.1) "
            "THEN 1 ELSE 0 END) AS BIGINT) AS _dq_disc_range FROM lineitem"
        ),
        "s10_incremental_load": (
            "WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice, "
            "o_orderdate FROM orders), "
            "wm AS (SELECT max(o_orderdate) AS m FROM base), "
            "upd AS (SELECT o_orderkey, 'U' AS o_orderstatus, "
            "round(o_totalprice + 100, 2) AS o_totalprice, "
            "CAST(wm.m + INTERVAL 1 DAY * (o_orderkey % 30 + 1) AS DATE) "
            "AS o_orderdate FROM base, wm WHERE o_orderkey % 3 = 0), "
            "kept AS (SELECT u.* FROM upd u, wm WHERE u.o_orderdate >= wm.m) "
            "SELECT b.o_orderkey, "
            "coalesce(k.o_orderstatus, b.o_orderstatus) AS o_orderstatus, "
            "round(coalesce(k.o_totalprice, b.o_totalprice), 2) AS o_totalprice, "
            "CAST(coalesce(k.o_orderdate, b.o_orderdate) AS VARCHAR) "
            "AS o_orderdate FROM base b LEFT JOIN kept k USING (o_orderkey)"
        ),
        "v_decontaminate": (
            "WITH corp AS (SELECT vec_id, label, embedding FROM embeddings "
            "WHERE vec_id >= 10), "
            "bench AS (SELECT embedding FROM embeddings WHERE vec_id < 10), "
            "hits AS (SELECT DISTINCT c.vec_id FROM corp c JOIN bench b ON "
            "round(list_sum(list_transform(range(1, 65), i -> "
            "CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
            " / (sqrt(list_sum(list_transform(c.embedding, x -> "
            "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
            "sqrt(list_sum(list_transform(b.embedding, x -> "
            "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) >= 0.4) "
            "SELECT c.vec_id, c.label FROM corp c LEFT JOIN hits h "
            "ON c.vec_id = h.vec_id WHERE h.vec_id IS NULL"
        ),
        "t_corpus_report": (
            "WITH per AS (SELECT lang, text, "
            "CASE WHEN text IS NULL THEN NULL WHEN length(trim(text)) = 0 "
            "THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END "
            "AS n_tokens, "
            "round(CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0 ELSE "
            "0.5 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
            "AS DOUBLE) / CAST(length(text) AS DOUBLE)) + "
            "0.3 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', "
            "'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) + "
            "0.2 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) END, 6) "
            "AS q FROM documents), "
            "agg AS (SELECT lang, count(*) AS n_docs, "
            "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
            "round(avg(q), 6) AS avg_quality, "
            "count(DISTINCT text) AS distinct_texts FROM per GROUP BY lang) "
            "SELECT lang, n_docs, total_tokens, avg_quality, distinct_texts, "
            "round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS share, "
            "round(1.0 - CAST(distinct_texts AS DOUBLE) / n_docs, 6) "
            "AS dup_rate FROM agg"
        ),
        "a1_grouping_sets": (
            "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
            "round(sum(l_quantity), 2) AS sum_qty FROM lineitem "
            "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), "
            "(l_linestatus), ())"
        ),
        "s11_versioned_merge": (
            "WITH src AS (SELECT o_orderkey, o_orderstatus, o_totalprice, "
            "o_orderdate FROM orders), "
            "base AS (SELECT * FROM src WHERE o_orderkey % 3 <> 0 "
            "UNION ALL SELECT * FROM src "
            "WHERE o_orderkey % 3 = 0 AND o_orderkey % 4 = 0), "
            "batch AS (SELECT o_orderkey, o_orderstatus, "
            "round(o_totalprice + 50, 2) AS o_totalprice, o_orderdate "
            "FROM src WHERE o_orderkey % 2 = 0) "
            "SELECT o_orderkey, o_orderstatus, "
            "round(o_totalprice, 2) AS o_totalprice, "
            "CAST(o_orderdate AS VARCHAR) AS o_orderdate FROM "
            "(SELECT * FROM base WHERE o_orderkey NOT IN "
            "(SELECT o_orderkey FROM batch) UNION ALL SELECT * FROM batch)"
        ),
        "s12_zorder_roundtrip": (
            "SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice, "
            "CAST(o_orderdate AS VARCHAR) AS o_orderdate FROM orders"
        ),
        "x1_versioned_stream": (
            "WITH ev AS (SELECT event_id, ts, user_id, event_type, value "
            "FROM events), "
            "run1 AS (SELECT * FROM ev QUALIFY row_number() OVER "
            "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1), "
            "upd AS (SELECT event_id, ts + INTERVAL 1 YEAR AS ts, user_id, "
            "event_type, value + 1000 AS value FROM ev WHERE event_id % 5 = 0), "
            "upd1 AS (SELECT * FROM upd QUALIFY row_number() OVER "
            "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1), "
            "allv AS (SELECT * FROM run1 UNION ALL SELECT * FROM upd1) "
            "SELECT user_id, event_id, event_type, round(value, 2) AS value, "
            "CAST(ts AS VARCHAR) AS ts FROM allv QUALIFY row_number() OVER "
            "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"
        ),
        "f17_current_timestamp": (
            "SELECT n_nationkey, now() > TIMESTAMP '2020-01-01' AS ts_after_2020 "
            "FROM nation"
        ),
        # partition directly by the content column: grouping by any
        # injective encoding (the Spark side's length-prefixed NULL-safe
        # fingerprint) == grouping by the value itself
        "d_exact_dedup": (
            "SELECT doc_id, text FROM documents "
            "QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1"
        ),
        # word-3-gram shingle inverted index -> exact Jaccard on pairs
        # sharing >=1 shingle; mirrors operators/dedup.ngram_jaccard_pairs
        # (max_df=1000 boilerplate cap is a no-op at 500 docs but kept for
        # structural fidelity).
        "d_containment_pairs": (
            "WITH t AS (SELECT doc_id, "
            "regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), "
            "s AS (SELECT doc_id, "
            "list_distinct([array_to_string(toks[i:i+2], ' ') "
            "for i in generate_series(1, greatest(len(toks) - 2, 0))]) AS sh "
            "FROM t), "
            "ex0 AS (SELECT doc_id, unnest(sh) AS shingle FROM s), "
            "rare AS (SELECT shingle FROM ex0 GROUP BY shingle "
            "HAVING count(DISTINCT doc_id) <= 1000), "
            "ex AS (SELECT ex0.doc_id, ex0.shingle FROM ex0 "
            "JOIN rare USING (shingle)), "
            "sizes AS (SELECT doc_id, count(DISTINCT shingle) AS sz "
            "FROM ex GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "count(*) AS i FROM ex a "
            "JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT id_a, id_b, i AS inter, "
            "round(i / sa.sz, 6) AS containment_a, "
            "round(i / sb.sz, 6) AS containment_b "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b "
            "WHERE round(i / sa.sz, 6) >= 0.6 OR round(i / sb.sz, 6) >= 0.6"
        ),
        "d_ngram_jaccard": (
            "WITH " + _SQL_NGRAM_PAIR_CTES + " SELECT id_a, id_b, jaccard FROM pairs"
        ),
        # transitive closure of the same pair graph via recursive CTE;
        # component label = min reachable doc_id — exactly what the
        # distributed min-label propagation converges to
        "d_cc_dedup": (
            "WITH RECURSIVE " + _SQL_NGRAM_PAIR_CTES + ", "
            "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach AS (SELECT a, b FROM edges "
            "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), "
            "comp AS (SELECT a AS id, least(a, min(b)) AS component "
            "FROM reach GROUP BY a) "
            "SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component "
            "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id"
        ),
        "t_cluster_split": (
            # d_cc_dedup's transitive closure + t_hash_split's md5
            # bucket arithmetic, keyed by the CLUSTER id — replays
            # cluster_split end to end
            "WITH RECURSIVE " + _SQL_NGRAM_PAIR_CTES + ", "
            "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach AS (SELECT a, b FROM edges "
            "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), "
            "comp AS (SELECT a AS id, least(a, min(b)) AS component "
            "FROM reach GROUP BY a), "
            "cl AS (SELECT d.doc_id, "
            "coalesce(c.component, d.doc_id) AS cluster_id "
            "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id), "
            "b AS (SELECT doc_id, cluster_id, "
            "((strpos('0123456789abcdef', substr(md5(cluster_id::VARCHAR),1,1))-1)*4096 "
            "+(strpos('0123456789abcdef', substr(md5(cluster_id::VARCHAR),2,1))-1)*256 "
            "+(strpos('0123456789abcdef', substr(md5(cluster_id::VARCHAR),3,1))-1)*16 "
            "+(strpos('0123456789abcdef', substr(md5(cluster_id::VARCHAR),4,1))-1)) % 100 "
            "AS bucket FROM cl) "
            "SELECT doc_id, cluster_id, "
            "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' "
            "ELSE 'test' END AS split FROM b"
        ),
        "er_resolve": (
            "WITH RECURSIVE " + _SQL_ER_CTES + " "
            "SELECT base.id, coalesce(comp.component, base.id) AS entity_id "
            "FROM base LEFT JOIN comp ON comp.id = base.id"
        ),
        # same oracle as er_resolve: er_incremental's contract is exact
        # equality with from-scratch resolution over the union
        "er_incremental": (
            "WITH RECURSIVE " + _SQL_ER_CTES + " "
            "SELECT base.id, coalesce(comp.component, base.id) AS entity_id "
            "FROM base LEFT JOIN comp ON comp.id = base.id"
        ),
        # reblock(right-6 → right-8) is candidate-topology-invariant
        # on this fixture (both keys block exactly by customer number;
        # typos live at the front) — see _q_er_reblock_incremental
        "er_reblock_incremental": (
            "WITH RECURSIVE " + _SQL_ER_CTES + " "
            "SELECT base.id, coalesce(comp.component, base.id) AS entity_id "
            "FROM base LEFT JOIN comp ON comp.id = base.id"
        ),
        # micro-batching-invariant by the er_incremental contract
        "x1_er_stream": (
            "WITH RECURSIVE " + _SQL_ER_CTES + " "
            "SELECT base.id, coalesce(comp.component, base.id) AS entity_id "
            "FROM base LEFT JOIN comp ON comp.id = base.id"
        ),
        "er_golden": (
            "WITH RECURSIVE " + _SQL_ER_CTES + ", "
            "resolved AS (SELECT base.id, base.name, base.bal, base.seg, "
            "coalesce(comp.component, base.id) AS entity_id "
            "FROM base LEFT JOIN comp ON comp.id = base.id), "
            "agg AS (SELECT entity_id, count(*) AS n_members, "
            "arg_min(name, id) AS name, max(bal) AS max_acctbal "
            "FROM resolved GROUP BY entity_id), "
            "m AS (SELECT entity_id, seg, row_number() OVER ("
            "PARTITION BY entity_id ORDER BY count(*) DESC, seg ASC) AS rn "
            "FROM resolved WHERE seg IS NOT NULL GROUP BY entity_id, seg) "
            "SELECT agg.entity_id, agg.n_members, agg.name, agg.max_acctbal, "
            "m.seg AS segment FROM agg "
            "LEFT JOIN m ON m.entity_id = agg.entity_id AND m.rn = 1"
        ),
        # deterministic fake decode: dims derived from sha256 of the blob
        # (documents are pure ASCII, so sha256(text) == sha256 of the
        # UTF-8 payload); hex-pair -> byte via strpos arithmetic.
        "m_decode_images": (
            "WITH h AS (SELECT doc_id, sha256(text) AS s FROM documents) "
            "SELECT doc_id, "
            "CAST(64 + ((strpos('0123456789abcdef', substring(s, 1, 1)) - 1) * 16 "
            "+ strpos('0123456789abcdef', substring(s, 2, 1)) - 1) % 192 AS INT) AS width, "
            "CAST(64 + ((strpos('0123456789abcdef', substring(s, 3, 1)) - 1) * 16 "
            "+ strpos('0123456789abcdef', substring(s, 4, 1)) - 1) % 192 AS INT) AS height, "
            "CAST(3 AS INT) AS channels FROM h"
        ),
        "m_resize_images": (
            "SELECT doc_id, sha256(text || '64x64') AS resized_hex, "
            "CAST(64 AS INT) AS width, CAST(64 AS INT) AS height FROM documents"
        ),
        "m_decode_audio": (
            "WITH h AS (SELECT doc_id, octet_length(encode(text)) AS n, "
            "sha256(text) AS s FROM documents), "
            "d AS (SELECT doc_id, n, "
            "(strpos('0123456789abcdef', substring(s, 1, 1)) - 1) * 16 "
            "+ strpos('0123456789abcdef', substring(s, 2, 1)) - 1 AS b0, "
            "(strpos('0123456789abcdef', substring(s, 3, 1)) - 1) * 16 "
            "+ strpos('0123456789abcdef', substring(s, 4, 1)) - 1 AS b1 FROM h) "
            "SELECT doc_id, "
            "CAST(CASE b0 % 4 WHEN 0 THEN 16000 WHEN 1 THEN 22050 "
            "WHEN 2 THEN 44100 ELSE 48000 END AS INT) AS sample_rate, "
            "CAST(1 + b1 % 2 AS INT) AS n_channels, "
            "CAST(n AS DOUBLE) / (CASE b0 % 4 WHEN 0 THEN 16000 WHEN 1 THEN 22050 "
            "WHEN 2 THEN 44100 ELSE 48000 END * 2 * (1 + b1 % 2)) "
            "AS duration_seconds FROM d"
        ),
        # every-2nd 16-byte frame; ASCII corpus -> char substring ==
        # byte substring, hex() is uppercase on both engines.
        "s14_version_changes": (
            "WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS s, "
            "CAST(round(o_totalprice, 2) AS DOUBLE) AS p FROM orders), "
            "v1 AS (SELECT * FROM o WHERE k % 50 < 25), "
            "b AS (SELECT k, s, p + 10 AS p FROM o WHERE k % 4 = 0), "
            "v3 AS (SELECT * FROM ("
            "SELECT * FROM v1 WHERE k NOT IN (SELECT k FROM b) "
            "UNION ALL SELECT * FROM b) WHERE k % 7 <> 0) "
            "SELECT n.k, n.s, n.p, 'insert' AS _change FROM v3 n "
            "WHERE n.k NOT IN (SELECT k FROM v1) "
            "UNION ALL "
            "SELECT o1.k, o1.s, o1.p, 'delete' FROM v1 o1 "
            "WHERE o1.k NOT IN (SELECT k FROM v3) "
            "UNION ALL "
            "SELECT o1.k, o1.s, o1.p, 'update_preimage' FROM v1 o1 "
            "JOIN v3 n ON o1.k = n.k WHERE o1.p <> n.p OR o1.s <> n.s "
            "UNION ALL "
            "SELECT n.k, n.s, n.p, 'update_postimage' FROM v1 o1 "
            "JOIN v3 n ON o1.k = n.k WHERE o1.p <> n.p OR o1.s <> n.s"
        ),
        "t_weighted_per_lang": (
            "WITH p AS (SELECT doc_id, lang, n_chars, "
            "pow(((('0x'||substr(md5(doc_id::VARCHAR || '#42'),1,8))::BIGINT)"
            "::DOUBLE + 0.5) / 4294967296.0, 1.0 / n_chars::DOUBLE) AS pri "
            "FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0), "
            "r AS (SELECT doc_id, lang, n_chars, row_number() OVER "
            "(PARTITION BY lang ORDER BY pri DESC, doc_id ASC) AS rn FROM p) "
            "SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20"
        ),
        "t_corpus_drift": (
            "WITH co AS (SELECT term, count(*) AS c FROM (SELECT "
            "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
            "FROM documents WHERE doc_id % 2 = 0) GROUP BY 1), "
            "cn AS (SELECT term, count(*) AS c FROM (SELECT "
            "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
            "FROM documents WHERE doc_id % 2 = 1) GROUP BY 1), "
            "j AS (SELECT coalesce(co.term, cn.term) AS term, "
            "coalesce(co.c, 0) AS c_old, coalesce(cn.c, 0) AS c_new "
            "FROM co FULL OUTER JOIN cn ON co.term = cn.term "
            "WHERE coalesce(co.c, 0) + coalesce(cn.c, 0) >= 5), "
            "tot AS (SELECT sum(c_old) AS n_old, sum(c_new) AS n_new, "
            "count(*) AS v FROM j) "
            "SELECT term, c_old, c_new, "
            "round(ln(((c_new + 0.5) / (n_new + 0.5 * v)) / "
            "((c_old + 0.5) / (n_old + 0.5 * v))), 6) AS log_ratio "
            "FROM j CROSS JOIN tot "
            "ORDER BY abs(round(ln(((c_new + 0.5) / (n_new + 0.5 * v)) / "
            "((c_old + 0.5) / (n_old + 0.5 * v))), 6)) DESC, term ASC "
            "LIMIT 25"
        ),
        "d_dup_stats": (
            "WITH c AS (SELECT md5(lower(trim(regexp_replace(text, "
            "'\\s+', ' ', 'g')))) AS fp, count(*) AS cluster_size "
            "FROM documents GROUP BY 1) "
            "SELECT cluster_size, count(*) AS n_clusters, "
            "cluster_size * count(*) AS n_docs FROM c GROUP BY 1"
        ),
        "v_sign_project": (
            "WITH m AS (SELECT k, j, "
            "CASE WHEN substr(md5('42:' || k || ':' || j), 1, 1) "
            "BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END AS s "
            "FROM range(8) t1(k), range(64) t2(j)), "
            "e AS (SELECT vec_id, unnest(embedding) AS v, "
            "generate_subscripts(embedding, 1) - 1 AS j FROM embeddings) "
            "SELECT vec_id, CAST(k AS INT) AS k, "
            "round(sum(CAST(v AS DOUBLE) * s) / sqrt(8), 6) AS comp "
            "FROM e JOIN m USING (j) GROUP BY 1, 2"
        ),
        "v_int8_quantize": (
            "WITH q AS (SELECT vec_id, embedding, "
            "list_max(list_transform(embedding, "
            "x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings), "
            "c AS (SELECT vec_id, embedding, scale, "
            "CASE WHEN scale = 0 THEN "
            "list_transform(embedding, x -> 0) "
            "ELSE list_transform(embedding, "
            "x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT)) END AS qc "
            "FROM q) "
            "SELECT vec_id, round(scale, 6) AS scale, "
            "CAST(list_sum(qc) AS BIGINT) AS q_sum, "
            "list_min(qc) AS q_min, list_max(qc) AS q_max, "
            "round(sqrt(list_sum(list_transform(range(1, len(qc) + 1), "
            "i -> (qc[i] * scale - CAST(embedding[i] AS DOUBLE)) * "
            "(qc[i] * scale - CAST(embedding[i] AS DOUBLE))))), 6) "
            "AS recon_err FROM c"
        ),
        "x1_hist_stream": (
            'WITH b AS (SELECT event_type, CAST(greatest(least(floor((CAST(value AS DOUBLE) - 0.0) / 3.90625), 255), 0) AS INT) AS bin FROM events WHERE value IS NOT NULL), sk AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2), c AS (SELECT event_type, bin, cnt, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(cnt) OVER (PARTITION BY event_type) AS tot FROM sk), qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q) SELECT c.event_type, qs.q, round(0.0 + (min(c.bin) + 1) * 3.90625, 6) AS quantile_est FROM c CROSS JOIN qs WHERE c.cum >= qs.q * c.tot GROUP BY 1, 2'
        ),
        "t_bm25_batch": (
            "WITH qs AS (SELECT * FROM (VALUES (1, 'vector'), (1, 'stream'), (2, 'hash'), (2, 'join'), (2, 'merge'), (3, 'window')) t(query_id, term)), base AS (SELECT doc_id, len(string_split_regex(trim(lower(text)), '\\s+')) AS dl FROM documents), stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM base), toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM documents), tf AS (SELECT t.doc_id, b.dl, t.term, count(*) AS tf FROM toks t JOIN base b USING (doc_id) WHERE t.term IN (SELECT DISTINCT term FROM qs) GROUP BY 1, 2, 3), dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), sc AS (SELECT qs.query_id, tf.doc_id, round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25 FROM tf JOIN dfq USING (term) JOIN qs USING (term) CROSS JOIN stats GROUP BY 1, 2), r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS rank FROM sc) SELECT query_id, doc_id, bm25, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10"
        ),
        "a1_outliers": (
            'WITH o AS (SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) AS p FROM orders), q AS (SELECT o_orderstatus, quantile_cont(p, 0.25) AS q1, quantile_cont(p, 0.75) AS q3 FROM o GROUP BY 1) SELECT o.o_orderstatus, count(*) AS n_orders, CAST(sum(CASE WHEN o.p < q.q1 - 1.5 * (q.q3 - q.q1) OR o.p > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, round(min(q.q1), 6) AS q1, round(min(q.q3), 6) AS q3 FROM o JOIN q USING (o_orderstatus) GROUP BY 1'
        ),
        "a1_hist_quantile": (
            'WITH b AS (SELECT event_type, CAST(greatest(least(floor((CAST(value AS DOUBLE) - 0.0) / 3.90625), 255), 0) AS INT) AS bin FROM events WHERE value IS NOT NULL), sk AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2), c AS (SELECT event_type, bin, cnt, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(cnt) OVER (PARTITION BY event_type) AS tot FROM sk), qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q) SELECT c.event_type, qs.q, round(0.0 + (min(c.bin) + 1) * 3.90625, 6) AS quantile_est FROM c CROSS JOIN qs WHERE c.cum >= qs.q * c.tot GROUP BY 1, 2'
        ),
        "a1_profile": (
            'SELECT \'o_orderstatus\' AS "column", count(*) AS n_rows, count(*) - count(o_orderstatus) AS n_null, round((count(*) - count(o_orderstatus)) / count(*)::DOUBLE, 6) AS null_rate, count(DISTINCT o_orderstatus) AS n_distinct, CAST(min(o_orderstatus) AS VARCHAR) AS min_value, CAST(max(o_orderstatus) AS VARCHAR) AS max_value FROM orders UNION ALL SELECT \'o_custkey\' AS "column", count(*) AS n_rows, count(*) - count(o_custkey) AS n_null, round((count(*) - count(o_custkey)) / count(*)::DOUBLE, 6) AS null_rate, count(DISTINCT o_custkey) AS n_distinct, CAST(min(o_custkey) AS VARCHAR) AS min_value, CAST(max(o_custkey) AS VARCHAR) AS max_value FROM orders UNION ALL SELECT \'o_totalprice\' AS "column", count(*) AS n_rows, count(*) - count(o_totalprice) AS n_null, round((count(*) - count(o_totalprice)) / count(*)::DOUBLE, 6) AS null_rate, count(DISTINCT o_totalprice) AS n_distinct, CAST(min(o_totalprice) AS VARCHAR) AS min_value, CAST(max(o_totalprice) AS VARCHAR) AS max_value FROM orders UNION ALL SELECT \'o_orderdate\' AS "column", count(*) AS n_rows, count(*) - count(o_orderdate) AS n_null, round((count(*) - count(o_orderdate)) / count(*)::DOUBLE, 6) AS null_rate, count(DISTINCT o_orderdate) AS n_distinct, CAST(min(o_orderdate) AS VARCHAR) AS min_value, CAST(max(o_orderdate) AS VARCHAR) AS max_value FROM orders'
        ),
        "a1_rfm_segments": (
            "WITH rfm AS (SELECT o_custkey, "
            "date_diff('day', DATE '1970-01-01', max(o_orderdate)) AS recency, "
            "count(*) AS frequency, "
            "CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS monetary "
            "FROM orders GROUP BY 1), "
            "t AS (SELECT quantile_cont(recency, [0.25, 0.5, 0.75]) AS tr, "
            "quantile_cont(frequency, [0.25, 0.5, 0.75]) AS tf, "
            "quantile_cont(monetary, [0.25, 0.5, 0.75]) AS tm FROM rfm) "
            "SELECT CAST(1 + len(list_filter(t.tr, x -> rfm.recency >= x)) AS INT) AS r_q, "
            "CAST(1 + len(list_filter(t.tf, x -> rfm.frequency >= x)) AS INT) AS f_q, "
            "CAST(1 + len(list_filter(t.tm, x -> rfm.monetary >= x)) AS INT) AS m_q, "
            "count(*) AS n_customers FROM rfm CROSS JOIN t GROUP BY 1, 2, 3"
        ),
        "a2_target_encode": (
            "WITH o AS (SELECT o_orderkey, "
            "CASE WHEN o_orderkey % 7 <> 0 THEN o_orderpriority END "
            "AS o_orderpriority, o_totalprice FROM orders), "
            "pc AS (SELECT o_orderpriority AS c, "
            "avg(o_totalprice) AS m, count(o_totalprice) AS n "
            "FROM o GROUP BY 1), "
            "g AS (SELECT avg(o_totalprice) AS g FROM o) "
            "SELECT o.o_orderkey, o.o_orderpriority, "
            "round((pc.n * pc.m + 10.0 * g.g) / (pc.n + 10.0), 6) AS te "
            "FROM o JOIN pc ON pc.c IS NOT DISTINCT FROM o.o_orderpriority "
            "CROSS JOIN g"
        ),
        "a2_feature_scale": (
            "WITH s AS (SELECT o_orderstatus AS st, "
            "avg(o_totalprice) AS mu, stddev_pop(o_totalprice) AS sd, "
            "min(o_totalprice) AS lo, max(o_totalprice) AS hi "
            "FROM orders GROUP BY 1) "
            "SELECT o_orderkey, o_orderstatus, "
            "round(CASE WHEN sd > 0 THEN (o_totalprice - mu) / sd END, 6) "
            "AS o_totalprice_z, "
            "round(CASE WHEN hi - lo > 0 THEN (o_totalprice - lo) / (hi - lo) "
            "END, 6) AS o_totalprice_mm "
            "FROM orders JOIN s ON st = o_orderstatus"
        ),
        "a2_one_hot": (
            "SELECT c_custkey, "
            "CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END "
            "AS c_mktsegment_oh_automobile, "
            "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END "
            "AS c_mktsegment_oh_building, "
            "CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END "
            "AS c_mktsegment_oh_furniture, "
            "CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END "
            "AS c_mktsegment_oh_household, "
            "CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END "
            "AS c_mktsegment_oh_machinery, "
            "CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'BUILDING', "
            "'FURNITURE', 'HOUSEHOLD', 'MACHINERY') THEN 0 ELSE 1 END "
            "AS c_mktsegment_oh_other "
            "FROM customer"
        ),
        "s15_snapshot_drift": (
            "WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS s, "
            "round(o_totalprice, 2) AS p FROM orders), "
            "v1 AS (SELECT k, s, p FROM base WHERE k % 2 = 0), "
            "b AS (SELECT k, s, p + 5 AS p, CASE WHEN k % 5 = 0 THEN NULL "
            "ELSE CAST(k % 10 AS DOUBLE) END AS flag FROM base "
            "WHERE k % 3 = 0), "
            "v2 AS (SELECT v1.k, v1.s, v1.p, CAST(NULL AS DOUBLE) AS flag "
            "FROM v1 WHERE v1.k NOT IN (SELECT k FROM b) "
            "UNION ALL SELECT * FROM b), "
            "s1 AS (SELECT CAST(count(*) AS DOUBLE) AS n, "
            "round(avg(CASE WHEN k IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_k, "
            "round(avg(CAST(k AS DOUBLE)), 6) AS mean_k, "
            "round(min(CAST(k AS DOUBLE)), 6) AS min_k, "
            "round(max(CAST(k AS DOUBLE)), 6) AS max_k, "
            "round(avg(CASE WHEN p IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_p, "
            "round(avg(p), 6) AS mean_p, round(min(p), 6) AS min_p, "
            "round(max(p), 6) AS max_p, "
            "round(avg(CASE WHEN s IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_s "
            "FROM v1), "
            "s2 AS (SELECT CAST(count(*) AS DOUBLE) AS n, "
            "round(avg(CASE WHEN k IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_k, "
            "round(avg(CAST(k AS DOUBLE)), 6) AS mean_k, "
            "round(min(CAST(k AS DOUBLE)), 6) AS min_k, "
            "round(max(CAST(k AS DOUBLE)), 6) AS max_k, "
            "round(avg(CASE WHEN p IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_p, "
            "round(avg(p), 6) AS mean_p, round(min(p), 6) AS min_p, "
            "round(max(p), 6) AS max_p, "
            "round(avg(CASE WHEN s IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_s "
            "FROM v2), "
            "r AS ("
            "SELECT '*' AS c, 'row_count' AS metric, s1.n AS v_old, s2.n AS v_new FROM s1, s2 "
            "UNION ALL SELECT 'flag', 'present', 0.0, 1.0 "
            "UNION ALL SELECT 'k', 'present', 1.0, 1.0 "
            "UNION ALL SELECT 'k', 'null_rate', s1.null_k, s2.null_k FROM s1, s2 "
            "UNION ALL SELECT 'k', 'mean', s1.mean_k, s2.mean_k FROM s1, s2 "
            "UNION ALL SELECT 'k', 'min', s1.min_k, s2.min_k FROM s1, s2 "
            "UNION ALL SELECT 'k', 'max', s1.max_k, s2.max_k FROM s1, s2 "
            "UNION ALL SELECT 'p', 'present', 1.0, 1.0 "
            "UNION ALL SELECT 'p', 'null_rate', s1.null_p, s2.null_p FROM s1, s2 "
            "UNION ALL SELECT 'p', 'mean', s1.mean_p, s2.mean_p FROM s1, s2 "
            "UNION ALL SELECT 'p', 'min', s1.min_p, s2.min_p FROM s1, s2 "
            "UNION ALL SELECT 'p', 'max', s1.max_p, s2.max_p FROM s1, s2 "
            "UNION ALL SELECT 's', 'present', 1.0, 1.0 "
            "UNION ALL SELECT 's', 'null_rate', s1.null_s, s2.null_s FROM s1, s2) "
            'SELECT c AS "column", metric, v_old, v_new, '
            "round(v_new - v_old, 6) AS delta FROM r"
        ),
        "t_quality_deciles": (
            "WITH q AS (SELECT doc_id, " + quality + " AS q FROM documents), "
            "t AS (SELECT quantile_cont(q, "
            "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS thr FROM q) "
            "SELECT CAST(1 + len(list_filter(t.thr, x -> q.q >= x)) AS INT) "
            "AS decile, count(*) AS n_docs, "
            "round(min(q.q), 6) AS min_q, round(max(q.q), 6) AS max_q "
            "FROM q CROSS JOIN t GROUP BY 1"
        ),
        "x2_resample_ffill": (
            "WITH pb AS (SELECT user_id, "
            "CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS b, "
            "count(*) AS n_events, sum(value) AS bucket_value "
            "FROM events GROUP BY 1, 2), "
            "spans AS (SELECT user_id, min(b) AS lo, max(b) AS hi "
            "FROM pb GROUP BY 1), "
            "grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS b "
            "FROM spans) "
            "SELECT g.user_id, g.b AS bucket, "
            "coalesce(pb.n_events, 0) AS n_events, "
            "round(pb.bucket_value, 6) AS bucket_value, "
            "round(last_value(pb.bucket_value IGNORE NULLS) OVER ("
            "PARTITION BY g.user_id ORDER BY g.b "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) "
            "AS filled_value "
            "FROM grid g LEFT JOIN pb ON pb.user_id = g.user_id AND pb.b = g.b"
        ),
        "x2_sessionize": _SESSIONIZE_SQL,
        # the chunked variant is output-identical by construction —
        # same oracle, verbatim
        "x2_sessionize_chunked": _SESSIONIZE_SQL,
        "m_decode_jpeg": (
            # dims are pure doc_id arithmetic; within_tol = 1 asserts
            # the lossy roundtrip stayed inside the pinned pixel
            # tolerance (the Spark side computes the actual max error)
            "SELECT doc_id, CAST(8 + doc_id % 17 AS INT) AS width, "
            "CAST(8 + doc_id % 11 AS INT) AS height, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT) "
            "AS channels, CAST(1 AS INT) AS within_tol FROM documents"
        ),
        "s16_quarantine": _QUARANTINE_SQL,
        "x1_quarantine_stream": _QUARANTINE_SQL,
        "x1_sessionize_stream": _SESSIONIZE_SQL,
        "x2_retention": _RETENTION_SQL,
        "x1_retention_stream": _RETENTION_SQL,
        "x2_transitions": (
            "WITH t AS (SELECT event_type, lead(event_type) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id) AS nxt "
            "FROM events), "
            "c AS (SELECT event_type AS from_type, nxt AS to_type, "
            "count(*) AS n FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2) "
            "SELECT from_type, to_type, n, "
            "round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) "
            "AS share FROM c"
        ),
        "w6_rolling_median": (
            "SELECT event_id, user_id, "
            "round(quantile_cont(value, 0.5) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS rolling_q "
            "FROM events"
        ),
        "x2_interarrival": (
            "WITH g AS (SELECT event_type, "
            "(epoch_us(CAST(ts AS TIMESTAMP)) "
            "- lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER ("
            "PARTITION BY event_type ORDER BY ts, event_id)) / 1000000.0 "
            "AS gap FROM events) "
            "SELECT event_type, count(*) AS n_gaps, "
            "round(avg(gap), 6) AS avg_gap, "
            "round(quantile_cont(gap, 0.5), 6) AS p50_gap, "
            "round(max(gap), 6) AS max_gap "
            "FROM g WHERE gap IS NOT NULL GROUP BY 1"
        ),
        "x2_funnel": (
            "WITH s1 AS (SELECT user_id, min(ts) AS t FROM events "
            "WHERE event_type = 'view' GROUP BY 1), "
            "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
            "JOIN s1 USING (user_id) "
            "WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1), "
            "s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
            "JOIN s2 USING (user_id) "
            "WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1), "
            "c AS (SELECT 1 AS step_index, 'view' AS step, "
            "(SELECT count(*) FROM s1) AS n_users "
            "UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2) "
            "UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)) "
            "SELECT step_index, step, n_users, "
            # prev = 0 must yield NULL (Spark's non-ANSI 0/0), not
            # DuckDB's IEEE NaN — only reachable when a funnel step
            # empties out, but the oracle must not diverge there
            "round(CASE WHEN coalesce(lag(n_users) OVER "
            "(ORDER BY step_index), n_users) = 0 THEN NULL "
            "ELSE n_users::DOUBLE / coalesce(lag(n_users) OVER "
            "(ORDER BY step_index), n_users) END, 6) AS conversion_rate FROM c"
        ),
        "t_dedupe_lines": (
            "WITH s AS (SELECT doc_id, string_split(text, ' ') AS parts "
            "FROM documents), "
            "w AS (SELECT doc_id, unnest(parts) AS w, "
            "generate_subscripts(parts, 1) AS i, len(parts) AS n "
            "FROM s), "
            "f AS (SELECT doc_id, w, i, n, "
            "min(i) OVER (PARTITION BY doc_id, w) AS fi FROM w) "
            "SELECT doc_id, string_agg(w, chr(10) ORDER BY i) AS deduped, "
            "CAST(any_value(n) AS INT) AS n_lines, "
            "CAST(count(*) AS INT) AS n_kept "
            "FROM f WHERE i = fi GROUP BY doc_id"
        ),
        "t_bm25_topk": (
            "WITH base AS (SELECT doc_id, "
            "len(string_split_regex(trim(lower(text)), '\\s+')) AS dl "
            "FROM documents), "
            "stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM base), "
            "toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
            "FROM documents), "
            "tf AS (SELECT t.doc_id, b.dl, t.term, count(*) AS tf "
            "FROM toks t JOIN base b USING (doc_id) "
            "WHERE t.term IN ('vector', 'stream', 'hash') GROUP BY 1, 2, 3), "
            "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1) "
            "SELECT doc_id, round(sum("
            "ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0) / "
            "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
            "), 6) AS bm25 "
            "FROM tf JOIN dfq USING (term) CROSS JOIN stats "
            "GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20"
        ),
        "t_bm25_conjunctive": (
            # disjunctive arithmetic + HAVING matched-terms = 3 (AND)
            "WITH base AS (SELECT doc_id, "
            "len(string_split_regex(trim(lower(text)), '\\s+')) AS dl "
            "FROM documents), "
            "stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM base), "
            "toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
            "FROM documents), "
            "tf AS (SELECT t.doc_id, b.dl, t.term, count(*) AS tf "
            "FROM toks t JOIN base b USING (doc_id) "
            "WHERE t.term IN ('vector', 'stream', 'hash') GROUP BY 1, 2, 3), "
            "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1) "
            "SELECT doc_id, round(sum("
            "ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0) / "
            "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
            "), 6) AS bm25 "
            "FROM tf JOIN dfq USING (term) CROSS JOIN stats "
            "GROUP BY doc_id HAVING count(*) = 3 "
            "ORDER BY bm25 DESC, doc_id LIMIT 20"
        ),
        "m_video_dedup": (
            "WITH b AS (SELECT doc_id, text, octet_length(encode(text)) "
            "AS blen FROM documents), "
            "f AS (SELECT doc_id, "
            "unnest([i for i in generate_series(0, greatest(blen // 16 - 1, 0)) "
            "if i % 2 = 0]) AS fi FROM b), "
            "ex0 AS (SELECT DISTINCT f.doc_id, "
            "hex(substring(b.text, CAST(fi * 16 + 1 AS INT), 16)) AS shingle "
            "FROM f JOIN b USING (doc_id)), "
            "rare AS (SELECT shingle FROM ex0 GROUP BY shingle "
            "HAVING count(DISTINCT doc_id) <= 1000), "
            "ex AS (SELECT ex0.doc_id, ex0.shingle FROM ex0 "
            "JOIN rare USING (shingle)), "
            "sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b, "
            "count(*) AS i FROM ex a "
            "JOIN ex b2 ON a.shingle = b2.shingle AND a.doc_id < b2.doc_id "
            "GROUP BY 1, 2) "
            "SELECT id_a, id_b, "
            "round(i / (sa.sz + sb.sz - i), 6) AS jaccard "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b "
            "WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.5"
        ),
        "m_media_decode": (
            # the REAL parsers must recover exactly the synthesized
            # geometry/duration; fake-tier dims would mismatch instantly
            "SELECT doc_id, "
            "CAST(1 + doc_id % 13 AS INT) AS width, "
            "CAST(1 + doc_id % 7 AS INT) AS height, "
            "CAST(3 AS INT) AS channels, "
            "CAST(1 + doc_id % 11 AS INT) AS png_width, "
            "CAST(1 + doc_id % 5 AS INT) AS png_height, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INT) "
            "AS png_channels, "
            "CAST(8000 AS INT) AS sample_rate, "
            "CAST(1 AS INT) AS n_channels, "
            "CAST(100 + doc_id % 50 AS DOUBLE) / CAST(8000 AS DOUBLE) "
            "AS duration_seconds "
            "FROM documents"
        ),
        "m_frame_sample": (
            "WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS blen "
            "FROM documents), "
            "f AS (SELECT doc_id, text, "
            "unnest([i for i in generate_series(0, greatest(blen // 16 - 1, 0)) "
            "if i % 2 = 0]) AS frame_index FROM b) "
            "SELECT doc_id, frame_index, "
            "hex(substring(text, CAST(frame_index * 16 + 1 AS INT), 16)) AS frame_hex FROM f"
        ),
    }
