"""End-to-end medallion pipeline test on CRM/ERP fixtures (FIXTURES.md §B)
with every anomaly class the silver rules repair, plus golden-output
assertions per FIXTURES.md."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.medallion import (
    build_pipeline,
    gold_dim_customers,
)

D = datetime.date
TS = datetime.datetime

AS_OF = "2026-01-01"


@pytest.fixture(scope="module")
def sources(spark):
    cust = spark.createDataFrame(
        [
            # dup cst_id: newest (2021) wins
            (1, "AW00011000", " Jon ", " Snow ", "S", "F", D(2020, 1, 1)),
            (1, "AW00011000", "Jon", "Snow", "M", "F", D(2021, 1, 1)),
            (2, "AW00011001", "Arya", " Stark", " M ", None, D(2020, 5, 5)),
            (3, "AW00011002", "Sam", "Tarly", None, "f ", D(2020, 6, 6)),
            (4, "AW00011003", "Uncat", "Gendered", "x", "", D(2020, 7, 7)),
            (None, None, None, None, None, None, D(2022, 1, 1)),  # washes out
        ],
        "cst_id int, cst_key string, cst_firstname string, cst_lastname string, "
        "cst_marital_status string, cst_gndr string, cst_create_date date",
    )
    prd = spark.createDataFrame(
        [
            # two versions of the same key -> SCD-2 close on v1
            (10, "CO-RF-FR-R92B-58", "Road Frame v1", 100, "R", TS(2020, 1, 1)),
            (11, "CO-RF-FR-R92B-58", "Road Frame v2", None, "R ", TS(2020, 6, 1)),
            (12, "AC-BR-HB-M763", "Handlebar", 50, "M", TS(2021, 1, 1)),
            (13, "ZZ-XX-NO-CAT-1", "Mystery", 7, "q", TS(2021, 2, 1)),  # unmatched cat
        ],
        "prd_id int, prd_key string, prd_nm string, prd_cost int, prd_line string, "
        "prd_start_dt timestamp",
    )
    sales = spark.createDataFrame(
        [
            # clean row
            ("SO1", "FR-R92B-58", 1, 20210105, 20210110, 20210115, 20, 2, 10),
            # order_dt = 0 sentinel, negative price, sales mismatch
            ("SO2", "FR-R92B-58", 2, 0, 20210210, 20210215, 99, 3, -10),
            # 6-digit date, NULL sales
            ("SO3", "HB-M763", 3, 202103, 20210310, 20210315, None, 4, 5),
            # NULL price -> backfill, qty 0 -> divide-by-1 guard
            ("SO4", "HB-M763", 1, 20210405, 20210410, 20210415, 15, 0, None),
            # orphan FKs (left joins must not drop)
            ("SO5", "NO-SUCH", 999, 20210505, 20210510, 20210515, 8, 1, 8),
        ],
        "sls_ord_num string, sls_prd_key string, sls_cust_id int, sls_order_dt int, "
        "sls_ship_dt int, sls_due_dt int, sls_sales int, sls_quantity int, sls_price int",
    )
    az12 = spark.createDataFrame(
        [
            ("NASAW00011000", D(1990, 1, 1), "Male"),
            ("AW00011001", D(2050, 1, 1), " F "),  # future bdate -> NULL
            ("NASAW00011002", None, ""),  # blank gen -> n/a
        ],
        "cid string, bdate date, gen string",
    )
    loc = spark.createDataFrame(
        [
            ("AW-00011000", "DE"),
            ("AW-00011001", "USA"),
            ("AW-00011002", "  "),
            ("AW-00011003", "Australia"),
        ],
        "cid string, cntry string",
    )
    px_cat = spark.createDataFrame(
        [
            ("CO_RF", "Components", "Road Frames", "Yes"),
            ("AC_BR", "Accessories", "Brakes", "No"),
        ],
        "id string, cat string, subcat string, maintenance string",
    )
    return {
        "crm_cust_info": cust,
        "crm_prd_info": prd,
        "crm_sales_details": sales,
        "erp_cust_az12": az12,
        "erp_loc_a101": loc,
        "erp_px_cat_g1v2": px_cat,
    }


@pytest.fixture(scope="module")
def run(spark, sources):
    pipeline = build_pipeline(as_of=AS_OF)
    results = pipeline.run(spark, sources)
    return results


def test_all_nodes_ran_with_metrics(run):
    assert len(run) == 15
    assert all(r.seconds >= 0 for r in run.values())
    assert all(res.passed for r in run.values() for res in r.dq)


def test_dim_customers_golden(spark, run):
    dim = spark.table("gold.dim_customers").orderBy("customer_key").collect()
    # one row per non-null deduped cst_id, dense keys ordered by cst_id
    assert [r["customer_id"] for r in dim] == [1, 2, 3, 4]
    assert [r["customer_key"] for r in dim] == [1, 2, 3, 4]
    by_id = {r["customer_id"]: r for r in dim}
    # dedup-latest kept the 2021 record (marital Married)
    assert by_id[1]["marital_status"] == "Married"
    # R11 gender: CRM wins unless n/a, else ERP
    assert by_id[1]["gender"] == "Female"   # CRM F
    assert by_id[2]["gender"] == "Female"   # CRM NULL->n/a, ERP ' F '->Female wins
    assert by_id[3]["gender"] == "Female"   # CRM 'f ' -> Female
    assert by_id[4]["gender"] == "n/a"      # CRM 'x'->n/a, no ERP match
    # country mapping via silver loc
    assert by_id[1]["country"] == "Germany"
    assert by_id[2]["country"] == "United States"
    assert by_id[3]["country"] == "n/a"
    assert by_id[4]["country"] == "Australia"
    # R10: future birthdate nulled
    assert by_id[2]["birthdate"] is None
    assert by_id[1]["birthdate"] == D(1990, 1, 1)
    # R2: names trimmed
    assert by_id[2]["last_name"] == "Stark"


def test_dim_products_golden(spark, run):
    dim = spark.table("gold.dim_products").orderBy("product_key").collect()
    # R12: only current versions (v1 of the road frame was closed)
    assert [r["product_id"] for r in dim] == [11, 12, 13]
    assert [r["product_key"] for r in dim] == [1, 2, 3]
    by_id = {r["product_id"]: r for r in dim}
    # R4: key surgery
    assert by_id[11]["category_id"] == "CO_RF"
    assert by_id[11]["product_number"] == "FR-R92B-58"
    # J3: category attributes joined; null-extended when unmatched
    assert by_id[11]["category"] == "Components"
    assert by_id[13]["category"] is None
    # R5: null cost -> 0
    assert by_id[11]["cost"] == 0
    # R3: product line labels, unknown -> n/a
    assert by_id[11]["product_line"] == "Road"
    assert by_id[13]["product_line"] == "n/a"


def test_fact_sales_golden(spark, run):
    fact = spark.table("gold.fact_sales").collect()
    assert len(fact) == 5  # left joins never drop
    by_ord = {r["order_number"]: r for r in fact}
    # R7: sentinel/short dates -> NULL, valid ones parse
    assert by_ord["SO1"]["order_date"] == D(2021, 1, 5)
    assert by_ord["SO2"]["order_date"] is None
    assert by_ord["SO3"]["order_date"] is None
    # R8: mismatch repaired with abs(price)
    assert by_ord["SO2"]["sales_amount"] == 30.0
    # R9 backfill: negative price replaced by repaired sales / qty (30/3)
    assert by_ord["SO2"]["price"] == 10.0
    # R8 NULL sales -> recomputed from qty*abs(price)
    assert by_ord["SO3"]["sales_amount"] == 20.0
    # R9 qty=0 divide-by-1 guard
    assert by_ord["SO4"]["price"] == 15.0
    # orphan FK rows null-extend dim keys
    assert by_ord["SO5"]["product_key"] is None
    assert by_ord["SO5"]["customer_key"] is None
    # every row consistent post-repair (qty=0 exempt: divide-by-1 backfill)
    for r in fact:
        if r["sales_amount"] is not None and r["price"] is not None and r["quantity"]:
            assert abs(r["sales_amount"] - r["quantity"] * abs(r["price"])) < 1e-6


def test_warehouse_double_write(spark, run):
    # gold nodes also landed in the warehouse (catalog backend stand-in)
    wh = spark.table("warehouse.dim_customers")
    assert wh.count() == spark.table("gold.dim_customers").count()
    assert spark.table("warehouse.fact_sales").count() == 5


def test_dim_customers_key_plan_starts_no_job(spark, run):
    # the silver tables' file bytes size the key plan: the dim-sized
    # single window is chosen without a count or a pin, bracketed by
    # job id, and gives the faithful global window's keys
    silver = [
        spark.table(f"silver.{t}") for t in ("crm_cust_info", "erp_cust_az12", "erp_loc_a101")
    ]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    mark = dag.nextJobId()
    keyed = gold_dim_customers(*silver)
    assert dag.nextJobId() == mark
    faithful = gold_dim_customers(*silver, scale_safe=False)
    assert sorted(map(tuple, keyed.collect())) == sorted(map(tuple, faithful.collect()))


def test_faithful_pipeline_matches_default(spark, sources):
    # default is scale_safe=True; the reference-faithful global-window
    # parity mode must produce identical rows (incl. surrogate keys)
    dim_scale = spark.table("gold.dim_customers").collect()
    pipe2 = build_pipeline(as_of=AS_OF, scale_safe=False)
    pipe2.run(spark, sources)
    dim_faithful = spark.table("gold.dim_customers").collect()
    assert sorted(map(tuple, dim_faithful)) == sorted(map(tuple, dim_scale))


def test_profile_columns_metrics(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import (
        profile_columns,
    )
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 20.0), (3, "a", None), (4, "b", 10.0)],
        "id long, s string, v double",
    )
    prof = {r["column"]: r for r in profile_columns(df, ["s", "v"]).collect()}
    assert prof["s"]["n_rows"] == 4 and prof["s"]["n_null"] == 1
    assert prof["s"]["null_rate"] == 0.25 and prof["s"]["n_distinct"] == 2
    assert (prof["s"]["min_value"], prof["s"]["max_value"]) == ("a", "b")
    assert prof["v"]["n_distinct"] == 2 and prof["v"]["min_value"] == "10.0"
    with _pytest.raises(ValueError, match="non-empty"):
        profile_columns(df, [])


def test_iqr_outliers_flags_and_null_handling(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import (
        iqr_outliers,
    )

    # group g: values 1..11 (q1=3.5, q3=8.5, IQR=5 -> fences [-4, 16])
    # plus a 100.0 outlier and a NULL
    rows = [("g", float(v)) for v in range(1, 12)] + [("g", 100.0), ("g", None)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {
        (r.v,): r.is_outlier for r in iqr_outliers(df, "v", by=["grp"]).collect()
    }
    assert out[(100.0,)] is True
    assert all(out[(float(v),)] is False for v in range(1, 12))
    assert out[(None,)] is None
    # global (no groups) path
    g = iqr_outliers(df.select("v"), "v").filter(F.col("is_outlier")).collect()
    assert [r.v for r in g] == [100.0]


def test_quarantine_split_routes_and_diagnoses(spark):
    """Violators carry EVERY failed rule (sorted); a NULL predicate
    result is a failure (unknown is not good); clean rows pass through
    unchanged; dataset-level kinds refuse to route."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import (
        DQRule,
        quarantine_split,
    )

    rows = [
        (1, 10.0, "ok"),        # clean
        (2, None, "ok"),        # null value -> not_null fails AND
                                # predicate NULL -> counts as failure
        (3, 99.0, "bad"),       # both predicates fail
        (4, 99.0, "ok"),        # one predicate fails
    ]
    df = spark.createDataFrame(rows, "id int, v double, tag string")
    rules = [
        DQRule("v_present", "not_null", column="v"),
        DQRule("v_small", "predicate", predicate=F.col("v") < 50),
        DQRule("tag_ok", "predicate", predicate=F.col("tag") == "ok"),
    ]
    good, bad = quarantine_split(df, rules)
    assert [r.id for r in good.collect()] == [1]
    assert "_dq_failed" not in good.columns
    got = {r.id: list(r._dq_failed) for r in bad.collect()}
    assert got == {
        2: ["v_present", "v_small"],
        3: ["tag_ok", "v_small"],
        4: ["v_small"],
    }
    with _pytest.raises(ValueError, match="dataset-level"):
        quarantine_split(df, [DQRule("u", "unique", column="id")])
