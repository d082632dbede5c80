"""Property-based tests (SURVEY.md §5 item 4, hypothesis).

Each property runs a handful of examples (every example is a Spark job,
so max_examples stays small); the properties themselves are the point:
- R7 is TOTAL on arbitrary ints and internally consistent (non-null
  results round-trip through date_format).
- R8/R9 repairs are IDEMPOTENT (repairing repaired data is a no-op).
- R1 dedup-latest returns exactly one row per distinct non-null key.
- exact_dedup keeps exactly one row per distinct content.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions import cleansing as cl
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import exact_dedup
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
    dedupe_latest,
)

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(xs=st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=25))
@PROP
def test_r7_total_and_roundtrip(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "v int")
    out = df.select(
        "v",
        cl.int_yyyymmdd_to_date("v").alias("d"),
        F.date_format(cl.int_yyyymmdd_to_date("v"), "yyyyMMdd").alias("rt"),
    ).collect()
    for r in out:  # never throws; non-null results round-trip
        if r["v"] == 0 or len(str(r["v"])) != 8:
            assert r["d"] is None
        if r["d"] is not None:
            assert r["rt"] == str(r["v"])


_money = st.one_of(
    st.none(),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
)


@given(
    rows=st.lists(
        st.tuples(_money, st.integers(0, 50), _money), min_size=1, max_size=25
    )
)
@PROP
def test_r8_r9_idempotent(spark, rows):
    df = spark.createDataFrame(
        [(s, float(q), p) for s, q, p in rows], "s double, q double, p double"
    )
    once = df.select(
        "q",
        "p",
        cl.recompute_amount("s", "q", "p").alias("s1"),
        cl.backfill_unit_price(cl.recompute_amount("s", "q", "p"), "q", "p").alias(
            "p1"
        ),
    )
    # R8 again with the SAME price, R9 again with the repaired sales:
    # both must be no-ops (bit-exact, not approximately)
    twice = once.select(
        "s1",
        "p1",
        cl.recompute_amount("s1", "q", "p").alias("s2"),
        cl.backfill_unit_price("s1", "q", "p1").alias("p2"),
    )
    bad = twice.filter(
        ~F.col("s1").eqNullSafe(F.col("s2")) | ~F.col("p1").eqNullSafe(F.col("p2"))
    ).count()
    assert bad == 0


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=40
    )
)
@PROP
def test_r1_one_row_per_key(spark, rows):
    df = spark.createDataFrame(rows, "k int, ord int")
    out = dedupe_latest(df, ["k"], "ord", tiebreakers=["ord"])
    got = out.groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in got)
    assert {r["k"] for r in got} == {k for k, _ in rows}
    # and the kept row is the max ord per key
    kept = {r["k"]: r["ord"] for r in out.collect()}
    expected = {}
    for k, o in rows:
        expected[k] = max(expected.get(k, -1), o)
    assert kept == expected


@given(texts=st.lists(st.text(max_size=20), min_size=1, max_size=30))
@PROP
def test_exact_dedup_one_per_content(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = exact_dedup(df, ["text"], order_col="doc_id")
    assert out.count() == len(set(texts))


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=20,
    )
)
@PROP
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label propagation == driver-side union-find on
    arbitrary small graphs (cycles, self-merges, disconnected parts)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a bigint, id_b bigint"
    )
    got = {
        r["id"]: r["component"] for r in connected_components(df).collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(alphabet="ab:0N", max_size=4)),
            st.one_of(st.none(), st.text(alphabet="ab:0N", max_size=4)),
        ),
        min_size=1,
        max_size=20,
    )
)
@PROP
def test_exact_dedup_null_safe_injective(spark, rows):
    """Survivor count == number of DISTINCT tuples, including NULL-vs-''
    and separator-collision shapes ('a:','b' vs 'a',':b') the plain
    concat_ws fingerprint conflated."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "rid int, c1 string, c2 string",
    )
    out = exact_dedup(df, ["c1", "c2"], order_col="rid")
    assert out.count() == len({(a, b) for a, b in rows})


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=20,
    )
)
@PROP
def test_connected_components_star_matches_union_find(spark, edges):
    """Large-star/small-star == driver-side union-find on arbitrary
    small graphs — same property as the label-propagation path, so the
    two distributed algorithms are transitively property-equal."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a bigint, id_b bigint"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, algorithm="star").collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.integers(1, 400)),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    budget=st.sampled_from([100, 250, 1000]),
)
@PROP
def test_pack_sequences_matches_python_reference(spark, rows, budget):
    """pack_sequences == a straightforward per-shard Python scan: lay
    docs out in order, a doc's sequence is floor(tokens_before/budget)
    and its offset the remainder — for arbitrary ids/token counts."""
    import hashlib

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        pack_sequences,
    )

    n_shards = 4

    def shard_of(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % n_shards

    want = {}
    by_shard: dict[int, list] = {}
    for i, toks in sorted(rows):
        by_shard.setdefault(shard_of(i), []).append((i, toks))
    for sh, docs in by_shard.items():
        pre = 0
        for i, toks in docs:
            want[i] = ((sh << 32) + pre // budget, pre % budget)
            pre += toks

    df = spark.createDataFrame(rows, "doc_id bigint, toks bigint")
    got = {
        r["doc_id"]: (r["seq_id"], r["_seq_offset"])
        for r in pack_sequences(
            df, "toks", budget=budget, order_col="doc_id", n_shards=n_shards
        ).collect()
    }
    assert got == want


@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True),
    frac=st.sampled_from([0.0, 0.25, 0.5, 0.9, 1.0]),
    seed=st.integers(0, 3),
)
@PROP
def test_stratified_sample_matches_python_reference(spark, ids, frac, seed):
    """stratified_sample's md5-threshold selection == a pure-Python
    replay of the same arithmetic, for arbitrary keys/fractions/seeds —
    the determinism the train/test-leakage guarantee rests on."""
    import hashlib
    import math

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        stratified_sample,
    )

    def bucket(i):
        return int(
            hashlib.md5(f"{i}#{seed}".encode()).hexdigest()[:8], 16
        ) % 10_000

    thresh = math.floor(frac * 10_000)
    want = {i for i in ids if bucket(i) < thresh}

    df = spark.createDataFrame([(i, "g") for i in ids], "k bigint, grp string")
    got = {
        r["k"]
        for r in stratified_sample(df, "grp", {"g": frac}, "k", seed=seed).collect()
    }
    assert got == want


@given(
    updates=st.lists(
        st.tuples(st.integers(1, 5), st.integers(0, 30)),  # (key, version)
        min_size=1,
        max_size=12,
    ),
    cut=st.integers(1, 11),
    data=st.data(),
)
@PROP
def test_cdc_merge_is_arrival_order_invariant(spark, updates, cut, data):
    """Folding a change feed into a table with prefer='order' merges must
    converge to the same final state for ANY batch arrival order — the
    property the streaming CDC landing relies on (micro-batches arrive in
    file-discovery order, not event-time order). Versions are made unique
    per key (real change feeds have monotonically increasing versions per
    key; ties are resolved by the updates side and would legitimately
    differ between orders)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        merge_upsert,
    )

    seen: set[tuple[int, int]] = set()
    rows = []
    for k, ver in updates:
        while (k, ver) in seen:
            ver += 1
        seen.add((k, ver))
        rows.append((k, ver, f"v{k}.{ver}"))

    cut = min(cut, len(rows))
    batches = [rows[:cut], rows[cut:]]
    batches = [b for b in batches if b]
    perm = data.draw(st.permutations(range(len(batches))))

    def fold(order):
        acc = spark.createDataFrame([], "k int, ver int, v string")
        for i in order:
            b = spark.createDataFrame(batches[i], "k int, ver int, v string")
            acc = merge_upsert(acc, b, ["k"], order_col="ver", prefer="order")
        return {r["k"]: (r["ver"], r["v"]) for r in acc.collect()}

    forward = fold(range(len(batches)))
    shuffled = fold(perm)
    want = {}
    for k, ver, v in rows:
        if k not in want or ver > want[k][0]:
            want[k] = (ver, v)
    assert forward == want
    assert shuffled == want


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["overwrite", "append", "merge", "delete"]),
            st.lists(
                st.tuples(st.integers(1, 6), st.integers(0, 3), st.integers(0, 99)),
                min_size=1,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=5,
    ),
)
@PROP
@pytest.mark.slow
def test_versioned_table_matches_dict_model(spark, ops):
    """Model-based check: any sequence of overwrite/append/merge/delete
    commits against a partitioned VersionedTable must equal folding the
    same operations into a plain python dict keyed by id — and EVERY
    intermediate version must still time-travel to its recorded state.
    (Append batches are pre-filtered against live keys to respect
    append's no-duplicate-key contract; partition values are derived
    from the key so the COW merge's key-immutability contract holds.)"""
    import tempfile

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.versioned import (
        VersionedTable,
    )

    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="vt-prop-"))
    model: dict[int, tuple[str, int]] = {}
    snapshots: list[dict] = []

    def df_of(rows):
        return spark.createDataFrame(
            [(k, f"p{k % 2}", v) for k, _, v in rows],
            "id bigint, part string, val bigint",
        )

    wrote = False
    for op, rows in ops:
        # one row per key within a batch (merge/append see deduped feeds)
        batch = list({k: (k, g, v) for k, g, v in rows}.values())
        if not wrote or op == "overwrite":
            vt.write(df_of(batch), partition_by=["part"])
            model = {k: ("p%d" % (k % 2), v) for k, _, v in batch}
            wrote = True
        elif op == "append":
            fresh = [r for r in batch if r[0] not in model]
            if not fresh:
                continue
            vt.write(df_of(fresh), mode="append")
            model.update({k: ("p%d" % (k % 2), v) for k, _, v in fresh})
        elif op == "merge":
            vt.merge(df_of(batch), keys=["id"])
            model.update({k: ("p%d" % (k % 2), v) for k, _, v in batch})
        else:  # delete rows with val below a batch-derived cutoff
            cutoff = batch[0][2]
            vt.delete(F.col("val") < F.lit(cutoff))
            model = {k: pv for k, pv in model.items() if pv[1] >= cutoff}
        snapshots.append(dict(model))

    def table_state(version=None):
        return {
            r["id"]: (r["part"], r["val"])
            for r in vt.read(version=version).collect()
        }

    assert table_state() == model
    # every committed version time-travels to its recorded state
    for v, snap in zip(vt.versions(), snapshots):
        assert table_state(version=v) == snap


@given(
    names=st.lists(
        st.sampled_from(
            ["alpha corp", "alpha crop", "alpha  corp", "beta gmbh",
             "beta gmb", "gamma ltd", "gamma ltd.", "delta inc"]
        ),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.5, 0.8, 0.95]),
)
@PROP
def test_resolve_entities_matches_python_model(spark, names, threshold):
    """resolve_entities == a driver-side replay: block on the first 2
    chars, score python-Levenshtein, union-find the closure. Catches
    drift in blocking, rounding-before-threshold, and cluster labeling
    on adversarial near-threshold name pools with duplicates."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        resolve_entities,
    )

    rows = [(i, n) for i, n in enumerate(names)]

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    parent: dict[int, int] = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, a in rows:
        for j, b in rows:
            if i < j and a[:2] == b[:2]:
                s = round(1 - lev(a, b) / max(len(a), len(b)), 6)
                if s >= threshold:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
    want = {i: find(i) for i, _ in rows}

    df = spark.createDataFrame(rows, "id bigint, name string")
    got = {
        r.id: r.entity_id
        for r in resolve_entities(
            df, "id", "name", F.substring("name", 1, 2), threshold=threshold
        ).collect()
    }
    assert got == want


@given(
    names=st.lists(
        st.sampled_from(
            ["acme corp", "acme crop", "acme corq", "beta gmbh",
             "beta gmbq", "beta bmbh", "ceta gmbh", "delta inc"]
        ),
        min_size=2,
        max_size=10,
    ),
    cut=st.integers(1, 9),
)
@PROP
@pytest.mark.slow
def test_er_incremental_equals_full_resolution(spark, names, cut):
    """The er_incremental contract: for ANY corpus split, resolving the
    first part, indexing it, and incrementally resolving the second
    part (with append + relabel bookkeeping) yields EXACTLY the labels
    a from-scratch resolve_entities over the union gives — including
    batch records that bridge two previously separate entities."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.entity import (
        er_build_index,
        er_entity_labels,
        er_incremental,
        resolve_entities,
    )

    rows = [(i, n) for i, n in enumerate(names)]
    cut = min(cut, len(rows) - 1)
    key = F.substring("name", 1, 2)
    schema = "id bigint, name string"

    full = {
        r.id: r.entity_id
        for r in resolve_entities(
            spark.createDataFrame(rows, schema), "id", "name", key, 0.85
        ).collect()
    }

    spark.sql("DROP TABLE IF EXISTS er_prop_idx")
    spark.sql("DROP TABLE IF EXISTS er_prop_idx__relabel")
    part1 = spark.createDataFrame(rows[:cut], schema)
    part2 = spark.createDataFrame(rows[cut:], schema)
    er_build_index(
        resolve_entities(part1, "id", "name", key, 0.85),
        "er_prop_idx", "id", "name", key,
    )
    if rows[cut:]:
        er_incremental(
            spark, "er_prop_idx", part2, "id", "name", key, threshold=0.85
        )
    got = {
        r.id: r.entity_id
        for r in er_entity_labels(spark, "er_prop_idx").collect()
    }
    assert got == full


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.integers(1, 50)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(1, 10),
)
@PROP
def test_weighted_sample_matches_python_replay(spark, rows, k):
    """weighted_sample == a driver-side replay of the exponential-key
    priorities (md5-uniform, u^(1/w), top-k with id tie-break)."""
    import hashlib

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        weighted_sample,
    )

    def pri(i, w):
        h = int(hashlib.md5(f"{i}#42".encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        return u ** (1.0 / w)

    want = sorted(
        (i for i, w in rows),
        key=lambda i: (-pri(i, dict(rows)[i]), i),
    )[:k]

    df = spark.createDataFrame(rows, "id long, w int")
    got = [r.id for r in weighted_sample(df, "id", "w", k).collect()]
    assert sorted(got) == sorted(want)


def _span_dedup_replay(docs: dict[int, str], k: int) -> dict[int, tuple[str, int]]:
    """Pure-Python replay of span_dedup's contract: every duplicated
    k-token span's non-first occurrence (global (id, pos) order) covers
    its k tokens; kept tokens rejoin with single spaces."""
    toks = {i: t.strip().split() if t.strip() else [""] for i, t in docs.items()}
    occ: dict[tuple, list[tuple[int, int]]] = {}
    for i in sorted(toks):
        t = toks[i]
        for p in range(len(t) - k + 1):
            occ.setdefault(tuple(t[p : p + k]), []).append((i, p))
    removed: dict[int, set[int]] = {i: set() for i in toks}
    for span, places in occ.items():
        if len(places) < 2:
            continue
        for (i, p) in places[1:]:  # first occurrence survives
            removed[i].update(range(p, p + k))
    out = {}
    for i, t in toks.items():
        kept = [w for j, w in enumerate(t) if j not in removed[i]]
        out[i] = (" ".join(kept), len(t) - len(kept))
    return out


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(2, 4),
)
@PROP
def test_span_dedup_matches_pure_python_replay(spark, texts, k):
    """span_dedup over tiny alphabet corpora (maximal span collisions)
    equals the sequential keep-first replay, doc for doc."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_dedup,
    )

    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.deduped_text, r.n_tokens_removed)
        for r in span_dedup(df, "doc_id", "text", k=k).collect()
    }
    assert got == _span_dedup_replay(docs, k)


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 6),           # user
            st.sampled_from(["a", "b", "c", "x"]),  # step or noise
            st.integers(0, 50),          # second offset
        ),
        min_size=1,
        max_size=30,
    )
)
@PROP
def test_funnel_counts_matches_python_reference(spark, events):
    """funnel_counts == a per-user sequential min-frontier scan in
    plain Python, on arbitrary (user, type, ts) multisets — including
    duplicate timestamps and noise event types."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        funnel_counts,
    )

    steps = ["a", "b", "c"]
    df = spark.createDataFrame(
        [(u, t, s) for u, t, s in events], "user_id long, event_type string, ts long"
    )
    got = {
        r.step: r.n_users for r in funnel_counts(df, steps).collect()
    }

    by_user: dict[int, list[tuple[str, int]]] = {}
    for u, t, s in events:
        by_user.setdefault(u, []).append((t, s))
    expect = {s: 0 for s in steps}
    for evs in by_user.values():
        frontier = None
        for i, step in enumerate(steps):
            cand = [
                ts for t, ts in evs
                if t == step and (frontier is None or ts > frontier)
            ]
            if not cand:
                break
            frontier = min(cand)
            expect[step] += 1
    assert got == expect


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=2,
        max_size=40,
    ),
    nb=st.sampled_from([2, 4, 5]),
)
# the midpoint of 0 and the smallest subnormal is not representable:
# the lower-neighbour form rounds it to 0.0, numpy's form to 5e-324
@example(vals=[0.0, 5e-324], nb=2)
@PROP
def test_percentile_buckets_matches_numpy_reference(spark, vals, nb):
    """percentile_buckets == linear-interpolation quantiles + the same
    >=-threshold counting rule, for arbitrary doubles. The thresholds
    are computed exactly as the operator states (interpolated from the
    lower neighbour) and must agree with numpy's ``linear`` quantiles
    to rounding; the buckets must match exactly."""
    import math

    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        percentile_buckets,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    got = {
        r.id: r.b for r in percentile_buckets(df, "v", nb, "b").collect()
    }
    srt = sorted(vals)
    thr = []
    for p in (i / nb for i in range(1, nb)):
        pos = (len(srt) - 1) * p
        lower, higher = math.floor(pos), math.ceil(pos)
        lo, hi = srt[lower], srt[higher]
        thr.append(
            lo if lo == hi else (higher - pos) * lo + (pos - lower) * hi
        )
    ref = np.quantile(np.array(vals, dtype=np.float64),
                      [i / nb for i in range(1, nb)], method="linear")
    assert np.allclose(thr, ref, rtol=0, atol=1e-9)
    for i, v in enumerate(vals):
        assert got[i] == 1 + int(sum(v >= t for t in thr))


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["rare", "common", "filler", "other"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    )
)
@PROP
def test_bm25_matches_python_reference(spark, docs):
    """bm25_topk == a direct Python implementation of the Okapi
    formula on arbitrary small corpora (df/tf/length-normalization and
    the +1-smoothed idf all exercised)."""
    import math

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        bm25_topk,
    )

    terms = ["rare", "common"]
    k1, b = 1.2, 0.75
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.bm25 for r in bm25_topk(df, terms, k=len(docs)).collect()}

    n = len(docs)
    avgdl = sum(len(t) for t in docs) / n
    dfreq = {
        q: sum(1 for t in docs if q in t) for q in terms
    }
    expect = {}
    for i, toks in enumerate(docs):
        s = 0.0
        for q in terms:
            tf = toks.count(q)
            if tf == 0:
                continue
            idf = math.log((n - dfreq[q] + 0.5) / (dfreq[q] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if s != 0.0:
            expect[i] = round(s, 6)
    assert got == expect


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    tw=st.integers(1, 8),
    th=st.integers(1, 8),
    data=st.data(),
)
@PROP
def test_bmp_codec_roundtrip_and_resize_reference(spark, w, h, tw, th, data):
    """encode → parse recovers exact geometry for arbitrary images, and
    the pure-Python resize equals a nearest-neighbor reference pixel
    for pixel (driver-side — the codec is plain Python, the Spark path
    over it is covered by test_real_bmp_decode_and_resize)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators import (
        multimodal as M,
    )

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    bmp = M.encode_bmp(w, h, rgb)
    parsed = M._parse_bmp(bmp)
    assert parsed is not None and parsed[:3] == (w, h, 3)

    out = M._resize_bmp(bmp, tw, th)
    p2 = M._parse_bmp(out)
    assert p2 is not None and p2[:3] == (tw, th, 3)

    def px(buf, W, y, x):  # top-down pixel from raw rgb
        o = (y * W + x) * 3
        return buf[o : o + 3]

    # the codec stores STANDARD BI_RGB (B,G,R samples, bottom-up
    # rows); compare in DECODED RGB pixel space — the contract every
    # consumer (luma, hashing, resize) actually sees
    dec = M._decode_bmp(out)
    assert dec is not None and dec[:3] == (tw, th, 3)
    dpx = dec[3]
    for ty in range(th):
        for tx in range(tw):
            sy = min(ty * h // th, h - 1)
            sx = min(tx * w // tw, w - 1)
            o = (ty * tw + tx) * 3
            assert dpx[o : o + 3] == px(rgb, w, sy, sx)
    # and the encode->decode roundtrip itself is pixel-exact
    assert M._decode_bmp(bmp) == (w, h, 3, rgb)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(list("abcd")), min_size=1, max_size=10),
        min_size=2,
        max_size=6,
    )
)
@PROP
def test_containment_matches_python_reference(spark, docs):
    """ngram_containment_pairs == direct set arithmetic over 2-gram
    shingle sets for arbitrary small corpora (threshold 0 keeps every
    candidate pair, so the whole inter/containment surface is checked)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    texts = [" ".join(t) for t in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): (r.inter, r.containment_a, r.containment_b)
        for r in ngram_containment_pairs(
            df, "doc_id", "text", shingle_n=2, threshold=0.0, max_df=None
        ).collect()
    }

    def sh(toks):
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    expect = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = sh(docs[a]), sh(docs[b])
            inter = len(sa & sb)
            if inter and sa and sb:
                expect[(a, b)] = (
                    inter,
                    round(inter / len(sa), 6),
                    round(inter / len(sb), 6),
                )
    assert got == expect


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),        # key
            st.integers(0, 20_000),   # epoch second
            st.integers(-5, 5),       # value
        ),
        min_size=1,
        max_size=25,
    )
)
@PROP
def test_resample_ffill_matches_python_reference(spark, events):
    """resample_ffill == a per-key python grid + LOCF scan on arbitrary
    event multisets (duplicate timestamps, negative values, sparse and
    dense spans alike)."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        resample_ffill,
    )

    I = 3600
    df = spark.createDataFrame(
        events, "user_id long, sec long, value long"
    ).withColumn("ts", F.to_timestamp(F.from_unixtime("sec")))
    got = {
        (r.user_id, r.bucket): (r.n_events, r.bucket_value, r.filled_value)
        for r in resample_ffill(df, "user_id", "ts", I, "value").collect()
    }

    per_key: dict[int, dict[int, list[int]]] = {}
    for k, sec, v in events:
        per_key.setdefault(k, {}).setdefault(sec // I, []).append(v)
    expect = {}
    for k, buckets in per_key.items():
        lo, hi = min(buckets), max(buckets)
        last = None
        for b in range(lo, hi + 1):
            vs = buckets.get(b)
            if vs:
                s = sum(vs)
                last = s
                expect[(k, b)] = (len(vs), s, s)
            else:
                expect[(k, b)] = (0, None, last)
    assert got == expect


@given(
    data=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 5000)),  # (key, second)
        min_size=1,
        max_size=40,
    ),
    cuts=st.lists(st.integers(0, 39), max_size=3),
    gap=st.sampled_from([60, 300, 1800]),
)
@PROP
def test_incremental_interval_fusion_matches_batch_sessionize(
    spark, data, cuts, gap
):
    """Any split of an event multiset into ordered batches, fused
    incrementally, equals one-shot batch sessionization — the
    order-insensitivity claim stream_sessionize rests on, over random
    keys/timestamps/splits (including duplicate timestamps and batches
    that land inside earlier sessions)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        session_stats,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _fuse_intervals,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "user_id long, sec long"
        ).selectExpr("user_id", "to_timestamp(from_unixtime(sec)) AS ts")

    # split the list at the (sorted, de-duped, in-range) cut points
    idx = sorted({c for c in cuts if 0 < c < len(data)})
    batches, prev = [], 0
    for c in idx + [len(data)]:
        if data[prev:c]:
            batches.append(data[prev:c])
        prev = c

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    state = None
    for b in batches:
        s = session_stats(mk(b), "user_id", "ts", gap)
        iv = s.select(
            "user_id",
            F.unix_micros(F.col("session_start").cast("timestamp")).alias(
                "start_us"
            ),
            F.unix_micros(F.col("session_end").cast("timestamp")).alias(
                "end_us"
            ),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        state = iv if state is None else _fuse_intervals(
            state.unionByName(iv), "user_id", gap * 1_000_000
        )
    got = sorted(
        map(tuple, state.select("user_id", "start_us", "end_us", "n_events").collect())
    )
    want = sorted(
        map(
            tuple,
            session_stats(mk(data), "user_id", "ts", gap)
            .select(
                "user_id",
                F.unix_micros(F.col("session_start").cast("timestamp")).alias("s"),
                F.unix_micros(F.col("session_end").cast("timestamp")).alias("e"),
                F.col("n_events").cast("bigint"),
            )
            .collect(),
        )
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 20000)),
        min_size=1,
        max_size=40,
    ),
    chunk_mult=st.integers(1, 4),
)
@PROP
def test_sessionize_chunked_equals_unchunked_property(spark, rows, chunk_mult):
    """For ARBITRARY (key, second) multisets and any chunk width >= the
    gap, the skew-bounded chunked sessionize must be row-identical to
    the single-exchange default — duplicate timestamps, cross-chunk
    sessions, empty chunks, and exact-gap edges included. event_id
    tiebreak pins a total order so both paths see the same sequence."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        sessionize,
    )

    gap = 600
    data = [(u, s, i) for i, (u, s) in enumerate(rows)]
    ev = spark.createDataFrame(
        data, "user_id long, sec long, event_id long"
    ).withColumn("ts", F.to_timestamp(F.from_unixtime("sec")))
    key = lambda r: (r.user_id, r.sec, r.event_id)  # noqa: E731
    plain = {
        key(r): r.session_index
        for r in sessionize(ev, "user_id", "ts", gap, ["event_id"]).collect()
    }
    chunked = {
        key(r): r.session_index
        for r in sessionize(
            ev, "user_id", "ts", gap, ["event_id"],
            chunk_seconds=gap * chunk_mult,
        ).collect()
    }
    assert chunked == plain


@given(
    versions=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 20), st.integers(1, 8)),
        min_size=1,
        max_size=12,
    ),
    facts=st.lists(
        st.tuples(st.integers(1, 3), st.integers(-2, 30)),
        min_size=1,
        max_size=15,
    ),
)
@PROP
def test_scd2_pit_join_equals_naive_between_join(spark, versions, facts):
    """The asof-walk + validity-mask PIT join must equal the naive
    equi-join + BETWEEN filter on ARBITRARY version layouts — gaps,
    open ends, facts before/after everything. Versions are built
    non-overlapping per key (start = cumulative offsets, end = start +
    len - 1 inclusive, last end open for key 1)."""
    from datetime import date, timedelta

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.joins import (
        scd2_pit_join,
    )

    base = date(2020, 1, 1)
    rows = []
    cursor: dict[int, int] = {}
    for k, gap, length in versions:
        start = cursor.get(k, 0) + gap
        end = start + length - 1
        cursor[k] = end + 1
        rows.append((k, base + timedelta(start), base + timedelta(end)))
    # key 1's LAST version becomes open-ended
    for i in range(len(rows) - 1, -1, -1):
        if rows[i][0] == 1:
            rows[i] = (1, rows[i][1], None)
            break
    dim = spark.createDataFrame(
        [(k, s, e, f"v{i}") for i, (k, s, e) in enumerate(rows)],
        "k long, start_dt date, end_dt date, ver string",
    )
    fdf = spark.createDataFrame(
        [(i, k, base + timedelta(d)) for i, (k, d) in enumerate(facts)],
        "fid long, k long, d date",
    )
    got = sorted(
        (r.fid, r.right_ver)
        for r in scd2_pit_join(fdf, dim, "k", "d", dim_cols=["ver"]).collect()
    )
    naive = sorted(
        (r.fid, r.ver)
        for r in fdf.alias("f")
        .join(
            dim.alias("v"),
            (F.col("f.k") == F.col("v.k"))
            & (F.col("f.d") >= F.col("v.start_dt"))
            & (F.col("v.end_dt").isNull() | (F.col("f.d") <= F.col("v.end_dt"))),
            "left",
        )
        .select("f.fid", "v.ver")
        .collect()
    )
    assert got == naive


@given(
    n=st.integers(2, 12),
    edges=st.lists(
        st.tuples(st.integers(1, 12), st.integers(1, 12)),
        min_size=0,
        max_size=15,
    ),
)
@PROP
def test_cluster_split_matches_python_closure(spark, n, edges):
    """On ARBITRARY pair graphs (self-loops, duplicates, dangling ids
    outside the row set), cluster_split's labels must equal a plain
    Python union-find closure restricted to the rows, every cluster
    must co-travel into one split, and no row may be lost or
    duplicated."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        cluster_split,
    )

    df = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    pairs = (
        spark.createDataFrame(edges, "id_a long, id_b long")
        if edges
        else spark.createDataFrame([], "id_a long, id_b long")
    )
    rows = cluster_split(df, "doc_id", pairs).collect()
    # no loss AND no duplication: the raw row multiset, not a dict view
    assert sorted(r.doc_id for r in rows) == list(range(1, n + 1))
    out = {r.doc_id: (r.cluster_id, r.split) for r in rows}
    # python union-find over ALL edge endpoints
    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # expected label = min reachable id (including ids outside the row
    # set — connected_components labels by graph membership)
    groups: dict[int, list[int]] = {}
    for v in set(parent) | {v for e in edges for v in e}:
        groups.setdefault(find(v), []).append(v)
    label = {v: min(vs) for root, vs in groups.items() for v in vs}
    for i in range(1, n + 1):
        assert out[i][0] == label.get(i, i)
    # co-travel: same cluster -> same split
    by_cluster: dict[int, set] = {}
    for i in range(1, n + 1):
        by_cluster.setdefault(out[i][0], set()).add(out[i][1])
    assert all(len(s) == 1 for s in by_cluster.values())


@given(
    fps=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 3)),
        min_size=1,
        max_size=24,
    ),
    cut=st.integers(0, 24),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hamming_incremental_matches_python_reference(spark, fps, cut):
    """hamming_incremental_dedup over an arbitrary 2-batch split equals
    a sequential Python replay of its contract: doc b is dropped iff a
    smaller-id doc in the SAME batch, or any indexed survivor of an
    EARLIER batch, is within max_hamming — regardless of banding,
    bucketing, or partitioning. Fingerprints are (class, variant)
    pairs: class spread over all four 16-bit bands, a ≤2-bit variant
    xor'd into band 1 (same-class hamming ≤ 2, cross-class ≥ 4)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_incremental_dedup,
        hamming_index_build,
    )

    max_h = 1
    rows = [
        (i, (c * 0x0001_0001_0001_0001) ^ (v << 16))
        for i, (c, v) in enumerate(fps)
    ]
    cut = min(cut, len(rows))
    batches = [rows[:cut], rows[cut:]]

    # sequential Python replay of the documented drop rule
    indexed: list[tuple[int, int]] = []
    surv_ref: set[int] = set()
    for batch in batches:
        kept = []
        for i, h in batch:
            dup = any(bin(h ^ h2).count("1") <= max_h for _, h2 in indexed)
            dup = dup or any(
                j < i and bin(h ^ h2).count("1") <= max_h for j, h2 in batch
            )
            if not dup:
                kept.append((i, h))
        indexed.extend(kept)
        surv_ref.update(i for i, _ in kept)

    table = "prop_fp_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    hamming_index_build(
        spark.createDataFrame([], "doc_id long, phash long"), table
    )
    got: set[int] = set()
    for batch in batches:
        if not batch:
            continue
        surv = hamming_incremental_dedup(
            spark,
            table,
            spark.createDataFrame(batch, "doc_id long, phash long"),
            max_hamming=max_h,
        )
        got.update(r["doc_id"] for r in surv.collect())
    assert got == surv_ref
    idx_ids = {
        r["doc_id"]
        for r in spark.table(table).select("doc_id").distinct().collect()
    }
    assert idx_ids == surv_ref


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=20,
    ),
    n_iter=st.integers(1, 4),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pagerank_integer_property_matches_reference(spark, edges, n_iter):
    """Integer-mass PageRank equals a dict-based sequential replay on
    ARBITRARY multigraphs (self-loops, parallel edges, dangling nodes)
    for any iteration count — the floor arithmetic is exact, so no
    tolerance is needed."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.graph import (
        pagerank_integer,
    )

    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    nodes = sorted({x for e in edges for x in e})
    scale, dp = 10**9, 85
    rank = {v: scale for v in nodes}
    for _ in range(n_iter):
        nxt = {v: (100 - dp) * scale // 100 for v in nodes}
        for s, d in edges:
            nxt[d] += rank[s] * dp // (100 * out[s])
        rank = nxt

    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(
            spark.createDataFrame(edges, "src long, dst long"), n_iter=n_iter
        ).collect()
    }
    assert got == rank


# ------------------------------------------------------- robots.txt walk
def _robots_replay(files, urls, agent):
    """Driver-side RFC 9309 reference: group selection (specific
    shadows '*', consecutive User-agent runs), wildcard matching
    ('*' spans octets, trailing '$' anchors, mid '$' literal) against
    the URL's PATH+QUERY (everything after the authority),
    most-specific-wins (raw pattern encoded-octet length), Allow wins
    ties, no match = allowed. Pure Python, independent of the
    Catalyst plan."""
    import re

    rules_by_dom = {}
    for dom, txt in files.items():
        lines = [
            s for s in
            (re.sub(r"#.*$", "", ln).strip() for ln in txt.split("\n"))
            if s
        ]
        groups, in_ua_run = [], False
        for ln in lines:
            low = ln.lower()
            if low.startswith("user-agent:"):
                if not in_ua_run:
                    groups.append((set(), []))
                groups[-1][0].add(ln[11:].strip().lower())
                in_ua_run = True
            else:
                in_ua_run = False
                if low.startswith("allow:"):
                    d, pat = "allow", ln[6:].strip()
                elif low.startswith("disallow:"):
                    d, pat = "disallow", ln[9:].strip()
                else:
                    continue
                if groups and pat:
                    groups[-1][1].append((d, pat))
        specific = [g for g in groups if agent.lower() in g[0]]
        chosen = specific or [g for g in groups if "*" in g[0]]
        rules_by_dom[dom.lower()] = [r for g in chosen for r in g[1]]

    def match(pat, path):
        if "*" in pat or pat.endswith("$"):
            ends = pat.endswith("$")
            core = pat[:-1] if ends else pat
            rx = (
                "^"
                + ".*".join(re.escape(p) for p in core.split("*"))
                + ("$" if ends else "")
            )
            return re.search(rx, path) is not None
        return path.startswith(pat)

    out = {}
    for url in urls:
        rest = url.split("://", 1)[1]
        # host ends at the first '/' OR '?' — the matched string is
        # path+query ('?'-first URLs normalize to '/?q', bare hosts
        # to '/'), mirroring robots_allowed
        m = re.search(r"[/?]", rest)
        if m is None:
            dom, path = rest, "/"
        else:
            dom, tail = rest[: m.start()], rest[m.start():]
            path = tail if tail.startswith("/") else "/" + tail
        best = -1
        for d, pat in rules_by_dom.get(dom.lower(), []):
            if match(pat, path):
                best = max(
                    best, 2 * len(pat.encode()) + (1 if d == "allow" else 0)
                )
        out[url] = best < 0 or best % 2 == 1
    return out


_ROBOTS_LINE = st.one_of(
    st.builds(
        lambda a: f"User-agent: {a}",
        st.sampled_from(["*", "bot", "crawler", "BOT"]),
    ),
    st.builds(
        lambda d, segs: f"{d}: {''.join(segs)}",
        st.sampled_from(["Allow", "Disallow"]),
        st.lists(
            st.sampled_from(
                ["/a", "/b", "a", "b", ".", "*", "$", "/", "zip",
                 "?", "?sid=", "é"]
            ),
            min_size=0,
            max_size=5,
        ),
    ),
    st.just("# comment"),
    st.just(""),
    st.builds(
        lambda v: f"Crawl-delay: {v}",
        st.sampled_from(["1", "2.5", "10", "abc", ""]),
    ),
    st.builds(
        lambda s: f"Sitemap: {s}",
        st.sampled_from(
            ["http://x/a.xml", "http://x/B.xml", "http://y/c.xml"]
        ),
    ),
)


def _directives_replay(files, agent):
    """Driver-side reference for robots_directives: same group
    selection as the rules replay (specific shadows '*' by existence),
    crawl_delay = min of the selected groups' parseable delay values
    (None when none parse or none exist), sitemaps = sorted distinct
    Sitemap values across the WHOLE file (global, case preserved)."""
    import re

    out = {}
    for dom, txt in files.items():
        lines = [
            s for s in
            (re.sub(r"#.*$", "", ln).strip() for ln in txt.split("\n"))
            if s
        ]
        groups, in_ua_run, sitemaps = [], False, set()
        for ln in lines:
            low = ln.lower()
            if low.startswith("user-agent:"):
                if not in_ua_run:
                    groups.append((set(), []))
                groups[-1][0].add(ln[11:].strip().lower())
                in_ua_run = True
                continue
            in_ua_run = False
            if low.startswith("sitemap:"):
                v = ln[8:].strip()
                if v:
                    sitemaps.add(v)
            elif low.startswith("crawl-delay:") and groups:
                try:
                    groups[-1][1].append(float(ln[12:].strip()))
                except ValueError:
                    pass
        specific = [g for g in groups if agent.lower() in g[0]]
        chosen = specific or [g for g in groups if "*" in g[0]]
        delays = [d for g in chosen for d in g[1]]
        out[dom] = (min(delays) if delays else None, sorted(sitemaps))
    return out


@given(
    texts=st.lists(
        st.lists(_ROBOTS_LINE, min_size=1, max_size=12).map("\n".join),
        min_size=1,
        max_size=3,
    ),
    agent=st.sampled_from(["*", "bot"]),
)
@PROP
def test_robots_directives_match_python_reference(spark, texts, agent):
    """Random robots.txt files (UA runs, junk/empty delays, repeated
    sitemap lines, comments): robots_directives' per-domain
    (crawl_delay, sitemaps) equals the pure-Python reference for both
    a named agent and '*'."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        robots_directives,
    )

    files = {f"d{i}.com": t for i, t in enumerate(texts)}
    want = _directives_replay(files, agent)
    dom = spark.createDataFrame(
        list(files.items()), "domain string, robots_txt string"
    )
    got = {
        r["domain"]: (r["crawl_delay"], r["sitemaps"])
        for r in robots_directives(dom, agent=agent).collect()
    }
    assert got == want


@given(
    texts=st.lists(
        st.lists(_ROBOTS_LINE, min_size=1, max_size=12).map("\n".join),
        min_size=1,
        max_size=2,
    ),
    paths=st.lists(
        st.lists(
            st.sampled_from(
                ["/a", "/b", "a", "b", ".", "$", "zip", "/",
                 "?", "?sid=abc", "&x=1", "é"]
            ),
            min_size=0,
            max_size=5,
        ).map("".join),
        min_size=1,
        max_size=6,
    ),
    agent=st.sampled_from(["*", "bot"]),
)
@PROP
def test_robots_matches_python_reference(spark, texts, paths, agent):
    """Random robots.txt files (wildcards, anchors, comments, UA runs,
    junk directives) and random URL paths: the Catalyst
    robots_rules + robots_allowed verdict equals the pure-Python
    RFC 9309 reference for both a named agent and '*'."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        robots_allowed,
        robots_rules,
    )

    files = {f"d{i}.com": t for i, t in enumerate(texts)}
    urls = [
        # '?'-first paths stay bare (http://host?q) to exercise the
        # query-binds-before-slash normalization on both sides
        f"http://d{i % (len(texts) + 1)}.com"
        f"{p if p.startswith(('/', '?')) else '/' + p}"
        for i, p in enumerate(paths)
    ]
    want = _robots_replay(files, urls, agent)
    dom = spark.createDataFrame(
        list(files.items()), "domain string, robots_txt string"
    )
    got = {
        r["url"]: r["crawl_allowed"]
        for r in robots_allowed(
            spark.createDataFrame([(u,) for u in urls], "url string"),
            robots_rules(dom, agent=agent),
        ).collect()
    }
    assert got == {u: want[u] for u in urls}


# ------------------------------------------- round-12 crawl-frontier tier
@given(
    paths=st.lists(
        st.sampled_from(["/a", "/b", "/a/b", "/c?x=1", "/a?y=2"]),
        min_size=1,
        max_size=12,
    ),
    doms=st.lists(st.sampled_from(["a.com", "B.com", "c.com"]),
                  min_size=1, max_size=12),
    delays=st.dictionaries(
        st.sampled_from(["a.com", "b.com"]),
        st.sampled_from([0.5, 2.0, 7.0]),
        max_size=2,
    ),
)
@PROP
def test_frontier_schedule_matches_python_reference(
    spark, paths, doms, delays
):
    """Random frontiers + partial delay tables: slots are dense
    0..n−1 per politeness domain (case/port folded), offsets equal
    slot × the domain's delay (default 1.0 when absent), ordering by
    URL ascending — all replayed by a pure-Python reference."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        frontier_schedule,
    )

    n = min(len(paths), len(doms))
    urls = [f"http://{doms[i]}{paths[i]}" for i in range(n)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    dirs = spark.createDataFrame(
        [(d, v) for d, v in delays.items()],
        "domain string, crawl_delay double",
    ) if delays else None
    got = {
        (r["url"], i): (r["fetch_domain"], r["fetch_slot"],
                        r["fetch_offset_seconds"])
        for i, r in enumerate(
            frontier_schedule(df, dirs).orderBy("url").collect()
        )
    }
    # Python reference over the same (url order is the tiebreak)
    by_dom: dict = {}
    for u in sorted(urls):
        d = u.split("://", 1)[1].split("/", 1)[0].split("?", 1)[0].lower()
        by_dom.setdefault(d, []).append(u)
    want = {}
    seen: dict = {}
    for i, r in enumerate(sorted(urls)):
        d = r.split("://", 1)[1].split("/", 1)[0].split("?", 1)[0].lower()
        slot = seen.get(d, 0)
        seen[d] = slot + 1
        delay = delays.get(d, 1.0)
        want[(r, i)] = (d, slot, round(slot * delay, 6))
    assert got == want


@given(
    locs=st.lists(
        st.sampled_from(
            ["http://x/a", "http://x/b?q=1&r=2", "http://y/π", "http://z/\"c\""]
        ),
        min_size=0,
        max_size=5,
    ),
    index=st.booleans(),
    prefix=st.sampled_from(["", "sm:"]),
)
@PROP
def test_parse_sitemaps_roundtrip(spark, locs, index, prefix):
    """Generated sitemap XML (urlset or sitemapindex, optional
    namespace prefix, entity-escaped locs) round-trips: every loc
    comes back decoded in order-insensitive set equality with the
    right kind; an empty list yields zero rows."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        parse_sitemaps,
    )

    esc = lambda s: (
        s.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")
    )
    tag = "sitemap" if index else "url"
    root = "sitemapindex" if index else "urlset"
    p = prefix
    xmlns = " xmlns:sm='x'" if p else ""
    body = "".join(
        f"<{p}{tag}><{p}loc> {esc(s)} </{p}loc></{p}{tag}>" for s in locs
    )
    xml = f"<{p}{root}{xmlns}>{body}</{p}{root}>"
    df = spark.createDataFrame([(1, xml)], "id int, sitemap_xml string")
    rows = [(r["loc"], r["kind"]) for r in parse_sitemaps(df).collect()]
    kind = "sitemap" if index else "url"
    assert sorted(rows) == sorted((s, kind) for s in locs)


@given(
    batches=st.lists(
        st.lists(st.sampled_from(["u1", "u2", "u3", "u4", "u5"]),
                 min_size=1, max_size=4),
        min_size=1,
        max_size=3,
    ),
    seed=st.lists(st.sampled_from(["u1", "u9"]), max_size=2),
)
@PROP
@pytest.mark.slow
def test_exact_seen_set_matches_python_replay(spark, batches, seed):
    """Random batch sequences against the standing exact seen-set
    equal a pure-Python set replay: per batch, first occurrence of an
    unseen value survives (min order), everything else drops, and
    survivors extend the seen set for later batches."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        exact_build_index,
        exact_incremental_dedup,
    )

    t = "prop_exact_seen_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    exact_build_index(
        spark.createDataFrame([(s,) for s in seed] or [("zzz",)],
                              "url string"),
        t,
        ["url"],
    )
    seen = set(seed) if seed else {"zzz"}
    next_id = 0
    for batch in batches:
        rows = [(next_id + i, u) for i, u in enumerate(batch)]
        next_id += len(batch)
        got = sorted(
            r["doc_id"]
            for r in exact_incremental_dedup(
                spark, t,
                spark.createDataFrame(rows, "doc_id long, url string"),
                ["url"], order_col="doc_id",
            ).collect()
        )
        want = []
        batch_seen = set()
        for did, u in rows:
            if u not in seen and u not in batch_seen:
                want.append(did)
                batch_seen.add(u)
        seen |= batch_seen
        assert got == sorted(want)
    spark.sql(f"DROP TABLE IF EXISTS {t}")


@given(
    raw=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "zeta", "é"]),
                 min_size=0, max_size=6).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    tgt=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "qq"]),
                 min_size=1, max_size=5).map(" ".join),
        min_size=1,
        max_size=4,
    ),
    bigrams=st.booleans(),
)
@PROP
def test_dsir_importance_matches_python_reference(spark, raw, tgt, bigrams):
    """Random raw/target corpora (empty docs, multi-byte tokens,
    unigram and bigram feature spaces): dsir_importance equals a
    pure-Python replay of tokenize → md5 bucket → Laplace
    distributions → log-ratio sum, to the same 6-dp rounding."""
    import hashlib
    import math
    import re

    import pytest as pt

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        dsir_importance,
    )

    B, a = 256, 1.0

    def feats(text):
        t = [x for x in re.split(r"\s+", text.lower().strip()) if x]
        if bigrams:
            return t + [f"{u} {v}" for u, v in zip(t, t[1:])]
        return t

    def bkt(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:4], 16) % B

    t_b = [bkt(f) for tx in tgt for f in feats(tx)]
    r_b = [bkt(f) for tx in raw for f in feats(tx)]
    tc = {b: t_b.count(b) for b in set(t_b)}
    rc = {b: r_b.count(b) for b in set(r_b)}
    T, R = len(t_b), len(r_b)

    def lr(b):
        return math.log((tc.get(b, 0) + a) / (T + a * B)) - math.log(
            (rc.get(b, 0) + a) / (R + a * B)
        )

    want = {
        i: (round(sum(lr(bkt(f)) for f in feats(tx)), 6) if feats(tx) else 0.0)
        for i, tx in enumerate(raw)
    }
    got = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_importance(
            spark.createDataFrame(
                [(i, tx) for i, tx in enumerate(raw)],
                "doc_id long, text string",
            ),
            spark.createDataFrame(
                [(i, tx) for i, tx in enumerate(tgt)],
                "doc_id long, text string",
            ),
            bigrams=bigrams,
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pt.approx(want[k], abs=2e-6)
