"""Link-graph centrality for corpus quality priors.

Web-scale training-data curation weighs documents by the link structure
of their source pages (the Common-Crawl-derived pipelines behind most
public LLM corpora use PageRank-family centrality as a quality prior
next to the text-level filters in ``functions/text.py``). This module
gives that tier the same Spark-first treatment as the dedup families:
the iteration is a bounded chain of edge-sized joins + aggregations
(one shuffle pair per iteration), checkpointed so the lineage never
compounds, with NO driver-side graph materialization — node and edge
sets only ever exist as DataFrames.

Two arithmetic tiers:

- ``pagerank`` (float): the standard damped power iteration — the
  throughput tier for real corpora.
- ``pagerank_integer``: the same iteration over integer mass with
  floor division. Integer sums are exact and associative, so the
  result is BIT-IDENTICAL across engines, partitionings, and retry
  schedules — the tier a differential oracle (or a reproducibility
  audit across cluster sizes) wants. Precision is ``1/scale`` per
  node per hop; with the default ``scale=10**9`` the two tiers agree
  to ~9 significant digits on graphs up to ~10**9 edges while staying
  safely inside int64 (max intermediate = total_mass · damping_pct ≤
  n · scale · 100 — overflow-guarded at plan-build time).

Dangling nodes (no out-edges) RETAIN no mass to redistribute — their
damped mass leaves the system, the simplest of the standard dangling
conventions and the cheapest at scale (redistribution needs an extra
all-nodes broadcast per iteration). Ranks therefore sum to less than
the initial mass on graphs with dangling nodes; relative ordering, the
only thing a quality prior consumes, is unaffected for typical link
graphs. (Reference scope note: the reference pipeline has no graph
tier at all — this is part of the LLM-data extension surface, like
the dedup/similarity families.)

At 100 TB: edges live in parquet pre-partitioned by ``dst`` (the
aggregation key); each iteration is then one co-partitioned join on
``src`` (rank side shuffles, edge side is the big static relation —
AQE picks the strategy) plus one ``dst`` aggregation that reuses the
layout. Iterations are O(|E|) each and the chain is cut every
iteration by ``localCheckpoint``, as in the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _graph_parts(
    edges: DataFrame,
    src: str,
    dst: str,
    weight_col: str | None = None,
):
    """(nodes, edge_deg) — distinct node set over both endpoints and
    the edge list (parallel edges count as weight) pre-joined with its
    source's out-degree (weight SUM when ``weight_col`` is given, so a
    source's mass splits proportionally). BOTH are materialized once,
    so the per-iteration plan is exactly one edge⋈rank join + one dst
    aggregation — the degree aggregation and the edge⋈degree join
    never re-run."""
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("_w"))
    e = edges.select(*cols).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    deg_expr = (
        F.sum("_w") if weight_col is not None else F.count("*")
    ).alias("_deg")
    deg = e.groupBy("src").agg(deg_expr)
    edge_deg = e.join(deg, "src").localCheckpoint()
    return nodes, edge_deg


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping_pct: int = 85,
    scale: int = 10**9,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(node, rank) after ``n_iter`` damped power iterations over
    integer mass: every node starts at ``scale``; each iteration a
    node keeps ``(100 - damping_pct)% · scale`` base mass and receives
    ``(rank · damping_pct) // (100 · out_deg)`` along each in-edge
    (floor division — exact int64 arithmetic end to end, so the
    result is deterministic across engines and partitionings; see the
    module docstring for the dangling-mass convention).

    ``seeds`` (a one-column node frame) switches to the PERSONALIZED
    form — TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004):
    only seed nodes start with mass and only they receive the teleport
    base, so rank becomes trust FLOWING OUT of a vetted seed set
    through the link graph — the standard spam-demotion / source-trust
    prior a web-corpus curation pipeline runs next to plain PageRank.
    Same exact-integer arithmetic; a node unreachable from any seed
    ranks exactly 0."""
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    nodes, edge_deg = _graph_parts(edges, src, dst)
    # overflow guard: worst case a single node absorbs all mass. With
    # seeds, teleport mass enters at every node of the UNION node∪seed
    # set (a seed set largely outside the edge list still injects
    # mass), so the guard must count that union, not graph nodes alone
    if seeds is None:
        n_nodes = nodes.count()
    else:
        n_nodes = (
            nodes.unionByName(
                seeds.select(F.col(seeds.columns[0]).alias("node"))
            )
            .distinct()
            .count()
        )
    if n_nodes * scale > (1 << 62) // 100:
        raise ValueError(
            f"scale={scale} risks int64 overflow at {n_nodes} nodes; lower it"
        )
    base = (100 - damping_pct) * scale // 100
    if seeds is not None:
        # seeds JOIN the node set: a vetted seed with no links must
        # still rank at its teleport base, never silently vanish (a
        # missing row downstream reads as zero trust — the inversion
        # of what the seed list asserts). No broadcast hint — seed
        # sets are routinely domain-scale; AQE picks the strategy.
        seed_nodes = seeds.select(
            F.col(seeds.columns[0]).alias("node")
        ).distinct()
        marked = (
            nodes.unionByName(seed_nodes)
            .distinct()
            .join(seed_nodes.withColumn("_s", F.lit(1)), "node", "left")
            .select("node", F.col("_s").isNotNull().alias("_seed"))
            .localCheckpoint()
        )
        init = F.when(F.col("_seed"), F.lit(scale)).otherwise(F.lit(0))
        base_col = F.when(F.col("_seed"), F.lit(base)).otherwise(F.lit(0))
        ranks = marked.select("node", init.cast("long").alias("rank"))
        base_df = marked.select("node", base_col.cast("long").alias("_base"))
    else:
        ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
        base_df = nodes.select("node", F.lit(base).cast("long").alias("_base"))
    for _ in range(n_iter):
        contribs = (
            edge_deg.join(ranks, F.col("src") == F.col("node"))
            .select(
                "dst",
                F.expr(f"(rank * {damping_pct}) div (100 * _deg)").alias("_c"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            base_df.join(contribs, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (F.col("_base") + F.coalesce(F.col("_in"), F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    weight_col: str | None = None,
    tol: float | None = None,
) -> DataFrame:
    """(node, rank) float PageRank — same iteration shape as
    :func:`pagerank_integer` (which see, incl. the dangling-mass
    convention) with standard real arithmetic, normalized so ranks
    start at 1.0 per node. The throughput tier; use the integer tier
    when bit-reproducibility across runs/engines matters more than
    the last float digit.

    ``weight_col``: per-edge weight (link counts in a web graph) — a
    source's damped mass splits proportionally to weight instead of
    uniformly (the out-degree becomes the source's weight sum).
    ``tol``: early stop once an iteration's L1 rank change drops below
    it — real link graphs converge in far fewer hops than a safe fixed
    ``n_iter``, and the check costs one 1-row aggregation per
    iteration (skipped entirely when ``tol`` is None)."""
    nodes, edge_deg = _graph_parts(edges, src, dst, weight_col)
    base = 1.0 - damping
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    w = F.col("_w") if weight_col is not None else F.lit(1.0)
    for _ in range(n_iter):
        contribs = (
            edge_deg.join(ranks, F.col("src") == F.col("node"))
            .select(
                "dst",
                (F.lit(damping) * F.col("rank") * w / F.col("_deg")).alias("_c"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        nxt = (
            nodes.join(contribs, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("_in"), F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint()
        )
        done = False
        if tol is not None:
            delta = (
                nxt.alias("a")
                .join(ranks.alias("b"), "node")
                .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))))
                .first()[0]
            )
            done = delta is not None and delta < tol
        ranks = nxt
        if done:
            break
    return ranks


def quality_prior_from_links(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    out_col: str = "link_prior",
) -> DataFrame:
    """Attach a (0, 1] link-centrality quality prior to a corpus:
    integer PageRank max-normalized (rank / max_rank — one 1-row agg
    broadcast back, NO global sort; a percentile would need one).
    Documents absent from the link graph get NULL — distinguish "no
    link evidence" from "linked but unpopular" downstream."""
    pr = pagerank_integer(edges, src, dst, n_iter=n_iter)
    top = pr.agg(F.max("rank").alias("_max"))
    pct = pr.crossJoin(F.broadcast(top)).select(
        F.col("node").alias(id_col),
        (F.col("rank") / F.col("_max")).alias(out_col),
    )
    return docs.join(pct, id_col, "left")
