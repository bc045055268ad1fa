"""Graph rank for corpus quality filtering: integer fixed-point PageRank.

Pretraining pipelines rank the WEB HOST GRAPH to filter documents by source
quality (Common Crawl publishes host-level PageRank/harmonic centrality;
CCNet/RefinedWeb-style pipelines consume such ranks as a quality signal).
This module provides the rank computation as a generic DataFrame operator:
``pagerank(edges)`` over any (src, dst) edge table.

Determinism across engines is the hard part of an iterative rank: float
contributions summed in groupBys depend on partition order, so two engines
(or two runs) disagree in the last ulps and the divergence compounds per
iteration. The repo's money-sum convention applies: ranks live in integer
fixed-point (UNIT = 1e12 mass units), every division is INTEGRAL (Spark
``DIV`` / DuckDB ``//`` agree on non-negative operands), and every sum is
exact BIGINT — the result is bit-identical at any partitioning, scale, or
engine. The deliberately-truncated remainders leak a few units of mass per
iteration (bounded by N + n_edges units ≪ 1e-9 of total); the leak is part
of the spec both engines implement, not an error term.

Per-iteration recurrence (all BIGINT; d = damping percent, default 85):

    share_i(u)    = rank_i(u) DIV out_deg(u)          (u with out-edges)
    dangling_i    = Σ rank_i(u) over u with no out-edges
    rank_{i+1}(v) = ((100-d) * base) DIV 100
                  + (d * (Σ_{u→v} share_i(u) + dangling_i DIV N)) DIV 100

with base = UNIT DIV N and rank_0(v) = base. Dangling mass redistributes
uniformly (the standard PageRank completion), so the bipartite/leaf-heavy
graphs a host web graph contains don't drain.

Scale: nodes/out-degrees are one distinct + one groupBy over the edge
table; each iteration is one join (ranks ⋈ edges on src — AQE broadcasts
the rank side while it fits, shuffle-hash beyond) + one map-side-combined
groupBy(dst) + a 1-row dangling aggregate crossJoined back. Each iteration
references the rank table THREE times (shares, dangling, carry-through),
so a lazily-unrolled loop would grow the plan 3^iters — the same
exponential consumers blowup the DuckDB oracle hits without
AS MATERIALIZED. The operator therefore localCheckpoints the edge table
once and the rank table per iteration (the ``dedup_clusters`` label-
propagation discipline): constant plan size, each iteration's work done
exactly once. The checkpoints make the returned DataFrame's inputs
MATERIALIZED at call time, like the other iterative operators here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: Fixed-point mass scale: 1.0 of PageRank mass = UNIT integer units.
UNIT = 10**12


def pagerank(edges: DataFrame, iters: int = 5, damping_pct: int = 85) -> DataFrame:
    """Integer fixed-point PageRank over a (src, dst) edge table.

    ``edges`` is a DIRECTED edge list; parallel duplicates should be
    deduped by the caller if unweighted semantics are wanted (a repeated
    edge contributes its share repeatedly, which is the natural weighted
    reading). Returns (node, rank_units BIGINT, rank DOUBLE) where
    ``rank = rank_units / UNIT`` is exact (rank_units < 2^53).

    Deterministic by construction — see the module docstring.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not (1 <= damping_pct <= 99):
        raise ValueError(f"damping_pct must be in [1, 99], got {damping_pct}")

    e = edges.select("src", "dst").localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("out_deg"))
    # node table with degree (0 for dangling); N rides along as a literal
    # 1-row crossJoin so the integer base is computed engine-side
    n_tot = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    base_tbl = (
        nodes.join(deg, nodes.node == deg.src, "left")
        .select(
            "node", F.coalesce("out_deg", F.lit(0).cast("long")).alias("out_deg")
        )
        .crossJoin(F.broadcast(n_tot))
    )
    # the dangling mass rides each checkpoint's own materialization job
    # as an Observation metric (the dedup_clusters convergence-probe
    # fusion, r12): the per-iteration 1-row dangling aggregate — a
    # second scan of the checkpointed ranks plus a broadcast build —
    # becomes a driver-side BIGINT literal in the next iteration's
    # update expression. Integer arithmetic is exact, so literal vs
    # broadcast column is bit-identical.
    _dang_metric = (
        F.sum(F.when(F.col("out_deg") == 0, F.col("rank_units")))
        .cast("long")
        .alias("dang")
    )
    obs = Observation()
    ranks = (
        base_tbl.select(
            "node", "out_deg", "n", F.expr(f"{UNIT} DIV n").alias("rank_units")
        )
        .observe(obs, _dang_metric)
        .localCheckpoint()
    )
    dang = int(obs.get["dang"] or 0)

    teleport = F.expr(f"((100 - {damping_pct}) * ({UNIT} DIV n)) DIV 100")
    for _ in range(iters):
        shares = (
            ranks.filter(F.col("out_deg") > 0)
            .withColumn("share", F.expr("rank_units DIV out_deg"))
            .select(F.col("node").alias("src"), "share")
        )
        inflow = (
            e.join(shares, "src")
            .groupBy("dst")
            .agg(F.sum("share").cast("long").alias("in_sum"))
        )
        obs = Observation()
        ranks = (
            ranks.join(inflow, ranks.node == inflow.dst, "left")
            .select(
                "node",
                "out_deg",
                "n",
                (
                    teleport
                    + F.expr(
                        f"({damping_pct} * (COALESCE(in_sum, 0) + ({dang} DIV n)))"
                        " DIV 100"
                    )
                )
                .cast("long")
                .alias("rank_units"),
            )
            .observe(obs, _dang_metric)
            # eager (default) deliberately: an r11 A/B with eager=False
            # measured q_pagerank 2.6→3.2 s on local[32] — the lazy
            # get-or-compute path costs more than the per-iteration
            # materialization job it saves (same result as the
            # dedup_clusters A/B).
            .localCheckpoint()
        )
        dang = int(obs.get["dang"] or 0)

    return ranks.select(
        "node",
        "rank_units",
        (F.col("rank_units").cast("double") / F.lit(float(UNIT))).alias("rank"),
    )
