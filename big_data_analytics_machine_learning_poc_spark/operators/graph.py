"""Iterative graph analytics over the relational tables.

Companion to the dedup family's connected components (min-label
propagation, `operators/dedup.py`): PageRank adds weighted iterative
propagation — the canonical join-agg-per-iteration workload (SURVEY §2
has no reference counterpart; BASELINE.json extension surface).

Graph: the customer -> supplier procurement network, edges = distinct
(c_custkey, l_suppkey) pairs reachable through orders + lineitem. The
two key spaces can't collide because the lane packs them into one
BIGINT id space by parity (c:k -> 2k, s:k -> 2k+1; r12, guide §2.3
narrow shuffle keys) for the whole iteration loop; the display labels
("c:123" / "s:45") are reconstructed once, on the 20-row result, after
the loop.

Scale shape per iteration: one equi-join of the rank vector against the
edge list (both partitioned by the join key) + one groupBy(dst) partial
agg — the standard Pregel-as-dataframes rendering. The rank vector is
localCheckpoint'ed every iteration — it feeds two consumers per step
(dangling aggregate + contribs join), so materializing the n_nodes-row
vector beats re-running chained join+agg lineage inside the dangling
job (measured ~25% lane-level vs checkpoint-every-3); dangling-node mass (suppliers have no
out-edges) is redistributed uniformly each iteration via a 1-row
aggregate, so total rank mass stays 1 and the result matches the
textbook definition. Float sums across partitions make the last bits
partitioning-dependent — the lane rounds to 6 dp and registers
rows-only; the golden test checks a planted graph against an
independent pure-Python reference within 1e-9."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ckpt import pin, release
from ..registry import QueryRegistry

REG = QueryRegistry()

DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = DAMPING,
    ckpt_every: int = 5,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)``. Returns
    (node, rank) for every node appearing as src or dst; dangling mass is
    redistributed uniformly (total mass == 1 every iteration).

    ``ckpt_every`` bounds LINEAGE DEPTH, the silent killer of iterative
    DataFrame algorithms — and the growth between checkpoints is
    EXPONENTIAL, not linear: each iteration references the previous
    ``ranks`` frame TWICE (the dangling_row aggregate and the contribs
    join), so the un-checkpointed logical plan roughly DOUBLES per
    iteration (~2^ckpt_every subtree copies between checkpoints). Raising
    ckpt_every therefore degrades superlinearly — do NOT tune it upward
    expecting a linear job-count trade (ADVICE r5 #3). Measured on
    sf0.1: checkpoint-every-5 ≈ 8 s, every-1 ≈ 14 s (pure job overhead),
    NO checkpoint over 10 iterations ≈ 124 s (analysis blow-up). Five
    keeps both failure modes bounded and is scale-independent: the
    checkpoint materializes only the n_nodes-row rank vector. The r12
    A/B also tried (a) lazy checkpoints throughout the LOOP (14.6 s vs
    10.4 s — the one-cascade shape interacts badly with AQE stage
    materialization) and (b) persist() between eager checkpoints
    (13.3 s) — both WORSE; only the SETUP checkpoints are lazy (below):
    the n_nodes count / first iteration materialize them anyway, which
    trims the one-shot (cold) path ~20% with an identical median."""
    spark = edges.sparkSession
    # r13 co-partitioning postmortem (guide §1.1: the "ideal" plan lost to
    # the empirical one — measured, rejected, recorded so the next round
    # does not re-try it). Three variants materialized the loop-invariant
    # frames hash-partitioned+sorted on their join keys so the
    # per-iteration joins plan exchange-free (localCheckpoint must be
    # CREATED with AQE off for the partitioning to be captured at all:
    # under AQE, Dataset.checkpoint reads UnknownPartitioning(0) off the
    # AdaptiveSparkPlanExec wrapper). All three verified byte-identical
    # 6dp rank vectors and all three LOST at sf0.1 (quiet box, 3 runs):
    #   - fully static AQE-off loop, ckpt_every=5: 22.8-23.5 s — with the
    #     exchanges gone there are no stage-reuse boundaries, so the
    #     doubled per-iteration rank reference (dangling + contribs) is
    #     RECOMPUTED ~2^5 times between checkpoints;
    #   - fully static, ckpt_every=1: 10.6-11.6 s — recompute fixed, but
    #     10 materialization jobs replace 2;
    #   - partitioned setup ckpts consumed under AQE, ckpt_every=5:
    #     12.2-13.4 s — the exchange-free wedges side is no longer a query
    #     stage, so AQE can neither broadcast the small rank vector into
    #     the join nor reuse the doubled subtree.
    # vs THIS shape same session: 4.9-6.5 s. AQE's runtime broadcast of
    # the n_nodes-row rank vector plus exchange-boundary stage reuse beats
    # exchange elimination while the rank vector is broadcastable; at a
    # scale where it is not (multi-billion-node graphs), revisit the
    # static co-partitioned rendering — its cost model flips when the
    # broadcast does.
    # Checkpoint edges FIRST, then derive nodes from the checkpointed
    # frame: nodes-before-edges ran the caller's upstream edge build (for
    # the procurement lane a 587k-row join+distinct) TWICE — once into the
    # nodes checkpoint and once into the edges checkpoint (r12, guide
    # §1.2: don't compute things twice). Same rows either way. Lazy: the
    # n_nodes count below is the first action and materializes both.
    edges = pin(edges, eager=False)
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct(),
        eager=False,
    )
    n_nodes = nodes.count()
    # Hoist everything iteration-invariant OUT of the loop (the r5 rewrite
    # that took the sf0.1 lane from ~14 s to single digits):
    # - wedges: edges pre-joined with the out-degree of their source — the
    #   per-iteration ranks⋈outdeg join disappears; contribs is a single
    #   equi-join of the rank vector against this static weighted edge list
    # - dnodes: the (static) set of dangling nodes, so the dangling mass is
    #   a semi-join + 1-row aggregate instead of re-deriving outdeg-null
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    wedges = pin(edges.join(outdeg, "src"), eager=False)
    # dangling nodes (no out-edges) are a STATIC set; left unhinted, AQE
    # broadcasts it when small and falls back to shuffle when it isn't
    dnodes = pin(nodes.join(outdeg, nodes.node == outdeg.src, "left_anti"), eager=False)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    prev_ckpt = None  # superseded rank checkpoints are released (§5 hygiene)
    for i in range(iterations):
        # one action per ckpt_every iterations: the checkpoint materializes
        # the accumulated lazy updates (dangling aggregates + contribs
        # joins + rank rebuilds); nothing is ever collected mid-loop
        if i % ckpt_every == 0:
            ranks = pin(ranks)
            if prev_ckpt is not None:
                # the eager checkpoint above just materialized FROM the
                # previous one — its blocks have no remaining consumer.
                # Without this, every pagerank call leaks one rank vector
                # per ckpt_every iterations for the session's lifetime
                # (r13; the r12 sweep's late-lane drift, guide §5).
                release(prev_ckpt)
            prev_ckpt = ranks
        # dangling mass: rank that would leak from nodes with no out-edges,
        # handed back uniformly. Computed as a LAZY 1-row aggregate and
        # attached by broadcast (the scalar-subquery shape, declared in
        # plans/lint.py ALLOWED) — not a driver collect: r4's per-iteration
        # collect forced 2 actions/iteration, this folds into the same job.
        dangling_row = F.broadcast(
            ranks.join(dnodes, "node", "left_semi").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
            )
        )
        contribs = (
            ranks.join(wedges, ranks.node == wedges.src)
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        # rank = (1-d)/n + d*dangling/n + d*inflow — same operation order
        # as the pure-Python reference (tests/test_ml.py) so the planted
        # graph matches to 1e-9, not just to tolerance
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(dangling_row)
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.col("__dm") / F.lit(float(n_nodes))
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


@REG.add("graph_pagerank_procurement")  # rows-only: iterative float
# propagation is partitioning-sensitive in its last bits; golden-tested
# against an independent pure-Python reference (tests/test_ml.py)
def graph_pagerank_procurement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes of the customer->supplier procurement network by
    PageRank (10 iterations, d=0.85)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Narrow the node ids for the loop (guide §2.3): the iteration
    # machinery joins/aggregates the rank vector 10 times, so the ids ride
    # every per-iteration exchange. Packing the two key spaces into one
    # BIGINT by parity (c:k -> 2k, s:k -> 2k+1) shuffles 8 fixed bytes
    # instead of a 6-10 char string and compares longs instead of strings
    # in every join/groupBy; the display form is reconstructed once, on
    # the 16k-row result, after the loop. The r12 matched-load A/B
    # (DIAG/t_pr_{str,str2,str3,int,int2,int3}.json) read int 7.44-8.43 s
    # STABLE vs str 7.12-10.23 s wild — a wash on idle medians, kept for
    # the stability and the strictly narrower key at scale. Full 6dp rank
    # vector byte-identical at sf0.01 and sf0.1.
    # cast to long BEFORE doubling (an int32-keyed table near 2^30 would
    # overflow pre-cast) and rebuild labels with integral div, not double
    # division (exact only below 2^53) — r13 hygiene, VERDICT r12 #4
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    node_label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c:"), F.expr("node div 2")),
    ).otherwise(F.concat(F.lit("s:"), F.expr("(node - 1) div 2")))
    return (
        pagerank(edges, iterations=10)
        .select(node_label.alias("node"), F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )
