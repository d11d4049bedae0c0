"""Fixed-point PageRank by distributed power iteration — centrality
over the near-dup pair graph (SURVEY.md §2B "LLM-pipeline — near-dup":
after connected components picks duplicate GROUPS, centrality picks
the best REPRESENTATIVE — the doc most similar to the rest of its
cluster — instead of the arbitrary min-id rule; at crawl scale the
same operator ranks hosts in a link graph for domain curation, the
classic CommonCrawl-curation use).

The reference (ETFQuarterlyHoldingsExtractor.py) has no graph ops at
all; this extends the engine's iterative-operator family
(operators/components.py) with the other standard large-graph
primitive.

Algorithm: damped PageRank, fixed iteration count, on a directed edge
list. Per round, every node sends ``rank // out_degree`` along each
out-edge; a node's next rank is ``teleport + 85% of inflow``. Nodes
with no out-edges leak their mass (the undistributed-dangling-mass
variant — documented, and irrelevant for the symmetric graphs the
dedup pipeline feeds in, where every node has degree >= 1).

Bit-reproducibility (the pq_fixedpoint.py discipline — what puts a
TRAINED/iterated result under the cross-engine hash oracle instead of
rows-only): every arithmetic step is nonnegative-integer.
- ranks are fixed-point bigints at ``SCALE`` (10^12);
- every division is integer floor division (Spark ``DIV``, DuckDB
  ``//`` — identical on nonnegative operands);
- the iteration count is FIXED, so both engines run the identical
  recurrence and the oracle replays it as ``iters`` unrolled CTEs.
Overflow headroom: 85 * inflow <= 85 * N * SCALE — bigint-safe up to
N ~ 10^5.

Scale posture (the 100 TB story):
- one shuffle per iteration (the inflow groupBy(dst)); the edge frame
  is repartitioned by src ONCE and persisted, so the per-round
  contribution join is exchange-free on the edge side (the
  components.py layout trick);
- the rank frame is localCheckpoint()ed per round — without that,
  round k replays all k-1 prior shuffles and the plan grows without
  bound (``truncate_lineage=False`` keeps the fully lazy plan for
  plan-inspection tests);
- N enters as a broadcast one-row aggregate, never a driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point unit of a rank
SCALE = 10**12

__all__ = ["pagerank_fixed_point", "sql_pagerank_ctes"]


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    truncate_lineage: bool = True,
) -> DataFrame:
    """(node, rank: bigint) — fixed-point PageRank after ``iters``
    damped power-iteration rounds over the directed edge list.

    ``edges`` is consumed as given: parallel edges weight the flow
    multiply (dedup first if that is not intended). The node set is
    the union of both endpoint columns; initial rank is
    ``SCALE // N`` for every node; teleport is
    ``15 * SCALE // (100 * N)`` and the damping factor 85/100, all in
    integer arithmetic so any engine replays the exact bigints.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("__src").alias("node")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    n_frame = nodes.agg(F.count(F.lit(1)).alias("__n"))

    # every round joins the edge frame on __src: lay it out by that key
    # once so the per-round join is exchange-free on the edge side
    e = e.repartition(F.col("__src"))
    # the static per-node frame carries __n (tiny: one bigint) so no
    # round needs a second broadcast of the count aggregate
    nodes_n = nodes.crossJoin(F.broadcast(n_frame))
    if truncate_lineage:
        e = e.persist()
        deg = deg.persist()
        nodes_n = nodes_n.persist()

    # every frame in the round references its predecessor exactly ONCE
    # (contrib reads r; the next r reads the STATIC nodes_n, not r), so
    # the lazy plan grows linearly in iters — truncate_lineage=False is
    # a single linear-depth job, no per-round materialization needed
    r = nodes_n.select(
        "node", F.expr(f"CAST({SCALE} AS BIGINT) DIV __n").alias("rank")
    )
    if truncate_lineage:
        r = r.localCheckpoint(eager=True)

    teleport = F.expr(f"CAST({15 * SCALE} AS BIGINT) DIV (100 * __n)")
    for _ in range(iters):
        contrib = (
            r.join(deg, "node")
            .select(F.col("node"), F.expr("rank DIV __deg").alias("__c"))
        )
        inflow = (
            e.join(contrib, e["__src"] == contrib["node"])
            .groupBy(F.col("__dst").alias("node"))
            .agg(F.sum("__c").alias("__inflow"))
        )
        r = (
            nodes_n.join(inflow, "node", "left")
            .select(
                "node",
                (
                    teleport
                    + F.expr("CAST(85 AS BIGINT) * COALESCE(__inflow, 0) DIV 100")
                ).alias("rank"),
            )
        )
        if truncate_lineage:
            r = r.localCheckpoint(eager=True)
    if truncate_lineage:
        e.unpersist()
        deg.unpersist()
        nodes_n.unpersist()
    return r.select("node", "rank")


def sql_pagerank_ctes(sym_cte: str, iters: int = 4) -> str:
    """The DuckDB replay of :func:`pagerank_fixed_point` as unrolled
    CTEs over an already-SYMMETRIC edge CTE ``sym_cte(a, b)`` (the q65
    pair graph; symmetric means the src set equals the node set, so
    the node CTE can read one column). Ends at
    ``pr_r{iters}(node, rank)``."""
    parts = [
        f"pr_nodes AS (SELECT DISTINCT a AS node FROM {sym_cte})",
        "pr_n AS (SELECT COUNT(*) AS n FROM pr_nodes)",
        f"pr_deg AS (SELECT a AS node, COUNT(*) AS deg FROM {sym_cte} GROUP BY a)",
        (
            f"pr_r0 AS (SELECT node, CAST({SCALE} AS BIGINT) // n AS rank "
            "FROM pr_nodes, pr_n)"
        ),
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""pr_f{i} AS (
      SELECT s.b AS node, SUM(r.rank // d.deg) AS inflow
      FROM pr_r{i - 1} r
      JOIN pr_deg d USING (node)
      JOIN {sym_cte} s ON s.a = r.node
      GROUP BY s.b
    )"""
        )
        parts.append(
            f"""pr_r{i} AS (
      SELECT n0.node,
             (CAST({15 * SCALE} AS BIGINT) // (100 * n.n))
             + (CAST(85 AS BIGINT) * COALESCE(f.inflow, 0) // 100) AS rank
      FROM pr_nodes n0 CROSS JOIN pr_n n
      LEFT JOIN pr_f{i} f ON n0.node = f.node
    )"""
        )
    return ",\n    ".join(parts)
