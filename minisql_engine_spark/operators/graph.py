"""Iterative graph analytics over DataFrame edge lists: PageRank.

A large-scale curation pipeline ranks entities by link structure —
domains by hyperlinks, documents by citation, users by interaction —
and the canonical algorithm is PageRank. The engine's variant is
**integer-exact**: ranks live in fixed-point units (``SCALE = 10**12``
units = rank mass 1.0) and every per-edge contribution is a single
integer floor-division, so the per-node sum is order-independent
(exact integer addition commutes) and the whole iteration is
bit-reproducible across any shuffle order — and therefore replayable
in a SQL oracle as chained CTEs (``pagerank_ctes_sql``), the same
verification style as the Lloyd/IVF and min-label-propagation
replays. Floating-point PageRank cannot make that promise: ten
iterations of double sums over a shuffled groupBy accumulate
fold-order noise that no edge rounding absorbs.

Semantics (damping ``d = 85/100``, documented rational, never a raw
double):

* ``r_0(v)   = SCALE DIV N`` for every node,
* ``r_t+1(v) = (SCALE * 15) DIV (100 * N)
              + sum over in-edges (u -> v) of
                (r_t(u) * 85) DIV (100 * deg(u))``.

Floor division leaks at most ``deg(u)`` units per node per iteration
(the classic fixed-point mass leak), bounded and deterministic; the
ranking — the product — is unaffected for any real graph because
SCALE is 12 orders above the leak.

Scale notes (100 TB):
* The edge list (with out-degree attached) is persisted ONCE and is
  the only large relation; every iteration shuffles just the
  ``(node, rank)`` table — two longs per node — in one
  join-on-src + groupBy-dst round, the Pregel-as-join shape.
* Each iteration's rank table is ``localCheckpoint``-ed: ranks feed
  the next join AND the convergence/monitor reads, and without a
  lineage cut the logical plan doubles per round (measured failure
  mode documented in clustering.py — same fix).
* No dangling-node correction is needed when the caller passes a
  symmetric edge list (every node then has out-degree >= 1); for
  directed graphs the teleport term still keeps ranks finite, the
  dangling mass simply leaks (documented; matching the oracle).

Cites the reference only for contrast: ``sqlengine.py`` has no
iterative operators; this is extension surface (SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold

#: fixed-point scale: 1.0 of rank mass = 10**12 units
SCALE = 10**12
#: damping as a rational — numerator / denominator of d
DAMP_NUM = 85
DAMP_DEN = 100

def pagerank(
    edges: DataFrame,
    n_iter: int = 8,
    src: str = "src",
    dst: str = "dst",
    broadcast_ranks: bool = False,
    weight: str | None = None,
) -> DataFrame:
    """(node, pr_units) after ``n_iter`` integer-exact PageRank
    iterations over the (directed) ``edges`` relation. ``pr_units``
    is in SCALE fixed-point units (divide by ``SCALE`` for the
    conventional [0, 1] rank).

    Pass a SYMMETRIC edge list for undirected graphs (both
    directions present); nodes are everything appearing as ``src``
    or ``dst``. Duplicate edges count twice — dedup upstream if the
    graph is simple.

    ``weight`` names an INTEGER edge-weight column (e.g. interaction
    counts): each edge then carries rank proportional to its share
    of the source's total outgoing weight,
    ``(rank * 85 * w) DIV (100 * W_u)`` — still one floor division,
    still exact. Keep ``max(w) * SCALE * 85 < 2**63`` (w up to ~10^5
    at the default SCALE); normalize heavier weights upstream.
    Zero/negative weights are rejected upstream concerns — they make
    the share expression leak or flip sign.

    ``broadcast_ranks=True`` broadcasts the (node, rank) table into
    each iteration's join instead of shuffling the cached edge list
    against it — the right call when the node set is dimension-sized
    (entity graphs: customers, suppliers, domains), cutting the
    per-iteration shuffle from edge-sized to the partial-aggregate
    partials. Leave False when |V| itself is beyond broadcast (web
    graphs) — the co-partitioned join is the scale path there.
    """
    # The caller's edge expression (often a join + distinct) feeds
    # nodes, deg, AND the iteration edges — persist it once or the
    # upstream subtree executes three times (measured 3 full
    # lineitem-join passes on the driver entry before this cache).
    # Node ids keep the caller's type: prefer INTEGER ids (longs
    # hash/shuffle several times cheaper than strings across 6+
    # iterations — encode entity kind in a bit, not a prefix char).
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight is not None:
        cols.append(F.col(weight).cast("long").alias("w"))
    e = hold(edges.select(*cols).persist(), "graph")
    # unweighted = all-ones weights: deg doubles as W_u either way
    wsum = F.sum("w") if weight is not None else F.count("*")
    deg = e.groupBy("src").agg(wsum.cast("long").alias("deg"))
    # edges carry their out-degree so each iteration is ONE join with
    # the rank table, not two
    ed = hold(e.join(deg, "src").persist(), "graph")
    # nodes are consumed once per iteration (the left join) —
    # localCheckpoint so the per-iteration plan reads a materialized
    # table instead of re-running the distinct subtree every round
    # (measured: 9.1 s → see PLANS_r8; same lineage rule as
    # clustering.py). Lazy: the node-count action right below
    # materializes the blocks, so setup schedules ONE job.
    nodes = hold(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False),
        "graph",
    )

    # N is ONE long fetched to the driver; teleport and r0 become
    # in-plan literals. The former in-plan stats table cost a
    # broadcast + BroadcastNestedLoopJoin crossJoin PER ITERATION
    # (guide §2.4) for three integers that are pure functions of N —
    # a 1-row driver fetch is scale-safe (same class as the query-id
    # collects) and the integer arithmetic is identical: Python //
    # equals Spark DIV for these non-negative operands, so every rank
    # is bit-equal (oracle-pinned).
    n_nodes = int(nodes.agg(F.count("*")).first()[0])
    teleport = (SCALE * (DAMP_DEN - DAMP_NUM)) // (100 * n_nodes)
    r0 = SCALE // n_nodes

    # r0 projection over the checkpointed nodes — no checkpoint of its
    # own (it is consumed once, by iteration 1's contribution join)
    ranks = nodes.select(
        "node", F.lit(r0).cast("long").alias("rank")
    )
    share = (
        f"(rank * {DAMP_NUM}L * w) DIV ({DAMP_DEN}L * deg)"
        if weight is not None
        else f"(rank * {DAMP_NUM}L) DIV ({DAMP_DEN}L * deg)"
    )
    for it in range(n_iter):
        rk = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = (
            ed.join(rk, ed["src"] == rk["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(share).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        # left join from nodes: a node with no in-edges still gets
        # the teleport term (cannot happen on symmetric inputs, but
        # the directed contract must hold)
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.coalesce(F.col("in_mass"), F.lit(0))
                ).cast("long").alias("rank"),
            )
        )
        # ranks_t is referenced ONCE per round (the contribution
        # join), so the lineage grows LINEARLY — unlike the label
        # tables in clustering.py, which double. Checkpoint every few
        # rounds to bound planning cost; LAZY (eager=False) — the
        # logical plan truncates at the call and the blocks
        # materialize inside the consumer's one action instead of a
        # scheduled job per checkpoint (guide §2.4: fewer actions).
        if (it + 1) % 3 == 0 and it + 1 < n_iter:
            ranks = hold(ranks.localCheckpoint(eager=False), "graph")
    return ranks.select("node", F.col("rank").alias("pr_units"))


def pagerank_ctes_sql(
    edges_cte: str,
    n_iter: int = 8,
    weighted: bool = False,
) -> str:
    """DuckDB CTE chain replaying :func:`pagerank` bit-for-bit.

    ``edges_cte`` must be a CTE body producing ``(src, dst)`` — plus
    an integer ``w`` when ``weighted`` — with the same types the
    Spark side used (integer ids preferred).
    Returns CTE text defining ``pr{n_iter}(node, rank)``;
    embed inside ``WITH <edges_cte_named 'pe'>, <this>`` and select
    from ``pr{n_iter}``. Integer floor-div (``//``) matches Spark's
    ``DIV`` for non-negative operands (see the simhash oracle note
    on DuckDB CAST rounding — floor-div avoids it)."""
    # MATERIALIZED on every multi-consumer CTE: pn/ped/pstats are read
    # each iteration and pr{t} twice (contribution join + the next
    # left join) — without the hint DuckDB may inline, doubling the
    # plan per iteration (same reason the IVF oracle materializes its
    # assignment CTE)
    wsum = "sum(w)" if weighted else "count(*)"
    wcol = ", pe.w" if weighted else ""
    parts = [
        f"pe AS MATERIALIZED ({edges_cte})",
        "pn AS MATERIALIZED (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM pe UNION SELECT dst FROM pe))",
        f"pdeg AS (SELECT src, CAST({wsum} AS BIGINT) AS deg"
        " FROM pe GROUP BY src)",
        f"ped AS MATERIALIZED (SELECT pe.src, pe.dst, pdeg.deg{wcol}"
        " FROM pe JOIN pdeg ON pe.src = pdeg.src)",
        "pstats AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT)"
        " AS n_nodes,"
        f" ({SCALE} * {DAMP_DEN - DAMP_NUM}) // (100 * count(*))"
        " AS teleport,"
        f" {SCALE} // count(*) AS r0 FROM pn)",
        "pr0 AS MATERIALIZED (SELECT node, CAST(r0 AS BIGINT) AS rank"
        " FROM pn CROSS JOIN pstats)",
    ]
    wmul = " * ped.w" if weighted else ""
    for t in range(n_iter):
        parts.append(
            f"pc{t} AS (SELECT ped.dst AS node,"
            f" sum((pr{t}.rank * {DAMP_NUM}{wmul})"
            f" // ({DAMP_DEN} * ped.deg)) AS in_mass"
            f" FROM ped JOIN pr{t} ON ped.src = pr{t}.node"
            " GROUP BY ped.dst)"
        )
        parts.append(
            f"pr{t + 1} AS MATERIALIZED (SELECT pn.node,"
            " CAST(pstats.teleport + coalesce(pc.in_mass, 0) AS BIGINT)"
            f" AS rank FROM pn LEFT JOIN pc{t} pc ON pn.node = pc.node"
            " CROSS JOIN pstats)"
        )
    return ", ".join(parts)
