"""Duplicate-cluster resolution: connected components over pair output.

Every near-dup detector in this engine (exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding cosine) emits verified PAIRS. A curation
pipeline needs CLUSTERS: the transitive closure of the pair relation,
with one canonical document per cluster (min id — deterministic).
``connected_components`` turns pairs into ``(id, component)`` where
``component`` is the minimum id reachable from ``id``.

Algorithm: distributed min-label propagation. Each iteration joins
the current labels across the (undirected) edge list and takes the
per-node minimum of the node's own label and all neighbor labels —
one shuffle on node id per iteration, all JVM-side (join + hash
aggregate), nothing collected. Labels only ever decrease, so the
global label SUM is a strictly decreasing convergence witness: the
loop stops the first iteration the sum is unchanged (cheap 1-row
action per iteration, not a row-level diff join).

Scale notes (100 TB):
* Iteration count = graph diameter. Near-dup similarity graphs are
  dense little cliques (docs that share content all pair with each
  other), so diameter is small — typically 2-3 iterations. The
  pathological chain graph needs O(n) iterations; ``max_iter``
  bounds the loop and a warning reports non-convergence. For
  adversarial diameters the O(log n)-round alternating star
  contraction (Kiveris et al., "Connected Components in MapReduce
  and Beyond", SoCC'14) is the drop-in upgrade; the propagation
  loop here is its Lloyd-simple cousin with strictly fewer shuffles
  on real dedup graphs.
* Each iteration's label table is ``localCheckpoint``-ed, which is
  the load-bearing choice: the label table feeds the next round
  TWICE (the neighbor join and the keep-own-label merge), so with
  plain lazy composition the LOGICAL plan doubles per round —
  2^iterations subtrees; a 17-round chain OOMed the JVM just
  *printing* the AQE plan (measured here). ``persist`` does NOT fix
  that (it truncates execution, not the logical plan);
  ``localCheckpoint`` cuts lineage to a materialized RDD, keeping
  planning O(1) per round. At cluster scale use
  ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for the
  same effect with executor-loss recovery.
* The edge list is persisted once, both directions materialized —
  the per-iteration join then shuffles ONLY the (id, label) table
  (two longs per node), never the text or vectors.

Cites the reference only for contrast: ``sqlengine.py`` has no
iterative operators at all; this is pure extension surface
(SURVEY.md §2.4 dedup family).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``; component
    is the minimum reachable id. The result is held as a materialized
    localCheckpoint (it is always consumed by at least one join and
    usually several), held as ``"clustering"``; the intermediate
    rounds' checkpoints are left to Spark's ContextCleaner."""
    fwd = pairs.select(
        F.col(id_a).cast("long").alias("src"),
        F.col(id_b).cast("long").alias("dst"),
    )
    # both directions, materialized ONCE — every iteration re-reads
    # this table, and its upstream (e.g. a MinHash verify join) must
    # not re-execute per round. Checkpoints are LAZY (eager=False):
    # the logical plan truncates at the .localCheckpoint() call
    # either way, and the convergence-sum action below materializes
    # the blocks — one scheduled job per round instead of two
    # (eager materialization + sum), guide §2.4 "fewer actions".
    edges = (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    comp = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )
    prev_sum = comp.agg(F.sum("component")).first()[0]
    if prev_sum is None:  # empty graph
        return hold(comp, "clustering")

    for _ in range(max_iter):
        nbr = (
            edges.join(
                comp.select(
                    F.col("id").alias("dst"),
                    F.col("component").alias("_nbr_comp"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("_nbr_comp").alias("_min_nbr"))
        )
        new_comp = (
            comp.join(nbr, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_min_nbr"), F.col("component")),
                ).alias("component"),
            )
            # truncate lineage — see module docstring; lazy: the sum
            # action right below materializes the checkpoint blocks,
            # so each round schedules ONE job, not two
            .localCheckpoint(eager=False)
        )
        new_sum = new_comp.agg(F.sum("component")).first()[0]
        # only the FINAL table is held: rebinding
        # `comp` drops the previous round's only reference, so the
        # ContextCleaner can release each intermediate checkpoint RDD
        # as the loop advances (long-lived sessions would otherwise
        # accumulate one pinned RDD per iteration per call)
        comp = new_comp
        if new_sum == prev_sum:  # labels monotone ↓ ⇒ fixpoint
            return hold(comp, "clustering")
        prev_sum = new_sum

    hold(comp, "clustering")
    warnings.warn(
        f"connected_components: not converged after {max_iter} iterations "
        "(graph diameter exceeds max_iter); labels are a valid upper "
        "bound but some components may still be split"
    )
    return comp


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(component, member_id, is_canonical): cluster roster with the
    min-id member flagged canonical — the keep/drop decision of an
    exact-or-near dedup pass, ready to anti-join against the corpus."""
    comp = connected_components(pairs, id_a, id_b)
    return comp.select(
        F.col("component"),
        F.col("id").alias("member_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 40,
) -> tuple[DataFrame, int]:
    """(labels, rounds): the alternating star-contraction connected
    components of Kiveris et al., "Connected Components in MapReduce
    and Beyond" (SoCC'14) — the O(log n)-ROUND upgrade over
    :func:`connected_components` for adversarial diameters (a chain
    of n near-dup docs needs ~n propagation rounds but ~log n
    contraction rounds). Returns the same (id, component) surface
    with component = min id of the component, plus the round count —
    callers (and the equivalence property test) can assert the
    logarithmic behavior.

    One round = large-star then small-star:

    * large-star centers every node u over its full neighborhood and
      rewires each STRICTLY LARGER neighbor to m = min(N(u) + {u});
    * small-star directs every edge high→low, centers u over its
      smaller-or-equal neighbors S, and rewires S + {u} to min(S).

    Both are a groupBy-min + an equi-join — no collect_list, so a
    celebrity hub never materializes its neighborhood in one task;
    the per-round shuffles are edge-sized with map-side partial mins.
    Each round's edge set is localCheckpoint-ed (it feeds the min
    aggregate AND the rewire join — the same doubling-lineage rule as
    the propagation loop). Convergence = the edge set is exactly the
    star forest, witnessed by an anti-join emptiness check (count
    equality alone could alias a swap).
    """
    raw = pairs.select(
        F.col(id_a).cast("long").alias("u"),
        F.col(id_b).cast("long").alias("v"),
    )
    fwd = raw.filter(F.col("u") != F.col("v"))
    # canonical high→low orientation, deduped
    e = (
        fwd.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # --- large-star over the SYMMETRIC neighborhood ------------
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # --- small-star on the high→low orientation ----------------
        # after large-star every emitted edge is already (higher,
        # lower); center u over its smaller neighbors S: min(S) = mn
        smins = large.groupBy("u").agg(F.min("v").alias("mn"))
        rewired = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        centers = smins.select("u", F.col("mn").alias("v"))
        new_e = rewired.union(centers).distinct().localCheckpoint()
        # --- fixpoint: edge sets identical (order-free) ------------
        if (
            new_e.count() == e.count()
            and new_e.exceptAll(e).count() == 0
        ):
            e = new_e
            break
        e = new_e
    else:
        warnings.warn(
            f"connected_components_star: not converged after "
            f"{max_rounds} rounds"
        )
    # e is now a star forest (child → root): components are the
    # roots; every child labels with its root, every root with itself
    base = e.select(
        F.col("u").alias("id"), F.col("v").alias("component")
    ).union(
        e.select(F.col("v").alias("id"), F.col("v").alias("component"))
    )
    # nodes whose ONLY edges were self-pairs carry no contraction
    # edge but are still components of size one — label them with
    # themselves so the (id, component) surface matches
    # :func:`connected_components` exactly (r8 advisor finding)
    isolated = (
        raw.filter(F.col("u") == F.col("v"))
        .select(F.col("u").alias("id"))
        .distinct()
        .join(base.select("id").distinct(), "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    labels = base.union(isolated).distinct().localCheckpoint()
    return hold(labels, "clustering"), rounds
