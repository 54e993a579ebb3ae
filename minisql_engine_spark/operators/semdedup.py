"""SemDeDup — semantic deduplication by cluster-then-compare.

Implements the SemDeDup recipe (Abbas et al. 2023, public preprint:
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication"): k-means-cluster the embedding space, compare pairs
ONLY within a cluster, drop all but one member of each semantic-
duplicate group. Clustering is what makes the operator scale — the
pair search is block-quadratic within cells of ~n/k vectors instead of
corpus-quadratic, and the cells are exactly the IVF index this engine
already maintains.

Composition (every stage an existing verified operator):

  1. ``ivf_refined_centroids`` — deterministic Lloyd-refined k-means
     (decimal-exact means, oracle-replayable).
  2. ``ivf_assignments`` (n_probe=1) — sort-free packed-long argmax
     assignment of every vector to its cell.
  3. ``embedding_near_dups`` blocked by cell — exact rounded cosine ≥
     threshold within each cell, with the ``max_block_size`` guard:
     an over-sized cell (k-means collapse on skewed data) routes
     through SRP-LSH buckets instead of going quadratic.
  4. ``connected_components`` — min-label propagation resolves
     duplicate GROUPS (A≈B, B≈C ⇒ one group even if A·C < t).

Output is the keep/drop roster a curation pipeline consumes:
(vec_id, cell, component, is_kept) for EVERY vector — non-duplicates
form their own singleton component and are kept.

Scale notes: the only corpus-sized shuffles are the assignment
aggregate and the within-cell pair join; centroids stay broadcast;
the CC loop runs on the (small) duplicate-pair edge set, not the
corpus. At 100 TB the cell count rises with the corpus — the DEFAULT
derives n_cells ≈ √n from a corpus count (:func:`auto_n_cells`,
r13), keeping expected cell population ≈ √n; an explicit int pins it
(hash-stable across corpus sizes).

Two keep rules, same clustering/pair/closure machinery:

* :func:`semantic_dedup` keeps the MIN-id member (the package-wide
  canonical rule, same as ``dedup_clusters``) — deterministic with
  no distance computation at all.
* :func:`semantic_dedup_keep_farthest` (r13) is PAPER-EXACT: keep
  the member farthest from its cell centroid (lowest centroid
  cosine — the low-density representative, preserving diversity),
  ties → min id. The distance is the rounded fx6 integer of the
  SAME sim the argmax assignment computes, so it is oracle-exact
  with no float tie hazard; the chooser is the skew-immune
  struct-max (no window sort over big clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold
from minisql_engine_spark.operators.clustering import connected_components
from minisql_engine_spark.operators.similarity import (
    DUCK_COS,
    embedding_near_dups,
    ivf_assignments,
    ivf_refined_centroids,
    ivf_refine_ctes_sql,
)


def auto_n_cells(n: int) -> int:
    """The module-doc scale rule made callable: n_cells ≈ √n, clamped
    to [4, 4096]. Keeps expected cell population ≈ √n, so the
    within-cell pair work stays ~n·√n as the corpus grows instead of
    leaning ever harder on the max_block_size → LSH fallback guard
    (the r11 sf0.1→sf1 slope measurement's one flagged lever)."""
    import math

    return max(4, min(4096, math.isqrt(max(1, int(n)))))


#: DuckDB expression computing :func:`auto_n_cells` over the ``e``
#: CTE — floor(sqrt(n)) equals math.isqrt(n) for every n below the
#: 4096² clamp (double sqrt is exact there), asserted in tests.
AUTO_N_CELLS_SQL = (
    "GREATEST(4, LEAST(4096,"
    " CAST(floor(sqrt((SELECT count(*) FROM e))) AS BIGINT)))"
)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_cells: int | None = None,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int = 10_000,
    dims: int = 64,
) -> DataFrame:
    """(vec_id, cell, component, is_kept) for every embedding —
    semantic-duplicate groups resolved within k-means cells; the
    min-id member of each group is kept.

    ``n_cells=None`` — the DEFAULT since r13 — sizes the cell count
    from the corpus (:func:`auto_n_cells`, one count job): expected
    cell population tracks √n, so the within-cell pair work grows
    ~n·√n instead of leaning on the max_block_size → LSH fallback as
    the corpus outgrows a constant cell count. Pass an explicit int
    to pin (the IVF index's N_CELLS, a corpus-size-stable hash). The
    SQL twin's default derives the SAME count in-query
    (``AUTO_N_CELLS_SQL``); with an explicit int pass the same int."""
    if n_cells is None:
        n_cells = auto_n_cells(embeddings.count())
    cents = ivf_refined_centroids(
        embeddings, id_col, vec_col, n_cells=n_cells, n_iter=n_iter,
        dims=dims,
    )
    # keep_vec: the assignment carries the cast vector, so the pair
    # search reads (id, cell, v) straight off this table — the former
    # `embeddings.join(assign, id)` re-shuffled the corpus by id for
    # vectors the assignment aggregate already held (guide §2.4; the
    # cast double values are exactly what near-dups re-casts to)
    assign = ivf_assignments(
        embeddings, cents, id_col, vec_col, n_probe=1, keep_vec=True
    ).select(id_col, "cell", "v")
    # assignment feeds the pair search AND the final roster — persist
    # so the Lloyd subtree executes once
    assign = hold(assign.persist(), "semdedup")

    blocked = assign.select(id_col, F.col("v").alias(vec_col), "cell")
    pairs = embedding_near_dups(
        blocked,
        block_col="cell",
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        max_block_size=max_block_size,
        dims=dims,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return assign.select(id_col, "cell").join(
        comp.select(F.col("id").alias(id_col), "component"),
        id_col,
        "left",
    ).select(
        id_col,
        "cell",
        F.coalesce(F.col("component"), F.col(id_col).cast("long")).alias(
            "component"
        ),
        (
            F.coalesce(F.col("component"), F.col(id_col).cast("long"))
            == F.col(id_col).cast("long")
        ).alias("is_kept"),
    )


def semantic_dedup_sql(
    threshold: float = 0.4,
    n_cells: int | None = None,
    n_iter: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> str:
    """DuckDB oracle twin of :func:`semantic_dedup` — replays the
    Lloyd iterations (shared :func:`ivf_refine_ctes_sql` chain), the
    argmax assignment, the within-cell rounded-cosine pair search,
    and the connected-components closure as a recursive CTE.

    Valid only when no cell exceeds the Spark side's
    ``max_block_size`` (the oracle is always all-pairs); the driver
    corpus satisfies this by construction. ``n_cells=None`` (the
    default, matching the DataFrame side) derives the count from the
    corpus INSIDE the query via ``AUTO_N_CELLS_SQL``, so the twin
    stays corpus-size-adaptive with no Python-side count."""
    if n_cells is None:
        n_cells = AUTO_N_CELLS_SQL
    return (
        _semantic_ctes_sql(
            threshold, n_cells, n_iter, table, id_col, vec_col, dims
        )
        + " SELECT a.vec_id, a.cell,"
        "  CAST(COALESCE(c.component, a.vec_id) AS BIGINT) AS component,"
        "  COALESCE(c.component, a.vec_id) = a.vec_id AS is_kept"
        " FROM assign a LEFT JOIN comp c ON c.id = a.vec_id"
    )


def _semantic_ctes_sql(
    threshold: float,
    n_cells: int | str,
    n_iter: int,
    table: str,
    id_col: str,
    vec_col: str,
    dims: int,
) -> str:
    """The shared CTE chain (``e`` … ``comp``) behind BOTH keep
    rules — Lloyd refinement, argmax assignment, within-cell pair
    search, recursive-CTE closure. Extracted verbatim from
    :func:`semantic_dedup_sql` (byte-identical prefix, so the
    certified driver hash is untouched by the r13 refactor)."""
    cos_assign = DUCK_COS.format(a="e.v", b="c.cv")
    cos_pair = DUCK_COS.format(a="ea.v", b="eb.v")
    return (
        f"WITH RECURSIVE e AS (SELECT {id_col} AS vec_id,"
        f" CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),"
        + ivf_refine_ctes_sql(n_iter, n_cells, dims)
        + f", cents AS (SELECT * FROM cents{n_iter}),"
        " asg AS (SELECT e.vec_id, c.cell,"
        f" {cos_assign} AS sim FROM e CROSS JOIN cents c),"
        " assign AS (SELECT vec_id, cell FROM ("
        "   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id"
        "    ORDER BY sim DESC, cell) AS r FROM asg) WHERE r = 1),"
        " pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b"
        "   FROM assign a JOIN assign b ON a.cell = b.cell"
        "    AND a.vec_id < b.vec_id"
        "   JOIN e ea ON ea.vec_id = a.vec_id"
        "   JOIN e eb ON eb.vec_id = b.vec_id"
        f"   WHERE {cos_pair} >= {threshold!r}),"
        " nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs"
        "   UNION SELECT id_b FROM pairs)),"
        " e2 AS (SELECT id_a AS s, id_b AS t FROM pairs"
        "   UNION SELECT id_b, id_a FROM pairs),"
        " reach(id, r) AS (SELECT id, id FROM nodes"
        "   UNION SELECT e2.t, reach.r FROM reach JOIN e2 ON e2.s = reach.id),"
        " comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"
    )


def semantic_dedup_keep_farthest(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_cells: int | None = None,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int = 10_000,
    dims: int = 64,
) -> DataFrame:
    """(vec_id, cell, component, sim_fx6, is_kept) — the PAPER-EXACT
    SemDeDup keep rule: within each semantic-duplicate group, keep
    the member FARTHEST from its cell centroid (lowest cosine to the
    centroid — Abbas et al. 2023 keep the low-density representative
    to preserve diversity), ties → min id. Same clustering, pair
    search, and closure as :func:`semantic_dedup` (min-id rule);
    only the survivorship differs, plus the audit column ``sim_fx6``
    (rounded centroid cosine ·10⁶ as a long — integer-exact in both
    engines, no float tie hazard: the rounded sim is the SAME
    quantity the argmax assignment already computes).

    The chooser is the package's skew-immune struct-max (one
    partial-aggregatable aggregate per component, no window sort —
    the ``keep_best_of_cluster`` shape with distance as the score);
    sim_fx6 is DECODED from the assignment aggregate's packed long
    (``ivf_assignments(with_sim=True)``) rather than re-scoring the
    corpus against the broadcast centroid table — one corpus scoring
    pass total. Scale shape identical to the min-id form."""
    if n_cells is None:
        n_cells = auto_n_cells(embeddings.count())
    # the centroid table feeds ONLY the assignment now (the former
    # second consumer — the per-vector centroid-sim broadcast — is
    # gone: ``with_sim=True`` decodes the assigned-cell sim_fx6 from
    # the packed long the argmax aggregate already computes, so the
    # corpus is never re-scored against the centroids and the r14
    # double-Lloyd checkpoint is unnecessary — same laziness as the
    # min-id row)
    cents = ivf_refined_centroids(
        embeddings, id_col, vec_col, n_cells=n_cells, n_iter=n_iter,
        dims=dims,
    )
    # keep_vec: same corpus-join deletion as the min-id twin — the
    # pair search reads (id, cell, v) off the persisted assignment
    assign = ivf_assignments(
        embeddings, cents, id_col, vec_col, n_probe=1, with_sim=True,
        keep_vec=True,
    ).select(id_col, "cell", "sim_fx6", "v")
    assign = hold(assign.persist(), "semdedup")

    blocked = assign.select(id_col, F.col("v").alias(vec_col), "cell")
    pairs = embedding_near_dups(
        blocked,
        block_col="cell",
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        max_block_size=max_block_size,
        dims=dims,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    roster = assign.select(id_col, "cell", "sim_fx6").join(
        comp.select(F.col("id").alias(id_col), "component"),
        id_col,
        "left",
    ).select(
        F.col(id_col),
        "cell",
        F.coalesce(F.col("component"), F.col(id_col).cast("long"))
        .alias("component"),
        "sim_fx6",
    )
    best = roster.groupBy("component").agg(
        F.max(
            F.struct(
                (-F.col("sim_fx6")).alias("nd"),
                (-F.col(id_col)).alias("nid"),
            )
        ).alias("_b")
    )
    return (
        roster.join(best, "component")
        .select(
            F.col(id_col),
            "cell",
            "component",
            "sim_fx6",
            (F.col(id_col) == -F.col("_b.nid")).alias("is_kept"),
        )
        # no final orderBy: the roster is corpus-sized and the driver
        # hash is order-insensitive — a global sort here is a full
        # range Exchange bought only for display order (guide §2.4);
        # the min-id twin never had one
    )


def semantic_dedup_keep_farthest_sql(
    threshold: float = 0.4,
    n_cells: int | None = None,
    n_iter: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> str:
    """DuckDB twin of :func:`semantic_dedup_keep_farthest` — the
    shared CTE chain plus the assigned-cell sim (the r=1 row of the
    SAME ``asg`` relation the assignment uses, so the fx6 quantity
    is bit-identical), then the farthest-member pick as a
    (sim ASC, id ASC) row_number."""
    if n_cells is None:
        n_cells = AUTO_N_CELLS_SQL
    return (
        _semantic_ctes_sql(
            threshold, n_cells, n_iter, table, id_col, vec_col, dims
        )
        + ", asim AS (SELECT vec_id, cell,"
        "  CAST(round(sim * 1000000) AS BIGINT) AS sim_fx6 FROM ("
        "   SELECT vec_id, cell, sim, row_number() OVER ("
        "    PARTITION BY vec_id ORDER BY sim DESC, cell) AS r"
        "   FROM asg) WHERE r = 1),"
        " roster AS (SELECT a.vec_id, a.cell,"
        "  CAST(COALESCE(c.component, a.vec_id) AS BIGINT)"
        "   AS component, a.sim_fx6"
        "  FROM asim a LEFT JOIN comp c ON c.id = a.vec_id),"
        " rk AS (SELECT *, row_number() OVER (PARTITION BY component"
        "  ORDER BY sim_fx6 ASC, vec_id ASC) AS rn FROM roster)"
        " SELECT vec_id, cell, component, sim_fx6, rn = 1 AS is_kept"
        " FROM rk"
    )
