"""Edit-distance similarity join (entity resolution).

Finds all pairs of strings within Levenshtein distance ``d`` — the
name/title-matching operator of an entity-resolution pipeline, and the
last member of this engine's similarity-join family (set-based:
MinHash/Jaccard; vector: cosine/LSH/IVF/PQ; string: here).

Candidate scheme: SYMMETRIC DELETES (the SymSpell method, public
domain — Garbe 2012). The deletion neighborhood N_d(s) is every string
reachable from ``s`` by deleting ≤ d characters; if
``levenshtein(a, b) ≤ d`` then ``N_d(a) ∩ N_d(b) ≠ ∅``, so joining on
neighborhood members finds EVERY qualifying pair (recall 1.0), and the
exact ``levenshtein`` verify keeps precision 1.0. No pairwise scan:

    variants  explode ≤ 1 + L + C(L,2) keys per string  (d ≤ 2)
    join      on (variant, length-band) — |len_a − len_b| ≤ d is
              implied by deletes but repeated as a cheap filter
    verify    F.levenshtein ≤ d (Spark) ≡ levenshtein (DuckDB)

Scale notes: candidates are Σ_v C(m_v, 2) over variant groups — near-
linear when strings are diverse; a popular variant key (mass-duplicate
strings) degrades toward the group's square, exactly like every
blocking scheme in this package. ``max_group`` caps it: variant groups
larger than the cap are EXCLUDED with a warning (recall loss is
reported, never silent — mass-identical strings should be exact-
deduped first, which is also the cheaper operator). The explode factor
for d=2 is O(L²) per string — right for name/title/key columns (the
intended domain), wrong for document bodies; pair long text with the
MinHash/SimHash family instead.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import hold


def _delete_variants(s: Column, d: int) -> Column:
    """Array of ``s`` plus every ≤ d-character deletion of it."""
    n = F.length(s)
    one = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            s.substr(F.lit(1), i - 1),
            s.substr(i + 1, n),
        ),
    )
    out = F.concat(F.array(s), F.when(n >= 1, one).otherwise(F.array()))
    if d >= 2:
        two = F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, n),
                    lambda j: F.concat(
                        s.substr(F.lit(1), i - 1),
                        s.substr(i + 1, j - i - 1),
                        s.substr(j + 1, n),
                    ),
                ),
            )
        )
        out = F.concat(out, F.when(n >= 2, two).otherwise(F.array()))
    return F.array_distinct(out)


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 1,
    id_col: str = "id",
    max_group: int | None = None,
) -> DataFrame:
    """(id_a, id_b, dist) — every pair of rows whose ``col`` values
    are within Levenshtein distance ``max_dist`` (1 or 2), id_a <
    id_b. Identical strings are distance-0 pairs (exact dedup finds
    them cheaper; they are included here for completeness of the
    definition)."""
    if max_dist not in (1, 2):
        raise ValueError(f"max_dist must be 1 or 2, got {max_dist}")
    from minisql_engine_spark.fanout import fan_out

    # the O(L²)-per-string variant explode + xxhash is the operator's
    # dominant map cost and was single-threaded on the local
    # single-row-group scan — fan the narrow (id, s) projection out
    # first (guide §2.5; no-op at scale, see fanout.py)
    base = fan_out(
        df.select(
            F.col(id_col).alias("_id"), F.col(col).alias("_s")
        ).filter(F.col("_s").isNotNull())
    )
    # The join key is xxhash64(variant), not the variant string: the
    # shuffle carries 8 bytes per key instead of ~|s| chars, and a
    # hash collision can only ADD a candidate pair — the exact
    # levenshtein verify below removes it, so recall and precision
    # are both unchanged.
    from pyspark.storagelevel import StorageLevel

    # the deletion-neighborhood table (the SymSpell "dictionary") is
    # persisted: the self-join consumes it on BOTH sides, so without
    # it Spark evaluates the explode subtree twice
    var = hold(
        base.select(
            "_id",
            "_s",
            F.explode(
                F.transform(
                    _delete_variants(F.col("_s"), max_dist),
                    lambda v: F.xxhash64(v),
                )
            ).alias("_v"),
        ).persist(StorageLevel.MEMORY_AND_DISK),
        "editsim",
    )
    if max_group is not None:
        from pyspark.sql.window import Window

        var = var.withColumn(
            "_gn", F.count("*").over(Window.partitionBy("_v"))
        )
        dropped = var.filter(F.col("_gn") > max_group)
        if dropped.limit(1).count() > 0:
            warnings.warn(
                f"edit_distance_pairs: variant groups over {max_group} "
                "rows excluded — pairs inside them are NOT reported; "
                "exact-dedup mass-identical strings first"
            )
        var = var.filter(F.col("_gn") <= max_group).drop("_gn")
    a = var.select(
        F.col("_id").alias("id_a"), F.col("_s").alias("_sa"), "_v"
    )
    b = var.select(
        F.col("_id").alias("id_b"), F.col("_s").alias("_sb"), "_v"
    )
    # verify BEFORE deduplicating (the simhash lesson, dedup.py r3):
    # the cheap levenshtein filter shrinks the pair set first, so the
    # dedup shuffle carries true pairs on narrow (id, id) keys — not
    # every candidate with both strings attached.
    return (
        a.join(b, "_v")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("_sa", "_sb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", F.col("dist").cast("int"))
        .dropDuplicates(["id_a", "id_b"])
    )


def edit_distance_pairs_sql(
    table: str,
    col: str,
    max_dist: int = 1,
    id_col: str = "id",
) -> str:
    """DuckDB oracle twin of :func:`edit_distance_pairs` (exact
    all-pairs — the oracle does not need the candidate scheme, which
    is what makes it an independent check of the SymSpell recall
    guarantee)."""
    if max_dist not in (1, 2):
        raise ValueError(f"max_dist must be 1 or 2, got {max_dist}")
    return (
        f"SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,"
        f" CAST(levenshtein(a.{col}, b.{col}) AS INT) AS dist"
        f" FROM {table} a JOIN {table} b"
        f" ON a.{id_col} < b.{id_col}"
        f" AND abs(len(a.{col}) - len(b.{col})) <= {max_dist}"
        f" WHERE a.{col} IS NOT NULL AND b.{col} IS NOT NULL"
        f" AND levenshtein(a.{col}, b.{col}) <= {max_dist}"
    )
