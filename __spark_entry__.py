"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Every entry cites the reference operator it covers (SURVEY.md §2.1).
Aggregates over DOUBLE measures are computed through exact DECIMAL
sums in BOTH engines so results are order-independent (deterministic
across a 1000-executor shuffle) and bit-comparable — see
``minisql_engine_spark.operators.relational.exact_sum/exact_avg``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives beside this file; make the import robust to
# the driver loading this module by path from a different cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minisql_engine_spark.operators import relational as R

SF0001 = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, SF0001)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem with a filter, grouped revenue —
    exercises scan (O1), binding (O4), projection (O6), filter (O7),
    equi-join incl. duplicate keys (O10/Q5), aggregation (O14-O17) in
    one plan. Joins on the star-schema keys: Catalyst broadcasts the
    small sides; the lineitem scan is pruned to 4 columns.
    """
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,4)"
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("o_orderstatus") != "X")
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.col("l_orderkey")).alias("n_items"),
            R.exact_avg("l_quantity", "avg_qty"),
        )
        .orderBy("c_mktsegment", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# queries() / oracle_sql() — one entry per SURVEY §2 operator
# ---------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from minisql_engine_spark.sources import load_table

    return load_table(spark, sf_dir, name)


# --- O1/O4/O11: full scan, * expansion, Cartesian product ------------------
# (test.txt:1 + test.txt:7 merged — one row proves scan + * + cross join)


@_register("scan_star_cross", "SELECT * FROM nation CROSS JOIN region")
def q_scan_star_cross(spark, sf_dir):
    """Full scan + SELECT * expansion over a Cartesian product
    (O1 sqlengine.py:99-154; O4 :177-181; O11 :292-307): every column
    of both tables, 25×5 rows. Spark plans a broadcast nested-loop —
    correct shape for a tiny×tiny product; big×big Cartesians are a
    design error at any scale and left to error loudly."""
    return R.project(
        R.cross_join(_t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region"))
    )


# --- O14-O17 + COUNT/COUNT DISTINCT + filtered aggregates ------------------
# (test.txt:2-5; merged shape — one driver row proves the whole global-
#  aggregate family so all 50 registry slots fit the CORRECTNESS window)


@_register(
    "agg_all",
    "SELECT max(o_orderkey) AS max_orderkey,"
    " min(o_custkey) AS min_custkey,"
    " CAST(sum(o_custkey) AS BIGINT) AS sum_custkey,"
    " CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)"
    "   / count(o_totalprice) AS avg_price,"
    " count(*) AS n_rows,"
    " count(DISTINCT o_custkey) AS n_custs,"
    " count(DISTINCT o_orderstatus) AS n_statuses,"
    " max(o_totalprice) FILTER (o_orderstatus = 'F') AS max_price_f,"
    " min(o_totalprice) FILTER (o_orderstatus = 'F') AS min_price_f,"
    " CAST(sum(CAST(o_totalprice AS DECIMAL(25,2)))"
    "   FILTER (o_orderstatus = 'F') AS DOUBLE)"
    "   / count(o_totalprice) FILTER (o_orderstatus = 'F') AS avg_price_f"
    " FROM orders",
)
def q_agg_all(spark, sf_dir):
    """Whole-column MAX/MIN/SUM/AVG (O14-O17 sqlengine.py:548-660,
    exact-decimal AVG path), COUNT + multi-column COUNT DISTINCT
    (SURVEY §2.2 row 6 — Spark expands multi-distinct into one
    Expand + two-phase aggregate), and conditionally-FILTERed
    aggregates (the reference crashed on filtered AVG and
    mis-sentineled filtered MIN — Q6, sqlengine.py:647, :590).

    One scan, one HashAggregate: at 100 TB this is 1 pass instead of
    the 10 passes the split queries would cost."""
    o = _t(spark, sf_dir, "orders")
    f_mask = F.col("o_orderstatus") == "F"
    dec_price = F.col("o_totalprice").cast("decimal(25,2)")
    return o.agg(
        F.max("o_orderkey").alias("max_orderkey"),
        F.min("o_custkey").alias("min_custkey"),
        F.sum("o_custkey").cast("bigint").alias("sum_custkey"),
        R.exact_avg("o_totalprice", "avg_price"),
        F.count("*").alias("n_rows"),
        F.count_distinct("o_custkey").alias("n_custs"),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
        F.max(F.when(f_mask, F.col("o_totalprice"))).alias("max_price_f"),
        F.min(F.when(f_mask, F.col("o_totalprice"))).alias("min_price_f"),
        (
            F.sum(F.when(f_mask, dec_price)).cast("double")
            / F.count(F.when(f_mask, F.col("o_totalprice")))
        ).alias("avg_price_f"),
    )


# --- O18 DISTINCT + ORDER BY/LIMIT (test.txt:8; merged) --------------------


@_register(
    "distinct_order_limit",
    "SELECT DISTINCT l_quantity AS quantity FROM lineitem"
    " ORDER BY quantity DESC LIMIT 10",
)
def q_distinct_order_limit(spark, sf_dir):
    """Single-column DISTINCT (O18 sqlengine.py:662-678, ANSI per
    Q7/Q8) + global ORDER BY/LIMIT (SURVEY §2.2 row 2): distinct is a
    hash-aggregate on the value, then TakeOrderedAndProject does a
    per-partition top-k + k-row driver merge — no global sort at any
    scale."""
    return (
        R.distinct_values(
            _t(spark, sf_dir, "lineitem").select(
                F.col("l_quantity").alias("quantity")
            )
        )
        .orderBy(F.col("quantity").desc())
        .limit(10)
    )


# --- O5/O7/O8/O9: the WHERE-clause family in one predicate tree ------------


@_register(
    "filter_predicates",
    "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity FROM lineitem"
    " WHERE (l_partkey = l_suppkey AND l_quantity >= 30) OR l_orderkey = 42",
)
def q_filter_predicates(spark, sf_dir):
    """One nested predicate tree covering the reference's whole WHERE
    surface: col = literal (O7 sqlengine.py:467-474), colA = colB
    same-table (O8 :456-465), AND + OR combination (O9 :505-538 —
    the reference capped WHERE at 2 conditions + 1 connective,
    :242-244), a non-'=' comparator executed faithfully (Q1 fix),
    and projection (O6 :679-695). Built from the engine's
    ``comparison``/``project`` combinators; Catalyst pushes the whole
    disjunction into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    pred = (
        R.comparison("l_partkey", "=", F.col("l_suppkey"))
        & R.comparison("l_quantity", ">=", 30)
    ) | R.comparison("l_orderkey", "eq", 42)
    return R.project(
        li.filter(pred),
        ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity"],
    )


# --- O10+O13: duplicate-key (1:N) join — the shape the reference broke -----


@_register(
    "join_dup_keys",
    "SELECT c_custkey, c_name, o_orderkey, o_totalprice"
    " FROM customer JOIN orders ON c_custkey = o_custkey",
)
def q_join_dup_keys(spark, sf_dir):
    """Inner equi-join (O10 sqlengine.py:476-489, test.txt:12) with
    correct many-to-many multiplication (fixes Q5, :314-372), no
    1000-row cap (:315), and the join key emitted exactly once in the
    output — the reference's join-column dedup O13 (:374-436)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return R.equi_join(
        orders, customer, on=F.col("o_custkey") == F.col("c_custkey"),
        broadcast_right=True,
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


# --- O5/Q1 comparators + NULL three-valued logic (one scan) ----------------


@_register(
    "filter_comparators_nulls",
    "SELECT count(*) FILTER (o_totalprice < 5000) AS n_lt,"
    " count(*) FILTER (o_totalprice > 100000) AS n_gt,"
    " count(*) FILTER (o_custkey != 7) AS n_ne,"
    " count(*) FILTER (o_custkey <= 10) AS n_le,"
    " count(*) FILTER (o_custkey >= 140) AS n_ge,"
    " count(*) AS n_rows,"
    " count(nullif(o_orderstatus, 'O')) AS n_nonnull,"
    " count(*) - count(nullif(o_orderstatus, 'O')) AS n_null,"
    " CAST(sum(CASE WHEN nullif(o_orderstatus, 'O') IS NULL"
    "   THEN 1 ELSE 0 END) AS BIGINT) AS n_null2"
    " FROM orders",
)
def q_filter_comparators_nulls(spark, sf_dir):
    """All grammar comparators < > != <= >= executed faithfully (Q1 —
    the reference parsed 12 spellings but ran them all as '=',
    sqlengine.py:35, 257-258) PLUS native NULL three-valued logic
    (fixes Q9 — the reference stored a string sentinel that crashed
    aggregates, sqlengine.py:145-147, 569-575): NULL-skipping count,
    IS NULL predicate.

    Single-pass conditional aggregation: one scan of orders, nine
    aggregate expressions inside one HashAggregate — at 100 TB this
    is 1 scan instead of 9 (and zero joins).
    """
    orders = _t(spark, sf_dir, "orders")
    st = F.nullif(F.col("o_orderstatus"), F.lit("O"))

    def n(pred, alias):
        return F.count(F.when(pred, 1)).alias(alias)

    return orders.agg(
        n(R.comparison("o_totalprice", "lt", 5000), "n_lt"),
        n(R.comparison("o_totalprice", "gt", 100000), "n_gt"),
        n(R.comparison("o_custkey", "ne", 7), "n_ne"),
        n(R.comparison("o_custkey", "le", 10), "n_le"),
        n(R.comparison("o_custkey", "ge", 140), "n_ge"),
        F.count("*").alias("n_rows"),
        F.count(st).alias("n_nonnull"),
        (F.count("*") - F.count(st)).alias("n_null"),
        F.sum(F.when(st.isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null2"),
    )


# ===========================================================================
# SURVEY §2.2 completions — capabilities the reference lacks entirely; each
# maps to the Spark primitive named in SURVEY §2.2's table. These complete
# the engine into a usable analytics surface at scale.
# ===========================================================================


# --- GROUP BY aggregation (TPC-H Q1 shape) ---------------------------------


@_register(
    "group_by_agg",
    "SELECT l_returnflag, l_linestatus,"
    " CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) AS sum_base_price,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2)) * (1 - CAST(l_discount AS DECIMAL(25,2)))) AS DOUBLE) AS sum_disc_price,"
    " CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,"
    " count(*) AS count_order"
    " FROM lineitem GROUP BY l_returnflag, l_linestatus",
)
def q_group_by(spark, sf_dir):
    """GROUP BY + multi-aggregate (absent in reference — SURVEY §2.2
    row 1). HashAggregate with map-side partial agg: one shuffle on
    the (low-cardinality) group keys regardless of input size."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(25,2)")  # noqa: E731
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        R.exact_avg("l_quantity", "avg_qty"),
        F.count("*").alias("count_order"),
    )


# --- Window functions: rank + lag + running frame in one pass --------------


@_register(
    "window_suite",
    "SELECT o_custkey, o_orderkey, o_totalprice, rn, prev_orderkey,"
    " running_spend FROM ("
    "  SELECT o_custkey, o_orderkey, o_totalprice,"
    "   row_number() OVER (PARTITION BY o_custkey"
    "     ORDER BY o_totalprice DESC, o_orderkey) AS rn,"
    "   lag(o_orderkey) OVER w AS prev_orderkey,"
    "   CAST(sum(CAST(o_totalprice AS DECIMAL(25,2)))"
    "     OVER (PARTITION BY o_custkey ORDER BY o_orderkey"
    "           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)"
    "     AS running_spend"
    "  FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)"
    " ) WHERE rn <= 3",
)
def q_window_suite(spark, sf_dir):
    """Ranking window + top-k per group, analytic lag, and a running
    frame aggregate (SURVEY §2.2 row 3, §2.4 top-k) — two window
    specs over the SAME partition key, so Spark exchanges once on
    o_custkey and only re-sorts between the Window operators; AQE
    splits skewed customers. Running sums use the exact-decimal path
    so frame prefix sums are bit-stable across engines."""
    from pyspark.sql.window import Window

    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    frame = w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w_rank).alias("rn"),
            F.lag("o_orderkey").over(w_seq).alias("prev_orderkey"),
            F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
            .over(frame)
            .cast("double")
            .alias("running_spend"),
        )
        .filter(F.col("rn") <= 3)
    )


# --- Set operations --------------------------------------------------------


@_register(
    "set_ops",
    "WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000),"
    " lo AS (SELECT o_custkey FROM orders WHERE o_totalprice < 20000)"
    " SELECT 'union' AS op, count(*) AS n FROM (SELECT * FROM hi UNION SELECT * FROM lo)"
    " UNION ALL SELECT 'intersect', count(*) FROM (SELECT * FROM hi INTERSECT SELECT * FROM lo)"
    " UNION ALL SELECT 'except', count(*) FROM (SELECT * FROM hi EXCEPT SELECT * FROM lo)"
    " UNION ALL SELECT 'union_all', count(*) FROM (SELECT * FROM hi UNION ALL SELECT * FROM lo)"
    " UNION ALL SELECT 'intersect_all', count(*) FROM (SELECT * FROM hi INTERSECT ALL SELECT * FROM lo)"
    " UNION ALL SELECT 'except_all', count(*) FROM (SELECT * FROM hi EXCEPT ALL SELECT * FROM lo)",
)
def q_set_ops(spark, sf_dir):
    """The full set-algebra surface (SURVEY §2.2 row 4): ANSI
    UNION / INTERSECT / EXCEPT plus the duplicate-preserving
    multiset forms UNION ALL / INTERSECT ALL / EXCEPT ALL — six
    tagged counts from the same two branch scans."""
    orders = _t(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    lo = orders.filter(F.col("o_totalprice") < 20000).select("o_custkey")

    def tagged(df, tag):
        return df.agg(F.lit(tag).alias("op"), F.count("*").alias("n"))

    rows = [
        tagged(hi.union(lo).distinct(), "union"),
        tagged(hi.intersect(lo), "intersect"),
        tagged(hi.distinct().exceptAll(lo.distinct()), "except"),
        tagged(hi.unionAll(lo), "union_all"),
        tagged(hi.intersectAll(lo), "intersect_all"),
        tagged(hi.exceptAll(lo), "except_all"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# --- Outer / semi / anti joins ---------------------------------------------


@_register(
    "join_left_outer",
    "SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,"
    " CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(25,2))), 0) AS DOUBLE) AS spend"
    " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
    " GROUP BY c_custkey, c_name",
)
def q_join_left(spark, sf_dir):
    """LEFT OUTER join + group (SURVEY §2.2 row 5): customers with no
    orders kept at n_orders=0 — NULL-skipping count over the outer
    side."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        R.equi_join(
            customer, orders, on=F.col("c_custkey") == F.col("o_custkey"),
            how="left",
        )
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(25,2)")), F.lit(0)
            )
            .cast("double")
            .alias("spend"),
        )
    )


@_register(
    "join_semi_anti",
    "SELECT 'with_orders' AS bucket, count(*) AS n FROM customer"
    " WHERE c_custkey IN (SELECT o_custkey FROM orders)"
    " UNION ALL"
    " SELECT 'without_orders', count(*) FROM customer"
    " WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)",
)
def q_join_semi_anti(spark, sf_dir):
    """LEFT SEMI / LEFT ANTI joins (SURVEY §2.2 row 5) — the
    distributed realization of IN / NOT IN subqueries."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    semi = customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_semi"
    ).agg(F.lit("with_orders").alias("bucket"), F.count("*").alias("n"))
    anti = customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    ).agg(F.lit("without_orders").alias("bucket"), F.count("*").alias("n"))
    return semi.unionAll(anti)


# --- approximate sketches (COUNT DISTINCT exact form lives in agg_all) -----


@_register("approx_distinct", None)  # approximate → rows-only, gated
def q_approx_distinct(spark, sf_dir):
    """approx_count_distinct / percentile_approx sketches (SURVEY §2.2
    row 6, §2.4 sketches). HLL++ partial sketches merge associatively
    across 1000 executors — the scale path for distinct counting.
    No oracle: sketch results are engine-specific by design; instead
    the accuracy bar is wired INTO the result like the other
    rows-only entries (r2 VERDICT task 6): the single row is emitted
    ONLY if every sketch lands within 5% of its exact counterpart
    (computed in the same aggregate), so a sketch-accuracy regression
    drops the row count 1 → 0 and the driver's hard gate moves.
    Percentiles are scalar columns (not one ARRAY) so every cell is
    hashable by the driver canonicalizer."""
    li = _t(spark, sf_dir, "lineitem")
    agged = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("price_p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("price_p95"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("price_p99"),
        F.countDistinct("l_partkey").alias("_exact_parts"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("_exact_p50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("_exact_p95"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("_exact_p99"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= 0.05
    )
    return agged.filter(
        within("approx_parts", "_exact_parts")
        & within("price_p50", "_exact_p50")
        & within("price_p95", "_exact_p95")
        & within("price_p99", "_exact_p99")
    ).select("approx_parts", "price_p50", "price_p95", "price_p99")


# --- Scalar functions: string / date / math --------------------------------


@_register(
    "scalar_string_math",
    "SELECT o_orderkey,"
    " lower(o_orderstatus) || '/' || o_orderpriority AS status_tag,"
    " length(o_orderpriority) AS prio_len,"
    " substr(o_orderpriority, 1, 3) AS prio_prefix,"
    " upper(substr(o_orderpriority, 3)) AS prio_word,"
    " abs(o_totalprice - 100000.0) AS diff,"
    " CAST(floor(o_totalprice) AS BIGINT) AS price_floor,"
    " CAST(ceil(o_totalprice / 100.0) AS BIGINT) AS price_hundreds,"
    " o_totalprice * (1 - 0.04) * (1 + 0.02) AS adj_price"
    " FROM orders WHERE o_custkey <= 25",
)
def q_scalar_string_math(spark, sf_dir):
    """String scalars (upper/lower/length/substr/concat) + math
    scalars (abs/floor/ceil) + row-level arithmetic with aliases, one
    scan (SURVEY §2.2 row 7) — the expression support the reference's
    grammar admitted but never implemented (`sqlengine.py:43` \"need
    to add support for alg expressions\"). All JVM-side whole-stage-
    codegen expressions, zero Python; identical IEEE op sequences in
    both engines keep doubles bit-comparable."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_custkey") <= 25).select(
        "o_orderkey",
        F.concat_ws(
            "/", F.lower("o_orderstatus"), F.col("o_orderpriority")
        ).alias("status_tag"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.substring("o_orderpriority", 1, 3).alias("prio_prefix"),
        F.upper(F.expr("substr(o_orderpriority, 3)")).alias("prio_word"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("diff"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        F.ceil(F.col("o_totalprice") / 100.0).cast("bigint").alias(
            "price_hundreds"
        ),
        (
            F.col("o_totalprice")
            * (F.lit(1) - F.lit(0.04))
            * (F.lit(1) + F.lit(0.02))
        ).alias("adj_price"),
    )


# --- CASE WHEN + HAVING ----------------------------------------------------


@_register(
    "case_when_having",
    "SELECT CASE WHEN o_totalprice >= 150000 THEN 'high'"
    "  WHEN o_totalprice >= 50000 THEN 'mid' ELSE 'low' END AS band,"
    " count(*) AS n"
    " FROM orders GROUP BY 1 HAVING count(*) > 10",
)
def q_case_having(spark, sf_dir):
    """CASE WHEN expression + HAVING post-aggregate filter (SURVEY
    §2.2 row 8 expressions)."""
    o = _t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") >= 150000, "high")
        .when(F.col("o_totalprice") >= 50000, "mid")
        .otherwise("low")
        .alias("band")
    )
    return (
        o.groupBy(band).agg(F.count("*").alias("n")).filter(F.col("n") > 10)
    )


# --- Subqueries: IN + EXISTS + correlated scalar, via the SQL front door ---


@_register(
    "subquery_suite",
    "SELECT c_custkey, c_acctbal FROM customer c"
    " WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer"
    "                    WHERE c_nationkey = c.c_nationkey)"
    "  AND c_custkey IN (SELECT o_custkey FROM orders"
    "                    WHERE o_totalprice > 100000)"
    "  AND EXISTS (SELECT 1 FROM orders o"
    "              WHERE o.o_custkey = c.c_custkey"
    "               AND o.o_orderstatus = 'O')",
)
def q_subquery_suite(spark, sf_dir):
    """All three subquery forms the reference grammar parsed but could
    never execute (`sqlengine.py:48-49`, SURVEY §2.2 row 9) in one
    statement: correlated scalar subquery (decorrelated by Catalyst
    into aggregate + join — no per-row re-execution), IN (planned as
    a left-semi join), and correlated EXISTS (also a semi-join).

    Executed through the reference-dialect SQL front door
    (``plans.run_sql``, O3 sqlengine.py:12-74): the query string uses
    the reference's ``average(...)`` alias, a ``--`` comment and a
    trailing ``;`` — the textual shim rewrites them and Catalyst does
    the rest."""
    from minisql_engine_spark.plans import run_sql

    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return run_sql(
        spark,
        "-- reference dialect: average() alias, comment, trailing ;\n"
        "SELECT c_custkey, c_acctbal FROM customer c"
        " WHERE c_acctbal > (SELECT average(c_acctbal) FROM customer"
        "                    WHERE c_nationkey = c.c_nationkey)"
        "  AND c_custkey IN (SELECT o_custkey FROM orders"
        "                    WHERE o_totalprice > 100000)"
        "  AND EXISTS (SELECT 1 FROM orders o"
        "              WHERE o.o_custkey = c.c_custkey"
        "               AND o.o_orderstatus = 'O');",
    )


# --- Multi-table join chain (reference capped at 2 tables) -----------------


@_register(
    "contamination_report",
    # deterministic 80/20 split (sampling.hash_split, seed 'contam')
    # replayed in SQL, then the full 8-gram decontamination recipe
    "WITH sp AS (SELECT doc_id, text, CASE"
    "   WHEN substr(md5('contam:' || CAST(doc_id AS VARCHAR)), 1, 8)"
    "    < 'cccccccc' THEN 'train' ELSE 'test' END AS split"
    "  FROM documents),"
    " tk AS (SELECT doc_id, split, string_split("
    "  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t"
    "  FROM sp),"
    " grams AS (SELECT doc_id, split,"
    "  unnest(list_distinct([md5(array_to_string(t[i:i+7], ' '))"
    "   for i in range(1, len(t) - 6)])) AS gram"
    "  FROM tk WHERE len(t) >= 8),"
    " tr AS (SELECT DISTINCT gram FROM grams WHERE split = 'train'),"
    " ev AS (SELECT doc_id, gram FROM grams WHERE split = 'test'),"
    " per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams"
    "  FROM ev GROUP BY doc_id),"
    " hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated"
    "  FROM ev WHERE gram IN (SELECT gram FROM tr) GROUP BY doc_id)"
    " SELECT p.doc_id, n_grams,"
    "  COALESCE(n_contaminated, 0) AS n_contaminated,"
    "  CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_grams"
    "   AS contamination_ratio"
    " FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id"
    " WHERE COALESCE(n_contaminated, 0) > 0"
    " ORDER BY contamination_ratio DESC, p.doc_id",
)
def q_contamination(spark, sf_dir):
    """Benchmark decontamination through the driver gate: documents
    get a deterministic 80/20 hash split (operators/sampling), then
    every test-split doc is scored for distinct word-8-gram overlap
    with the ENTIRE train split (operators/contamination — grams
    shuffle as md5 keys, train side reduces to its distinct n-gram
    vocabulary, containment answered by one semi-join, no pairwise
    document comparison). Non-empty at sf0.01: exact duplicate
    documents land on both sides of the split and surface at
    contamination_ratio 1.0 — precisely the leak this operator
    exists to catch. (Replaced join_three_tables r3: ≥3-table joins
    are already driver-covered by the eight TPC-H entries.)"""
    from minisql_engine_spark.operators.contamination import (
        cross_split_contamination,
    )
    from minisql_engine_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    split = hash_split(
        docs, "doc_id", {"train": 0.8, "test": 0.2}, seed="contam"
    )
    return cross_split_contamination(split, n=8)


# --- TPC-H classic shapes (adapted to the driver star schema) --------------


@_register(
    "tpch_q3_shipping_priority",
    "SELECT l_orderkey,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))"
    "  * (1 - CAST(l_discount AS DECIMAL(25,2)))) AS DOUBLE) AS revenue,"
    " o_orderdate, o_orderpriority"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " WHERE c_mktsegment = 'BUILDING'"
    "  AND o_orderdate < TIMESTAMP '1995-03-15'"
    "  AND l_shipdate > TIMESTAMP '1995-03-15'"
    " GROUP BY l_orderkey, o_orderdate, o_orderpriority"
    " ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10",
)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority) adapted to the driver schema:
    selective dim filter → broadcast join → grouped revenue → top-10.
    Catalyst pushes both date predicates into the scans; only
    surviving rows join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp")
    dec = lambda col: F.col(col).cast("decimal(25,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            o.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            # customer scales with SF — no broadcast hint; AQE picks the
            # strategy from the measured post-filter size
            c.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey")
        )
        .limit(10)
    )


@_register(
    "tpch_q5_local_supplier_volume",
    "SELECT n_name,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))"
    "  * (1 - CAST(l_discount AS DECIMAL(25,2)))) AS DOUBLE) AS revenue"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey"
    " GROUP BY n_name",
)
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local supplier volume) adapted: 6-table star join
    with the customer-nation = supplier-nation locality predicate.

    Broadcast policy (100 TB rule): explicit ``F.broadcast`` ONLY on
    the fixed-cardinality dims (nation=25, region=5). customer and
    supplier grow linearly with SF, so their join strategy is left to
    Catalyst/AQE's size-based choice — broadcast at small SF,
    shuffle-hash/sort-merge once they outgrow the threshold."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dec = lambda col: F.col(col).cast("decimal(25,2)")  # noqa: E731
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@_register(
    "tpch_q10_returned_items",
    "SELECT c_custkey, c_name,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))"
    "  * (1 - CAST(l_discount AS DECIMAL(25,2)))) AS DOUBLE) AS revenue,"
    " c_acctbal, n_name"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " WHERE l_returnflag = 'R'"
    " GROUP BY c_custkey, c_name, c_acctbal, n_name"
    " ORDER BY revenue DESC, c_custkey LIMIT 20",
)
def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting) adapted: returnflag filter
    pushed to the lineitem scan, top-20 customers by lost revenue.
    customer is NOT hint-broadcast (it scales with SF — AQE decides);
    only the fixed 25-row nation dim keeps an explicit hint."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    dec = lambda col: F.col(col).cast("decimal(25,2)")  # noqa: E731
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_register(
    "tpch_q14_promo_effect",
    "SELECT CAST(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN"
    "   CAST(l_extendedprice AS DECIMAL(25,2))"
    "    * (1 - CAST(l_discount AS DECIMAL(25,2))) ELSE 0 END) AS DOUBLE)"
    " / CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))"
    "    * (1 - CAST(l_discount AS DECIMAL(25,2)))) AS DOUBLE) AS promo_revenue_pct,"
    " count(*) AS n_items"
    " FROM lineitem JOIN part ON l_partkey = p_partkey",
)
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect) adapted: conditional decimal sums
    with a LIKE predicate over the part dimension (broadcast); one
    ratio of two exact sums -> bit-stable."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    dec = lambda col: F.col(col).cast("decimal(25,2)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(25,2)")
    )
    return (
        # part scales with SF — no broadcast hint (AQE decides)
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct"),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "tpch_q7_volume_shipping",
    "SELECT supp_nation, cust_nation, l_year,"
    " CAST(sum(volume) AS DOUBLE) AS revenue FROM ("
    "  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,"
    "   year(l_shipdate) AS l_year,"
    "   CAST(l_extendedprice AS DECIMAL(25,2))"
    "    * (1 - CAST(l_discount AS DECIMAL(25,2))) AS volume"
    "  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey"
    "  JOIN orders ON o_orderkey = l_orderkey"
    "  JOIN customer ON c_custkey = o_custkey"
    "  JOIN nation n1 ON s_nationkey = n1.n_nationkey"
    "  JOIN nation n2 ON c_nationkey = n2.n_nationkey"
    "  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')"
    "     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))"
    "   AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'"
    "    AND TIMESTAMP '1997-12-31')"
    " GROUP BY supp_nation, cust_nation, l_year"
    " ORDER BY supp_nation, cust_nation, l_year",
)
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping) adapted: the two-nation join topology
    no other query has — the SAME 25-row nation dim joined TWICE under
    different roles (supplier side n1, customer side n2) with a
    symmetric cross-pair predicate. Both nation joins broadcast
    (fixed-cardinality); the shipdate range prunes the lineitem scan.
    The fact-fact joins (lineitem⋈orders⋈customer⋈supplier) are left to
    AQE — they shuffle on their keys at scale."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    dec = lambda col: F.col(col).cast("decimal(25,2)")  # noqa: E731
    volume = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    pair = (
        (F.col("n1.n_name") == "NATION_1") & (F.col("n2.n_name") == "NATION_2")
    ) | (
        (F.col("n1.n_name") == "NATION_2") & (F.col("n2.n_name") == "NATION_1")
    )
    return (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp"),
            )
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .filter(pair)
        .select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
            volume.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@_register(
    "tpch_q8_market_share",
    "SELECT o_year,"
    " CAST(sum(CASE WHEN nation = 'NATION_1' THEN volume"
    "  ELSE CAST(0 AS DECIMAL(25,2)) END) AS DOUBLE)"
    "  / CAST(sum(volume) AS DOUBLE) AS mkt_share FROM ("
    "  SELECT year(o_orderdate) AS o_year,"
    "   CAST(l_extendedprice AS DECIMAL(25,2))"
    "    * (1 - CAST(l_discount AS DECIMAL(25,2))) AS volume,"
    "   n2.n_name AS nation"
    "  FROM part JOIN lineitem ON p_partkey = l_partkey"
    "  JOIN supplier ON s_suppkey = l_suppkey"
    "  JOIN orders ON l_orderkey = o_orderkey"
    "  JOIN customer ON o_custkey = c_custkey"
    "  JOIN nation n1 ON c_nationkey = n1.n_nationkey"
    "  JOIN region ON n1.n_regionkey = r_regionkey"
    "  JOIN nation n2 ON s_nationkey = n2.n_nationkey"
    "  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'"
    "   AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'"
    "    AND TIMESTAMP '1996-12-31')"
    " GROUP BY o_year ORDER BY o_year",
)
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share) adapted: the widest join in the
    registry — 8 table instances (part, lineitem, supplier, orders,
    customer, nation×2, region) feeding a conditional-share ratio per
    year. Fixed dims (nation, region) broadcast; part/supplier/customer
    scale with SF so AQE picks their strategy. The p_type filter prunes
    part before its join; the orderdate range prunes orders."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    r = _t(spark, sf_dir, "region")
    dec = lambda col: F.col(col).cast("decimal(25,2)")  # noqa: E731
    volume = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    joined = (
        li.join(
            p.filter(F.col("p_type") == "ECONOMY"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            o.filter(
                F.col("o_orderdate").between(
                    F.lit("1995-01-01").cast("timestamp"),
                    F.lit("1996-12-31").cast("timestamp"),
                )
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n1.n_regionkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            F.col("n2.n_name").alias("nation"),
        )
    )
    share = F.when(
        F.col("nation") == "NATION_1", F.col("volume")
    ).otherwise(F.lit(0).cast("decimal(25,2)"))
    return (
        joined.groupBy("o_year")
        .agg(
            (
                F.sum(share).cast("double") / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_register(
    "tpch_q18_large_orders",
    "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,"
    " CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS total_qty"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON o_orderkey = l_orderkey"
    " WHERE o_orderkey IN ("
    "  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey"
    "  HAVING sum(CAST(l_quantity AS DECIMAL(25,2))) > 300)"
    " GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice"
    " ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
)
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers) adapted: the semi-join-on-
    aggregate topology — an IN-subquery whose inner side is itself a
    grouped HAVING aggregate over the fact table. Spark plans the IN as
    a left-semi join against the aggregated keys; at scale both sides
    shuffle on l_orderkey/o_orderkey and the semi filter runs before
    the customer join, so only qualifying orders reach it."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(25,2)")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("_qty"))
        .filter(F.col("_qty") > 300)
        .select("l_orderkey")
    )
    return (
        o.join(
            big_orders.withColumnRenamed("l_orderkey", "_big_orderkey"),
            F.col("o_orderkey") == F.col("_big_orderkey"),
            "left_semi",
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.sum(qty).cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# bucketed-table write memo: {(sf_dir, n_buckets): "ready"} — see
# q_bucketed_join docstring
_BUCKETED_MEMO: dict = {}


@_register(
    "bucketed_join_zero_shuffle",
    "SELECT c.c_custkey AS custkey, c_mktsegment,"
    " count(o_orderkey) AS n_orders,"
    " CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)"
    "  AS total_spend"
    " FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey"
    " GROUP BY c.c_custkey, c_mktsegment",
)
def q_bucketed_join(spark, sf_dir):
    """Bucketed-table co-located join (sources/bucketing.py): customer
    and orders are written ONCE into the session warehouse hash-
    bucketed on custkey, then joined AND aggregated on that same key —
    the entire plan (scan → sort-merge join → group-by) runs with ZERO
    Exchange, asserted here at plan level before the driver executes
    it. This is the repeated-join lever at 100 TB: the write-side
    shuffle is paid once, every later join/agg on the key is local.
    Broadcast is disabled during planning so the assertion tests the
    sort-merge path, not a trivially-broadcast small table.

    The bucketed tables are written ONCE per process per sf_dir
    (memoized) — repeated invocations (bench warm+timed, REPL reuse)
    must not re-pay the write-side shuffle inside the timed query;
    that is the entire point of bucketing."""
    from minisql_engine_spark.sources.bucketing import (
        drop_bucketed,
        write_bucketed,
    )

    key = (sf_dir, 8)
    if _BUCKETED_MEMO.get(key) != "ready" or not (
        spark.catalog.tableExists("drv_customer_b")
        and spark.catalog.tableExists("drv_orders_b")
    ):
        c = _t(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "custkey"
        )
        o = _t(spark, sf_dir, "orders").withColumnRenamed(
            "o_custkey", "custkey"
        )
        drop_bucketed(spark, "drv_customer_b")
        drop_bucketed(spark, "drv_orders_b")
        write_bucketed(c, "drv_customer_b", "custkey", n_buckets=8,
                       sort_by="custkey")
        write_bucketed(o, "drv_orders_b", "custkey", n_buckets=8,
                       sort_by="custkey")
        _BUCKETED_MEMO[key] = "ready"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("drv_customer_b").join(
            spark.table("drv_orders_b"), on=["custkey"]
        )
        out = (
            joined.groupBy("custkey", "c_mktsegment")
            .agg(
                F.count("o_orderkey").alias("n_orders"),
                R.exact_sum("o_totalprice", "total_spend"),
            )
        )
        # force planning NOW (while broadcast is off) and check the
        # zero-shuffle claim; QueryExecution caches the physical plan,
        # so the driver's later collect() reuses exactly this plan.
        # RuntimeError, not assert: this invariant must hold even
        # under python -O, which compiles asserts out.
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        if "Exchange" in plan:
            raise RuntimeError(f"bucketed plan shuffled:\n{plan}")
        if "SortMergeJoin" not in plan:
            raise RuntimeError(f"bucketed plan lost sort-merge:\n{plan}")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


# ===========================================================================
# §2.4 extension operators — LLM-training-data pipeline (BASELINE.json
# north star): text analysis, dedup families, similarity search.
# Hashes are md5-derived so even LSH banding is oracle-verified bit-exact.
# ===========================================================================

_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


# --- Text analysis ---------------------------------------------------------


@_register(
    "text_metrics",
    "WITH m AS (SELECT doc_id,"
    " CAST(length(text) AS BIGINT) AS n_chars_m,"
    " CAST(CASE WHEN trim(text)='' THEN 0"
    "   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,"
    " CAST(len(regexp_extract_all(text,"
    "   '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,"
    " CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,"
    " CAST(len(regexp_extract_all(lower(text),"
    "   '\\b(the|and|of|to|in|is|it|that|was|for)\\b')) AS BIGINT) AS n_stop"
    " FROM documents),"
    " c AS (SELECT doc_id, lang,"
    " CAST(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein|mit|von|zu)\\b')) AS BIGINT) AS n_de,"
    " CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|it|that|was|for)\\b')) AS BIGINT) AS n_en,"
    " CAST(len(regexp_extract_all(lower(text), '\\b(el|la|los|las|es|una|del|para|con|por)\\b')) AS BIGINT) AS n_es,"
    " CAST(len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|une|des|dans|pour|que)\\b')) AS BIGINT) AS n_fr,"
    " CAST(len(regexp_extract_all(lower(text), '\\b(de|shi|bu|le|wo|ni|ta|men|zai|you)\\b')) AS BIGINT) AS n_zh"
    " FROM documents),"
    f" fp AS (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint,"
    f"  substr(md5({_NORM_SQL}), 1, 1) AS fp_shard FROM documents),"
    " t AS (SELECT doc_id,"
    "  regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),"
    "   ' ') AS tk FROM documents),"
    " g AS (SELECT doc_id, CASE WHEN len(tk) >= 3 THEN"
    "   [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk)-1)]"
    "   ELSE [] END AS gs FROM t),"
    " r AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_trigrams,"
    "  CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct_trigrams,"
    "  CASE WHEN len(gs) > 0 THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)"
    "   / len(gs) ELSE 0.0 END AS repetition_ratio FROM g)"
    " SELECT m.doc_id, n_tokens AS n_ws_tokens, n_bpe_tokens,"
    "  CAST(n_punct AS DOUBLE) / greatest(n_chars_m, 1) AS punct_ratio,"
    "  CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) AS stop_ratio,"
    "  CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / greatest(n_tokens, 1) AS mean_word_len,"
    "  0.5 + least(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 0.3)"
    "      - least(CAST(n_punct AS DOUBLE) / greatest(n_chars_m, 1), 0.3)"
    "      + (CASE WHEN CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / greatest(n_tokens,1)"
    "              BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END) AS quality_score,"
    " lang, n_de, n_en, n_es, n_fr, n_zh,"
    " CASE WHEN greatest(n_de,n_en,n_es,n_fr,n_zh) = 0 THEN 'und'"
    "  WHEN n_de = greatest(n_de,n_en,n_es,n_fr,n_zh) THEN 'de'"
    "  WHEN n_en = greatest(n_de,n_en,n_es,n_fr,n_zh) THEN 'en'"
    "  WHEN n_es = greatest(n_de,n_en,n_es,n_fr,n_zh) THEN 'es'"
    "  WHEN n_fr = greatest(n_de,n_en,n_es,n_fr,n_zh) THEN 'fr'"
    "  ELSE 'zh' END AS lang_pred,"
    " fingerprint, fp_shard, n_trigrams, n_distinct_trigrams,"
    " repetition_ratio"
    " FROM m JOIN c ON c.doc_id = m.doc_id"
    " JOIN fp ON fp.doc_id = m.doc_id JOIN r ON r.doc_id = m.doc_id",
)
def q_text_metrics(spark, sf_dir):
    """The full §2.4 text-analysis surface in ONE map-side pass over
    documents: token counting (whitespace + BPE-ish regex), quality
    scoring (length / punctuation / stopword ratios), language-ID
    stopword heuristic (per-language counts + deterministic argmax),
    content fingerprinting (md5 + 16-way shard key), and repetition
    detection (word-trigram duplication ratio — the boilerplate
    gate). Spark evaluates all five families in a single Project —
    pure codegen expressions, no shuffle, one scan — while the oracle
    joins its four CTEs on doc_id; ratio arithmetic mirrors the
    oracle op-for-op so doubles are bit-equal. (Merged from the r2
    ``text_metrics`` + ``text_lang_fingerprint`` entries to free a
    driver-window slot for TPC-H Q1; r5 switched to the fused
    ``text_metrics_all``, which materializes each shared
    subexpression exactly once — VERDICT r3 task 3.)"""
    from minisql_engine_spark.operators.text import text_metrics_all

    docs = _t(spark, sf_dir, "documents")
    out = text_metrics_all(docs)
    return out.select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        "punct_ratio",
        "stop_ratio",
        "mean_word_len",
        "quality_score",
        "lang",
        "n_de",
        "n_en",
        "n_es",
        "n_fr",
        "n_zh",
        "lang_pred",
        "fingerprint",
        "fp_shard",
        "n_trigrams",
        "n_distinct_trigrams",
        "repetition_ratio",
    )


from minisql_engine_spark.queries.tpch import _Q1_SQL as _TPCH_Q1_ORACLE


@_register("tpch_q1_pricing_summary", _TPCH_Q1_ORACLE)
def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 (pricing summary) — the canonical scan-heavy
    aggregation: one pruned pass over lineitem, 8 exact aggregates
    over 6 groups, map-side partials around a 6-row exchange. Full
    suite: minisql_engine_spark/queries/tpch.py (Q1-Q22, the 15
    non-registry shapes oracle-verified in tests/test_tpch.py)."""
    from minisql_engine_spark.queries import tpch

    return tpch.q1(spark, sf_dir)


# --- Dedup family ----------------------------------------------------------


@_register(
    "dedup_exact",
    f"WITH d AS (SELECT doc_id, md5({_NORM_SQL}) AS content_hash FROM documents)"
    " SELECT min(doc_id) AS canonical_id, count(*) AS n_copies,"
    " content_hash FROM d GROUP BY content_hash",
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized content, deterministic
    min-id canonicalization (dedup family #1)."""
    from minisql_engine_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


_MINHASH_CTE = (
    # RECURSIVE for the connected-components closure appended by the
    # dedup_minhash_lsh oracle below (harmless for the other CTEs)
    f"WITH RECURSIVE d AS (SELECT doc_id, {_NORM_SQL} AS content FROM documents),"
    " tk AS (SELECT doc_id, string_split(content, ' ') AS t FROM d),"
    " sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]"
    "   for i in range(1, len(t)-1)]) AS shs FROM tk WHERE len(t) >= 3),"
    " ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),"
    " sigs AS (SELECT doc_id,"
    + ",".join(f" min(md5('{i}:' || s)) AS sig_{i}" for i in range(8))
    + " FROM ex GROUP BY doc_id),"
    " bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band,"
        f" md5(sig_{2*b} || '|' || sig_{2*b+1}) AS band_key FROM sigs"
        for b in range(4)
    )
    + "),"
    " cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
    "   FROM bands a JOIN bands b ON a.band = b.band"
    "   AND a.band_key = b.band_key AND a.doc_id < b.doc_id),"
    " sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),"
    " inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter FROM cand c"
    "   JOIN ex ea ON ea.doc_id = c.id_a"
    "   JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s"
    "   GROUP BY c.id_a, c.id_b)"
)


# verified pairs + transitive closure → min reachable id per node: the
# oracle twin of operators/clustering.connected_components. Shared by
# dedup_minhash_lsh and split_leakage_safe (the split assigns at
# cluster granularity, so its oracle replays the same closure).
_MINHASH_VERIFIED_COMP = (
    ", verified AS (SELECT id_a, id_b, jaccard FROM ("
    "   SELECT i.id_a, i.id_b,"
    "    floor(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)"
    "     * 1e6 + 0.5) / 1e6 AS jaccard"
    "   FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a"
    "   JOIN sizes sb ON sb.doc_id = i.id_b)"
    "  WHERE jaccard >= 0.5),"
    " nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM verified"
    "   UNION SELECT id_b FROM verified)),"
    " e2 AS (SELECT id_a AS s, id_b AS t FROM verified"
    "   UNION SELECT id_b, id_a FROM verified),"
    " reach(id, r) AS (SELECT id, id FROM nodes"
    "   UNION SELECT e2.t, reach.r FROM reach JOIN e2 ON e2.s = reach.id),"
    " comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"
)


@_register(
    "dedup_minhash_lsh",
    _MINHASH_CTE
    + _MINHASH_VERIFIED_COMP
    + " SELECT v.id_a, v.id_b, v.jaccard, c.component FROM verified v"
    " JOIN comp c ON c.id = v.id_a",
)
def q_dedup_minhash(spark, sf_dir):
    """MinHash(8)+LSH(4 bands×2) near-dup pairs with exact-Jaccard
    verification (dedup family #2), plus duplicate-CLUSTER resolution:
    each pair carries its connected component's canonical (min) id,
    computed by distributed min-label propagation
    (operators/clustering.py). The md5-string-min hash family makes
    the pipeline — signatures, banding, candidates — bit-reproducible
    in the oracle, and the closure is replayed there as a recursive
    CTE, so the iterative DataFrame algorithm itself is
    hash-verified."""
    from pyspark.storagelevel import StorageLevel

    from minisql_engine_spark.operators.clustering import (
        connected_components,
    )
    from minisql_engine_spark.materialize import hold
    from minisql_engine_spark.operators.dedup import minhash_lsh_dedup

    # pairs feed the closure AND the final join — persist so the
    # verify subtree (shingle-intersect join) executes once, not
    # three times; released with the other dedup intermediates
    pairs = hold(
        minhash_lsh_dedup(
            _t(spark, sf_dir, "documents"), threshold=0.5
        ).persist(StorageLevel.MEMORY_AND_DISK),
        "dedup",
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return pairs.join(
        comp.select(
            F.col("id").alias("id_a"), "component"
        ),
        "id_a",
    ).select("id_a", "id_b", "jaccard", "component")


_SIMHASH_CTE = (
    f"WITH d AS (SELECT doc_id, {_NORM_SQL} AS content FROM documents),"
    " tok AS (SELECT doc_id, unnest(string_split(content, ' ')) AS token FROM d),"
    " tf AS (SELECT doc_id, token, count(*) AS tf, md5(token) AS h"
    "   FROM tok GROUP BY doc_id, token),"
    " pos AS (SELECT doc_id, tf, h, unnest(range(0, 64)) AS j FROM tf),"
    # NB: (j // 4), not CAST(j/4 AS INT) — DuckDB CAST rounds-half-even
    # while Spark's cast truncates; floor-div matches Spark for j >= 0.
    " contrib AS (SELECT doc_id, j, tf * (2 * (CAST(floor("
    "   (strpos('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1)"
    "   / power(2, 3 - j % 4)) AS INT) % 2) - 1) AS contrib FROM pos),"
    " sums AS (SELECT doc_id, j, sum(contrib) AS s FROM contrib GROUP BY doc_id, j),"
    " fps AS (SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,"
    "   '' ORDER BY j) AS simhash FROM sums GROUP BY doc_id),"
    # Scale-safe banding (operators/dedup.py simhash_band_keys): 8
    # bands of 8-bit chunk keys (full recall through hamming 7, 99.8%
    # at 8) with an occupancy cap of 100 docs per bucket (linear
    # candidate bound) — mirrored band-for-band so the oracle verifies
    # the banding itself, cap included.
    " chunks AS (SELECT doc_id, c AS band, substr(simhash, c * 8 + 1, 8)"
    "   AS bk FROM fps, (SELECT unnest(range(0, 8)) AS c) t),"
    " occ AS (SELECT band, bk FROM chunks GROUP BY band, bk"
    "   HAVING count(*) <= 100),"
    " okb AS (SELECT c.doc_id, c.band, c.bk FROM chunks c"
    "   JOIN occ o ON c.band = o.band AND c.bk = o.bk),"
    " cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
    "   FROM okb a JOIN okb b ON a.band = b.band AND a.bk = b.bk"
    "   AND a.doc_id < b.doc_id)"
)


@_register(
    "dedup_simhash",
    _SIMHASH_CTE
    + " SELECT id_a, id_b, hamming FROM ("
    "   SELECT c.id_a, c.id_b, CAST(list_sum(["
    "     CASE WHEN substr(fa.simhash, x, 1) != substr(fb.simhash, x, 1)"
    "     THEN 1 ELSE 0 END for x in range(1, 65)]) AS BIGINT) AS hamming"
    "   FROM cand c JOIN fps fa ON fa.doc_id = c.id_a"
    "   JOIN fps fb ON fb.doc_id = c.id_b)"
    " WHERE hamming <= 8",
)
def q_dedup_simhash(spark, sf_dir):
    """SimHash-64 near-dup pairs: tf-weighted sign fingerprint, 8×8-bit
    banding with a 100-doc bucket cap (full recall through hamming 7,
    linear candidate bound — see simhash_near_dups for the occupancy
    math and the wide-key combine≥2 variant), exact Hamming verify
    (dedup family #3)."""
    from minisql_engine_spark.operators.dedup import simhash_near_dups

    out = simhash_near_dups(
        _t(spark, sf_dir, "documents"),
        max_hamming=8,
        n_chunks=8,
        bucket_cap=100,
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


@_register(
    "dedup_ngram_jaccard",
    f"WITH d AS (SELECT doc_id, source, {_NORM_SQL} AS c FROM documents),"
    " g AS (SELECT doc_id, source, list_distinct([substr(c, i, 3)"
    "   for i in range(1, len(c)-1)]) AS gs FROM d WHERE len(c) >= 3),"
    " ex AS (SELECT doc_id, source, unnest(gs) AS g FROM g),"
    " sz AS (SELECT doc_id, len(gs) AS n FROM g),"
    " inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter"
    "   FROM ex a JOIN ex b ON a.source = b.source AND a.g = b.g"
    "   AND a.doc_id < b.doc_id GROUP BY 1, 2)"
    " SELECT id_a, id_b, jaccard FROM ("
    "   SELECT i.id_a, i.id_b, floor(CAST(n_inter AS DOUBLE)"
    "    / (sa.n + sb.n - n_inter) * 1e6 + 0.5) / 1e6 AS jaccard"
    "   FROM inter i JOIN sz sa ON sa.doc_id = i.id_a"
    "   JOIN sz sb ON sb.doc_id = i.id_b)"
    " WHERE jaccard >= 0.7",
)
def q_dedup_ngram(spark, sf_dir):
    """Blocked character-3-gram Jaccard near-dup pairs (dedup family
    #4): all-pairs bounded per source block."""
    from minisql_engine_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), block_col="source", threshold=0.7
    )


# --- Similarity search -----------------------------------------------------

_EMB_CTE = (
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
    " q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),"
    " scored AS (SELECT query_id, vec_id AS neighbor_id,"
    "  round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv))"
    "   * sqrt(list_dot_product(v, v))), 6) AS score"
    "  FROM e CROSS JOIN q WHERE vec_id != query_id)"
)


@_register(
    "emb_cosine_topk",
    _EMB_CTE
    + " SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank FROM ("
    "   SELECT *, row_number() OVER (PARTITION BY query_id"
    "    ORDER BY score DESC, neighbor_id) AS rank FROM scored)"
    " WHERE rank <= 10",
)
def q_emb_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (§2.4 baseline):
    broadcast queries × corpus, fixed-fold double dot products,
    round(6) + id tiebreak → deterministic ranking."""
    from minisql_engine_spark.operators.similarity import brute_force_topk

    out = brute_force_topk(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@_register(
    "emb_near_dups",
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v"
    "  FROM embeddings)"
    " SELECT id_a, id_b, cos_sim FROM ("
    "  SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
    "   round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
    "    * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim"
    "  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)"
    " WHERE cos_sim >= 0.4",
)
def q_emb_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label (dedup
    family #5). Threshold 0.4 fits this corpus's cosine distribution
    (same-label max ≈ 0.47)."""
    from minisql_engine_spark.operators.similarity import embedding_near_dups

    return embedding_near_dups(
        _t(spark, sf_dir, "embeddings"), block_col="label", threshold=0.4
    )


from minisql_engine_spark.operators.similarity import DUCK_COS as _COS

# Lloyd-refinement CTE chain mirroring ivf_refined_centroids: the
# decimal-exact (order-independent) per-dimension means let the oracle
# replay the identical k-means iterations instead of trusting frozen
# centroid literals — the refined index is verified end-to-end.
_IVF_REFINE_ITERS = 2


def _ivf_refine_ctes(n_iter: int) -> str:
    # shared with operators/semdedup.py — one source for the replay
    from minisql_engine_spark.operators.similarity import (
        ivf_refine_ctes_sql,
    )

    return ivf_refine_ctes_sql(n_iter)


#: r6 operating point from the fair-query recall/latency curve
#: (tools/ann_curve.py, table in PLANS_r6.md): n_probe=8 lifts fair
#: recall 0.33 → 0.81 at flat local latency. Queries are ids 100–104
#: — DISJOINT from the first-ids seed vectors (the r5 correction:
#: seed-coincident queries inflate recall ~3×).
_IVF_QIDS = "(100,101,102,103,104)"
_IVF_N_PROBE = 8


def _ivf_oracle(qids: str, n_probe: int, recall_gate: float | None) -> str:
    """Lloyd-replay IVF oracle, parameterized: shared by
    `emb_ivf_topk` (fair queries, curve-chosen n_probe, in-row recall
    gate) and `ivf_index_search` (seeded queries, default n_probe —
    it proves the on-disk layout, not the operating point)."""
    head = (
        "WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        + _ivf_refine_ctes(_IVF_REFINE_ITERS)
        + f", cents AS (SELECT * FROM cents{_IVF_REFINE_ITERS}),"
        " assign AS MATERIALIZED (SELECT e.vec_id, c.cell, "
        + _COS.format(a="e.v", b="c.cv")
        + " AS sim FROM e CROSS JOIN cents c),"
        " corpus_cells AS (SELECT vec_id AS neighbor_id, cell FROM ("
        "   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id"
        "    ORDER BY sim DESC, cell) AS r FROM assign) WHERE r <= 1),"
        " query_cells AS (SELECT vec_id AS query_id, cell FROM ("
        "   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id"
        "    ORDER BY sim DESC, cell) AS r FROM assign"
        f"   WHERE vec_id IN {qids}) WHERE r <= {n_probe}),"
        " cand AS (SELECT DISTINCT query_id, neighbor_id"
        "   FROM corpus_cells JOIN query_cells USING (cell)"
        "   WHERE neighbor_id != query_id),"
        " scored AS (SELECT query_id, neighbor_id, "
        + _COS.format(a="q.v", b="n.v")
        + " AS score FROM cand JOIN e q ON q.vec_id = query_id"
        "   JOIN e n ON n.vec_id = neighbor_id)"
    )
    if recall_gate is None:
        return (
            head
            + " SELECT query_id, neighbor_id, score,"
            " CAST(rank AS BIGINT) AS rank FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY query_id"
            "   ORDER BY score DESC, neighbor_id) AS rank FROM scored)"
            " WHERE rank <= 10"
        )
    return (
        head
        + ", ann AS MATERIALIZED (SELECT query_id, neighbor_id, score, rank FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY score DESC, neighbor_id) AS rank FROM scored)"
        " WHERE rank <= 10),"
        # recall gate replayed too: brute-force cosine truth + overlap@10
        " bscored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
        + _COS.format(a="q.qv", b="e.v")
        + "  AS score FROM e CROSS JOIN (SELECT vec_id AS query_id,"
        f"    v AS qv FROM e WHERE vec_id IN {qids}) q"
        "   WHERE e.vec_id != q.query_id),"
        " brute AS (SELECT query_id, neighbor_id FROM (SELECT *,"
        "   row_number() OVER (PARTITION BY query_id"
        "    ORDER BY score DESC, neighbor_id) AS r FROM bscored)"
        "  WHERE r <= 10),"
        " rec AS (SELECT b.query_id,"
        "   floor(CAST(count(a.neighbor_id) AS DOUBLE)"
        "    / CAST(count(*) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS recall"
        "  FROM brute b LEFT JOIN ann a ON a.query_id = b.query_id"
        "   AND a.neighbor_id = b.neighbor_id GROUP BY b.query_id)"
        " SELECT ann.query_id, ann.neighbor_id, ann.score,"
        "  CAST(ann.rank AS BIGINT) AS rank, rec.recall"
        " FROM ann JOIN rec ON rec.query_id = ann.query_id"
        f" WHERE rec.recall >= {recall_gate}"
    )


_IVF_ORACLE = _ivf_oracle(_IVF_QIDS, _IVF_N_PROBE, 0.6)


@_register("emb_ivf_topk", _IVF_ORACLE)
def q_emb_ivf(spark, sf_dir):
    """IVF-Flat ANN top-k (§2.4 scale path #2): inverted-file cells
    with k-means-refined centroids (2 Lloyd steps from deterministic
    seeds, decimal-exact means), exact re-rank — the whole index
    INCLUDING the refinement iterations is SQL-expressible, so unlike
    most ANN systems this one is oracle-verified end-to-end (seeding,
    k-means, cells, probing, ranking). r6: runs at the curve-chosen
    operating point (n_probe=8 — fair recall 0.33→0.81, table in
    PLANS_r6.md) on FAIR queries (ids 100–104, disjoint from the
    first-ids seeds), and each query's rows carry its recall vs the
    brute-force top-10 with a ≥0.6 in-row gate, oracle-replayed — a
    recall regression drops that query's rows from the driver's
    recorded count."""
    from minisql_engine_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qids = [100, 101, 102, 103, 104]
    # materialize the two tiny (k·|queries|-row) intermediates once:
    # each feeds two consumer joins, and without the checkpoint the
    # IVF probe pipeline and the brute-force corpus scan both
    # execute twice (same fix as pq_topk_gated)
    ann = ivf_topk(
        emb, query_ids=qids, k=10, n_probe=_IVF_N_PROBE, refine_iters=2
    ).localCheckpoint(eager=False)
    brute = brute_force_topk(emb, query_ids=qids, k=10).localCheckpoint(
        eager=True
    )
    found = brute.select("query_id", "neighbor_id").join(
        ann.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = (
        brute.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(
            found.groupBy("query_id").agg(F.count("*").alias("n_found")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            (
                F.floor(
                    F.coalesce(F.col("n_found"), F.lit(0))
                    / F.col("n_true")
                    * F.lit(100.0)
                    + F.lit(0.5)
                ).cast("double")
                / F.lit(100.0)
            ).alias("recall"),
        )
    )
    return ann.join(
        F.broadcast(per_q.filter(F.col("recall") >= 0.6)), "query_id"
    ).select(
        "query_id",
        "neighbor_id",
        "score",
        F.col("rank").cast("bigint").alias("rank"),
        "recall",
    )


@_register(
    "array_explode_dim_stats",
    "WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,"
    "  unnest(CAST(embedding AS DOUBLE[])) AS val FROM embeddings)"
    " SELECT dim, count(*) AS n,"
    " CAST(sum(CAST(val AS DECIMAL(25,8))) AS DOUBLE) / count(val) AS dim_mean,"
    " max(val) AS dim_max"
    " FROM u GROUP BY dim",
)
def q_array_explode(spark, sf_dir):
    """LATERAL/posexplode array analytics (SURVEY §2.2 array-function
    row): per-dimension statistics across all embedding vectors — the
    array column unnested with ordinality, decimal-exact means."""
    e = _t(spark, sf_dir, "embeddings")
    u = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim0", "valf")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).cast("bigint").alias("dim"),  # 1-indexed like SQL
        F.col("valf").cast("double").alias("val"),
    )
    return u.groupBy("dim").agg(
        F.count("*").alias("n"),
        (
            F.sum(F.col("val").cast("decimal(25,8)")).cast("double")
            / F.count("val")
        ).alias("dim_mean"),
        F.max("val").alias("dim_max"),
    )


@_register(
    "pipeline_curation",
    "WITH scored AS (SELECT doc_id, text, lang,"
    "   CAST(CASE WHEN trim(text)='' THEN 0 ELSE"
    "    len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,"
    "   CAST(len(regexp_extract_all(lower(text),"
    "    '\\b(the|and|of|to|in|is|it|that|was|for)\\b')) AS BIGINT) AS n_stop"
    "  FROM documents),"
    " kept AS (SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    "    AS content_hash FROM scored"
    "  WHERE n_tokens >= 20 AND n_stop >= 2 AND lang = 'en'),"
    " deduped AS (SELECT content_hash, min(doc_id) AS keep_id,"
    "    count(*) AS n_copies, min(n_tokens) AS n_tokens"
    "  FROM kept GROUP BY content_hash),"
    # deterministic 80/10/10 split on the canonical id (operators/
    # sampling.hash_split): md5-prefix vs hex-threshold string compare
    " split AS (SELECT *, CASE"
    "   WHEN substr(md5('split:' || CAST(keep_id AS VARCHAR)), 1, 8)"
    "    < 'cccccccc' THEN 'train'"
    "   WHEN substr(md5('split:' || CAST(keep_id AS VARCHAR)), 1, 8)"
    "    < 'e6666666' THEN 'val'"
    "   ELSE 'test' END AS split FROM deduped)"
    " SELECT count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,"
    "  CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dups_removed,"
    "  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_train,"
    "  CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_val,"
    "  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_test"
    " FROM split",
)
def q_pipeline_curation(spark, sf_dir):
    """End-to-end curation composite — the engine's reason to exist:
    quality gate (length + stopword) → language filter → exact dedup →
    deterministic train/val/test split → corpus stats, all in ONE
    lazy plan (single scan of documents, one hash-aggregate on the
    content hash; filters run before hashing so rejected docs are
    never hashed; the split is a pure map-side md5-threshold
    projection — operators/sampling.py — so re-runs and the oracle
    route every document identically)."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim("text") == "", 0).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    ).cast("bigint")
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower("text"),
            F.lit(r"\b(the|and|of|to|in|is|it|that|was|for)\b"),
            0,
        )
    ).cast("bigint")
    kept = (
        docs.select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            n_stop.alias("n_stop"),
            F.md5(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
            ).alias("content_hash"),
        )
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("n_stop") >= 2)
            & (F.col("lang") == "en")
        )
    )
    deduped = kept.groupBy("content_hash").agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
        F.min("n_tokens").alias("n_tokens"),
    )
    from minisql_engine_spark.operators.sampling import hash_split

    split = hash_split(
        deduped, "keep_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.sum("n_copies") - F.count("*")).cast("bigint").alias(
            "n_dups_removed"
        ),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("bigint")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
    )


@_register("ml_lsh_suite", None)  # seeded ml hashing → rows-only, gated
def q_ml_lsh_suite(spark, sf_dir):
    """spark.ml library-path LSH, both estimators in one tagged
    result: MinHashLSH approxSimilarityJoin near-dup pairs (beside
    the md5-portable MinHash) and BucketedRandomProjectionLSH
    approxNearestNeighbors (library ANN). Rows-only: spark.ml hashing
    is engine-seeded, not SQL-reproducible — so the quality bar is
    wired INTO the result instead: each method's rows carry a
    ``quality`` column (minhash = fraction of the portable pipeline's
    exact-Jaccard≥0.9 pairs found, gate ≥0.9; brp = recall vs the
    exact euclidean top-10, gate ≥0.7, measured 0.9) and are emitted
    ONLY when the bar holds. A recall/agreement regression empties
    that method's rows, so the driver's hard rows-recorded signal
    catches it — not just tests/test_ml_lsh.py."""
    from minisql_engine_spark.operators.dedup import minhash_lsh_dedup
    from minisql_engine_spark.operators.ml_lsh import (
        ml_brp_nearest_neighbors,
        ml_minhash_near_dups,
    )
    from minisql_engine_spark.operators.similarity import _as_double

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    # pair tables are tiny but their LSH subtrees are not — each
    # feeds two consumers (quality gate + output), so materialize
    # once (same fix as the recall-gated ANN entries)
    ml_pairs = (
        ml_minhash_near_dups(docs)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            F.col("jaccard_distance").alias("dist"),
        )
        .localCheckpoint(eager=False)
    )
    strong = (
        minhash_lsh_dedup(docs, threshold=0.5)
        .filter(F.col("jaccard") >= 0.9)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
        )
        .localCheckpoint(eager=False)
    )
    agree = (
        strong.join(ml_pairs, ["id_a", "id_b"], "left_semi")
        .agg(F.count("*").alias("nf"))
        .crossJoin(strong.agg(F.count("*").alias("ns")))
        .select(
            F.when(F.col("ns") == 0, F.lit(1.0))
            .otherwise(F.round(F.col("nf") / F.col("ns"), 2))
            .alias("quality")
        )
    )
    pairs = (
        ml_pairs.crossJoin(F.broadcast(agree))
        .filter(F.col("quality") >= 0.9)
        .select(
            F.lit("minhash_lsh").alias("method"),
            "id_a", "id_b", "dist", "quality",
        )
    )

    ann_raw = ml_brp_nearest_neighbors(
        emb, query_id=0, k=10
    ).localCheckpoint(eager=False)
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    qv = vecs.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    true10 = (
        vecs.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.sqrt(
                F.aggregate(
                    F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .select(F.col("vec_id").alias("neighbor_id"))
    )
    rec = (
        true10.join(ann_raw.select("neighbor_id"), "neighbor_id", "left_semi")
        .agg(F.round(F.count("*") / 10, 2).alias("quality"))
    )
    ann = (
        ann_raw.crossJoin(F.broadcast(rec))
        .filter(F.col("quality") >= 0.7)
        .select(
            F.lit("brp_ann").alias("method"),
            F.col("query_id").cast("bigint").alias("id_a"),
            F.col("neighbor_id").cast("bigint").alias("id_b"),
            F.col("euclidean_distance").alias("dist"),
            "quality",
        )
    )
    return pairs.unionAll(ann)


def _lsh_ann_oracle() -> str:
    """Full SQL replay of the SRP-LSH ANN pipeline: plane derivation
    (md5 re-derived IN DuckDB), bucketing, hamming-1 multi-probe on
    the query side, candidate join, exact re-rank, AND the brute-force
    recall gate — so the approximate path is hash-verified end to end
    like the IVF and PQ pipelines, not merely recall-gated."""
    from minisql_engine_spark.operators.similarity import (
        DUCK_COS,
        N_PLANES,
        lsh_sig_ctes_sql,
    )

    p = N_PLANES
    return (
        "WITH e AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        + lsh_sig_ctes_sql()
        + ", qsig AS (SELECT vec_id AS query_id, t, bucket FROM sig"
        "   WHERE vec_id IN (0,1,2,3,4)),"
        # probe 0 = the query's own bucket; probe j>=1 = bit j flipped
        " probes AS (SELECT query_id, t, CASE WHEN j = 0 THEN bucket"
        "   ELSE substr(bucket, 1, j-1) ||"
        "    (CASE WHEN substr(bucket, j, 1) = '1' THEN '0' ELSE '1' END)"
        f"    || substr(bucket, j+1, {p} - j) END AS bucket"
        f"  FROM qsig, range(0, {p + 1}) jj(j)),"
        " cand AS (SELECT DISTINCT query_id, vec_id AS neighbor_id"
        "   FROM sig JOIN probes USING (t, bucket)"
        "   WHERE vec_id != query_id),"
        " scored AS (SELECT query_id, neighbor_id, "
        + DUCK_COS.format(a="q.v", b="n.v")
        + " AS score FROM cand JOIN e q ON q.vec_id = query_id"
        "   JOIN e n ON n.vec_id = neighbor_id),"
        " ann AS MATERIALIZED (SELECT query_id, neighbor_id, score, rank"
        "   FROM (SELECT *, row_number() OVER (PARTITION BY query_id"
        "    ORDER BY score DESC, neighbor_id) AS rank FROM scored)"
        "   WHERE rank <= 10),"
        " bscored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
        + DUCK_COS.format(a="q.qv", b="e.v")
        + "  AS score FROM e CROSS JOIN (SELECT vec_id AS query_id,"
        "    v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)) q"
        "   WHERE e.vec_id != q.query_id),"
        " brute AS (SELECT query_id, neighbor_id FROM (SELECT *,"
        "   row_number() OVER (PARTITION BY query_id"
        "    ORDER BY score DESC, neighbor_id) AS r FROM bscored)"
        "  WHERE r <= 10),"
        " rec AS (SELECT b.query_id,"
        "   floor(CAST(count(a.neighbor_id) AS DOUBLE)"
        "    / CAST(count(*) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS recall"
        "  FROM brute b LEFT JOIN ann a ON a.query_id = b.query_id"
        "   AND a.neighbor_id = b.neighbor_id GROUP BY b.query_id)"
        " SELECT ann.query_id, ann.neighbor_id, ann.score,"
        "  CAST(ann.rank AS BIGINT) AS rank, rec.recall"
        " FROM ann JOIN rec ON rec.query_id = ann.query_id"
        " WHERE rec.recall >= 0.8"
    )


@_register("emb_lsh_ann", _lsh_ann_oracle())
def q_emb_ann(spark, sf_dir):
    """LSH-bucketed ANN top-k (§2.4 scale path): deterministic
    sign-random-projection buckets (md5-derived hyperplanes) with
    hamming-1 multi-probe on the query side (measured recall 0.61 →
    0.99 at sf0.01), exact re-rank within bucket. Fully oracle-
    replayed (plane derivation from md5 re-done in DuckDB; signature
    fold verified bit-identical) — AND the recall bar stays wired
    INTO the result: each query's rows carry recall vs the
    brute-force top-k and are emitted ONLY when recall ≥ 0.8, so a
    recall regression still moves the driver's row count."""
    from minisql_engine_spark.operators.similarity import (
        brute_force_topk,
        lsh_ann_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    # tiny double-consumer intermediates materialized once — the
    # same fix as pq_topk_gated/emb_ivf_topk
    ann = lsh_ann_topk(
        emb, query_ids=qids, k=10, multi_probe=True
    ).localCheckpoint(eager=False)
    brute = brute_force_topk(emb, query_ids=qids, k=10).localCheckpoint(
        eager=True
    )
    found = brute.select("query_id", "neighbor_id").join(
        ann.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = (
        brute.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(
            found.groupBy("query_id").agg(F.count("*").alias("n_found")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            (
                F.floor(
                    F.coalesce(F.col("n_found"), F.lit(0))
                    / F.col("n_true")
                    * F.lit(100.0)
                    + F.lit(0.5)
                ).cast("double")
                / F.lit(100.0)
            ).alias("recall"),
        )
    )
    return ann.join(
        F.broadcast(per_q.filter(F.col("recall") >= 0.8)), "query_id"
    ).select(
        "query_id",
        "neighbor_id",
        "score",
        F.col("rank").cast("bigint").alias("rank"),
        "recall",
    )


# --- Grouping sets: ROLLUP + CUBE ------------------------------------------


@_register(
    "grouping_sets",
    "SELECT 'rollup' AS kind, coalesce(l_returnflag, 'ALL') AS k1,"
    " coalesce(l_linestatus, 'ALL') AS k2, count(*) AS n,"
    " CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS agg_val"
    " FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
    " UNION ALL"
    " SELECT 'cube', coalesce(o_orderstatus, 'ALL'),"
    " coalesce(o_orderpriority, 'ALL'), count(*),"
    " CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)"
    " FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)",
)
def q_grouping_sets(spark, sf_dir):
    """Grouping sets, both spellings (SURVEY §2.2 row 1): ROLLUP
    hierarchy totals over lineitem and a full CUBE over orders, each
    a single Expand + one aggregate pass (no extra scans per grouping
    combination), union-tagged into one result."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rollup = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(25,2)"))
            .cast("double")
            .alias("agg_val"),
        )
        .select(
            F.lit("rollup").alias("kind"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("k1"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("k2"),
            "n",
            "agg_val",
        )
    )
    cube = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
            .cast("double")
            .alias("agg_val"),
        )
        .select(
            F.lit("cube").alias("kind"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("k1"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("k2"),
            "n",
            "agg_val",
        )
    )
    return rollup.unionAll(cube)


# --- Date/time functions + interval arithmetic -----------------------------


@_register(
    "scalar_date_interval",
    "SELECT l_orderkey, l_linenumber,"
    " CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,"
    " CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,"
    " CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT)"
    "  AS ship_delay_days,"
    " o_orderdate + INTERVAL 30 DAY AS due_date,"
    " CAST(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY"
    "  THEN 1 ELSE 0 END AS BIGINT) AS late"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE l_linenumber = 1 AND l_orderkey <= 2000",
)
def q_scalar_date_interval(spark, sf_dir):
    """Date/time scalar functions + interval arithmetic (SURVEY §2.2
    row 7): EXTRACT year/month buckets, day differences, interval
    shifts, lateness flags — all JVM datetime expressions; the
    l_orderkey range predicate is pushed into both parquet scans."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    due = F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("l_linenumber") == 1) & (F.col("l_orderkey") <= 2000))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.month("o_orderdate").cast("bigint").alias("o_month"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("bigint")
            .alias("ship_delay_days"),
            due.alias("due_date"),
            F.when(F.col("l_shipdate") > due, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("late"),
        )
    )


# --- Multimodal columns ----------------------------------------------------


@_register(
    "multimodal_features",
    "WITH p AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),"
    " b AS (SELECT doc_id, [ (strpos('0123456789abcdef', substr(h, 2*i-1, 1)) - 1) * 16"
    "   + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1)"
    "   for i in range(1, 17)] AS bytes FROM p)"
    " SELECT doc_id,"
    " CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,"
    " 64 + (doc_id % 8) * 32 AS width,"
    " 64 + (doc_id % 5) * 48 AS height,"
    " CAST(len(bytes) AS BIGINT) AS n_bytes,"
    " CAST(list_sum(bytes) AS DOUBLE) / len(bytes) AS mean_byte"
    " FROM b",
)
def q_multimodal(spark, sf_dir):
    """Multimodal plumbing (§2.4): BinaryType payloads + typed
    metadata + Arrow-batched mapInPandas feature extraction. The
    payload bytes are md5-derived so the oracle reproduces the
    Python-side byte statistics arithmetically — proving the real
    binary path (JVM→Arrow→pandas→bytes) end-to-end."""
    from minisql_engine_spark.operators.multimodal import (
        extract_features,
        synthesize_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return extract_features(synthesize_payloads(docs))


# --- Streaming windows (batch-parity plans; true streaming in tests) -------


@_register(
    "events_fixed_windows",
    "WITH tumb AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,"
    "  event_type, count(*) AS n_events,"
    "  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value"
    "  FROM events GROUP BY 1, 2),"
    " s AS (SELECT event_type, value,"
    "  unnest([time_bucket(INTERVAL '30 minutes', ts),"
    "          time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])"
    "   AS window_start FROM events),"
    " sl AS (SELECT window_start, event_type, count(*) AS n_events,"
    "  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value"
    "  FROM s GROUP BY 1, 2)"
    " SELECT 'tumbling' AS kind, window_start,"
    "  window_start + INTERVAL '1 hour' AS window_end,"
    "  event_type, n_events, sum_value FROM tumb"
    " UNION ALL"
    " SELECT 'sliding', window_start,"
    "  window_start + INTERVAL '1 hour',"
    "  event_type, n_events, sum_value FROM sl",
)
def q_events_fixed_windows(spark, sf_dir):
    """Tumbling (1h) AND sliding (1h width / 30m slide) window
    aggregation (SURVEY §2.2 streaming row), union-tagged. The same
    functions run unchanged under readStream + watermark —
    tests/test_streaming.py asserts the streaming results are
    identical (Spark's unified batch/stream engine). The oracle
    materializes each event into both overlapping sliding windows via
    unnest."""
    from minisql_engine_spark.streaming import (
        sliding_event_agg,
        tumbling_event_agg,
    )

    ev = _t(spark, sf_dir, "events")
    tumb = tumbling_event_agg(ev, "1 hour").select(
        F.lit("tumbling").alias("kind"),
        "window_start",
        (F.col("window_start") + F.expr("INTERVAL 1 HOUR")).alias(
            "window_end"
        ),
        "event_type",
        "n_events",
        "sum_value",
    )
    slid = sliding_event_agg(ev, "1 hour", "30 minutes").select(
        F.lit("sliding").alias("kind"),
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        "sum_value",
    )
    return tumb.unionAll(slid)


@_register(
    "events_session_window",
    # NB: >= not > — Spark session windows are half-open [ts, ts+gap),
    # so an event landing exactly gap after the previous one opens a
    # NEW session; the oracle must agree at exact-gap spacing.
    "WITH o AS (SELECT user_id, ts,"
    "  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)"
    "   >= INTERVAL '5 minutes' OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)"
    "   IS NULL THEN 1 ELSE 0 END AS new_s FROM events),"
    " g AS (SELECT user_id, ts,"
    "  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o)"
    " SELECT user_id, min(ts) AS session_start,"
    "  max(ts) + INTERVAL '5 minutes' AS session_end,"
    "  count(*) AS n_events"
    " FROM g GROUP BY user_id, sid",
)
def q_events_session(spark, sf_dir):
    """Gap-based session windows (F.session_window): session end =
    last event + gap; the oracle rebuilds sessions with
    gaps-and-islands over the same data."""
    from minisql_engine_spark.streaming import session_event_agg

    return session_event_agg(_t(spark, sf_dir, "events"), "5 minutes")


# --- PIVOT -----------------------------------------------------------------


@_register(
    "pivot_status_by_segment",
    "SELECT c_mktsegment,"
    " count(*) FILTER (o_orderstatus = 'O') AS O,"
    " count(*) FILTER (o_orderstatus = 'F') AS F,"
    " count(*) FILTER (o_orderstatus = 'P') AS P"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " GROUP BY c_mktsegment",
)
def q_pivot(spark, sf_dir):
    """PIVOT (wide conditional aggregation): order-status counts per
    market segment; explicit value list keeps the schema static (the
    scalable form — value discovery would need an extra pass)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    piv = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return piv.select(
        "c_mktsegment",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ("O", "F", "P")],
    )


# --- UDTF: document chunking (LLM training-data transform) -----------------


@_register(
    "udtf_chunk_documents",
    "WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)),"
    "  '\\s+') AS tk FROM documents WHERE trim(text) != ''),"
    " x AS (SELECT doc_id, tk, len(tk) AS n,"
    "  unnest(range(0, (len(tk) + 49) // 50)) AS chunk_idx FROM t)"
    " SELECT doc_id, chunk_idx,"
    "  least(50, n - chunk_idx * 50) AS n_tokens,"
    "  array_to_string(tk[chunk_idx * 50 + 1 : (chunk_idx + 1) * 50], ' ')"
    "   AS chunk"
    " FROM x",
)
def q_udtf_chunks(spark, sf_dir):
    """Python UDTF (SURVEY §2.2 UDTF row): LATERAL-applied fixed-size
    token chunker — the canonical LLM pre-training transform; chunk
    boundaries are arithmetic, so the oracle slices the same chunks."""
    from minisql_engine_spark.functions import chunk_documents

    return chunk_documents(spark, _t(spark, sf_dir, "documents"))


# --- UDAF: grouped-agg pandas_udf ------------------------------------------


@_register(
    "udaf_weighted_avg",
    "SELECT l_returnflag,"
    " CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
    "   * CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)"
    " / CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)"
    "  AS wavg_price"
    " FROM lineitem GROUP BY l_returnflag",
)
def q_udaf_wavg(spark, sf_dir):
    """Grouped-aggregate Pandas UDF (UDAF surface): exact integer-cents
    accumulation through Arrow; verified bit-for-bit by the oracle."""
    from minisql_engine_spark.functions import weighted_avg_price_udaf

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_avg_price_udaf("l_extendedprice", "l_quantity").alias(
            "wavg_price"
        )
    )


# --- As-of join (temporal operator Spark lacks natively) -------------------


@_register(
    "asof_join_events",
    "WITH err AS (SELECT event_id, user_id, ts FROM events"
    "   WHERE event_type = 'error'),"
    " pur AS (SELECT user_id, ts, max(value) AS value FROM events"
    "   WHERE event_type = 'purchase' GROUP BY user_id, ts)"
    " SELECT e.event_id, e.user_id, e.ts, p.ts AS asof_ts,"
    "  p.value AS asof_value"
    " FROM err e ASOF LEFT JOIN pur p"
    "  ON e.user_id = p.user_id AND e.ts >= p.ts",
)
def q_asof_join(spark, sf_dir):
    """Backward as-of join (operators/asof.py): for each 'error'
    event, the latest 'purchase' by the same user at-or-before it —
    one shuffle + windowed carry-forward, verified against DuckDB's
    native ASOF JOIN."""
    from minisql_engine_spark.operators.asof import asof_join_backward

    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return asof_join_backward(
        err, pur, on="user_id", left_ts="ts", right_ts="ts",
        right_values=["value"],
    )


# --- Grouped applyInPandas (UDF surface) -----------------------------------


@_register(
    "pandas_group_features",
    "SELECT o_custkey AS c_custkey, count(*) AS n_orders,"
    " CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)"
    "  AS total_cents,"
    " min(o_orderdate) AS first_order, max(o_orderdate) AS last_order"
    " FROM orders GROUP BY o_custkey",
)
def q_pandas_features(spark, sf_dir):
    """Grouped applyInPandas (SURVEY §2.2 UDF row): per-customer
    features computed in pandas with integer-cents accumulation —
    exact, so the Arrow path is oracle-verified bit-for-bit."""
    from minisql_engine_spark.functions import customer_order_features

    return customer_order_features(_t(spark, sf_dir, "orders"))


# --- Theta / range join ----------------------------------------------------


@_register(
    "range_join_bands",
    "WITH bands(band, lo, hi) AS (VALUES"
    "  ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),"
    "  ('high', 150000.0, 100000000.0))"
    " SELECT band, count(*) AS n_orders,"
    " CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS revenue"
    " FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi"
    " GROUP BY band",
)
def q_range_join(spark, sf_dir):
    """Non-equi (range) join — impossible in the reference, whose
    comparator token was discarded (Q1). Tiny band table broadcasts →
    BroadcastNestedLoopJoin, the right plan at any fact size; for
    big-to-big range joins, bucketize the range key first."""
    orders = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
         ("high", 150000.0, 1e8)],
        ["band", "lo", "hi"],
    )
    cond = (F.col("o_totalprice") >= F.col("lo")) & (
        F.col("o_totalprice") < F.col("hi")
    )
    return (
        orders.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            R.exact_sum("o_totalprice", "revenue"),
        )
    )


# --- JSON scalar functions -------------------------------------------------


@_register(
    "json_extract_props",
    "SELECT event_type,"
    " count(*) AS n,"
    " CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,"
    " CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k"
    " FROM events GROUP BY event_type",
)
def q_json_props(spark, sf_dir):
    """JSON scalar functions (SURVEY §2.2 row 7) over the events
    ``props`` column: get_json_object is a JVM expression — no Python,
    pushdown-friendly."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@_register(
    "streaming_stateful_user_stats",
    "SELECT user_id, count(*) AS n_events,"
    " CAST(sum(CAST(round(value * 1000, 0) AS BIGINT)) AS DOUBLE) / 1000.0"
    "  AS sum_value"
    " FROM events GROUP BY user_id",
)
def q_stateful_stream(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    this callable runs a REAL streaming query (availableNow trigger,
    state store, memory sink) and returns the final per-user state —
    which must equal the batch aggregate the oracle computes. The one
    queries() entry that executes through the streaming engine."""
    import uuid as _uuid

    from minisql_engine_spark.streaming import (
        read_events_stream,
        stateful_user_stats,
    )

    name = f"_stateful_{_uuid.uuid4().hex[:8]}"
    q = (
        stateful_user_stats(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # In update mode the sink holds one row per user per micro-batch;
    # if availableNow ever splits the input (>1 file, maxFilesPerTrigger)
    # the table contains stale intermediate rows. Reduce to the FINAL
    # state: n_events strictly increases per emitted row, so max_by is
    # exact (not dependent on single-batch layout).
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        )
    )


# --- Streaming dedup + stream-stream interval join (r5 rotation) -----------
# (pytest-proven since r3 — tests/test_streaming.py replays both against
# batch and oracle; these entries run the REAL streaming engine in the
# driver gate like streaming_stateful_user_stats.)


@_register(
    "streaming_dedup",
    # oracle = batch aggregate over each event ONCE: the streaming
    # side reads the source TWICE (at-least-once replay) and must
    # dedup back to exactly-once or the counts/sums double
    "SELECT event_type, count(*) AS n_events,"
    " CAST(sum(CAST(round(value * 1000, 0) AS BIGINT)) AS DOUBLE)"
    "  / 1000.0 AS sum_value"
    " FROM events GROUP BY event_type",
)
def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup under at-least-once delivery: the event
    stream is unioned with a second read of the same source (the
    replayed-Kafka-offsets shape), piped through
    ``dropDuplicatesWithinWatermark(event_id)`` (state evicted as the
    watermark advances — the only shape that survives an unbounded
    stream), and the deduped append output must aggregate to exactly
    the batch numbers over each event once."""
    import uuid as _uuid

    from minisql_engine_spark.streaming import (
        read_events_stream,
        stream_dedup_events,
    )

    dup = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    ded = stream_dedup_events(dup, keys=("event_id",), within="10 minutes")
    name = f"_sdedup_{_uuid.uuid4().hex[:8]}"
    q = (
        ded.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(
                    F.round(F.col("value") * 1000, 0).cast("bigint")
                ).cast("double")
                / 1000.0
            ).alias("sum_value"),
        )
    )


@_register(
    "streaming_interval_join",
    "WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts"
    "  FROM events WHERE event_type = 'click'),"
    " p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts"
    "  FROM events WHERE event_type = 'purchase')"
    " SELECT purchase_id, p.user_id, purchase_ts, click_id, click_ts,"
    "  (epoch_us(purchase_ts) - epoch_us(click_ts)) // 1000000"
    "   AS lag_seconds"
    " FROM p JOIN c ON p.user_id = c.user_id"
    " AND click_ts <= purchase_ts"
    " AND click_ts >= purchase_ts - INTERVAL 2 HOUR",
)
def q_streaming_interval_join(spark, sf_dir):
    """Stream-stream interval join run on the REAL streaming engine
    (symmetric stateful join, watermark-bounded state, append mode —
    a pair emits once both sides arrived): click→purchase attribution
    within a 2-hour window, exact-microsecond lag arithmetic. The
    memory-sink result must hash-equal the batch/SQL join."""
    import uuid as _uuid

    from minisql_engine_spark.streaming import (
        attribution_join_events,
        read_events_stream,
    )

    stream = attribution_join_events(read_events_stream(spark, sf_dir))
    name = f"_sattr_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


# --- Round-5 rotation: previously pytest-only operators ---------------------
# (VERDICT r3 task 2 — these had DuckDB-oracle pytest coverage since r3
# but never a driver CORRECTNESS row; six long-proven §2.1/§2.2 slots
# move to _ARCHIVED to make room, still pytest-verified every run.)


@_register(
    "tfidf_keywords",
    None,  # filled below — built from the operator's SQL twin
)
def q_tfidf_keywords(spark, sf_dir):
    """Exact smoothed TF-IDF with per-doc top-5 keyword extraction
    (§2.4 text-features; relational formulation, not HashingTF —
    exact per-term weights, oracle-replayable; tokens explode once,
    two partial-agg shuffles, WindowGroupLimit for the top-k)."""
    from minisql_engine_spark.operators.tfidf import tfidf_terms

    return tfidf_terms(_t(spark, sf_dir, "documents"), top_k=5)


def _tfidf_oracle() -> str:
    from minisql_engine_spark.operators.tfidf import tfidf_terms_sql

    # n_docs=None → scalar-subquery corpus size, so the string is
    # static across scale factors
    return tfidf_terms_sql(None, top_k=5)


_ORACLES["tfidf_keywords"] = _tfidf_oracle()


@_register(
    "stats_histogram",
    None,
)
def q_stats_histogram(spark, sf_dir):
    """Fixed-bucket value histogram over lineitem.l_extendedprice
    (data-quality stat): one pass, map-side pure-arithmetic bucket
    assignment, partial agg, sentinel under/overflow buckets —
    bit-identical boundaries in both engines."""
    from minisql_engine_spark.operators.stats import value_histogram

    return value_histogram(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice",
        lo=0.0, hi=80000.0, n_buckets=16,
    )


def _histogram_oracle() -> str:
    from minisql_engine_spark.operators.stats import value_histogram_sql

    return value_histogram_sql(
        "lineitem", "l_extendedprice", lo=0.0, hi=80000.0, n_buckets=16
    )


_ORACLES["stats_histogram"] = _histogram_oracle()


@_register(
    "stats_quantiles",
    None,
)
def q_stats_quantiles(spark, sf_dir):
    """Exact interpolated quantiles of o_totalprice per order status
    (sort-based agg, spillable; Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the a+(b−a)·frac interpolation, so the
    surface is bit-comparable — unlike sketch quantiles)."""
    from minisql_engine_spark.operators.stats import exact_quantiles

    return exact_quantiles(
        _t(spark, sf_dir, "orders"), "o_totalprice",
        group_by="o_orderstatus",
    )


def _quantiles_oracle() -> str:
    from minisql_engine_spark.operators.stats import exact_quantiles_sql

    return exact_quantiles_sql(
        "orders", "o_totalprice", group_by="o_orderstatus"
    )


_ORACLES["stats_quantiles"] = _quantiles_oracle()


@_register(
    "timeseries_resample",
    None,
)
def q_timeseries_resample(spark, sf_dir):
    """Per-user 6-hour resample with forward fill over the events
    stream (time-series gap filling): floor-aligned integer slot
    arithmetic (exact `div`, ADVICE r4), per-key dense grid via
    sequence-explode, last-observation window carry."""
    from minisql_engine_spark.operators.timeseries import (
        resample_forward_fill,
    )

    return resample_forward_fill(
        _t(spark, sf_dir, "events"), step_seconds=6 * 3600
    )


def _resample_oracle() -> str:
    from minisql_engine_spark.operators.timeseries import (
        resample_forward_fill_sql,
    )

    return resample_forward_fill_sql(step_seconds=6 * 3600)


_ORACLES["timeseries_resample"] = _resample_oracle()


@_register(
    "pii_redaction",
    None,
)
def q_pii_redaction(spark, sf_dir):
    """PII scrubbing over the documents corpus (curation-pipeline
    stage): per-pattern hit counts + redacted text, map-side only —
    patterns restricted to the Java-regex ∩ RE2 portable subset so
    the DuckDB oracle replays them verbatim."""
    from minisql_engine_spark.operators.redaction import (
        DEFAULT_PATTERNS,
        redact_pii,
    )

    out = redact_pii(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        *[f"n_{name}" for name, _, _ in DEFAULT_PATTERNS],
        "n_pii_total",
        "redacted",
    )


def _redaction_oracle() -> str:
    from minisql_engine_spark.operators.redaction import (
        DEFAULT_PATTERNS,
        redact_pii_sql,
    )

    select_list = redact_pii_sql()
    names = [f"n_{name}" for name, _, _ in DEFAULT_PATTERNS]
    return (
        f"SELECT doc_id, {', '.join(names)}, n_pii_total, redacted"
        f" FROM (SELECT doc_id, {select_list} FROM documents)"
    )


_ORACLES["pii_redaction"] = _redaction_oracle()


@_register("ivf_index_search", _ivf_oracle("(0,1,2,3,4)", 2, None))
def q_ivf_index_search(spark, sf_dir):
    """Search of the PERSISTED cell-partitioned IVF index (§2.4 scale
    path #3): the index is written as one parquet directory per cell,
    queries broadcast, the corpus read partition-pruned to the probed
    cells. Same centroids/probing/ranking as emb_ivf_topk, so the
    identical end-to-end Lloyd-replay oracle applies — this entry
    proves the on-disk layout and pruned read, not new math."""
    import hashlib
    import tempfile

    from minisql_engine_spark.operators.ann_index import (
        ivf_index_topk,
        write_ivf_index,
    )
    from minisql_engine_spark.materialize import release

    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_ivf_{tag}")
    # rebuild once per process (stale on-disk indexes from earlier
    # runs must not leak into this one)
    if path not in _IVF_BUILT:
        write_ivf_index(emb, path, refine_iters=2)
        release("centroids")
        _IVF_BUILT.add(path)
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2, 3, 4]))
    out = ivf_index_topk(spark, path, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


_IVF_BUILT: set[str] = set()


# --- Round-5 additions: training-run composition operators ------------------
# (§2.4 training-pipeline surface: after curation/dedup, a pretraining
# job still needs the corpus laid out as fixed-length sequences and
# mixed to per-source token targets — both here as pure window/explode
# arithmetic, oracle-replayed exactly.)

@_register(
    "corpus_vocabulary",
    "WITH toks AS (SELECT doc_id, unnest(string_split("
    " regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))"
    "  AS token FROM documents WHERE trim(text) <> '')"
    " SELECT token, CAST(count(*) AS BIGINT) AS tf,"
    " CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq"
    " FROM toks GROUP BY token",
)
def q_corpus_vocabulary(spark, sf_dir):
    """Corpus vocabulary audit (§2.4 text-features): (token, tf,
    doc_freq) over normalized whitespace tokens — the table every
    tokenizer-training and df-based-filter step reads. One token
    shuffle with map-side partial aggregation (plan-gated in
    test_plans.py); pytest-oracled since r3, first driver row r5."""
    from minisql_engine_spark.operators.text import vocabulary_stats

    return vocabulary_stats(_t(spark, sf_dir, "documents"))


_PACK_CAP = 512  # tokens per training sequence


@_register(
    "sequence_packing",
    None,  # filled below — built from the operator's SQL twin
)
def q_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing: lay documents end-to-end in
    md5-sharded deterministic order and slice every 512 tokens —
    the (sequence, document, token-range) assignment a pretraining
    loader consumes. One shuffle (shard hash), per-shard window
    cumsum, integer-exact slicing; shards pack independently so the
    layout is embarrassingly parallel at 100 TB
    (operators/packing.py)."""
    from minisql_engine_spark.operators.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), capacity=_PACK_CAP
    )


def _packing_oracle() -> str:
    from minisql_engine_spark.operators.packing import pack_sequences_sql

    return pack_sequences_sql("documents", capacity=_PACK_CAP)


_ORACLES["sequence_packing"] = _packing_oracle()


#: 8 of the 20 corpus sources get weight (the rest must be dropped);
#: 6 000 tokens ≈ half the sf0.01 corpus, so some allowances bind
#: (cutoff + straddler semantics exercised) while heavy sources
#: exhaust their data (keep-all semantics exercised).
_MIX_WEIGHTS = {
    "src0": 4.0,
    "src1": 2.0,
    "src2": 2.0,
    "src3": 1.0,
    "src4": 1.0,
    "src7": 0.5,
    "src12": 0.5,
    "src19": 1.0,
}
_MIX_BUDGET = 6_000


@_register(
    "mixture_sample",
    None,
)
def q_mixture_sample(spark, sf_dir):
    """Token-budget corpus mixture: deterministically select docs per
    source in md5-priority order until each source's
    floor(weight·budget) token allowance fills (straddler kept, audit
    columns carried). Row-rate sampling misses token targets by the
    doc-length spread; this is the composition step of a pretraining
    mix (operators/mixture.py)."""
    from minisql_engine_spark.operators.mixture import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"), _MIX_WEIGHTS, _MIX_BUDGET
    )


def _mixture_oracle() -> str:
    from minisql_engine_spark.operators.mixture import mixture_sample_sql

    return mixture_sample_sql("documents", _MIX_WEIGHTS, _MIX_BUDGET)


_ORACLES["mixture_sample"] = _mixture_oracle()


#: r7 operating point (the r6-verdict lever pulled): rerank_factor 16
#: — by the r6 curve the 5→16 jump moves fair recall decisively, and
#: measured at sf0.01 on FAIR queries (ids 100–104, disjoint from the
#: first-32-ids codebook seeds — the same seed-coincidence correction
#: emb_ivf_topk got in r5) per-query recall@10 is 1.0 at flat cost
#: (4.5 s → 2.3 s locally: the shortlist is re-ranked by one codegen
#: expression, so a wider shortlist amortizes better than the extra
#: ADC rank rows cost).
_PQ_KW = dict(
    m_sub=16, k_codes=32, n_iter=2, rerank_factor=16,
    train_sample_rate=0.25,
)
_PQ_QIDS = [100, 101, 102, 103, 104]
_PQ_RECALL_GATE = 0.6


@_register(
    "emb_pq_topk",
    None,  # filled below — full pipeline replay from the SQL twin
)
def q_emb_pq_topk(spark, sf_dir):
    """Product-Quantization ANN (§2.4 similarity scale path #4,
    Jégou et al. TPAMI'11): 16 subspaces × 32 codes k-means'd with
    decimal-exact Lloyd over a 25% md5 training sample (how PQ is
    deployed — nobody Lloyds the full corpus to fit 512 centroids;
    recall unchanged, PLANS_r5.md), corpus encoded to 16 small ints
    (16× memory compression — what makes a 100 TB index
    RAM-resident), queries ranked by broadcast ADC table lookups,
    exact-L2 re-rank of the 160-deep shortlist. Fair queries +
    curve-chosen rerank_factor=16 + per-query in-row recall ≥0.6
    gate (recall@10 = 1.0 at sf0.01), with seeding, training sample,
    every k-means step, encoding, ADC, re-rank AND the recall gate
    itself replayed by the oracle. Hot path is scalar-column codegen
    arithmetic with self-dots hoisted below the joins."""
    from minisql_engine_spark.operators.pq import pq_topk_gated

    return pq_topk_gated(
        _t(spark, sf_dir, "embeddings"),
        query_ids=_PQ_QIDS,
        k=10,
        recall_gate=_PQ_RECALL_GATE,
        **_PQ_KW,
    )


def _pq_oracle() -> str:
    from minisql_engine_spark.operators.pq import pq_topk_sql

    return pq_topk_sql(
        _PQ_QIDS, k=10, recall_gate=_PQ_RECALL_GATE, **_PQ_KW
    )


_ORACLES["emb_pq_topk"] = _pq_oracle()


# --- Round-5 session-3 additions: retrieval + LM quality scoring ------------
# (§2.4 curation surface: lexical search over the corpus and CCNet-style
# perplexity bucketing — both exact relational formulations with full
# DuckDB oracles; see operators/retrieval.py and operators/lm_score.py
# for the scale notes.)

#: fixed literal query set — same pairs feed the Spark side and the
#: oracle, so the driver check replays the identical retrieval run
_BM25_QUERIES = [
    ("q1", "hash join spark"),
    ("q2", "window sort order"),
    ("q3", "customer query fast scan"),
]


@_register(
    "bm25_retrieval",
    None,  # filled below — built from the operator's SQL twin
)
def q_bm25_retrieval(spark, sf_dir):
    """Okapi BM25 top-10 per query over the documents corpus
    (Lucene-style positive idf, k1=1.2/b=0.75). Tokens explode once;
    tf/dl share one hash aggregate; the query-term set broadcast-
    restricts df/score work before any corpus-wide join; top-k is a
    WindowGroupLimit — nothing quadratic (operators/retrieval.py)."""
    from minisql_engine_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), _BM25_QUERIES, k=10
    )


def _bm25_oracle() -> str:
    from minisql_engine_spark.operators.retrieval import bm25_topk_sql

    return bm25_topk_sql(_BM25_QUERIES, k=10)


_ORACLES["bm25_retrieval"] = _bm25_oracle()


@_register(
    "lm_perplexity_buckets",
    None,  # filled below — built from the operator's SQL twin
)
def q_lm_perplexity_buckets(spark, sf_dir):
    """Unigram-LM perplexity scoring + head/middle/tail tercile
    buckets (the CCNet quality-filter stage). Corpus-trained
    Laplace-smoothed model, so the whole operator is exact and
    oracle-replayed; buckets come from a broadcast single-row
    percentile join, NOT a global ntile window
    (operators/lm_score.py)."""
    from minisql_engine_spark.operators.lm_score import lm_perplexity

    return lm_perplexity(_t(spark, sf_dir, "documents"))


def _lm_ppl_oracle() -> str:
    from minisql_engine_spark.operators.lm_score import lm_perplexity_sql

    return lm_perplexity_sql()


_ORACLES["lm_perplexity_buckets"] = _lm_ppl_oracle()


@_register(
    "semantic_dedup",
    None,  # filled below — built from the operator's SQL twin
)
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings
    (the engine's Lloyd-refined IVF index), exact-cosine pair search
    ONLY within cells (max_block_size guard → SRP-LSH on collapse),
    connected-components group resolution, min-id keep rule. The
    whole pipeline — Lloyd iterations, argmax assignment, pair
    search, closure — is replayed by the oracle
    (operators/semdedup.py). Since r13 the row runs the
    scale-correct AUTO cell count (n_cells ≈ √n from one corpus
    count, clamped [4, 4096] — 22 cells at sf0.01 vs the old
    constant 16): cell population stays ≈ √n as the corpus grows
    instead of leaning on the LSH fallback guard. The oracle derives
    the SAME count in-query (AUTO_N_CELLS_SQL scalar-subquery LIMIT),
    so the twin adapts with the data; hash re-certified r13."""
    from minisql_engine_spark.operators.semdedup import semantic_dedup

    return semantic_dedup(_t(spark, sf_dir, "embeddings"))


def _semdedup_oracle() -> str:
    from minisql_engine_spark.operators.semdedup import semantic_dedup_sql

    return semantic_dedup_sql()


_ORACLES["semantic_dedup"] = _semdedup_oracle()


@_register(
    "lsh_recall_audit",
    None,  # filled below — the audit's term-for-term SQL twin
)
def q_lsh_recall_audit(spark, sf_dir):
    """LSH banding recall audit (operators/dedup.py, r12; promoted
    r13): per sampled query doc, of the pairs whose EXACT shingle
    Jaccard ≥ 0.5 (integer-exact inter·10⁶ DIV union over the
    inverted-shingle cooccurrence join), how many does the
    production MinHash banding surface as candidates? The
    due-diligence measurement before trusting a (num_hashes,
    band_size) operating point — the dedup family's analogue of the
    matryoshka/IVF recall audits. Registered with the ABSOLUTE
    n_queries=40 budget from the start (smallest decision hashes,
    oracle-replayed ORDER BY hash LIMIT n): work is
    O(n_queries·shingle-cooccurrence) at ANY corpus size — the
    linear-audit idiom the matryoshka row had to be re-certified
    onto. Detection is judged at candidate level (banding is the
    recall-lossy stage; verification after it is exact); queries
    with no true pair emit recall NULL, keeping the sample visible
    and hash-stable."""
    from minisql_engine_spark.operators.dedup import lsh_recall_audit

    return lsh_recall_audit(
        _t(spark, sf_dir, "documents"), n_queries=40
    )


def _lsh_recall_oracle() -> str:
    from minisql_engine_spark.operators.dedup import (
        lsh_recall_audit_sql,
    )

    return lsh_recall_audit_sql(n_queries=40)


_ORACLES["lsh_recall_audit"] = _lsh_recall_oracle()


@_register(
    "dsir_importance",
    None,  # filled below — built from the operator's SQL twin
)
def q_dsir_importance(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): Laplace-smoothed
    hashed unigram+bigram distributions for the target (lang='en')
    vs the raw pool; every document scored by Σ log-probability
    ratio. Features explode once, two ≤256-group aggregates, one
    broadcast λ join, one per-doc aggregate — the domain-selection
    stage of a pretraining pipeline (operators/dsir.py)."""
    from minisql_engine_spark.operators.dsir import dsir_weights

    return dsir_weights(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


def _dsir_oracle() -> str:
    from minisql_engine_spark.operators.dsir import dsir_weights_sql

    return dsir_weights_sql("lang = 'en'")


_ORACLES["dsir_importance"] = _dsir_oracle()


@_register(
    "duplicate_spans",
    None,  # filled below — built from the operator's SQL twin
)
def q_duplicate_spans(spark, sf_dir):
    """Span-granular dedup report (Lee et al. 2022): maximal token
    spans occurring ≥2× corpus-wide, via positional k-gram hashing +
    per-doc island merge — the cut-the-boilerplate stage. One
    Zipf-collapsing gram aggregate + one gram join; windows partition
    by doc, never corpus; a gram in m docs emits m rows, not m²
    (operators/span_dedup.py)."""
    from minisql_engine_spark.operators.span_dedup import duplicate_spans

    return duplicate_spans(_t(spark, sf_dir, "documents"))


def _span_oracle() -> str:
    from minisql_engine_spark.operators.span_dedup import (
        duplicate_spans_sql,
    )

    return duplicate_spans_sql()


_ORACLES["duplicate_spans"] = _span_oracle()


@_register(
    "quality_rules",
    None,  # filled below — built from the operator's SQL twin
)
def q_quality_rules(spark, sf_dir):
    """Gopher-style named quality gate (Rae et al. 2021 §A.1.1):
    five pass/fail rules (word count, mean word length, symbol
    ratio, alpha-token ratio, stopword hits) as ONE map-side
    Project — every drop attributable, zero shuffles; NULL/empty
    docs keep their row and fail everything
    (operators/quality_rules.py)."""
    from minisql_engine_spark.operators.quality_rules import (
        quality_rule_report,
    )

    return quality_rule_report(_t(spark, sf_dir, "documents"))


def _quality_rules_oracle() -> str:
    from minisql_engine_spark.operators.quality_rules import (
        quality_rule_report_sql,
    )

    return quality_rule_report_sql()


_ORACLES["quality_rules"] = _quality_rules_oracle()


@_register(
    "llm_curation_funnel",
    None,  # filled below — built from the pipeline's SQL twin
)
def q_llm_curation_funnel(spark, sf_dir):
    """End-to-end modern LLM curation funnel: Gopher quality gate →
    duplicate-span cutting → CCNet perplexity buckets → DSIR
    importance selection, audited as one per-stage-count row. Every
    stage is a verified operator; the composition local-checkpoints
    its multi-consumer stage tables, and the oracle chains
    the five SQL twins as MATERIALIZED CTEs (pipeline.py)."""
    from minisql_engine_spark.pipeline import llm_curation_funnel

    return llm_curation_funnel(_t(spark, sf_dir, "documents"))


def _llm_funnel_oracle() -> str:
    from minisql_engine_spark.pipeline import llm_curation_funnel_sql

    return llm_curation_funnel_sql()


_ORACLES["llm_curation_funnel"] = _llm_funnel_oracle()


@_register(
    "streaming_curate_funnel",
    None,  # filled below — composed from the stage SQL twins
)
def q_streaming_curate_funnel(spark, sf_dir):
    """The REAL Structured-Streaming curation funnel
    (streaming/curate.py) under the driver's gate: a frozen LM is
    trained once on the reference corpus (save_lm_model — the CCNet
    production shape), a durable dedup index is seeded, then a
    3-file crawl drop (two fresh ranges + a file salted with
    seed-content duplicates) streams through foreachBatch micro-
    batches — quality gate → frozen-LM tail-drop → index admission,
    with batch_id-keyed exactly-once output partitions. Returns the
    admitted corpus (plus the micro-batch count ridden in-row); the
    oracle replays the whole funnel content-for-content: the quality
    rules, the frozen model's Laplace arithmetic and terciles
    (self-scoring ≡ in-corpus, pinned in tests), and the
    seed-content rejection. Fresh contents are disjoint by
    construction, so the result is micro-batch-ORDER-independent —
    what makes a streaming run hash-comparable at all."""
    import hashlib
    import shutil
    import tempfile

    from minisql_engine_spark.operators.dedup_index import (
        init_dedup_index,
    )
    from minisql_engine_spark.operators.lm_score import save_lm_model
    from minisql_engine_spark.streaming.curate import (
        stream_curate_funnel,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # FROZEN artifacts (the model and the staged crawl drop) are
    # call-invariant functions of the source table — train once,
    # stream forever is the frozen-model production shape — so they
    # key on the source file's mtime and persist across calls (r9:
    # the per-call retrain was ~20% of the bench entry). Run state
    # (index, output, audit, checkpoint) MUST be fresh per call: a
    # carried index would admit nothing on the second run and change
    # the result.
    src_mtime = os.path.getmtime(
        os.path.join(sf_dir, "documents.parquet")
    )
    tag = hashlib.md5(f"scf{sf_dir}:{src_mtime}".encode()).hexdigest()[
        :12
    ]
    root = os.path.join(tempfile.gettempdir(), f"minisql_scf_{tag}")
    model = os.path.join(root, "lm")
    drop = os.path.join(root, "drop")
    run = os.path.join(root, "run")
    shutil.rmtree(run, ignore_errors=True)
    index = os.path.join(run, "idx")
    out = os.path.join(run, "out")
    audit = os.path.join(run, "audit")
    staged = os.path.join(root, "_STAGED")
    if not os.path.exists(staged):
        shutil.rmtree(root, ignore_errors=True)
        save_lm_model(docs, model)
        i = F.col("doc_id")
        f1 = docs.filter((i >= 100) & (i < 200))
        f2 = docs.filter((i >= 300) & (i < 350)).unionByName(
            docs.filter(i < 10).select((i + 6000).alias("doc_id"), "text")
        )
        f3 = docs.filter((i >= 200) & (i < 300))
        for part in (f1, f2, f3):
            part.coalesce(1).write.mode("append").parquet(drop)
        with open(staged, "w") as fh:
            fh.write("ok")
    init_dedup_index(docs.filter(F.col("doc_id") < 100), index)
    schema = spark.read.parquet(drop).schema
    q = stream_curate_funnel(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop),
        model,
        index,
        out,
        audit,
        os.path.join(run, "ckpt"),
    )
    q.awaitTermination(300)
    n_batches = spark.read.parquet(audit).count()
    return spark.read.parquet(out).select(
        "doc_id",
        "content_hash",
        "n_tokens_lm",
        (
            F.floor(F.col("ppl") * F.lit(1e6) + F.lit(0.5)).cast("double")
            / F.lit(1e6)
        ).alias("ppl"),
        "bucket",
        F.lit(n_batches).cast("bigint").alias("n_batches"),
    )


def _streaming_funnel_oracle() -> str:
    from minisql_engine_spark.operators.quality_rules import (
        quality_rule_report_sql,
    )

    qr = quality_rule_report_sql("drop_docs")
    # the report twin as a CTE: strip its WITH, keep the body
    qr_body = qr[len("WITH") :].replace(
        " SELECT doc_id,", ", qrep AS (SELECT doc_id,", 1
    ) + ")"
    return (
        "WITH drop_docs AS MATERIALIZED ("
        " SELECT doc_id, text FROM documents"
        "  WHERE doc_id >= 100 AND doc_id < 350"
        " UNION ALL SELECT doc_id + 6000, text FROM documents"
        "  WHERE doc_id < 10)," + qr_body + ","
        # frozen model: counts/totals/terciles from the FULL corpus
        " toks_all AS MATERIALIZED (SELECT doc_id, unnest(string_split("
        "  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))"
        "  AS token FROM documents WHERE trim(text) <> ''),"
        " counts AS MATERIALIZED (SELECT token,"
        "  CAST(count(*) AS BIGINT) AS c FROM toks_all GROUP BY token),"
        " totals AS (SELECT CAST(sum(c) AS BIGINT) AS t_total,"
        "  CAST(count(*) AS BIGINT) AS v_size FROM counts),"
        " ref0 AS (SELECT doc_id,"
        "  -CAST(sum(CAST(log2((CAST(c AS DOUBLE) + 1.0)"
        "    / CAST(t_total + v_size AS DOUBLE)) AS DECIMAL(38,12)))"
        "    AS DOUBLE)"
        "   / CAST(count(*) AS DOUBLE) AS h"
        "  FROM toks_all JOIN counts USING (token) CROSS JOIN totals"
        "  GROUP BY doc_id),"
        " thr AS (SELECT"
        "  quantile_cont(ppl, 0.3333333333333333) AS t1,"
        "  quantile_cont(ppl, 0.6666666666666666) AS t2 FROM"
        "  (SELECT CASE WHEN abs(power(2.0, h)) < 1e12 THEN floor(power(2.0, h) * 1e6 + 0.5) / 1e6 ELSE power(2.0, h) END"
        "   AS ppl FROM ref0)),"
        # frozen scoring of the quality-gated drop docs (their tokens
        # are all in-vocabulary — drop content comes from documents)
        " dtoks AS (SELECT d.doc_id, unnest(string_split("
        "  regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g'), ' '))"
        "  AS token FROM drop_docs d JOIN qrep USING (doc_id)"
        "  WHERE qrep.passes_all AND trim(d.text) <> ''),"
        " score AS (SELECT doc_id,"
        "  CAST(count(*) AS BIGINT) AS n_tokens_lm,"
        "  -CAST(sum(CAST(log2((COALESCE(c, 0) + 1.0)"
        "    / CAST(t_total + v_size AS DOUBLE)) AS DECIMAL(38,12)))"
        "    AS DOUBLE)"
        "   / CAST(count(*) AS DOUBLE) AS h"
        "  FROM dtoks LEFT JOIN counts USING (token) CROSS JOIN totals"
        "  GROUP BY doc_id),"
        " scoreppl AS (SELECT doc_id, n_tokens_lm,"
        "  CASE WHEN abs(power(2.0, h)) < 1e12 THEN floor(power(2.0, h) * 1e6 + 0.5) / 1e6 ELSE power(2.0, h) END AS ppl FROM score),"
        " bucketed AS (SELECT doc_id, n_tokens_lm, ppl,"
        "  CASE WHEN ppl <= t1 THEN 'head'"
        "   WHEN ppl <= t2 THEN 'middle'"
        "   ELSE 'tail' END AS bucket FROM scoreppl CROSS JOIN thr),"
        # admission: content hash, min-id within the drop, seed reject
        " hashed AS (SELECT d.doc_id, b.n_tokens_lm, b.ppl, b.bucket,"
        "  md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g'))"
        "   AS h FROM drop_docs d JOIN bucketed b USING (doc_id)"
        "  WHERE b.bucket <> 'tail'),"
        " dedup AS (SELECT * FROM (SELECT *, row_number() OVER"
        "  (PARTITION BY h ORDER BY doc_id) AS rn FROM hashed)"
        "  WHERE rn = 1),"
        " seedk AS (SELECT DISTINCT"
        "  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
        "   AS h FROM documents WHERE doc_id < 100)"
        " SELECT d.doc_id, d.h AS content_hash, d.n_tokens_lm,"
        "  floor(d.ppl * 1e6 + 0.5) / 1e6 AS ppl, d.bucket,"
        "  CAST(3 AS BIGINT) AS n_batches"
        " FROM dedup d WHERE NOT EXISTS"
        "  (SELECT 1 FROM seedk k WHERE k.h = d.h)"
    )


_ORACLES["streaming_curate_funnel"] = _streaming_funnel_oracle()


@_register(
    "cohort_retention",
    None,  # filled below — built from the operator's SQL twin
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention grid (operators/funnel.py): users cohorted by
    the calendar day of their first event; each (cohort_day,
    day_offset) cell counts members active that many days later
    (offset-0 ≡ cohort size — pinned in tests). All shuffles are
    user-keyed or on the tiny grid, map-side partials throughout;
    date math is integer calendar-day arithmetic, exact in both
    engines."""
    from minisql_engine_spark.operators.funnel import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


def _cohort_oracle() -> str:
    from minisql_engine_spark.operators.funnel import (
        cohort_retention_sql,
    )

    return cohort_retention_sql()


_ORACLES["cohort_retention"] = _cohort_oracle()


@_register(
    "embedding_drift",
    None,  # filled below — built from the operator's SQL twin
)
def q_embedding_drift(spark, sf_dir):
    """Embedding-space drift (operators/drift.py): centroid cosine
    distance, centroid L2 shift, and mean-squared-norm shift of the
    odd-id embedding slice vs the even-id slice — the
    vector-modality sibling of corpus_drift a 100 TB embedding
    pipeline monitors per ingest batch. Per-dimension means ride the
    exact-DECIMAL sum rule (order-independent across any shuffle
    width); the final combinations touch dims-many rows. No pairwise
    anything, no collect."""
    from minisql_engine_spark.operators.drift import embedding_drift

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


def _embdrift_oracle() -> str:
    from minisql_engine_spark.operators.drift import embedding_drift_sql

    return embedding_drift_sql(
        "embeddings", "vec_id % 2 = 0", "vec_id % 2 = 1"
    )


_ORACLES["embedding_drift"] = _embdrift_oracle()


@_register(
    "drift_from_views",
    None,  # filled below — the one-shot corpus_drift twin, filtered
)
def q_drift_from_views(spark, sf_dir):
    """Drift from incrementally-maintained vocabulary views
    (operators/drift.py + sources/aggview.py — the production
    monitoring shape): two token-count views are maintained over
    THREE ingest batches each (init + two merges of the IVM state),
    then the token drift metrics (JS divergence / OOV rate / new
    token types) are computed from the STORED views alone —
    O(vocabulary) cost, zero document scans, because the scanning
    already happened batch-by-batch. The oracle is the ONE-SHOT
    corpus_drift over the same slices: the hash match proves
    incremental-view monitoring ≡ full recompute."""
    import hashlib
    import tempfile

    from minisql_engine_spark.operators.drift import (
        drift_from_token_views,
        token_counts_batch,
    )
    from minisql_engine_spark.sources.aggview import (
        init_agg_view,
        read_agg_view,
        update_agg_view,
    )

    docs = _t(spark, sf_dir, "documents")
    m = {"n": ("count", None)}
    tag = hashlib.md5(("dfv" + sf_dir).encode()).hexdigest()[:12]
    views = {}
    for name, rem in (("a", 0), ("b", 1)):
        half = docs.filter(F.col("doc_id") % 2 == rem)
        path = os.path.join(
            tempfile.gettempdir(), f"minisql_dfv_{tag}_{name}"
        )
        batches = [
            token_counts_batch(half.filter(F.col("doc_id") % 3 == i))
            for i in range(3)
        ]
        init_agg_view(batches[0], path, "t", m)
        for b in batches[1:]:
            update_agg_view(spark, path, b, "t", m)
        views[name] = read_agg_view(spark, path, m)
    return drift_from_token_views(views["a"], views["b"])


def _drift_views_oracle() -> str:
    from minisql_engine_spark.operators.drift import corpus_drift_sql

    return (
        "SELECT metric, value FROM ("
        + corpus_drift_sql(
            "documents", "doc_id % 2 = 0", "doc_id % 2 = 1"
        )
        + ") WHERE metric IN ('js_divergence_tokens',"
        " 'oov_token_rate', 'new_token_types') ORDER BY metric"
    )


_ORACLES["drift_from_views"] = _drift_views_oracle()


#: Fixed merge table for the trie-apply driver row: common English
#: pairs plus chain-sensitive entries whose later merges consume the
#: products of earlier ones — deterministic, so the chained-replace
#: oracle replays it literally.
_BPE_TRIE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("an", "d"), ("e", "n"), ("o", "r"),
    ("e", "s"), ("s", "t"), ("a", "r"), ("o", "u"), ("in", "g"),
    ("a", "t"), ("the", "r"), ("i", "s"), ("o", "f"), ("i", "t"),
]


@_register(
    "bpe_apply_trie",
    None,  # filled below — oracle replays the CHAINED-REPLACE side
)
def q_bpe_apply_trie(spark, sf_dir):
    """Production-scale BPE apply (operators/bpe.py, r6): the merge
    table travels as ONE broadcast dict into a single Arrow
    mapInPandas (plan depth O(1) — a 30k-merge tokenizer applies
    without a 30k-deep expression tree), with exact sequential-sweep
    semantics via an ascending-rank heap. The oracle replays the
    CHAINED-REPLACE definition of the same fixed merge table in
    DuckDB, so the hash match certifies trie ≡ chained ≡ oracle,
    token for token with positions."""
    from minisql_engine_spark.operators.bpe import bpe_apply_trie

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = bpe_apply_trie(docs, _BPE_TRIE_MERGES)
    return out.select(
        "doc_id",
        F.posexplode("bpe_tokens").alias("pos", "token"),
    ).select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "token"
    )


def _bpe_trie_oracle() -> str:
    from minisql_engine_spark.operators.bpe import bpe_apply_sql

    return bpe_apply_sql("documents", _BPE_TRIE_MERGES)


_ORACLES["bpe_apply_trie"] = _bpe_trie_oracle()


_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]
_FUNNEL_WITHIN_S = 604_800  # 7 days from the anchor signup


@_register(
    "event_funnel",
    None,  # filled below — built from the operator's SQL twin
)
def q_event_funnel(spark, sf_dir):
    """Windowed ordered event funnel (signup→view→click→purchase
    within 7 days of the first signup): per-user earliest completion
    of each stage, strict in-order progress, greedy-minimum witness
    (optimal for existence — see operators/funnel.py). One
    conditional min-aggregate per step, each filter pushed to the
    scan; nothing quadratic."""
    from minisql_engine_spark.operators.funnel import event_funnel

    return event_funnel(
        _t(spark, sf_dir, "events"), _FUNNEL_STEPS, _FUNNEL_WITHIN_S
    )


def _event_funnel_oracle() -> str:
    from minisql_engine_spark.operators.funnel import event_funnel_sql

    return event_funnel_sql(_FUNNEL_STEPS, _FUNNEL_WITHIN_S)


_ORACLES["event_funnel"] = _event_funnel_oracle()


@_register(
    "editsim_pairs",
    None,  # filled below — built from the operator's SQL twin
)
def q_editsim_pairs(spark, sf_dir):
    """Edit-distance similarity join (entity resolution): all
    customer-name pairs within Levenshtein 1 via SymSpell symmetric
    deletes — deletion-neighborhood candidate join + exact verify,
    recall 1.0 by construction. The oracle is an independent
    all-pairs scan, so the hash match empirically confirms the
    neighborhood-intersection guarantee (operators/editsim.py)."""
    from minisql_engine_spark.operators.editsim import (
        edit_distance_pairs,
    )

    return edit_distance_pairs(
        _t(spark, sf_dir, "customer"), "c_name", 1, id_col="c_custkey"
    )


def _editsim_oracle() -> str:
    from minisql_engine_spark.operators.editsim import (
        edit_distance_pairs_sql,
    )

    return edit_distance_pairs_sql("customer", "c_name", 1, "c_custkey")


_ORACLES["editsim_pairs"] = _editsim_oracle()


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@_register(
    "stats_corr",
    None,  # filled below — built from the operator's SQL twin
)
def q_stats_corr(spark, sf_dir):
    """Order-independent exact Pearson correlation matrix over the
    lineitem measures: the five sufficient sums aggregate as
    DECIMAL(38,12) (commutative — a double `corr` varies in the last
    ulp with partition order) and r evaluates in double from the
    exact inputs. One single-row aggregate shared by every pair;
    zero-variance pairs yield NULL (operators/stats.py)."""
    from minisql_engine_spark.operators.stats import exact_corr

    return exact_corr(_t(spark, sf_dir, "lineitem"), _CORR_COLS)


def _stats_corr_oracle() -> str:
    from minisql_engine_spark.operators.stats import exact_corr_sql

    return exact_corr_sql("lineitem", _CORR_COLS)


_ORACLES["stats_corr"] = _stats_corr_oracle()


@_register(
    "rolling_features",
    None,  # filled below — built from the operator's SQL twin
)
def q_rolling_features(spark, sf_dir):
    """Per-event trailing time-window features (5 m / 1 h count,
    exact-decimal sum, mean) — RANGE frames over integer
    microseconds, every column sharing ONE WindowExec pass; tied
    timestamps see identical value-based frames in both engines
    (operators/timeseries.py)."""
    from minisql_engine_spark.operators.timeseries import (
        rolling_event_features,
    )

    return rolling_event_features(_t(spark, sf_dir, "events"))


def _rolling_oracle() -> str:
    from minisql_engine_spark.operators.timeseries import (
        rolling_event_features_sql,
    )

    return rolling_event_features_sql()


_ORACLES["rolling_features"] = _rolling_oracle()


@_register(
    "winsorize_clip",
    None,  # filled below — built from the operator's SQL twin
)
def q_winsorize(spark, sf_dir):
    """Per-group winsorization of the event values: clip to the exact
    [p05, p95] quantiles of each event_type — ONE percentile
    aggregate joined back, map-side least/greatest clip, the standard
    heavy-tail treatment before any mean-based feature
    (operators/stats.py)."""
    from minisql_engine_spark.operators.stats import winsorize

    return winsorize(
        _t(spark, sf_dir, "events"),
        "value",
        0.05,
        0.95,
        group_by="event_type",
    )


def _winsorize_oracle() -> str:
    from minisql_engine_spark.operators.stats import winsorize_sql

    return winsorize_sql("events", "value", 0.05, 0.95, group_by="event_type")


_ORACLES["winsorize_clip"] = _winsorize_oracle()


@_register(
    "frequent_tokens",
    None,  # filled below — built from the operator's SQL twin
)
def q_frequent_tokens(spark, sf_dir):
    """Exact heavy hitters (tokens with ≥ 1/200 of corpus mass) via a
    map-side SpaceSaving candidate sketch + exact recount: the only
    shuffle carries candidate tokens, never the Zipf vocabulary tail.
    The sketch-free DuckDB oracle proves the candidate pass lost
    nothing (operators/heavy_hitters.py)."""
    from minisql_engine_spark.operators.heavy_hitters import frequent_tokens

    return frequent_tokens(_t(spark, sf_dir, "documents"), 200)


def _frequent_tokens_oracle() -> str:
    from minisql_engine_spark.operators.heavy_hitters import (
        frequent_tokens_sql,
    )

    return frequent_tokens_sql("documents", 200)


_ORACLES["frequent_tokens"] = _frequent_tokens_oracle()


@_register(
    "jl_projection",
    None,  # filled below — built from the operator's SQL twin
)
def q_jl_projection(spark, sf_dir):
    """Johnson–Lindenstrauss sign projection 64→16 dims: the matrix is
    DERIVED from md5 of the dimension pair (no RNG state, no stored
    blob — any executor and the oracle regenerate it), the signed sums
    accumulate DECIMAL(38,12) so the aggregate is order-independent
    (operators/projection.py)."""
    from minisql_engine_spark.operators.projection import jl_project

    return jl_project(_t(spark, sf_dir, "embeddings"), 16)


def _jl_oracle() -> str:
    from minisql_engine_spark.operators.projection import jl_project_sql

    return jl_project_sql("embeddings", 16, 64)


_ORACLES["jl_projection"] = _jl_oracle()


@_register(
    "bpe_train_merges",
    None,  # filled below — built from the operator's SQL twin
)
def q_bpe_train(spark, sf_dir):
    """BPE tokenizer training: ONE corpus aggregation to the
    (word, freq) vocabulary, then 12 merge rounds on the vocabulary
    only — each round a pair-count aggregate plus a sentinel-string
    ``replace`` (greedy left-to-right, BPE's pairing rule, identical
    built-in semantics in both engines). The DuckDB oracle replays the
    ENTIRE training as 12 unrolled materialized CTE stages, so the
    learned merge table is hash-verified end-to-end
    (operators/bpe.py)."""
    from minisql_engine_spark.operators.bpe import (
        bpe_train,
        bpe_word_counts,
    )

    return bpe_train(bpe_word_counts(_t(spark, sf_dir, "documents")), 12)


def _bpe_oracle() -> str:
    from minisql_engine_spark.operators.bpe import bpe_train_sql

    return bpe_train_sql("documents", 12)


_ORACLES["bpe_train_merges"] = _bpe_oracle()


#: events schema as (name, spark simpleString) — static so the oracle
#: builds at import time with no SparkSession; test_oracle_parity
#: would fail loudly if the testdata schema ever drifted from this.
_EVENTS_FIELDS = [
    ("event_id", "bigint"),
    ("ts", "timestamp"),
    ("user_id", "bigint"),
    ("event_type", "string"),
    ("value", "double"),
    ("props", "string"),
]


@_register(
    "profile_events",
    None,  # filled below — built from the operator's SQL twin
)
def q_profile_events(spark, sf_dir):
    """Exact per-column table profile of events (row/null/distinct
    counts, typed min/max) — one single-column pruned scan per
    column, no Expand-multiplied multi-distinct aggregate
    (operators/profiling.py)."""
    from minisql_engine_spark.operators.profiling import profile_table

    return profile_table(_t(spark, sf_dir, "events"))


def _profile_oracle() -> str:
    from minisql_engine_spark.operators.profiling import (
        profile_table_sql_from_schema,
    )

    return profile_table_sql_from_schema("events", _EVENTS_FIELDS)


_ORACLES["profile_events"] = _profile_oracle()


@_register(
    "mad_outlier_flags",
    None,  # filled below — built from the operator's SQL twin
)
def q_mad_outliers(spark, sf_dir):
    """Robust per-group outlier flags on the event values:
    |x − median| > 3.5·MAD with the exact interpolated median both
    engines share; two percentile passes joined back, map-side flag,
    degenerate zero-MAD rule (operators/stats.py)."""
    from minisql_engine_spark.operators.stats import mad_outliers

    return mad_outliers(
        _t(spark, sf_dir, "events"), "value", group_by="event_type"
    )


def _mad_oracle() -> str:
    from minisql_engine_spark.operators.stats import mad_outliers_sql

    return mad_outliers_sql("events", "value", group_by="event_type")


_ORACLES["mad_outlier_flags"] = _mad_oracle()


@_register(
    "corpus_drift",
    None,  # filled below — built from the operator's SQL twin
)
def q_corpus_drift(spark, sf_dir):
    """Corpus drift monitor: six-metric distribution-shift report of
    the odd-doc_id half of documents vs the even half — token-unigram
    JS divergence, OOV occurrence rate, new token types, exact
    p50/p90 length shift, and source-mix L1. Each side is scanned at
    most three times; the only corpus-sized shuffle is the token
    full-outer join of two already-aggregated vocabulary tables
    (operators/drift.py)."""
    from minisql_engine_spark.operators.drift import corpus_drift

    docs = _t(spark, sf_dir, "documents")
    return corpus_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def _drift_oracle() -> str:
    from minisql_engine_spark.operators.drift import corpus_drift_sql

    return corpus_drift_sql(
        "documents", "doc_id % 2 = 0", "doc_id % 2 = 1"
    )


_ORACLES["corpus_drift"] = _drift_oracle()


_AGGVIEW_MEASURES = {
    "n_events": ("count", None),
    "v_sum": ("dsum", "value"),
    "v_min": ("min", "value"),
    "v_max": ("max", "value"),
    "uid_sum": ("sum", "user_id"),
}


@_register(
    "incr_agg_events",
    None,  # filled below — built from the operator's SQL twin
)
def q_incr_agg_events(spark, sf_dir):
    """Incremental materialized aggregate view (IVM): three
    event_id%3 batches of events merged batch-over-batch into a
    persisted per-event_type state table (count / decimal-routed
    sums / min / max), then read back. The oracle is the FULL
    recompute — the hash match IS the proof that the incremental
    merge equals a one-shot aggregate bit-for-bit, which only holds
    because sums ride DECIMAL state (sources/aggview.py). Each
    update scans one batch and joins group-cardinality state — the
    100 TB contract."""
    import hashlib
    import tempfile

    from minisql_engine_spark.sources.aggview import (
        init_agg_view,
        read_agg_view,
        update_agg_view,
    )

    ev = _t(spark, sf_dir, "events")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_aggview_{tag}")
    # rebuilt every call — the maintenance cycle IS the operator
    init_agg_view(
        ev.filter(F.col("event_id") % 3 == 0),
        path,
        "event_type",
        _AGGVIEW_MEASURES,
    )
    for i in (1, 2):
        update_agg_view(
            spark,
            path,
            ev.filter(F.col("event_id") % 3 == i),
            "event_type",
            _AGGVIEW_MEASURES,
        )
    return read_agg_view(spark, path, _AGGVIEW_MEASURES).orderBy(
        "event_type"
    )


def _aggview_oracle() -> str:
    from minisql_engine_spark.sources.aggview import agg_view_sql

    return agg_view_sql("events", "event_type", _AGGVIEW_MEASURES)


_ORACLES["incr_agg_events"] = _aggview_oracle()


@_register(
    "hashvec_tfidf",
    None,  # filled below — built from the operator's SQL twin
)
def q_hashvec_tfidf(spark, sf_dir):
    """Feature-hashed TF-IDF document vectors (the hashing trick):
    vocabulary-free text→vector bridge into the cosine/LSH/IVF/PQ
    family, emitted in the sparse (doc_id, bucket, weight) form the
    oracle replays row for row — md5-bucket assignment and smoothed
    idf are byte-identical across engines (operators/hashvec.py)."""
    from minisql_engine_spark.operators.hashvec import hashed_tfidf

    return hashed_tfidf(_t(spark, sf_dir, "documents"))


def _hashvec_oracle() -> str:
    from minisql_engine_spark.operators.hashvec import hashed_tfidf_sql

    return hashed_tfidf_sql()


_ORACLES["hashvec_tfidf"] = _hashvec_oracle()


@_register(
    "snapshot_merge_pruned",
    "SELECT doc_id,"
    " CASE WHEN doc_id < 40 THEN 'PATCHED:' || text ELSE text END"
    " AS text, lang, source, n_chars FROM documents",
)
def q_snapshot_merge_pruned(spark, sf_dir):
    """Lakehouse upsert path end-to-end: documents commit as a
    range-clustered snapshot table (4 disjoint doc_id files), then a
    file-pruned copy-on-write MERGE patches the doc_id < 40 head —
    parquet FOOTER key statistics pick the files to rewrite and the
    rest carry over by reference (sources/snapshots.py). The oracle
    replays the CONTENT contract (base ⊳ updates); the in-query
    RuntimeError gates the PRUNING contract (at least one file must
    have carried over untouched)."""
    import hashlib
    import json
    import shutil
    import tempfile

    from minisql_engine_spark.sources.snapshots import (
        current_version,
        merge_snapshot_pruned,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_snap_{tag}")
    # rebuilt every call — the write→merge cycle IS the operator
    shutil.rmtree(path, ignore_errors=True)
    write_snapshot(
        docs.repartitionByRange(4, "doc_id").sortWithinPartitions(
            "doc_id"
        ),
        path,
    )
    upd = docs.filter(F.col("doc_id") < 40).withColumn(
        "text", F.concat(F.lit("PATCHED:"), F.col("text"))
    )
    merge_snapshot_pruned(spark, path, upd, "doc_id")
    with open(
        os.path.join(path, "_versions", f"v{current_version(path)}.json")
    ) as f:
        man = json.load(f)
    carried = [e for e in man["data_dirs"] if os.path.isfile(e)]
    if not carried:
        raise RuntimeError(
            "pruned merge rewrote every file — footer-stats pruning "
            "did not engage on the range-clustered layout"
        )
    return read_snapshot(spark, path)


@_register(
    "bloom_admission",
    None,  # filled below — built from the operator's SQL twin
)
def q_bloom_admission(spark, sf_dir):
    """Portable Bloom-filter admission (operators/membership.py): the
    approximate-membership structure a 100 TB ingest puts in front of
    the exact dedup index — ~10 bits/key, broadcastable, OR-mergeable
    across build shards. Indexes the doc_id % 5 != 0 content keys,
    probes every document, reports maybe/present/false-positive per
    doc. The DuckDB oracle replays the md5-derived bitmap bit-for-bit,
    so no-false-negatives is hash-certified, not sampled."""
    from minisql_engine_spark.operators.membership import bloom_admission

    return bloom_admission(_t(spark, sf_dir, "documents"))


def _bloom_oracle() -> str:
    from minisql_engine_spark.operators.membership import (
        bloom_admission_sql,
    )

    return bloom_admission_sql()


_ORACLES["bloom_admission"] = _bloom_oracle()


@_register(
    "dedup_index_admission",
    None,  # filled below — built from the operator's SQL twin
)
def q_dedup_index_admission(spark, sf_dir):
    """Incremental dedup-index admission life cycle
    (operators/dedup_index.py — the production dedup machinery a
    100 TB crawl ingest runs on): init a REAL on-disk key index from
    a seed corpus, admit a crawl batch salted with seed copies and
    in-batch duplicate pairs, APPEND its survivors, then admit a
    second batch that re-presents batch-1 content — which the
    just-advanced index must reject. Admission never shuffles the
    index (batch keys broadcast into the scan, survivors broadcast
    back — plan-gated in test_plans.py/test_dedup_index.py). The
    oracle replays the whole cycle as chained MATERIALIZED CTEs
    (batch-1 admissions feed batch-2's key set), the incr_agg_events
    state-threading pattern."""
    import hashlib
    import tempfile

    from minisql_engine_spark.operators.dedup_index import (
        dedup_index_admission_cycle,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_admidx_{tag}")
    return dedup_index_admission_cycle(
        _t(spark, sf_dir, "documents"), path
    )


def _admidx_oracle() -> str:
    from minisql_engine_spark.operators.dedup_index import (
        dedup_index_admission_sql,
    )

    return dedup_index_admission_sql()


_ORACLES["dedup_index_admission"] = _admidx_oracle()


@_register(
    "image_near_dups",
    None,  # filled below — built from the operator's SQL twin
)
def q_image_near_dups(spark, sf_dir):
    """Perceptual image near-duplicates (operators/multimodal.py):
    dHash (8×9 area-mean difference hash) over Arrow-decoded binary
    payloads, 4×16-bit band bucket join (pigeonhole-exhaustive at
    Hamming ≤ 3 — candidates are band collisions, NEVER all pairs),
    bit_count verify. Corpus = 66 deterministic md5 payloads with 6
    planted duplicate contents under shifted ids. The oracle
    re-derives the ENTIRE pipeline arithmetically in SQL — payload
    bytes, the fake decoder's tiling, integer-exact area means
    (cross-multiplied, divisor-free), difference bits, banding, and
    the Hamming verify — so the perceptual hash itself is
    hash-checked, not sampled."""
    from minisql_engine_spark.operators.multimodal import (
        image_near_dups,
        perceptual_corpus,
    )

    corpus = perceptual_corpus(_t(spark, sf_dir, "documents"))
    return image_near_dups(corpus).select(
        "id_a",
        "id_b",
        F.col("hamming").cast("bigint").alias("hamming"),
    )


def _imgdup_oracle() -> str:
    from minisql_engine_spark.operators.multimodal import (
        image_near_dups_sql,
    )

    return image_near_dups_sql()


_ORACLES["image_near_dups"] = _imgdup_oracle()


@_register(
    "video_near_dups",
    None,  # filled below — the operator's full-arithmetic SQL twin
)
def q_video_near_dups(spark, sf_dir):
    """Perceptual VIDEO near-duplicates (operators/multimodal.py,
    r12; promoted r13 — the first hash-certified video entry): one
    mapInPandas frame expansion (even byte-range sampler, 4 frames
    per payload), the image family's Arrow dHash pass per frame,
    band bucket joins bounded per FRAME INDEX via composite
    (doc·16+frame) ids — candidates are band collisions within a
    frame, never all pairs — then a per-pair frame-count vote
    (≥ min_frames aligned frames within Hamming ≤ 3). Corpus = 60
    deterministic 4-frame videos with 6 exact copies (all frames
    match, ham_total 0) and 6 frame-local edits (last frame
    re-rendered — the vote must tolerate them; a whole-video hash
    would miss them). Unlike audio (FFT, rows-only by design) the
    whole pipeline is integer/md5 arithmetic, so the oracle
    re-derives EVERYTHING — frame digests, tiling, cross-multiplied
    area means, difference bits, per-frame banding, Hamming verify,
    and the vote."""
    from minisql_engine_spark.operators.multimodal import (
        perceptual_video_corpus,
        video_near_dups,
    )

    corpus = perceptual_video_corpus(_t(spark, sf_dir, "documents"))
    return video_near_dups(corpus)


def _videodup_oracle() -> str:
    from minisql_engine_spark.operators.multimodal import (
        video_near_dups_sql,
    )

    return video_near_dups_sql()


_ORACLES["video_near_dups"] = _videodup_oracle()


@_register(
    "audio_near_dups",
    None,  # rows-only BY DESIGN: the fingerprint is FFT band energy
    # (numpy rfft) — not portably replayable in SQL without
    # transcendental bit-drift. Quality rides IN the rows instead:
    # every row passed the BER ≤ 0.25 verify, and the whole result
    # empties unless all planted duplicate pairs were found (the
    # ml_lsh_suite pattern), so the driver's row-count check moves
    # on any recall regression. Brute-force pytest oracle in
    # tests/test_normalize_imagehash.py.
)
def q_audio_near_dups(spark, sf_dir):
    """Perceptual audio near-duplicates (Haitsma–Kalker): per-frame
    16-bit sub-fingerprints from log-band FFT energy differences,
    candidates from EXACT (frame_idx, sub-fingerprint) equi-join
    collisions (the paper's lookup-table trick — never pairwise),
    verified by bit-error-rate over the aligned overlap. Corpus = 48
    deterministic byte-parameterized tone clips: 4 planted exact
    copies (BER 0) and 4 perturbed near-copies (small nonzero BER) —
    all 12 implied pairs must surface and no stranger pair may, or
    the in-row gate empties the result."""
    from minisql_engine_spark.operators.multimodal import (
        audio_near_dups,
        byte_tone_decoder,
        perceptual_corpus,
    )

    n_dups = 4
    corpus = perceptual_corpus(
        _t(spark, sf_dir, "documents"), n=40, n_dups=n_dups,
        n_noisy=n_dups,
    )
    out = audio_near_dups(corpus, decoder=byte_tone_decoder).select(
        "id_a",
        "id_b",
        "n_frames",
        F.round("ber", 6).alias("ber"),
        F.when(
            (F.col("id_b") - F.col("id_a") == 1000)
            & (F.col("id_a") < 1000),
            "exact",
        )
        .when(F.col("id_b") >= 2000, "noisy")
        .otherwise("stranger")
        .alias("pair_type"),
    )
    gate = out.agg(
        (
            (
                F.sum((F.col("pair_type") == "exact").cast("int"))
                == n_dups
            )
            & (
                F.sum((F.col("pair_type") == "noisy").cast("int"))
                == 2 * n_dups
            )
            & (
                F.sum((F.col("pair_type") == "stranger").cast("int"))
                == 0
            )
        ).alias("_ok")
    )
    return out.crossJoin(F.broadcast(gate)).filter(F.col("_ok")).drop(
        "_ok"
    )


@_register(
    "hll_distinct",
    None,  # filled below — built from the operator's SQL twin
)
def q_hll_distinct(spark, sf_dir):
    """Portable HyperLogLog distinct-count (operators/sketch.py): the
    oracled twin of the native-sketch `approx_distinct` row — every
    register derives from md5 via exact integer arithmetic, so the
    whole sketch (registers, estimator branch, relative error, the
    ≤10% guard) hash-matches DuckDB's replay. Registers merge by max
    (distributive state → shard-and-merge at any scale). Sketches the
    high-cardinality event_id key: raw-estimator branch at sf ≥ 0.01,
    linear counting at sf0.001 — both branches parity-tested."""
    from minisql_engine_spark.operators.sketch import hll_distinct

    return hll_distinct(
        _t(spark, sf_dir, "events"), F.col("event_id").cast("string")
    )


def _hll_oracle() -> str:
    from minisql_engine_spark.operators.sketch import hll_distinct_sql

    return hll_distinct_sql(
        table="events", key_sql="CAST(event_id AS VARCHAR)"
    )


_ORACLES["hll_distinct"] = _hll_oracle()


@_register(
    "cms_frequency",
    None,  # filled below — built from the operator's SQL twin
)
def q_cms_frequency(spark, sf_dir):
    """Portable Count-Min frequency sketch (operators/sketch.py) —
    the third sketch-family member (Bloom membership / HLL
    cardinality / CMS frequency): d×w counter relation, elementwise-
    sum mergeable across shards, point estimate = min over rows.
    Deliberately undersized (w=256 < user cardinality) so hash
    collisions really occur at every SF — the per-key `never_under`
    theorem column and the exact counts ride in the hashed result, so
    the driver gate certifies estimates never drop below truth even
    under collision pressure."""
    from minisql_engine_spark.operators.sketch import (
        cms_frequency_report,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key")
    )
    return cms_frequency_report(ev, "key", w=256, d=4)


def _cms_oracle() -> str:
    from minisql_engine_spark.operators.sketch import (
        cms_frequency_report_sql,
    )

    return cms_frequency_report_sql(
        "(SELECT CAST(user_id AS VARCHAR) AS key FROM events) occ0",
        "key",
        w=256,
        d=4,
    )


_ORACLES["cms_frequency"] = _cms_oracle()


@_register(
    "hist_quantiles",
    None,  # filled below — built from the operator's SQL twin
)
def q_hist_quantiles(spark, sf_dir):
    """Approximate quantiles from the mergeable fixed-bucket
    histogram (operators/stats.py histogram_quantiles): one map-side
    pass + an n_buckets-row count-additive aggregate replaces the
    full per-group sort at monitoring scale; the exact interpolated
    quantile and the ≤2-bucket-width error bound ride in the hashed
    row, so accuracy regressions move the driver gate."""
    from minisql_engine_spark.operators.stats import (
        histogram_quantiles,
    )

    return histogram_quantiles(
        _t(spark, sf_dir, "events"), "value", 0.0, 640.0
    )


def _hist_quantiles_oracle() -> str:
    from minisql_engine_spark.operators.stats import (
        histogram_quantiles_sql,
    )

    return histogram_quantiles_sql("events", "value", 0.0, 640.0)


_ORACLES["hist_quantiles"] = _hist_quantiles_oracle()


@_register(
    "lm_bigram_perplexity",
    None,  # filled below — built from the operator's SQL twin
)
def q_lm_bigram_perplexity(spark, sf_dir):
    """Interpolated bigram LM perplexity buckets (KenLM-lite,
    operators/lm_score.py): context-aware upgrade of the CCNet unigram
    scorer — shuffled-word gibberish that unigram ppl cannot detect
    scores into the tail (property-tested). Positional tokens persist
    once and feed c1/c2/scoring; the predecessor comes from a per-doc
    lag window (doc-sized partitions, never a global window)."""
    from minisql_engine_spark.materialize import release
    from minisql_engine_spark.operators.lm_score import lm_bigram_perplexity

    release("lm")
    return lm_bigram_perplexity(_t(spark, sf_dir, "documents"))


def _lm_bigram_oracle() -> str:
    from minisql_engine_spark.operators.lm_score import (
        lm_bigram_perplexity_sql,
    )

    return lm_bigram_perplexity_sql()


_ORACLES["lm_bigram_perplexity"] = _lm_bigram_oracle()


@_register(
    "pergroup_hll",
    None,  # filled below — built from the operator's SQL twin
)
def q_pergroup_hll(spark, sf_dir):
    """Per-group HyperLogLog (operators/sketch.py, r6 rotation of the
    strongest pytest-only components into the driver window):
    "approx distinct users per event_type" maintained as one register
    relation per group — the driver entry builds THREE batch sketches
    (event_id % 3 shards), merges them distributively (per-(group,
    register) max), and estimates; because the merge is exact on
    integer state, the result equals the one-shot sketch the DuckDB
    oracle replays bit-for-bit — incremental maintenance ≡ recompute
    IS the hash match, the same certificate shape as incr_agg_events."""
    from minisql_engine_spark.operators.sketch import (
        hll_group_estimate,
        hll_group_merge,
        hll_group_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    parts = [
        hll_group_sketch(
            ev.filter(F.col("event_id") % 3 == i),
            "event_type",
            F.col("user_id").cast("string"),
        )
        for i in range(3)
    ]
    merged = hll_group_merge(hll_group_merge(parts[0], parts[1]), parts[2])
    return hll_group_estimate(merged)


def _pergroup_hll_oracle() -> str:
    from minisql_engine_spark.operators.sketch import (
        hll_group_distinct_sql,
    )

    return hll_group_distinct_sql(
        "events", "event_type", "CAST(user_id AS VARCHAR)"
    )


_ORACLES["pergroup_hll"] = _pergroup_hll_oracle()


@_register(
    "weighted_sample",
    None,  # filled below — built from the operator's SQL twin
)
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (operators/sampling.py): replicated-min-hash priorities give
    exact w₁/(w₁+w₂) pairwise inclusion odds with ZERO
    transcendentals — the priority is a lexicographic min over hex
    strings, so the oracle replays selection byte-for-byte (no
    Efraimidis–Spirakis ln/pow ulp can flip a rank). Weights here are
    the documents' n_chars % 5 + 1 quality buckets; top-40."""
    from minisql_engine_spark.operators.sampling import weighted_sample

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .withColumn("w", (F.col("n_chars") % 5 + 1).cast("bigint"))
    )
    return weighted_sample(docs, 40, "w").select(
        "doc_id", "n_chars", "w", "priority"
    )


def _weighted_sample_oracle() -> str:
    from minisql_engine_spark.operators.sampling import (
        weighted_sample_sql,
    )

    base = weighted_sample_sql(
        "_wdocs", 40, "w", select_cols="doc_id, n_chars, w, priority"
    )
    return base.replace(
        "WITH pri AS",
        "WITH _wdocs AS (SELECT doc_id, n_chars,"
        " CAST(n_chars % 5 + 1 AS BIGINT) AS w FROM documents),"
        " pri AS",
        1,
    )


_ORACLES["weighted_sample"] = _weighted_sample_oracle()


@_register(
    "psi_drift",
    None,  # filled below — built from the operator's SQL twin
)
def q_psi_drift(spark, sf_dir):
    """Population Stability Index drift monitor (operators/drift.py):
    the standard model-ops numeric-drift score between two event
    cohorts (event_id parity halves), over the same fixed [0, 640)
    bucket grid as hist_quantiles. Per-bucket shares and psi terms
    plus the bucket = -100 TOTAL row; empty buckets take the 1e-6
    share floor IDENTICALLY in both engines, so the log stays finite
    and the hash stays exact."""
    from minisql_engine_spark.operators.drift import psi_drift

    ev = _t(spark, sf_dir, "events")
    return psi_drift(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
        0.0,
        640.0,
    )


def _psi_drift_oracle() -> str:
    from minisql_engine_spark.operators.drift import psi_drift_sql

    return psi_drift_sql(
        "events", "event_id % 2 = 0", "event_id % 2 = 1",
        "value", 0.0, 640.0,
    )


_ORACLES["psi_drift"] = _psi_drift_oracle()


@_register(
    "delete_range_pruned",
    "SELECT doc_id, source, n_chars FROM documents"
    " WHERE (doc_id >= 100 AND doc_id <= 260) IS NOT TRUE",
)
def q_delete_range_pruned(spark, sf_dir):
    """Lakehouse retention-delete path end-to-end
    (sources/snapshots.py): documents commit as a range-clustered
    snapshot (4 disjoint doc_id files), then DELETE WHERE doc_id
    BETWEEN 100 AND 260 runs footer-stats-pruned — disjoint files
    carry over by reference, covered files drop by metadata alone,
    only boundary files rewrite (with SQL NULL-semantics: the filter
    keeps predicate-NULL rows). The oracle replays the CONTENT
    contract; the in-query RuntimeError gates the PRUNING contract
    (at least one file must carry over untouched)."""
    import hashlib
    import json
    import shutil
    import tempfile

    from minisql_engine_spark.sources.snapshots import (
        current_version,
        delete_range_pruned,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    tag = hashlib.md5(("del" + sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_delsnap_{tag}")
    # rebuilt every call — the write→delete cycle IS the operator
    shutil.rmtree(path, ignore_errors=True)
    write_snapshot(
        docs.repartitionByRange(4, "doc_id").sortWithinPartitions(
            "doc_id"
        ),
        path,
    )
    delete_range_pruned(spark, path, "doc_id", 100, 260)
    with open(
        os.path.join(path, "_versions", f"v{current_version(path)}.json")
    ) as f:
        man = json.load(f)
    carried = [e for e in man["data_dirs"] if os.path.isfile(e)]
    if not carried:
        raise RuntimeError(
            "pruned delete rewrote every file — footer-stats pruning "
            "did not engage on the range-clustered layout"
        )
    return read_snapshot(spark, path)


_NFC_DECOMP = "café "   # e + combining acute
_NFC_COMP = "café "      # precomposed é


@_register(
    "normalize_nfc",
    "SELECT doc_id, nfc_normalize(CASE WHEN doc_id % 2 = 0"
    f" THEN '{_NFC_DECOMP}' ELSE '{_NFC_COMP}' END"
    " || substr(text, 1, 40)) AS text_norm FROM documents",
)
def q_normalize_nfc(spark, sf_dir):
    """Unicode NFC normalization (operators/normalize.py, r6): the
    zeroth step of multilingual curation — composed and decomposed
    spellings of the same text must hash identically before any
    dedup decision. Half the docs get a DECOMPOSED prefix (e +
    combining acute), half the PRECOMPOSED form; after NFC both
    halves carry the identical prefix, and the oracle (DuckDB's
    nfc_normalize — an independent implementation of the same
    Unicode normalization) must agree byte-for-byte on every row.
    Python only as an Arrow mapInPandas batch (Spark has no built-in
    Unicode normalization)."""
    from minisql_engine_spark.operators.normalize import normalize_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mixed = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 2 == 0, F.lit(_NFC_DECOMP)
            ).otherwise(F.lit(_NFC_COMP)),
            F.substring("text", 1, 40),
        ).alias("text"),
    )
    return normalize_text(mixed).select("doc_id", "text_norm")


def _scd2_oracle() -> str:
    from minisql_engine_spark.sources.scd2 import scd2_apply_sql

    apply_sql = scd2_apply_sql(
        "base", "upd", "k", ["name", "region"], 100
    )
    return apply_sql.replace(
        "WITH ",
        "WITH base AS (SELECT n_nationkey AS k, n_name AS name,"
        " n_regionkey AS region, CAST(10 AS BIGINT) AS valid_from,"
        " CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current"
        " FROM nation),"
        " upd AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'RENAMED',"
        "  CAST(0 AS BIGINT)), (1, 'ARGENTINA', 99),"
        "  (900, 'ATLANTIS', 4)) t(k, name, region)), ",
        1,
    )


def _scd2_asof_oracle() -> str:
    return (
        "WITH dim AS MATERIALIZED (" + _scd2_oracle() + "),"
        " facts AS (SELECT o_orderkey AS fact_id,"
        "  o_orderkey % 25 AS k, 10 + o_orderkey % 200 AS ts"
        "  FROM orders WHERE o_orderkey < 2000)"
        " SELECT f.fact_id, f.k, f.ts, d.name, d.region,"
        "  d.valid_from FROM facts f JOIN dim d ON d.k = f.k"
        "  AND d.valid_from <= f.ts"
        "  AND (d.valid_to IS NULL OR d.valid_to > f.ts)"
    )


@_register("scd2_asof_enrichment", _scd2_asof_oracle())
def q_scd2_asof_enrichment(spark, sf_dir):
    """SCD2 as-of fact enrichment (sources/scd2.py — THE query a
    Type-2 dimension exists for): after the same init(ts=10) →
    apply(ts=100) cycle as scd2_dimension, each fact row (derived
    from orders: key = o_orderkey % 25, event time spanning both
    sides of the change) joins the dimension version valid AT ITS
    OWN timestamp via one half-open range join. Intervals partition
    time per key, so every fact matches exactly one version; facts
    before ts=100 see the old attributes, facts at/after see the
    new. The dimension side broadcasts — history never shuffles, no
    fact movement (the 100 TB plan shape)."""
    import hashlib
    import shutil
    import tempfile

    from minisql_engine_spark.sources.scd2 import (
        scd2_apply,
        scd2_enrich_asof,
        scd2_init,
    )
    from minisql_engine_spark.sources.snapshots import read_snapshot

    dim = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("region"),
    )
    tag = hashlib.md5(("scd2asof" + sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_scd2a_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    scd2_init(dim, path, "k", ts=10)
    # JVM LocalRelation, not createDataFrame: a pickled literal
    # frame in a write lineage spins a Python worker per write job
    # (~5 s — see streaming/curate.py r7 note)
    upd = spark.sql(
        "SELECT CAST(k AS BIGINT) AS k, name,"
        " CAST(region AS BIGINT) AS region FROM VALUES"
        " (0, 'RENAMED', 0), (1, 'ARGENTINA', 99),"
        " (900, 'ATLANTIS', 4) AS t(k, name, region)"
    )
    scd2_apply(spark, path, upd, "k", ts=100)
    facts = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            F.col("o_orderkey").alias("fact_id"),
            (F.col("o_orderkey") % 25).alias("k"),
            (F.lit(10) + F.col("o_orderkey") % 200).alias("ts"),
        )
    )
    return scd2_enrich_asof(
        facts, read_snapshot(spark, path), "k", "ts"
    )


@_register("scd2_dimension", _scd2_oracle())
def q_scd2_dimension(spark, sf_dir):
    """SCD Type-2 dimension maintenance (sources/scd2.py, r6): the
    nation dimension commits at business time 10, then one change
    batch at time 100 renames key 0, moves key 1 to a new region, and
    inserts key 900 — the apply closes the two changed current rows
    (valid_to=100) and opens three new ones, leaving every other row
    untouched. The oracle replays the apply itself (identical
    null-safe IS DISTINCT FROM change detection) over the same
    literal batch; the returned table is the full bi-temporal
    dimension after the apply."""
    import hashlib
    import shutil
    import tempfile

    from minisql_engine_spark.sources.scd2 import scd2_apply, scd2_init
    from minisql_engine_spark.sources.snapshots import read_snapshot

    dim = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("region"),
    )
    tag = hashlib.md5(("scd2" + sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_scd2_{tag}")
    # rebuilt every call — the init→apply cycle IS the operator
    shutil.rmtree(path, ignore_errors=True)
    scd2_init(dim, path, "k", ts=10)
    # JVM LocalRelation, not createDataFrame: a pickled literal
    # frame in a write lineage spins a Python worker per write job
    # (~5 s — see streaming/curate.py r7 note)
    upd = spark.sql(
        "SELECT CAST(k AS BIGINT) AS k, name,"
        " CAST(region AS BIGINT) AS region FROM VALUES"
        " (0, 'RENAMED', 0), (1, 'ARGENTINA', 99),"
        " (900, 'ATLANTIS', 4) AS t(k, name, region)"
    )
    scd2_apply(spark, path, upd, "k", ts=100)
    return read_snapshot(spark, path)


@_register(
    "skew_salted_join",
    "SELECT n_name, CAST(count(*) AS BIGINT) AS n_rows,"
    " CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty"
    " FROM (SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0"
    "   ELSE l_orderkey % 25 END AS k, l_quantity FROM lineitem) b"
    " JOIN nation ON n_nationkey = k"
    " GROUP BY n_name",
)
def q_skew_salted_join(spark, sf_dir):
    """Skew-mitigation salted join (operators/skew.py — the
    deterministic fallback when one key dominates so heavily even
    AQE's skew split overwhelms an executor; the null-key /
    power-law-entity case at 100 TB): 75% of lineitem rows are forced
    onto key 0, the big side takes a per-row salt in [0,8), the tiny
    dimension replicates once per salt, and the join runs on
    (key, salt) so the hot key spreads across 8 tasks. The oracle is
    the PLAIN unsalted join — the hash match proves salting is
    semantically transparent (exact row multiplicity), which is the
    entire contract of the technique. The small side carries a
    shuffle-merge hint: Catalyst would otherwise broadcast the tiny
    dimension and no key would shuffle at all — the row pins the
    SHUFFLED path, the one where a hot key actually melts an
    executor and the salt actually spreads it (plan-gated in
    test_plans.py: join keys include _salt)."""
    from minisql_engine_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(0))
        .otherwise(F.col("l_orderkey") % 25)
        .cast("bigint")
        .alias("k"),
        "l_quantity",
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"), "n_name"
    )
    return salted_join(
        li, nat.hint("merge"), "k", n_salts=8
    ).groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        R.exact_sum("l_quantity", "sum_qty"),
    )


@_register(
    "snapshot_compaction",
    "SELECT doc_id, text, lang FROM documents ORDER BY doc_id",
)
def q_snapshot_compaction(spark, sf_dir):
    """Lakehouse small-file compaction cycle (sources/snapshots.py):
    three append commits accumulate three data dirs (the 100 TB
    ingest path — appends never read or rewrite an existing byte,
    so scan cost grows with FILE COUNT, not bytes), then
    ``compact_snapshot`` rewrites the live content into one
    bin-packed dir as a new content-identical version. The query
    RAISES unless the compacted manifest really holds a single data
    dir (executed-layout gate, like snapshot_merge_pruned's
    carried-files check), and the oracle is simply the full table —
    content identity across the rewrite is the whole contract.
    Old versions still time-travel to the pre-compaction layout."""
    import hashlib
    import shutil
    import tempfile

    from minisql_engine_spark.sources.snapshots import (
        _read_manifest,
        append_snapshot,
        compact_snapshot,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    tag = hashlib.md5(("compact" + sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_cmp_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    write_snapshot(docs.filter(F.col("doc_id") % 3 == 0), path)
    for rem in (1, 2):
        append_snapshot(docs.filter(F.col("doc_id") % 3 == rem), path)
    if len(_read_manifest(path, 3)["data_dirs"]) != 3:
        raise RuntimeError("appends did not accumulate 3 data dirs")
    v = compact_snapshot(spark, path)
    if len(_read_manifest(path, v)["data_dirs"]) != 1:
        raise RuntimeError(
            "compaction did not produce a single data dir"
        )
    return read_snapshot(spark, path).select("doc_id", "text", "lang")


@_register("ivf_index_maintenance", _ivf_oracle("(5,6,7,8,9)", 2, None))
def q_ivf_index_maintenance(spark, sf_dir):
    """IVF index MAINTENANCE life cycle (operators/ann_index.py —
    what actually happens to an ANN index in production): build from
    2/3 of the corpus, append the remaining third in two batches
    against the FROZEN centroids (appends never retrain — the 100 TB
    ingest path), then compact when a cell exceeds its bound —
    re-training the coarse quantizer over the full stored corpus and
    rewriting the cell layout. The query RAISES unless compaction
    actually triggered and reported its before/after drift record.
    Because stored vectors are the exact doubles the embeddings cast
    to, a compacted index is bit-identical to a fresh full-corpus
    build — so the SAME Lloyd-replay oracle that certifies
    ivf_index_search certifies the whole grow→compact→search cycle
    (queries 5–9, disjoint from that entry's 0–4)."""
    import hashlib
    import shutil
    import tempfile

    from minisql_engine_spark.operators.ann_index import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_cell_stats,
        ivf_index_topk,
        write_ivf_index,
    )
    from minisql_engine_spark.materialize import release

    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(("ivfmaint" + sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_ivfm_{tag}")
    # rebuilt every call — the grow→compact cycle IS the operator
    shutil.rmtree(path, ignore_errors=True)
    i = F.col("vec_id")
    # refine_iters=0 on the INITIAL build: the final layout depends
    # only on compaction's own retraining (which uses the oracle's
    # 2 Lloyd iterations over the full stored corpus), so refining
    # centroids that compaction throws away would just double the
    # training cost (measured: the cycle is Lloyd-bound)
    write_ivf_index(emb.filter(i % 3 != 0), path, refine_iters=0)
    release("centroids")
    append_to_ivf_index(emb.filter(i % 6 == 0), path)
    append_to_ivf_index(emb.filter(i % 6 == 3), path)
    big = max(
        r["n_vectors"]
        for r in ivf_cell_stats(spark, path).collect()
    )
    rep = compact_ivf_index(spark, path, max_cell_size=big - 1)
    release("centroids")
    if not rep["compacted"] or rep["mean_dist_after"] is None:
        raise RuntimeError(
            f"compaction did not trigger/report: {rep!r}"
        )
    queries = emb.filter(i.isin([5, 6, 7, 8, 9]))
    out = ivf_index_topk(spark, path, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


#: fixed staging path for the JSONL fixture — constant (not sf-keyed)
#: because the ORACLE string must embed it at import time; the query
#: (re)writes the file from its own sf_dir immediately before the
#: driver/parity harness runs the oracle, so both engines always
#: parse the same bytes.
_JSONL_STAGE = os.path.join("/tmp", "minisql_jsonl_fixture")


@_register(
    "jsonl_corrupt_capture",
    "SELECT doc_id, lang, text, n_chars FROM read_json("
    f"'{_JSONL_STAGE}/data.jsonl', format='newline_delimited',"
    " ignore_errors=true, columns={doc_id: 'BIGINT',"
    " lang: 'VARCHAR', text: 'VARCHAR', n_chars: 'BIGINT'})"
    " WHERE doc_id IS NOT NULL",
)
def q_jsonl_corrupt_capture(spark, sf_dir):
    """Schema-explicit JSONL ingest with corrupt-row capture
    (sources/writers.read_jsonl — the crawl-drop format every LLM
    pipeline ingests): 40 documents are serialized to JSON lines
    with 3 deliberately-corrupt lines interleaved (brace garbage, a
    truncated object, non-JSON text), then read back under an
    explicit schema in PERMISSIVE mode — one pass, no inference
    scan, corrupt rows landing in ``_corrupt_record`` instead of
    failing the job or silently widening columns. The query RAISES
    unless exactly 3 corrupt rows were captured and exactly 40
    parsed (the capture contract); the hash gate then compares the
    parsed relation against DuckDB parsing the SAME staged bytes
    (ignore_errors turns its corrupt lines into all-NULL rows,
    filtered on the NOT NULL key both engines agree on)."""
    import json as _json

    from minisql_engine_spark.sources.writers import read_jsonl

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text", "n_chars")
        .orderBy("doc_id")
        .limit(40)
        .collect()  # bounded: 40 rows by contract
    )
    # each corrupt line must FAIL WITHIN ITS LINE in both engines: a
    # truncated object ('{"doc_id":') makes DuckDB's reader consume
    # the NEXT (good) line as continuation, silently eating a record
    corrupt = ["}{", '{"doc_id": oops}', "this line is not json"]
    os.makedirs(_JSONL_STAGE, exist_ok=True)
    with open(os.path.join(_JSONL_STAGE, "data.jsonl"), "w") as f:
        for i, r in enumerate(docs):
            if i % 13 == 5:
                f.write(corrupt[(i // 13) % len(corrupt)] + "\n")
            f.write(
                _json.dumps(
                    {
                        "doc_id": r["doc_id"],
                        "lang": r["lang"],
                        "text": r["text"],
                        "n_chars": r["n_chars"],
                    }
                )
                + "\n"
            )
    raw = read_jsonl(
        spark,
        os.path.join(_JSONL_STAGE, "data.jsonl"),
        schema="doc_id bigint, lang string, text string,"
        " n_chars bigint, _corrupt_record string",
    ).persist()  # Spark disallows corrupt-column-only queries on the
    # raw lazy read; the persist also makes it one file pass
    try:
        n_bad = raw.filter(F.col("_corrupt_record").isNotNull()).count()
        good = raw.filter(F.col("_corrupt_record").isNull()).select(
            "doc_id", "lang", "text", "n_chars"
        )
        n_good = good.count()
        if n_bad != 3 or n_good != 40:
            raise RuntimeError(
                f"corrupt-row capture broke: {n_bad} corrupt /"
                f" {n_good} parsed (want 3 / 40)"
            )
        return good.localCheckpoint(eager=True)
    finally:
        raw.unpersist()


@_register(
    "zorder_pruned_scan",
    "WITH mm AS (SELECT min(o_totalprice) AS mn,"
    "  max(o_totalprice) AS mx FROM orders)"
    " SELECT o_orderkey, o_custkey, o_totalprice FROM orders, mm"
    " WHERE o_totalprice >= mn + 0.45 * (mx - mn)"
    "   AND o_totalprice <= mn + 0.5 * (mx - mn)",
)
def q_zorder_pruned_scan(spark, sf_dir):
    """Z-order (Morton-curve) clustered layout (sources/zorder.py —
    Delta's OPTIMIZE ZORDER BY shape, the 100 TB answer when queries
    filter on SEVERAL columns): orders is written range-partitioned
    on the interleaved-bit Z-value of (o_custkey, o_totalprice) into
    32 Z-disjoint files, then the query RAISES unless a 5%-band
    predicate on EACH clustered dimension can skip ≥ half the files
    by parquet footer min/max alone (measured 0.62–0.81 across SFs;
    the range partitioner's boundary sampling jitters ~±0.06, so the
    0.5 gate has real margin) — the executed-layout gate, like
    snapshot_merge_pruned's carried-files check. Returned rows are
    the o_totalprice band scan over the written layout; the band
    bounds derive from min/max through the same IEEE double
    arithmetic in the oracle, and content identity across the
    re-layout is the correctness half of the contract."""
    import hashlib
    import shutil
    import tempfile

    from minisql_engine_spark.sources.zorder import (
        file_prune_fraction,
        write_zordered,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(("zord" + sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_zord_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    write_zordered(
        orders, path, ["o_custkey", "o_totalprice"], n_files=32
    )
    mm = orders.agg(
        F.min("o_custkey").alias("kmn"),
        F.max("o_custkey").alias("kmx"),
        F.min("o_totalprice").alias("pmn"),
        F.max("o_totalprice").alias("pmx"),
    ).collect()[0]
    bands = {}
    for col, mn, mx in (
        ("o_custkey", float(mm["kmn"]), float(mm["kmx"])),
        ("o_totalprice", float(mm["pmn"]), float(mm["pmx"])),
    ):
        bands[col] = (mn + 0.45 * (mx - mn), mn + 0.5 * (mx - mn))
        frac = file_prune_fraction(path, col, *bands[col])
        if frac < 0.5:
            raise RuntimeError(
                f"z-order layout prunes only {frac:.2f} of files on"
                f" {col} — multi-dimensional clustering regressed"
            )
    lo, hi = bands["o_totalprice"]
    return (
        spark.read.parquet(path)
        .filter(
            (F.col("o_totalprice") >= lo) & (F.col("o_totalprice") <= hi)
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --- r8 wave: hybrid retrieval (RRF), leakage-safe splits, PageRank --------


_HYBRID_QIDS = (100, 101, 102, 103, 104)
_HYBRID_K_LIST = 20  # per-retriever list depth fed into the fusion
_HYBRID_K = 10       # fused top-k returned


def _hybrid_oracle() -> str:
    from minisql_engine_spark.operators.retrieval import (
        RRF_K,
        RRF_UNIT,
        bm25_ranked_cte_sql,
    )

    ids = ",".join(str(i) for i in _HYBRID_QIDS)
    return (
        f"WITH dn AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),"
        " q AS (SELECT CAST(doc_id AS VARCHAR) AS query_id,"
        "  array_to_string(list_slice(string_split(norm, ' '), 1, 8), ' ')"
        f"  AS query_text FROM dn WHERE doc_id IN ({ids})),"
        + bm25_ranked_cte_sql(q_cte="q")
        + ", ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        "   FROM embeddings),"
        f" dq AS (SELECT vec_id AS qid, v AS qv FROM ev"
        f"  WHERE vec_id IN ({ids})),"
        " de_scored AS (SELECT CAST(qid AS VARCHAR) AS query_id,"
        "  vec_id AS doc_id,"
        "  round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv))"
        "   * sqrt(list_dot_product(v, v))), 6) AS score"
        "  FROM ev CROSS JOIN dq WHERE vec_id != qid),"
        " de_ranked AS (SELECT query_id, doc_id, row_number() OVER ("
        "  PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank"
        "  FROM de_scored),"
        f" fu AS (SELECT query_id, doc_id, {RRF_UNIT} // ({RRF_K} + rank)"
        f"   AS c FROM bm25_ranked WHERE rank <= {_HYBRID_K_LIST}"
        f"  UNION ALL SELECT query_id, doc_id, {RRF_UNIT} // ({RRF_K} + rank)"
        f"   FROM de_ranked WHERE rank <= {_HYBRID_K_LIST}),"
        " fused AS (SELECT query_id, doc_id,"
        "  CAST(sum(c) AS BIGINT) AS rrf_units,"
        "  CAST(count(*) AS BIGINT) AS n_lists"
        "  FROM fu GROUP BY query_id, doc_id)"
        " SELECT query_id, doc_id, rrf_units, n_lists,"
        "  CAST(fused_rank AS INT) AS fused_rank FROM"
        " (SELECT *, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY rrf_units DESC, doc_id) AS fused_rank FROM fused)"
        f" WHERE fused_rank <= {_HYBRID_K}"
    )


@_register("hybrid_rrf_retrieval", _hybrid_oracle())
def q_hybrid_rrf_retrieval(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (§2.4 retrieval
    family): a lexical BM25 list and a dense cosine list per query,
    fused with integer-exact RRF (operators/retrieval.rrf_fuse).
    Query text is DERIVED in-plan (first 8 normalized tokens of the
    query document) and the query vector is the matching embeddings
    row, so the oracle replays both retrievers AND the fusion with no
    literals. The two lists disagree by construction (synthetic
    embeddings are independent of the text) — exactly the condition
    under which fusion arithmetic, tie-breaks, and the consensus
    count (n_lists) are all load-bearing. Reference contrast:
    sqlengine.py has no retrieval surface at all."""
    from minisql_engine_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )
    from minisql_engine_spark.operators.similarity import brute_force_topk
    from minisql_engine_spark.operators.text import _norm_text, _ws_tokens

    docs = _t(spark, sf_dir, "documents")
    qdf = (
        docs.filter(F.col("doc_id").isin(list(_HYBRID_QIDS)))
        .select(
            F.col("doc_id").cast("string").alias("query_id"),
            F.array_join(
                F.slice(_ws_tokens(_norm_text(F.col("text"))), 1, 8), " "
            ).alias("query_text"),
        )
    )
    sparse = bm25_topk(docs, qdf, k=_HYBRID_K_LIST).select(
        "query_id", "doc_id", "rank"
    )
    dense = brute_force_topk(
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(_HYBRID_QIDS),
        k=_HYBRID_K_LIST,
    ).select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([sparse, dense], k=_HYBRID_K)


@_register(
    "split_leakage_safe",
    _MINHASH_CTE
    + _MINHASH_VERIFIED_COMP
    + ", rep AS (SELECT d2.doc_id,"
    "   CAST(coalesce(c.component, d2.doc_id) AS BIGINT) AS rep"
    "   FROM documents d2 LEFT JOIN comp c ON c.id = d2.doc_id),"
    " bkt AS (SELECT doc_id, rep,"
    "   (CAST(list_sum([(strpos('0123456789abcdef',"
    "    substr(md5(CAST(rep AS VARCHAR)), i, 1)) - 1)"
    "    * power(16, 8 - i) for i in range(1, 9)]) AS BIGINT)"
    "    % 10) AS bucket FROM rep)"
    " SELECT doc_id, rep, bucket,"
    "  CASE WHEN bucket < 8 THEN 'train' WHEN bucket < 9 THEN 'val'"
    "  ELSE 'test' END AS split FROM bkt",
)
def q_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/splits.py):
    near-dup clusters (MinHash+LSH pairs → connected components) are
    assigned WHOLE to one split via an md5 bucket of the cluster
    representative — the decontaminated-split operation every
    training corpus needs. The oracle replays pairs, closure, md5
    bucket arithmetic, and the split mapping; the in-query gates
    re-check the leakage contract structurally (a straddling pair
    raises) and non-vacuously (at least one multi-doc cluster must
    exist). Reference contrast: sqlengine.py has no sampling/split
    surface."""
    from pyspark.storagelevel import StorageLevel

    from minisql_engine_spark.materialize import hold
    from minisql_engine_spark.operators.dedup import minhash_lsh_dedup
    from minisql_engine_spark.operators.splits import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    level = StorageLevel.MEMORY_AND_DISK
    pairs = hold(
        minhash_lsh_dedup(docs, threshold=0.5).persist(level), "dedup"
    )
    out = hold(leakage_safe_split(docs, pairs).persist(level), "dedup")
    straddle = (
        pairs.select("id_a", "id_b")
        .join(
            out.select(
                F.col("doc_id").alias("id_a"),
                F.col("split").alias("split_a"),
            ),
            "id_a",
        )
        .join(
            out.select(
                F.col("doc_id").alias("id_b"),
                F.col("split").alias("split_b"),
            ),
            "id_b",
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                (F.col("split_a") != F.col("split_b")).cast("int")
            ).alias("n_straddle"),
        )
        .collect()[0]
    )
    if straddle["n_pairs"] == 0:
        raise RuntimeError(
            "no near-dup pairs at sf — the leakage gate is vacuous"
        )
    if straddle["n_straddle"]:
        raise RuntimeError(
            f"{straddle['n_straddle']} near-dup pairs straddle splits "
            "— cluster-granularity assignment regressed"
        )
    return out


_MMR_QIDS = (100, 101, 102, 103, 104)
_MMR_SHORTLIST = 20
_MMR_K = 8


def _mmr_oracle() -> str:
    from minisql_engine_spark.operators.mmr import mmr_ctes_sql
    from minisql_engine_spark.operators.similarity import DUCK_COS

    ids = ",".join(str(i) for i in _MMR_QIDS)
    rel = DUCK_COS.format(a="mq.qv", b="me.v")
    return (
        "WITH me AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " mq AS (SELECT vec_id AS qid, v AS qv FROM me"
        f"  WHERE vec_id IN ({ids})),"
        " msc AS (SELECT CAST(qid AS VARCHAR) AS query_id,"
        f"  vec_id AS doc_id, {rel} AS rel, me.v"
        "  FROM me CROSS JOIN mq WHERE vec_id != qid),"
        " mcand AS MATERIALIZED (SELECT query_id, doc_id, rel, v FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY rel DESC, doc_id) AS r FROM msc)"
        f"  WHERE r <= {_MMR_SHORTLIST}),"
        + mmr_ctes_sql(_MMR_K, cand_cte="mcand")
        # round(score, 6) here is DuckDB's scaled-nearbyint double
        # rounding; the pandas twin (_round6) replicates exactly that
        # — MMR scores are 0.5*(a-b) of round-6 inputs, so ~half sit
        # a hair off the 7th-digit-5 boundary where rounding-
        # convention mismatches show up as 1e-6 flips (measured both
        # ways before pinning this pair).
        + " SELECT query_id, doc_id, rel, round(score, 6) AS mmr_score,"
        f" CAST(sel_rank AS INT) AS sel_rank FROM msel{_MMR_K}"
    )


@_register("mmr_diverse_topk", _mmr_oracle())
def q_mmr_diverse_topk(spark, sf_dir):
    """MMR diversity re-ranking (operators/mmr.py): brute-force
    cosine top-20 shortlist per query, then greedy maximal-marginal-
    relevance selection of a diverse top-8 inside a grouped Arrow
    applyInPandas — the custom-operator path for inherently
    sequential per-group logic. The oracle unrolls all 8 greedy steps
    as CTEs, replaying every argmax, tie-break, and the bit-identical
    0.5*(rel - maxsim) double expression — so the Python loop itself
    is hash-certified. Reference contrast: sqlengine.py has no
    retrieval surface."""
    from minisql_engine_spark.operators.mmr import mmr_rerank
    from minisql_engine_spark.operators.similarity import (
        _as_double,
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    topk = brute_force_topk(
        emb, query_ids=list(_MMR_QIDS), k=_MMR_SHORTLIST
    )
    cands = topk.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            _as_double(F.col("embedding")).alias("v"),
        ),
        "neighbor_id",
    ).select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("score").alias("rel"),
        "v",
    )
    return mmr_rerank(cands, k=_MMR_K)


def _sq8_oracle() -> str:
    from minisql_engine_spark.operators.sq import sq8_topk_sql

    return sq8_topk_sql([100, 101, 102, 103, 104], k=10)


@_register("emb_sq8_topk", _sq8_oracle())
def q_emb_sq8_topk(spark, sf_dir):
    """SQ8 scalar-quantization ANN (operators/sq.py) — the 4×-smaller
    point on the quantization spectrum between exact flat search and
    PQ: per-dimension min/max codebook (ONE broadcast row),
    floor-encoded 1-byte/dim codes (floor, never round — the r8
    rounding-convention doctrine), dequantized-cosine shortlist of
    3·k, exact re-rank. Fair queries 100–104, the corpus never
    collects; codebook, codes, both scoring passes, and the ranking
    all replay in the oracle. In-row quality: recall vs exact truth
    is pinned ≥0.9 in tests/test_sq.py (the hash itself certifies the
    reranked list equals the oracle's). Reference contrast:
    sqlengine.py has no vector surface."""
    from minisql_engine_spark.operators.sq import sq8_topk

    return sq8_topk(
        _t(spark, sf_dir, "embeddings"),
        query_ids=[100, 101, 102, 103, 104],
        k=10,
    )


def _curriculum_oracle() -> str:
    from minisql_engine_spark.operators.curriculum import (
        curriculum_order_sql,
    )

    return curriculum_order_sql("n_chars", n_buckets=4)


@_register("curriculum_order", _curriculum_oracle())
def q_curriculum_order(spark, sf_dir):
    """Reproducible curriculum ordering (operators/curriculum.py) —
    the last stage of the training-composition story (curate →
    mixture → pack → ORDER): exact-quantile difficulty buckets over
    n_chars (one broadcast threshold row, the proven
    percentile ≡ quantile_cont pairing) + md5(seed‖id) in-bucket
    shuffle → one row_number total position. One total sort; rebuilds
    are byte-identical — the reproducibility a naive orderBy(rand())
    cannot give. The oracle replays thresholds, buckets, priorities,
    and the full permutation. Reference contrast: sqlengine.py has no
    ordering surface beyond result formatting."""
    from minisql_engine_spark.operators.curriculum import (
        curriculum_order,
    )

    return curriculum_order(
        _t(spark, sf_dir, "documents"), "n_chars", n_buckets=4
    )


@_register(
    "snapshot_diff_cdc",
    "SELECT 'append' AS step, 'added' AS op, doc_id + 10000 AS doc_id,"
    " 'NEW:' || text AS text, lang, source, n_chars"
    " FROM documents WHERE doc_id < 30"
    " UNION ALL SELECT 'merge', 'added', doc_id, 'PATCHED:' || text,"
    " lang, source, n_chars FROM documents WHERE doc_id < 40"
    " UNION ALL SELECT 'merge', 'removed', doc_id, text,"
    " lang, source, n_chars FROM documents WHERE doc_id < 40",
)
def q_snapshot_diff_cdc(spark, sf_dir):
    """Lakehouse CDC: version-to-version diff over the snapshot
    format (sources/snapshots.diff_snapshots). Commits v1 (range-
    clustered base) → v2 (append) → v3 (file-pruned MERGE), then
    emits diff(v1→v2) ∪ diff(v2→v3). Shared manifest entries never
    leave disk, so the append diff reads ZERO history (gated: its
    only_from set must be empty) and the merge diff reads only the
    replaced dir + its rewrite (gated: some dir must have carried) —
    the untouched rows of the rewritten file cancel in the
    multiset anti-diff, so the oracle is pure content arithmetic
    over `documents`, independent of the physical file layout. The
    archived `snapshot_merge_pruned` row's pruned-MERGE machinery
    replays INSIDE this cycle."""
    import hashlib
    import shutil
    import tempfile

    from minisql_engine_spark.sources.snapshots import (
        append_snapshot,
        diff_dirs,
        diff_snapshots,
        merge_snapshot_pruned,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"minisql_cdc_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    v1 = write_snapshot(
        docs.repartitionByRange(4, "doc_id").sortWithinPartitions(
            "doc_id"
        ),
        path,
    )
    batch = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.lit("NEW:"), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    v2 = append_snapshot(batch, path)
    upd = docs.filter(F.col("doc_id") < 40).withColumn(
        "text", F.concat(F.lit("PATCHED:"), F.col("text"))
    )
    merge_snapshot_pruned(spark, path, upd, "doc_id")
    v3 = v2 + 1
    of12, _, _ = diff_dirs(path, v1, v2)
    if of12:
        raise RuntimeError(
            f"append diff would read {len(of12)} historical dirs — "
            "the zero-read CDC contract regressed"
        )
    _, _, shared23 = diff_dirs(path, v2, v3)
    if not shared23:
        raise RuntimeError(
            "pruned merge shared no dirs with its base — the diff "
            "read the whole table instead of the change"
        )
    d12 = diff_snapshots(spark, path, v1, v2).select(
        F.lit("append").alias("step"), "*"
    )
    d23 = diff_snapshots(spark, path, v2, v3).select(
        F.lit("merge").alias("step"), "*"
    )
    return d12.unionByName(d23)


_NB_ORACLE = (
    f"WITH ntoks AS MATERIALIZED (SELECT doc_id, lang AS k,"
    f" unnest(string_split({_NORM_SQL}, ' ')) AS token"
    " FROM documents WHERE trim(text) <> ''),"
    " ncls AS (SELECT k, CAST(count(DISTINCT doc_id) AS BIGINT)"
    "  AS n_docs FROM ntoks GROUP BY k),"
    " ntotal AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM ncls),"
    " npri AS MATERIALIZED (SELECT k,"
    "  log2(CAST(n_docs AS DOUBLE) / n) AS log_prior"
    "  FROM ncls CROSS JOIN ntotal),"
    " nck AS (SELECT k, token, CAST(count(*) AS BIGINT) AS c"
    "  FROM ntoks GROUP BY k, token),"
    " nnk AS (SELECT k, CAST(sum(c) AS BIGINT) AS nk FROM nck"
    "  GROUP BY k),"
    " nv AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v"
    "  FROM ntoks),"
    " ntf AS (SELECT doc_id, k AS actual, token,"
    "  CAST(count(*) AS BIGINT) AS tf FROM ntoks"
    "  GROUP BY doc_id, k, token),"
    " nsc AS (SELECT ntf.doc_id, ntf.actual, c.k,"
    "  CAST(sum(CAST(ntf.tf * coalesce("
    "   log2((CAST(nck.c AS DOUBLE) + 1.0) / (nnk.nk + nv.v)),"
    "   log2(1.0 / (nnk.nk + nv.v))) AS DECIMAL(38,12)))"
    "   AS DOUBLE) AS ll"
    "  FROM ntf CROSS JOIN (SELECT k FROM ncls) c"
    "  LEFT JOIN nck ON nck.k = c.k AND nck.token = ntf.token"
    "  JOIN nnk ON nnk.k = c.k CROSS JOIN nv"
    "  GROUP BY ntf.doc_id, ntf.actual, c.k),"
    " nwp AS (SELECT s.doc_id, s.actual, s.k,"
    "  floor((s.ll + p.log_prior) * 1e6 + 0.5) / 1e6 AS score"
    "  FROM nsc s JOIN npri p ON p.k = s.k),"
    " npred AS MATERIALIZED (SELECT doc_id, actual, k AS predicted,"
    "  score, (k = actual) AS correct FROM ("
    "   SELECT *, row_number() OVER (PARTITION BY doc_id"
    "    ORDER BY score DESC, k) AS r FROM nwp) WHERE r = 1),"
    " nacc AS (SELECT floor(CAST(count(*) FILTER (correct) AS DOUBLE)"
    "  / count(*) * 1e6 + 0.5) / 1e6 AS accuracy FROM npred)"
    " SELECT doc_id, actual, predicted, score, correct, accuracy"
    " FROM npred CROSS JOIN nacc"
)


@_register("nb_doc_classifier", _NB_ORACLE)
def q_nb_doc_classifier(spark, sf_dir):
    """Multinomial Naive Bayes document classifier
    (operators/classify.py) — the shallow supervised-classifier
    family of a curation pipeline (fastText-fidelity language-ID /
    quality gating): Laplace-smoothed per-class token
    log-likelihoods + priors, argmax with round-6 scores and
    class-ascending tie-breaks. Trained and scored in-sample on the
    documents corpus; the oracle replays COUNTS, smoothing, priors,
    scoring, argmax, AND the corpus accuracy — which rides every row,
    so the hash pins the exact value (the synthetic corpus carries
    no real language signal, accuracy ≈ the majority prior; the
    discriminative behavior itself is pinned on planted-signal
    corpora in tests/test_classify.py). Reference contrast:
    sqlengine.py has no model surface."""
    from minisql_engine_spark.operators.classify import nb_classify_self

    return nb_classify_self(_t(spark, sf_dir, "documents"))


_PAGERANK_ITERS = 6
_PAGERANK_TOP = 25


def _pagerank_oracle() -> str:
    from minisql_engine_spark.operators.graph import pagerank_ctes_sql

    # integer node ids: even = customer 2k, odd = supplier 2k+1 —
    # longs shuffle/hash far cheaper than 'c123' strings across the
    # iteration joins (the same reason hash keys everywhere else in
    # the package stay numeric)
    edges_cte = (
        "WITH be AS (SELECT DISTINCT CAST(2 * o.o_custkey AS BIGINT)"
        "  AS src, CAST(2 * l.l_suppkey + 1 AS BIGINT) AS dst"
        "  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)"
        " SELECT src, dst FROM be UNION ALL SELECT dst, src FROM be"
    )
    return (
        "WITH "
        + pagerank_ctes_sql(edges_cte, n_iter=_PAGERANK_ITERS)
        + " SELECT node, CASE WHEN node % 2 = 0"
        "  THEN 'c' || CAST(node // 2 AS VARCHAR)"
        "  ELSE 's' || CAST(node // 2 AS VARCHAR) END AS entity,"
        " pr_units, CAST(pos AS INT) AS pos FROM"
        " (SELECT node, rank AS pr_units,"
        "  row_number() OVER (ORDER BY rank DESC, node) AS pos"
        f"  FROM pr{_PAGERANK_ITERS})"
        f" WHERE pos <= {_PAGERANK_TOP}"
    )


@_register("pagerank_customer_supplier", _pagerank_oracle())
def q_pagerank_customer_supplier(spark, sf_dir):
    """Integer-exact PageRank (operators/graph.py) over the symmetric
    customer–supplier trade graph (distinct (custkey, suppkey) edges
    from orders ⋈ lineitem, both directions): 6 Pregel-as-join
    iterations, fixed-point units, every floor-division replayed in
    the oracle's chained CTEs — the iterative-graph-analytics family
    (entity ranking over link structure) verified end-to-end. An
    in-query gate checks rank-mass conservation (Σ pr_units within
    the documented floor-leak bound of SCALE). Reference contrast:
    sqlengine.py has no iterative operators."""
    from pyspark.sql.window import Window

    from minisql_engine_spark.materialize import hold
    from minisql_engine_spark.operators.graph import SCALE, pagerank

    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # distinct on the INTEGER key pair, then ONE explode emits both
    # directions — a union of base with base-swapped would execute
    # the join+distinct subtree twice (measured ~2× the edge-build
    # cost); node ids stay BIGINT (even = customer 2k, odd =
    # supplier 2k+1) because longs shuffle/hash far cheaper than
    # prefixed strings across the iteration joins
    pairs = (
        lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    c = (F.lit(2) * F.col("o_custkey")).cast("long")
    s = (F.lit(2) * F.col("l_suppkey") + 1).cast("long")
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(c.alias("src"), s.alias("dst")),
                F.struct(s.alias("src"), c.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # customer+supplier node set is dimension-sized → broadcast the
    # rank table each iteration; the cached edge list never reshuffles
    pr = pagerank(edges, n_iter=_PAGERANK_ITERS, broadcast_ranks=True)
    pr = hold(pr.persist(), "graph")
    mass = pr.agg(
        F.sum("pr_units").alias("m"), F.count("*").alias("n")
    ).collect()[0]
    # each iteration floors once per edge plus once for the teleport
    # term per node; 1% of SCALE is orders of magnitude above any
    # real graph's leak and catches arithmetic regressions
    if not (SCALE * 0.99 <= mass["m"] <= SCALE):
        raise RuntimeError(
            f"rank mass {mass['m']} outside the floor-leak bound "
            f"for SCALE={SCALE}, n={mass['n']}"
        )
    w = Window.orderBy(F.col("pr_units").desc(), F.col("node"))
    entity = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.expr("node DIV 2").cast("string"),
    )
    return (
        pr.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _PAGERANK_TOP)
        .select(
            "node",
            entity.alias("entity"),
            "pr_units",
            F.col("pos").cast("int").alias("pos"),
        )
    )


@_register(
    "repetition_signals",
    None,  # filled below — built from the operator's SQL twin
)
def q_repetition_signals(spark, sf_dir):
    """Gopher/MassiveText repetition quality signals
    (operators/repetition.py): duplicate-line fraction (count- and
    character-weighted), top-2-gram mass, duplicate-5-gram fraction
    per document. The corpus is single-line by construction, so the
    row derives a newline-salted variant IN-PLAN (every 5th doc
    repeats itself as a second line — dup_line_frac 1.0; the next
    class appends a shared boilerplate footer line) and the oracle
    replays the salting CASE plus every fraction. Exact integer
    ratios through the portable fx6 edge; NULL (never 0.0) for
    no-evidence documents."""
    from minisql_engine_spark.operators.repetition import (
        repetition_report,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    salted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat_ws("\n", F.col("text"), F.col("text")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat_ws(
                "\n", F.col("text"), F.lit("standard boilerplate footer")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_report(salted)


def _repetition_oracle() -> str:
    from minisql_engine_spark.operators.repetition import (
        repetition_report_sql,
    )

    salted = (
        "SELECT doc_id, CASE"
        " WHEN doc_id % 5 = 0 THEN concat_ws(chr(10), text, text)"
        " WHEN doc_id % 5 = 1 THEN concat_ws(chr(10), text,"
        "  'standard boilerplate footer')"
        " ELSE text END AS text FROM documents"
    )
    return repetition_report_sql(table=f"({salted})")


_ORACLES["repetition_signals"] = _repetition_oracle()


_IR_EVAL_QIDS = (20, 21, 22, 23, 24)


@_register(
    "retrieval_eval_suite",
    None,  # filled below — built from the operator's SQL twin
)
def q_retrieval_eval_suite(spark, sf_dir):
    """IR evaluation metrics (operators/retrieval_eval.py — the
    fourth piece of the retrieval family): BM25 top-10 runs over five
    in-plan-derived queries are scored against graded (source, lang)
    qrels — rel 2 = same source and language as the query document,
    rel 1 = same source only — producing per-query nDCG@10, MRR@10,
    P@10, R@10 plus the macro row. Every gain, ideal ranking, and
    ratio replays in the oracle (gains are exact powers of two over
    irrational log2 denominators; the integer-ratio metrics ride the
    portable fx6 edge). This is the harness a pipeline uses to tune
    k1/b or compare retrievers, certified end-to-end."""
    from minisql_engine_spark.operators.retrieval import bm25_topk
    from minisql_engine_spark.operators.retrieval_eval import ir_metrics
    from minisql_engine_spark.operators.text import _norm_text, _ws_tokens

    docs = _t(spark, sf_dir, "documents")
    qdf = docs.filter(
        F.col("doc_id").isin(list(_IR_EVAL_QIDS))
    ).select(
        F.col("doc_id").cast("string").alias("query_id"),
        F.array_join(
            F.slice(_ws_tokens(_norm_text(F.col("text"))), 1, 8), " "
        ).alias("query_text"),
    )
    run = bm25_topk(docs, qdf, k=10).select(
        "query_id", "doc_id", "rank"
    )
    qmeta = docs.filter(
        F.col("doc_id").isin(list(_IR_EVAL_QIDS))
    ).select(
        F.col("doc_id").cast("string").alias("query_id"),
        F.col("source").alias("_qs"),
        F.col("lang").alias("_ql"),
    )
    qrels = (
        qmeta.join(
            docs.select("doc_id", "source", "lang"),
            F.col("source") == F.col("_qs"),
        )
        .select(
            "query_id",
            "doc_id",
            F.when(F.col("lang") == F.col("_ql"), F.lit(2))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("rel"),
        )
    )
    return ir_metrics(run, qrels, k=10)


def _ir_eval_oracle() -> str:
    from minisql_engine_spark.operators.retrieval import (
        bm25_ranked_cte_sql,
    )
    from minisql_engine_spark.operators.retrieval_eval import (
        ir_metrics_sql,
    )

    ids = ",".join(str(i) for i in _IR_EVAL_QIDS)
    run_cte = (
        f"WITH dn AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),"
        " q AS (SELECT CAST(doc_id AS VARCHAR) AS query_id,"
        "  array_to_string(list_slice(string_split(norm, ' '), 1, 8), ' ')"
        f"  AS query_text FROM dn WHERE doc_id IN ({ids})),"
        + bm25_ranked_cte_sql(q_cte="q")
        + " SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank"
        " FROM bm25_ranked WHERE rank <= 10"
    )
    qrels_cte = (
        "SELECT CAST(qd.doc_id AS VARCHAR) AS query_id, d.doc_id,"
        " CAST(CASE WHEN d.lang = qd.lang THEN 2 ELSE 1 END AS BIGINT)"
        "  AS rel"
        " FROM documents d JOIN documents qd ON d.source = qd.source"
        f" WHERE qd.doc_id IN ({ids})"
    )
    return ir_metrics_sql(run_cte, qrels_cte, k=10)


_ORACLES["retrieval_eval_suite"] = _ir_eval_oracle()


@_register(
    "knn_graph_cells",
    None,  # filled below — built from the operator's SQL twin
)
def q_knn_graph_cells(spark, sf_dir):
    """Blocked kNN-graph construction (operators/knn_graph.py — the
    substrate under SemDeDup, leakage-safe splits, and graph-based
    curation): every embedding's 5 nearest neighbors by rounded
    cosine among the members of its 2 nearest Lloyd-refined IVF
    cells. Candidate fan-out is n_probe · (n / n_cells) per vector —
    never all-pairs — and the oracle replays the refinement chain,
    both assignment ranks, the cell-blocked candidate join, and the
    per-source top-k, term for term. Directed edges
    (src_id, nbr_id, sim, rank)."""
    from minisql_engine_spark.operators.knn_graph import knn_graph

    return knn_graph(_t(spark, sf_dir, "embeddings"), k=5)


def _knn_graph_oracle() -> str:
    from minisql_engine_spark.operators.knn_graph import knn_graph_sql

    return knn_graph_sql(k=5)


_ORACLES["knn_graph_cells"] = _knn_graph_oracle()


@_register(
    "knn_graph_refine",
    None,  # filled below — built from the operator's SQL twin
)
def q_knn_graph_refine(spark, sf_dir):
    """NN-descent refinement (operators/knn_graph.py:233 — Dong,
    Moses & Li 2011): one round of undirected neighbors-of-neighbors
    expansion + exact cosine re-rank over the cell-blocked base
    graph. Recovers the recall an IVF-blocked graph loses at cell
    boundaries WITHOUT raising n_probe (measured recall@5 on the
    starved n_probe=2 base: 0.381 → 0.497 in this one round, → 0.554
    with two — pytest-pinned); candidates are ≤ (2k)² per source
    (edge joins on the k-regular graph), never corpus-quadratic. The
    oracle replays the base construction AND the expand→score→top-k
    round on the shared CTE chain."""
    from minisql_engine_spark.operators.knn_graph import (
        knn_graph,
        knn_graph_refine,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = knn_graph(emb, k=5)
    return knn_graph_refine(emb, base, k=5, n_rounds=1)


def _knn_refine_oracle() -> str:
    from minisql_engine_spark.operators.knn_graph import (
        knn_graph_refine_sql,
    )

    return knn_graph_refine_sql(k=5, n_rounds=1)


_ORACLES["knn_graph_refine"] = _knn_refine_oracle()


@_register(
    "doremi_mixture_weights",
    None,  # filled below — built from the operator's SQL twin
)
def q_doremi_mixture_weights(spark, sf_dir):
    """DoReMi-lite domain reweighting (operators/doremi.py — the
    iterative half of the training-composition family; mixture_sample
    CONSUMES what this produces): 4 rounds of integer-exact
    multiplicative weights over the documents table's sources, excess
    loss = each domain's average per-token cross-entropy under the
    corpus unigram LM minus the mixture-weighted reference,
    recomputed per round. SCALE fixed-point units, floor divisions
    only — bit-reproducible across any shuffle and replayed round by
    round in the oracle's chained CTEs (the PageRank certification
    pattern). Output is the full (round, domain) trajectory with the
    in-row mass-conservation invariant (Σ weight_units ≈ SCALE)."""
    from minisql_engine_spark.operators.doremi import doremi_weights

    return doremi_weights(_t(spark, sf_dir, "documents"), n_iter=4)


def _doremi_oracle() -> str:
    from minisql_engine_spark.operators.doremi import doremi_weights_sql

    return doremi_weights_sql(n_iter=4)


_ORACLES["doremi_mixture_weights"] = _doremi_oracle()


@_register(
    "doremi_mixture_selection",
    None,  # filled below — built from the operator's SQL twin
)
def q_doremi_mixture_selection(spark, sf_dir):
    """The training-composition closed loop as ONE certified plan
    (operators/doremi.py doremi_mixture_selection): 4 Group-DRO
    reweighting rounds LEARN the domain weights, then the archived
    mixture_sample admission rule SPENDS a 5 000-token budget under
    them — allowance(d) = weight_units(d)·budget DIV Σunits
    (integer-exact, no float dict detour), docs fill each source's
    allowance in decision-hash order with the straddler kept. The
    learned-weights table is domain-sized and broadcast; nothing is
    collected. The oracle chains the FULL learning replay (every
    round's CTEs) into the allowance + admission window, term for
    term."""
    from minisql_engine_spark.operators.doremi import (
        doremi_mixture_selection,
    )

    return doremi_mixture_selection(
        _t(spark, sf_dir, "documents"), 5_000, n_iter=4
    )


def _doremi_sel_oracle() -> str:
    from minisql_engine_spark.operators.doremi import (
        doremi_mixture_selection_sql,
    )

    return doremi_mixture_selection_sql(5_000, n_iter=4)


_ORACLES["doremi_mixture_selection"] = _doremi_sel_oracle()


@_register(
    "line_dedup_boilerplate",
    None,  # filled below — built from the operator's SQL twin
)
def q_line_dedup_boilerplate(spark, sf_dir):
    """Corpus-wide line-level dedup — the C4/CCNet boilerplate rule
    (operators/line_dedup.py): any line occurring ≥2 times in the
    corpus survives only at its FIRST (doc, pos) occurrence; blank
    lines are structural and always kept; documents reassemble in
    original line order with audit counts. The testdata corpus has
    no newlines, so the row stages the boilerplate regime in-query
    (the jsonl_corrupt_capture staging pattern): each staged doc's
    lines are its own text plus the next two docs' texts within its
    source — every text becomes a line in up to 3 staged docs, so
    cross-document duplicate lines are guaranteed and the keep-first
    rule is exercised corpus-wide. The engine resolves first owners
    with a skew-immune min-struct aggregate (no per-hash window
    sort); the oracle replays staging, hashing, the keep rule, and
    the ordered reassembly."""
    from minisql_engine_spark.operators.line_dedup import line_dedup
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    staged = docs.select(
        F.col("doc_id"),
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lead("text", 1).over(w),
            F.lead("text", 2).over(w),
        ).alias("text"),
    )
    return line_dedup(staged)


def _line_dedup_oracle() -> str:
    from minisql_engine_spark.operators.line_dedup import line_dedup_sql

    staging = (
        "SELECT doc_id, concat_ws(chr(10), text,"
        " lead(text, 1) OVER w, lead(text, 2) OVER w) AS text"
        " FROM documents"
        " WINDOW w AS (PARTITION BY source ORDER BY doc_id)"
    )
    inner = line_dedup_sql(table="staged")
    return "WITH staged AS (" + staging + ")," + inner[len("WITH ") :]


_ORACLES["line_dedup_boilerplate"] = _line_dedup_oracle()


@_register(
    "classifier_eval_metrics",
    None,  # filled below — built from the operator's SQL twin
)
def q_classifier_eval_metrics(spark, sf_dir):
    """Classifier evaluation, integer-exact
    (operators/classifier_eval.py — closes the classify.py loop:
    train → score → MEASURE): a real language-ID score (per-doc
    English-stopword ratio, pure integer fx6 — no float edge) against
    the lang='en' label, evaluated as ROC-AUC via the Mann-Whitney
    midrank statistic (×2-integral tie handling; the rank window runs
    over DISTINCT scores — bounded by the 10⁶ score domain, never the
    corpus), a threshold confusion matrix with floor-division
    precision/recall and the integer F1 identity
    2·tp·10⁶ DIV (2·tp+fp+fn), and 10-bin ECE with pinned
    floor-division order. Output is a tall integer (metric,
    value_units) table; the synthetic corpus has no real language
    signal (AUC ≈ 0.53 — honestly near-chance), so discrimination
    itself is pinned on planted-signal corpora in
    test_classifier_eval.py, the nb_doc_classifier convention."""
    from minisql_engine_spark.operators.classifier_eval import (
        classifier_eval,
        stopword_score,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = stopword_score(docs).join(
        docs.select(
            "doc_id",
            (F.col("lang") == "en").cast("int").alias("y"),
        ),
        "doc_id",
    )
    return classifier_eval(
        scored, label_col="y", score_col="s", threshold_units=50_000
    )


def _classifier_eval_oracle() -> str:
    from minisql_engine_spark.operators.classifier_eval import (
        classifier_eval_sql,
        stopword_score_sql,
    )

    scored = (
        "SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y, t.s"
        " FROM (" + stopword_score_sql() + ") t"
        " JOIN documents d USING (doc_id)"
    )
    return classifier_eval_sql(scored, threshold_units=50_000)


_ORACLES["classifier_eval_metrics"] = _classifier_eval_oracle()


@_register(
    "unimax_language_budget",
    None,  # filled below — built from the operator's SQL twin
)
def q_unimax_language_budget(spark, sf_dir):
    """UniMax epoch-capped budget allocation (operators/unimax.py —
    Chung et al. 2023; the third member of the training-composition
    family: mixture spends GIVEN weights, doremi LEARNS weights,
    UniMax needs none — only corpus statistics): allocate a
    20 000-token budget across LANGUAGES (below the corpus cap sum,
    so both branches run at the driver sf) (the paper's axis; the lang
    distribution is 3:1 skewed, so low-resource languages hit the
    1-epoch cap and surrender their excess to the rest) as uniformly
    as the caps allow. The paper's iterative waterfilling is closed
    form here — capped domains are a PREFIX of the cap-sorted order
    (monotonicity proof in the module doc), so one window decides
    everyone, integer floor shares + remainder distribution conserve
    mass exactly (Σ alloc = min(budget, Σ caps)), and the oracle
    replays the count pass, the prefix rule, and the share
    arithmetic term for term."""
    from minisql_engine_spark.operators.unimax import unimax_allocation

    return unimax_allocation(
        _t(spark, sf_dir, "documents"),
        20_000,
        max_epochs=1,
        domain_col="lang",
    )


def _unimax_oracle() -> str:
    from minisql_engine_spark.operators.unimax import (
        unimax_allocation_sql,
    )

    return unimax_allocation_sql(
        20_000, max_epochs=1, domain_col="lang"
    )


_ORACLES["unimax_language_budget"] = _unimax_oracle()


@_register(
    "pmi_collocations_topk",
    None,  # filled below — built from the operator's SQL twin
)
def q_pmi_collocations_topk(spark, sf_dir):
    """PMI collocation mining (operators/collocations.py — the
    word2vec phrases pass, Mikolov et al. 2013): the corpus's top-50
    adjacent token pairs by pointwise mutual information among pairs
    seen ≥3 times, ranked deterministically (pmi DESC, a, b). The
    five-term expanded log form (log c_ab + 2 log T₁ − log c_a −
    log c_b − log T₂) is a FIXED expression tree over exact integer
    counts, so the doubles agree bitwise across engines and the fx6
    edge is hash-stable. Shapes: positional explode → per-doc lag
    window (doc-sized partitions) → two hash aggregates →
    vocabulary-sized unigram joins → top-k over the min_count-
    filtered candidates only. Complements tfidf_keywords (per-doc
    token ranking) with corpus-wide PAIR ranking."""
    from minisql_engine_spark.operators.collocations import (
        pmi_collocations,
    )

    return pmi_collocations(_t(spark, sf_dir, "documents"))


def _pmi_oracle() -> str:
    from minisql_engine_spark.operators.collocations import (
        pmi_collocations_sql,
    )

    return pmi_collocations_sql()


_ORACLES["pmi_collocations_topk"] = _pmi_oracle()


@_register(
    "record_linkage_entities",
    None,  # filled below — built from the operator's SQL twin
)
def q_record_linkage_entities(spark, sf_dir):
    """Record linkage / entity resolution (operators/linkage.py —
    Fellegi & Sunter 1969 made deterministic): the structured-record
    granularity of the dedup family. TPC-H customers are exact-unique
    by construction, so the dirty regime is staged in-query (the
    line_dedup staging convention): every 7th customer gains a
    re-registered copy (offset key, one-character name typo, same
    balance/segment). Blocking on (nationkey:segment) bounds
    candidate pairs the way IVF cells bound ANN; a pair matches iff
    the integer agreement weight (3·[levenshtein(name) ≤ 2] +
    2·[balance equal]) reaches 5 — so a planted copy matches its
    source (typo distance 1 + equal balance), while near-names alone
    (Customer#…101 vs #…102, distance 1) never do; matches close
    into entities (min-id) and the min-id member is canonical. The
    oracle replays the staging, the block join, the exact-DP
    levenshtein gate, the weight sum, and the closure as a recursive
    CTE."""
    from minisql_engine_spark.operators.linkage import record_linkage

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("long").alias("rec_id"),
        F.concat_ws(
            ":", F.col("c_nationkey"), F.col("c_mktsegment")
        ).alias("block"),
        F.lower(F.col("c_name")).alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    dirty = base.filter(F.col("rec_id") % 7 == 0).select(
        (F.col("rec_id") + 1_000_000).alias("rec_id"),
        "block",
        F.expr(
            "concat(substring(name, 1, length(name) - 1), 'x')"
        ).alias("name"),
        "bal",
    )
    return record_linkage(
        base.unionByName(dirty),
        exact_weights={"bal": 2},
        name_weight=3,
        max_name_dist=2,
        threshold=5,
    )


def _linkage_oracle() -> str:
    from minisql_engine_spark.operators.linkage import (
        record_linkage_sql,
    )

    staging = (
        "SELECT CAST(c_custkey AS BIGINT) AS rec_id,"
        " concat(CAST(c_nationkey AS VARCHAR), ':', c_mktsegment)"
        "  AS block,"
        " lower(c_name) AS name, c_acctbal AS bal FROM customer"
        " UNION ALL"
        " SELECT CAST(c_custkey + 1000000 AS BIGINT),"
        " concat(CAST(c_nationkey AS VARCHAR), ':', c_mktsegment),"
        " concat(substring(lower(c_name), 1,"
        "  length(c_name) - 1), 'x'), c_acctbal"
        " FROM customer WHERE c_custkey % 7 = 0"
    )
    return record_linkage_sql(
        staging,
        exact_weights={"bal": 2},
        name_weight=3,
        max_name_dist=2,
        threshold=5,
    )


_ORACLES["record_linkage_entities"] = _linkage_oracle()


#: shared staging for the linkage→rollup composition: the dirty
#: customer corpus with balances as integer cents, so the equality
#: agreement AND the max-survivorship output are both integer-exact
_ROLLUP_STAGING_SQL = (
    "SELECT CAST(c_custkey AS BIGINT) AS rec_id,"
    " concat(CAST(c_nationkey AS VARCHAR), ':', c_mktsegment)"
    "  AS block,"
    " lower(c_name) AS name,"
    " CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c"
    " FROM customer"
    " UNION ALL"
    " SELECT CAST(c_custkey + 1000000 AS BIGINT),"
    " concat(CAST(c_nationkey AS VARCHAR), ':', c_mktsegment),"
    " concat(substring(lower(c_name), 1,"
    "  length(c_name) - 1), 'x'),"
    " CAST(round(c_acctbal * 100) AS BIGINT)"
    " FROM customer WHERE c_custkey % 7 = 0"
)


@_register(
    "entity_rollup_golden",
    None,  # filled below — built from the operator's SQL twin
)
def q_entity_rollup_golden(spark, sf_dir):
    """Golden records (operators/linkage.py entity_rollup): the
    match→MERGE survivorship step composing the r11-certified
    record_linkage_entities row into the MDM closed loop — the
    doremi→mixture promotion pattern (VERDICT r11 task 2). Same
    staged dirty corpus (every 7th customer re-registered with an
    offset key and a one-char name typo), with balances staged as
    integer cents so both the equality agreement and the
    max-survivorship output stay integer-exact. One row per resolved
    entity: first-rule fields (name, block) from the canonical
    min-id member — every planted typo heals back to the source
    name — and max-rule bal_c from the entity max via the
    skew-immune partial-aggregatable struct-max chooser. The oracle
    replays staging, linkage (block join, exact-DP levenshtein
    decisive band, weight sum, recursive-CTE closure), and the
    survivorship chooser end-to-end."""
    from minisql_engine_spark.operators.linkage import (
        entity_rollup,
        record_linkage,
    )

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("long").alias("rec_id"),
        F.concat_ws(
            ":", F.col("c_nationkey"), F.col("c_mktsegment")
        ).alias("block"),
        F.lower(F.col("c_name")).alias("name"),
        F.round(F.col("c_acctbal") * 100)
        .cast("long")
        .alias("bal_c"),
    )
    dirty = base.filter(F.col("rec_id") % 7 == 0).select(
        (F.col("rec_id") + 1_000_000).alias("rec_id"),
        "block",
        F.expr(
            "concat(substring(name, 1, length(name) - 1), 'x')"
        ).alias("name"),
        "bal_c",
    )
    staged = base.unionByName(dirty)
    resolved = record_linkage(
        staged,
        exact_weights={"bal_c": 2},
        name_weight=3,
        max_name_dist=2,
        threshold=5,
    )
    return entity_rollup(
        staged,
        resolved,
        first_cols=("name", "block"),
        max_cols=("bal_c",),
    ).orderBy("entity")


def _entity_rollup_oracle() -> str:
    from minisql_engine_spark.operators.linkage import (
        entity_rollup_sql,
        record_linkage_sql,
    )

    return (
        entity_rollup_sql(
            _ROLLUP_STAGING_SQL,
            record_linkage_sql(
                _ROLLUP_STAGING_SQL,
                exact_weights={"bal_c": 2},
                name_weight=3,
                max_name_dist=2,
                threshold=5,
            ),
            first_cols=("name", "block"),
            max_cols=("bal_c",),
        )
        + " ORDER BY entity"
    )


_ORACLES["entity_rollup_golden"] = _entity_rollup_oracle()


# last linkage-index tempdir per dataset tag, reclaimed on the next
# same-process invocation (see q_linkage_index_admission)
_LIDX_DIRS: dict[str, str] = {}


@_register(
    "linkage_index_admission",
    None,  # filled below — the ONE-SHOT twin, by the equivalence contract
)
def q_linkage_index_admission(spark, sf_dir):
    """Incremental entity-resolution life cycle
    (operators/linkage_index.py — the persisted-MDM machinery a
    100 TB registration stream runs on): init a REAL on-disk index
    from the clean customer corpus, admit the dirty re-registration
    batch (offset key + one-char typo, id +1e6 — the planted pairs
    must attach to their source entities), then admit a second batch
    that EXTENDS existing entities (a second re-registration, typo
    'y', id +2e6, for every 14th customer — chain growth through the
    index's entity super-nodes) and founds brand-new singletons
    ('zz '-prefixed names, id +3e6, for every 11th customer — the
    equal-balance agreement alone is 2 < 5, so they must NOT link).
    The oracle is the ONE-SHOT ``record_linkage_sql`` twin over the
    union of all three batches: by the min-member-id equivalence
    contract (module doc), the incremental index must equal the
    batch-global resolution EXACTLY — so the driver hash certifies
    incrementality itself, not just the final labels. Admission
    never re-scores old pairs: candidates are batch×batch and
    batch×index within blocks, closure runs over entity super-nodes."""
    import atexit
    import hashlib
    import shutil
    import tempfile
    import uuid as _uuid

    from minisql_engine_spark.operators.linkage_index import (
        admit_linkage_batch,
        init_linkage_index,
        linkage_index_entities,
    )

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("long").alias("rec_id"),
        F.concat_ws(
            ":", F.col("c_nationkey"), F.col("c_mktsegment")
        ).alias("block"),
        F.lower(F.col("c_name")).alias("name"),
        F.round(F.col("c_acctbal") * 100)
        .cast("long")
        .alias("bal_c"),
    )
    batch1 = base.filter(F.col("rec_id") % 7 == 0).select(
        (F.col("rec_id") + 1_000_000).alias("rec_id"),
        "block",
        F.expr(
            "concat(substring(name, 1, length(name) - 1), 'x')"
        ).alias("name"),
        "bal_c",
    )
    batch2 = (
        base.filter(F.col("rec_id") % 14 == 0)
        .select(
            (F.col("rec_id") + 2_000_000).alias("rec_id"),
            "block",
            F.expr(
                "concat(substring(name, 1, length(name) - 1), 'y')"
            ).alias("name"),
            "bal_c",
        )
        .unionByName(
            base.filter(F.col("rec_id") % 11 == 0).select(
                (F.col("rec_id") + 3_000_000).alias("rec_id"),
                "block",
                F.concat(F.lit("zz "), F.col("name")).alias("name"),
                "bal_c",
            )
        )
    )
    kw = dict(
        exact_weights={"bal_c": 2},
        name_weight=3,
        max_name_dist=2,
        threshold=5,
    )
    # Per-invocation path (dataset tag + pid + uuid): two concurrent
    # driver/bench processes on the same machine must not race on one
    # dir (the returned DataFrame lazily reads the label snapshot, so
    # a sibling's rmtree would tear it). Rebuilt every call — the
    # init→admit→admit cycle IS the operator; the previous
    # invocation's dir is reclaimed here (its DataFrame has been
    # consumed by then, same-process) and the last one at exit.
    tag = hashlib.md5(("lidx" + sf_dir).encode()).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(),
        f"minisql_lidx_{tag}_{os.getpid()}_{_uuid.uuid4().hex[:8]}",
    )
    prev = _LIDX_DIRS.get(tag)
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    _LIDX_DIRS[tag] = root
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # frozen post-init index (base self-resolution is a pure function
    # of the customer table) — built once, copied per invocation
    path = _seeded_index(
        "lidx", sf_dir, "customer",
        lambda p: init_linkage_index(base, p, **kw), root,
    )
    admit_linkage_batch(spark, path, batch1, 1, **kw)
    admit_linkage_batch(spark, path, batch2, 2, **kw)
    return linkage_index_entities(spark, path)


def _linkage_index_oracle() -> str:
    from minisql_engine_spark.operators.linkage import (
        record_linkage_sql,
    )

    b = (
        "concat(CAST(c_nationkey AS VARCHAR), ':', c_mktsegment)"
    )
    staging = (
        f"SELECT CAST(c_custkey AS BIGINT) AS rec_id, {b} AS block,"
        " lower(c_name) AS name,"
        " CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c"
        " FROM customer"
        " UNION ALL"
        f" SELECT CAST(c_custkey + 1000000 AS BIGINT), {b},"
        " concat(substring(lower(c_name), 1,"
        "  length(c_name) - 1), 'x'),"
        " CAST(round(c_acctbal * 100) AS BIGINT)"
        " FROM customer WHERE c_custkey % 7 = 0"
        " UNION ALL"
        f" SELECT CAST(c_custkey + 2000000 AS BIGINT), {b},"
        " concat(substring(lower(c_name), 1,"
        "  length(c_name) - 1), 'y'),"
        " CAST(round(c_acctbal * 100) AS BIGINT)"
        " FROM customer WHERE c_custkey % 14 = 0"
        " UNION ALL"
        f" SELECT CAST(c_custkey + 3000000 AS BIGINT), {b},"
        " concat('zz ', lower(c_name)),"
        " CAST(round(c_acctbal * 100) AS BIGINT)"
        " FROM customer WHERE c_custkey % 11 = 0"
    )
    return record_linkage_sql(
        staging,
        exact_weights={"bal_c": 2},
        name_weight=3,
        max_name_dist=2,
        threshold=5,
    )


_ORACLES["linkage_index_admission"] = _linkage_index_oracle()


# last stream-admission tempdir per dataset tag, reclaimed on the
# next same-process invocation (same pattern as _LIDX_DIRS)
_SLNK_DIRS: dict[str, str] = {}


@_register(
    "stream_admit_linkage",
    None,  # filled below — the ONE-SHOT twin over everything admitted
)
def q_stream_admit_linkage(spark, sf_dir):
    """STREAMING entity resolution (streaming/ingest.py
    stream_admit_linkage — the MDM ingest loop a registration STREAM
    runs at 100 TB): init a real on-disk linkage index from the
    clean customer corpus, then drive two re-registration batches
    through the REAL Structured Streaming engine (file source,
    maxFilesPerTrigger=1 → two micro-batches, availableNow trigger,
    checkpointed foreachBatch) — each micro-batch anti-joins the
    label snapshot (idempotence under at-least-once delivery) and
    resolves against the index via admit_linkage_batch. Batch A
    (every 5th customer, last-char typo 'q', id +1e6) must attach to
    its source entity; batch B extends chains (every 15th, typo 'r',
    id +2e6) and founds singletons ('zz '-prefixed, every 13th, id
    +3e6 — balance agreement alone is 2 < 5). The oracle is one-shot
    record_linkage_sql over base ∪ A ∪ B: the driver hash certifies
    that streaming admission across micro-batch boundaries equals
    batch-global resolution — the equivalence contract THROUGH the
    streaming engine, which versioned_stream_admission certifies
    only for content-hash admission. Differs from
    linkage_index_admission (batch twin) in delivery path AND batch
    composition, so the two rows' hashes are independent."""
    import atexit
    import hashlib
    import shutil
    import tempfile
    import uuid as _uuid

    from minisql_engine_spark.operators.linkage_index import (
        init_linkage_index,
        linkage_index_entities,
    )
    from minisql_engine_spark.streaming.ingest import (
        stream_admit_linkage,
    )

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("long").alias("rec_id"),
        F.concat_ws(
            ":", F.col("c_nationkey"), F.col("c_mktsegment")
        ).alias("block"),
        F.lower(F.col("c_name")).alias("name"),
        F.round(F.col("c_acctbal") * 100)
        .cast("long")
        .alias("bal_c"),
    )
    batch_a = base.filter(F.col("rec_id") % 5 == 0).select(
        (F.col("rec_id") + 1_000_000).alias("rec_id"),
        "block",
        F.expr(
            "concat(substring(name, 1, length(name) - 1), 'q')"
        ).alias("name"),
        "bal_c",
    )
    batch_b = (
        base.filter(F.col("rec_id") % 15 == 0)
        .select(
            (F.col("rec_id") + 2_000_000).alias("rec_id"),
            "block",
            F.expr(
                "concat(substring(name, 1, length(name) - 1), 'r')"
            ).alias("name"),
            "bal_c",
        )
        .unionByName(
            base.filter(F.col("rec_id") % 13 == 0).select(
                (F.col("rec_id") + 3_000_000).alias("rec_id"),
                "block",
                F.concat(F.lit("zz "), F.col("name")).alias("name"),
                "bal_c",
            )
        )
    )
    kw = dict(
        exact_weights={"bal_c": 2},
        name_weight=3,
        max_name_dist=2,
        threshold=5,
    )
    tag = hashlib.md5(("slnk" + sf_dir).encode()).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(),
        f"minisql_slnk_{tag}_{os.getpid()}_{_uuid.uuid4().hex[:8]}",
    )
    prev = _SLNK_DIRS.get(tag)
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    _SLNK_DIRS[tag] = root
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    drop = os.path.join(root, "drop")
    # two files → two micro-batches under maxFilesPerTrigger=1
    batch_a.coalesce(1).write.mode("append").parquet(drop)
    batch_b.coalesce(1).write.mode("append").parquet(drop)
    # frozen post-init index (pure function of the customer table) —
    # built once, copied per invocation
    index_path = _seeded_index(
        "slnk", sf_dir, "customer",
        lambda p: init_linkage_index(base, p, **kw), root,
    )
    schema = spark.read.parquet(drop).schema
    q = stream_admit_linkage(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop),
        index_path,
        os.path.join(root, "ckpt"),
        **kw,
    )
    q.awaitTermination(300)
    return linkage_index_entities(spark, index_path)


def _stream_linkage_oracle() -> str:
    from minisql_engine_spark.operators.linkage import (
        record_linkage_sql,
    )

    b = (
        "concat(CAST(c_nationkey AS VARCHAR), ':', c_mktsegment)"
    )
    staging = (
        f"SELECT CAST(c_custkey AS BIGINT) AS rec_id, {b} AS block,"
        " lower(c_name) AS name,"
        " CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c"
        " FROM customer"
        " UNION ALL"
        f" SELECT CAST(c_custkey + 1000000 AS BIGINT), {b},"
        " concat(substring(lower(c_name), 1,"
        "  length(c_name) - 1), 'q'),"
        " CAST(round(c_acctbal * 100) AS BIGINT)"
        " FROM customer WHERE c_custkey % 5 = 0"
        " UNION ALL"
        f" SELECT CAST(c_custkey + 2000000 AS BIGINT), {b},"
        " concat(substring(lower(c_name), 1,"
        "  length(c_name) - 1), 'r'),"
        " CAST(round(c_acctbal * 100) AS BIGINT)"
        " FROM customer WHERE c_custkey % 15 = 0"
        " UNION ALL"
        f" SELECT CAST(c_custkey + 3000000 AS BIGINT), {b},"
        " concat('zz ', lower(c_name)),"
        " CAST(round(c_acctbal * 100) AS BIGINT)"
        " FROM customer WHERE c_custkey % 13 = 0"
    )
    return record_linkage_sql(
        staging,
        exact_weights={"bal_c": 2},
        name_weight=3,
        max_name_dist=2,
        threshold=5,
    )


_ORACLES["stream_admit_linkage"] = _stream_linkage_oracle()


@_register(
    "classifier_agreement_kappa",
    None,  # filled below — composed from the NB + kappa SQL twins
)
def q_classifier_agreement_kappa(spark, sf_dir):
    """Cohen's κ between two of the engine's own certified
    classifiers (operators/classifier_eval.agreement_kappa — Cohen
    1960): the Naive Bayes language prediction (nb_doc_classifier's
    exact chain) against the stopword-ratio heuristic rater
    ('en' iff the fx6 stopword ratio ≥ 0.05). Chance-corrected
    agreement po/pe/κ, integer-exact with the sign subtlety handled:
    κ can be negative and the engines' integer divisions disagree on
    negatives (Spark DIV truncates, DuckDB // floors), so the edge
    computes κ+1 — provably ≥ 0 — with nonnegative floor division
    and subtracts FX. The oracle replays the FULL NB chain (counts,
    smoothing, priors, argmax), the heuristic rater, the marginal
    product Σ_k c_a(k)·c_b(k), and the κ+1 arithmetic."""
    from minisql_engine_spark.operators.classify import nb_classify_self
    from minisql_engine_spark.operators.classifier_eval import (
        agreement_kappa,
        stopword_score,
    )

    docs = _t(spark, sf_dir, "documents")
    nb = nb_classify_self(docs).select("doc_id", "predicted")
    sw = stopword_score(docs).select(
        "doc_id",
        F.when(F.col("s") >= 50_000, F.lit("en"))
        .otherwise(F.lit("xx"))
        .alias("rater_b"),
    )
    ratings = nb.join(sw, "doc_id").select(
        F.col("predicted").alias("rater_a"), "rater_b"
    )
    return agreement_kappa(ratings)


def _kappa_oracle() -> str:
    from minisql_engine_spark.operators.classifier_eval import (
        agreement_kappa_sql,
        stopword_score_sql,
    )

    nb_prefix = _NB_ORACLE.split(" nacc AS")[0]
    ratings = (
        "SELECT npred.predicted AS a,"
        " CASE WHEN sw.s >= 50000 THEN 'en' ELSE 'xx' END AS b"
        " FROM npred JOIN (" + stopword_score_sql() + ") sw"
        " USING (doc_id)"
    )
    return nb_prefix + agreement_kappa_sql(ratings)[len("WITH ") :]


_ORACLES["classifier_agreement_kappa"] = _kappa_oracle()


@_register(
    "matryoshka_prefix_recall",
    None,  # filled below — built from the operator's SQL twin
)
def q_matryoshka_prefix_recall(spark, sf_dir):
    """Matryoshka prefix-dimension recall audit
    (operators/matryoshka.py — Kusupati et al. 2022): per query, the
    exact cosine top-10 under the first 8/16/32 dimensions vs the
    full-64 ground truth, recall as an integer fx6 ratio — the
    due-diligence measurement before adopting truncated embeddings
    (drops COMPONENTS where SQ8/PQ compress per-component precision).
    One pair materialization computes all prefix sims in the same
    pass; the proven rounded-cosine twin applies to SLICED vectors;
    the full-dims rows ride along as the trivially-1.0 sanity anchor.
    The synthetic corpus is isotropic, so prefix recall lands near
    d/64 — the audit correctly reporting that THESE embeddings have
    no matryoshka structure; real MRL embeddings would hold the
    curve high.

    The registered row runs the ABSOLUTE ``n_queries=40`` budget
    (smallest decision hashes within the mod sample, oracle-replayed
    ORDER BY hash LIMIT n): query count is O(1) in corpus size, so
    pair work is O(n·n_queries) — linear, measured 7.3× on 10× data
    vs 91.4× for the unbudgeted ∝-corpus default (BASELINE r12 slope
    table). Re-certified r13; the hash changed with the sample, by
    design."""
    from minisql_engine_spark.operators.matryoshka import (
        matryoshka_recall,
    )

    return matryoshka_recall(
        _t(spark, sf_dir, "embeddings"), n_queries=40
    )


def _matryoshka_oracle() -> str:
    from minisql_engine_spark.operators.matryoshka import (
        matryoshka_recall_sql,
    )

    return matryoshka_recall_sql(n_queries=40)


_ORACLES["matryoshka_prefix_recall"] = _matryoshka_oracle()


@_register(
    "tokenizer_fertility_by_lang",
    None,  # filled below — composed from the BPE-apply SQL twin
)
def q_tokenizer_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility audit per language (the standard
    multilingual-tokenizer parity metric — tokens per word, chars per
    token — the measurement behind UniMax-style budget decisions: a
    language with 2× fertility pays 2× tokens for the same text):
    the production trie BPE apply (bpe_apply_trie, one broadcast
    merge dict + Arrow mapInPandas) tokenizes the corpus, then one
    per-language aggregate derives n_docs / words / BPE tokens /
    normalized chars and the integer fx6 ratios fertility =
    bpe·10⁶ DIV words and chars-per-token = chars·10⁶ DIV bpe. The
    oracle replays the CHAINED-REPLACE definition of the same merge
    table (trie ≡ chained certified by bpe_apply_trie) plus the
    aggregate arithmetic."""
    from minisql_engine_spark.operators.bpe import bpe_apply_trie
    from minisql_engine_spark.operators.text import (
        _norm_text,
        _ws_tokens,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select("doc_id", "lang", "text")
    )
    toked = bpe_apply_trie(docs, _BPE_TRIE_MERGES)
    return (
        toked.select(
            "lang",
            F.size(_ws_tokens(_norm_text(F.col("text"))))
            .cast("bigint")
            .alias("n_words"),
            F.size("bpe_tokens").cast("bigint").alias("n_bpe"),
            F.length(_norm_text(F.col("text")))
            .cast("bigint")
            .alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            F.expr("n_bpe_tokens * 1000000L DIV n_words").alias(
                "fertility_fx6"
            ),
            F.expr("n_chars * 1000000L DIV n_bpe_tokens").alias(
                "chars_per_token_fx6"
            ),
        )
        .orderBy("lang")
    )


def _fertility_oracle() -> str:
    from minisql_engine_spark.operators.bpe import bpe_apply_sql

    long_sql = bpe_apply_sql("documents", _BPE_TRIE_MERGES)
    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    return (
        "WITH bl AS (" + long_sql + "),"
        " pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bpe"
        "  FROM bl GROUP BY doc_id),"
        " dd AS (SELECT doc_id, lang,"
        f"  CAST(len(string_split({norm}, ' ')) AS BIGINT) AS n_words,"
        f"  CAST(length({norm}) AS BIGINT) AS n_chars"
        "  FROM documents WHERE trim(text) <> ''),"
        " pl AS (SELECT lang,"
        "  CAST(count(*) AS BIGINT) AS n_docs,"
        "  CAST(sum(n_words) AS BIGINT) AS n_words,"
        "  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,"
        "  CAST(sum(n_chars) AS BIGINT) AS n_chars"
        "  FROM dd JOIN pd USING (doc_id) GROUP BY lang)"
        " SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,"
        "  n_bpe_tokens * 1000000 // n_words AS fertility_fx6,"
        "  n_chars * 1000000 // n_bpe_tokens AS chars_per_token_fx6"
        " FROM pl ORDER BY lang"
    )


_ORACLES["tokenizer_fertility_by_lang"] = _fertility_oracle()


@_register(
    "bpe_pack_sequences",
    None,  # filled below — the apply-identity chain + packing twin
)
def q_bpe_pack_sequences(spark, sf_dir):
    """Tokenizer→packer CLOSED LOOP (operators/packing.py
    bpe_pack_sequences, r12; promoted r13 — the last §2.4-adjacent
    operator without driver visibility): pack sequences by REAL
    subword counts from the production trie BPE apply instead of the
    whitespace proxy — pretraining budgets are spent in TOKENIZER
    tokens, and whitespace counts under-fill capacity by exactly the
    fertility ratio `tokenizer_fertility_by_lang` measures. One
    extra corpus pass (Arrow trie apply + per-doc count aggregate),
    then the unchanged packing arithmetic: md5-sharded deterministic
    order, per-shard window cumsum, integer-exact slicing — ONE
    shuffle, shards pack independently at 100 TB. The oracle replays
    the chained-replace BPE identity grouped to counts, then the
    packing twin over the counted relation."""
    from minisql_engine_spark.operators.packing import (
        bpe_pack_sequences,
    )

    return bpe_pack_sequences(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        _BPE_TRIE_MERGES,
        capacity=_PACK_CAP,
    )


def _bpe_pack_oracle() -> str:
    from minisql_engine_spark.operators.packing import (
        bpe_pack_sequences_sql,
    )

    return bpe_pack_sequences_sql(
        "documents", _BPE_TRIE_MERGES, capacity=_PACK_CAP
    )


_ORACLES["bpe_pack_sequences"] = _bpe_pack_oracle()


@_register(
    "versioned_stream_admission",
    None,  # filled below — built from the operator's SQL twin
)
def q_versioned_stream_admission(spark, sf_dir):
    """Versioned streaming admission life cycle
    (streaming/ingest.versioned_admission_cycle — VERDICT r8 task 7):
    a REAL availableNow stream over a 3-file drop folder admits each
    micro-batch against the durable key index and commits survivors
    as ONE snapshot version per batch (table before index —
    crash-safe toward re-admission, never loss); then the WHOLE drop
    folder replays as a fresh query against the same index+table and
    the in-query gate requires zero new versions and zero new rows
    (at-least-once delivery, exactly-once content). Output is
    content-addressed (the curate_stream rule) so it is arrival-
    order-stable; the oracle replays the chained admission and the
    version dense-rank in SQL."""
    import hashlib
    import tempfile

    from minisql_engine_spark.streaming.ingest import (
        versioned_admission_cycle,
    )

    src_mtime = os.path.getmtime(
        os.path.join(sf_dir, "documents.parquet")
    )
    tag = hashlib.md5(f"{sf_dir}:{src_mtime}".encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"minisql_vadm_{tag}")
    return versioned_admission_cycle(
        _t(spark, sf_dir, "documents"), base
    )


def _vadm_oracle() -> str:
    from minisql_engine_spark.streaming.ingest import (
        versioned_admission_sql,
    )

    return versioned_admission_sql()


_ORACLES["versioned_stream_admission"] = _vadm_oracle()


def _pagerank_weighted_oracle() -> str:
    from minisql_engine_spark.operators.graph import pagerank_ctes_sql

    # trade-intensity weights: w = lineitem count per (customer,
    # supplier) pair — the natural edge weight of the trade graph
    edges_cte = (
        "WITH be AS (SELECT CAST(2 * o.o_custkey AS BIGINT) AS src,"
        "  CAST(2 * l.l_suppkey + 1 AS BIGINT) AS dst,"
        "  CAST(count(*) AS BIGINT) AS w"
        "  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        "  GROUP BY 1, 2)"
        " SELECT src, dst, w FROM be"
        " UNION ALL SELECT dst, src, w FROM be"
    )
    return (
        "WITH "
        + pagerank_ctes_sql(
            edges_cte, n_iter=_PAGERANK_ITERS, weighted=True
        )
        + " SELECT node, CASE WHEN node % 2 = 0"
        "  THEN 'c' || CAST(node // 2 AS VARCHAR)"
        "  ELSE 's' || CAST(node // 2 AS VARCHAR) END AS entity,"
        " pr_units, CAST(pos AS INT) AS pos FROM"
        " (SELECT node, rank AS pr_units,"
        "  row_number() OVER (ORDER BY rank DESC, node) AS pos"
        f"  FROM pr{_PAGERANK_ITERS})"
        f" WHERE pos <= {_PAGERANK_TOP}"
    )


@_register("pagerank_weighted_trade", _pagerank_weighted_oracle())
def q_pagerank_weighted_trade(spark, sf_dir):
    """WEIGHTED integer PageRank (operators/graph.py, ``weight=``) —
    the VERDICT r8 promotion: same symmetric customer–supplier trade
    graph as ``pagerank_customer_supplier`` but each edge carries its
    lineitem count as an integer weight, so rank flows proportionally
    to trade intensity (share = rank·d·w DIV (D·W_u), W_u = Σ out-
    weights). Fixed-point units, every floor division replayed in the
    oracle's chained CTEs; three-way parity (Spark ≡ Python replay ≡
    DuckDB) pinned in tests/test_graph.py since r8. Same mass-
    conservation in-query gate and broadcast-ranks operating point
    (dimension-sized node set) as the unweighted row."""
    from pyspark.sql.window import Window

    from minisql_engine_spark.materialize import hold
    from minisql_engine_spark.operators.graph import SCALE, pagerank

    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    pairs = (
        lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count("*").cast("long").alias("w"))
    )
    c = (F.lit(2) * F.col("o_custkey")).cast("long")
    s = (F.lit(2) * F.col("l_suppkey") + 1).cast("long")
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    c.alias("src"), s.alias("dst"), F.col("w").alias("w")
                ),
                F.struct(
                    s.alias("src"), c.alias("dst"), F.col("w").alias("w")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    pr = hold(
        pagerank(
            edges,
            n_iter=_PAGERANK_ITERS,
            weight="w",
            broadcast_ranks=True,
        ).persist(),
        "graph",
    )
    mass = pr.agg(
        F.sum("pr_units").alias("m"), F.count("*").alias("n")
    ).collect()[0]
    if not (SCALE * 0.99 <= mass["m"] <= SCALE):
        raise RuntimeError(
            f"rank mass {mass['m']} outside the floor-leak bound "
            f"for SCALE={SCALE}, n={mass['n']}"
        )
    w = Window.orderBy(F.col("pr_units").desc(), F.col("node"))
    entity = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.expr("node DIV 2").cast("string"),
    )
    return (
        pr.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _PAGERANK_TOP)
        .select(
            "node",
            entity.alias("entity"),
            "pr_units",
            F.col("pos").cast("int").alias("pos"),
        )
    )


# last semdedup-index tempdir per dataset tag, reclaimed on the next
# same-process invocation (same pattern as _LIDX_DIRS)
_SDIX_DIRS: dict[str, str] = {}

_SDIX_T = 400_000  # cosine admission threshold, fx6


def _sdix_tmp(prefix: str, sf_dir: str) -> str:
    """Per-invocation index root (dataset tag + pid + uuid — two
    concurrent driver/bench processes must not race on one dir),
    previous same-tag dir reclaimed, last one at exit."""
    import atexit
    import hashlib
    import shutil
    import tempfile
    import uuid as _uuid

    tag = hashlib.md5((prefix + sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(),
        f"minisql_{prefix}_{tag}_{os.getpid()}_{_uuid.uuid4().hex[:8]}",
    )
    key = prefix + tag
    prev = _SDIX_DIRS.get(key)
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    _SDIX_DIRS[key] = path
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _seeded_index(
    prefix: str, sf_dir: str, src_table: str, build, run_root: str
) -> str:
    """Frozen post-INIT index, built once per source table and COPIED
    into each invocation's run dir (the streaming_curate_funnel
    frozen-artifact pattern, r9: init is a call-invariant pure
    function of the source — while admissions are run state that MUST
    be fresh per call, or a carried index would reject everything on
    the second run). ``build(seed_path)`` runs once, keyed on the
    source file's mtime; returns the run dir's index path."""
    import hashlib
    import shutil
    import tempfile

    src_mtime = os.path.getmtime(
        os.path.join(sf_dir, f"{src_table}.parquet")
    )
    tag = hashlib.md5(
        f"{prefix}{sf_dir}:{src_mtime}".encode()
    ).hexdigest()[:12]
    seed_root = os.path.join(
        tempfile.gettempdir(), f"minisql_{prefix}seed_{tag}"
    )
    seed_idx = os.path.join(seed_root, "idx")
    staged = os.path.join(seed_root, "_STAGED")
    if not os.path.exists(staged):
        shutil.rmtree(seed_root, ignore_errors=True)
        build(seed_idx)
        with open(staged, "w") as fh:
            fh.write("ok")
    run_idx = os.path.join(run_root, "idx")
    shutil.copytree(seed_idx, run_idx)
    return run_idx


def _sdix_seed_index(prefix: str, sf_dir: str, init_df, run_root: str) -> str:
    from minisql_engine_spark.operators.semdedup_index import (
        init_semdedup_index,
    )

    return _seeded_index(
        prefix, sf_dir, "embeddings",
        lambda p: init_semdedup_index(init_df, p), run_root,
    )


@_register(
    "semdedup_index_admission",
    None,  # filled below — the fully-SQL-replayed chained admission
)
def q_semdedup_index_admission(spark, sf_dir):
    """Incremental SEMANTIC-dedup admission life cycle
    (operators/semdedup_index.py — the embedding member of the
    admission matrix beside dedup_index exact, neardup_index MinHash,
    and linkage_index record): init a REAL on-disk cell-partitioned
    vector index from a third of the embedding corpus (frozen
    auto-√n Lloyd cells — the freeze point every later batch assigns
    against), then admit two batches in sequence. Batch 2 verifies
    against init ∪ batch-1 ADMISSIONS — the index remembers
    admissions, not just init — and the candidate scan is
    partition-pruned to the batch's touched cells (plan-gated in
    test_semdedup_index.py; at 100 TB a batch reads a bounded cell
    slice, never the corpus). Returns BOTH decision tables tagged by
    batch; the oracle replays the whole chain in SQL — re-derived
    frozen centroids (shared ivf_refine_ctes_sql), same argmax
    assignment both sides, same fx6-cosine verify, step-1 admissions
    materialized into step 2's index side — so the driver hash
    certifies incrementality itself (chained ≡ one-shot SQL replay),
    the same contract linkage_index_admission certifies for records.
    Scale: admit-200-vs-10×-index measured 1.60× (BASELINE r13,
    inside the √10 cell-population bound)."""
    from minisql_engine_spark.operators.semdedup_index import (
        admit_semdedup_batch,
    )

    emb = _t(spark, sf_dir, "embeddings")
    init = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)
    root = _sdix_tmp("sdix", sf_dir)
    path = _sdix_seed_index("sdix", sf_dir, init, root)
    d1 = admit_semdedup_batch(spark, path, b1, _SDIX_T)
    d2 = admit_semdedup_batch(spark, path, b2, _SDIX_T)
    return (
        d1.withColumn("batch", F.lit(1).cast("int"))
        .unionByName(d2.withColumn("batch", F.lit(2).cast("int")))
        .select(
            "batch", "vec_id", "cell", "n_neighbors", "max_sim_fx6",
            "admitted",
        )
        # no orderBy: the decision union is a set to the driver's
        # order-insensitive hash; the sort was one more range
        # Exchange over the noop-timed plan (guide §2.4)
    )


def _sdix_oracle() -> str:
    from minisql_engine_spark.operators.semdedup_index import (
        semdedup_admission_sql,
    )

    init = "(SELECT * FROM embeddings WHERE vec_id % 3 = 0)"
    b1 = "(SELECT * FROM embeddings WHERE vec_id % 3 = 1)"
    b2 = "(SELECT * FROM embeddings WHERE vec_id % 3 = 2)"
    o1 = semdedup_admission_sql(b1, init, init, _SDIX_T)
    # step-1 admissions feed step 2's index side — the chain rule
    ix2 = (
        "(SELECT * FROM embeddings WHERE vec_id % 3 = 0"
        " UNION ALL SELECT e2.* FROM embeddings e2 JOIN (" + o1 + ") d"
        " ON d.vec_id = e2.vec_id WHERE d.admitted)"
    )
    o2 = semdedup_admission_sql(b2, ix2, init, _SDIX_T)
    return (
        "SELECT 1 AS batch, vec_id, cell, n_neighbors, max_sim_fx6,"
        " admitted FROM (" + o1 + ")"
        " UNION ALL SELECT 2, vec_id, cell, n_neighbors, max_sim_fx6,"
        " admitted FROM (" + o2 + ")"
        " ORDER BY batch, vec_id"
    )


_ORACLES["semdedup_index_admission"] = _sdix_oracle()


@_register(
    "stream_admit_semdedup",
    None,  # filled below — final index state, fully SQL-replayed
)
def q_stream_admit_semdedup(spark, sf_dir):
    """STREAMING semantic admission (streaming/ingest.py
    stream_admit_semdedup — the embedding twin of
    stream_admit_linkage, completing the admission matrix's
    {exact, MinHash, record, embedding} × {batch, stream} symmetry):
    init the on-disk semantic index from a quarter of the corpus,
    then drive two vector batches through the REAL Structured
    Streaming engine (file source, maxFilesPerTrigger=1 → two
    micro-batches, availableNow trigger, checkpointed foreachBatch);
    each micro-batch assigns against the frozen cells, verifies fx6
    cosines against the partition-pruned index slice, and appends
    its admitted subset. Returns the FINAL INDEX STATE
    (vec_id, cell); the oracle replays init assignment (admission
    against an empty index — same argmax relation) plus both chained
    admissions in SQL, so the driver hash certifies that streaming
    admission across micro-batch boundaries equals the batch chain —
    the equivalence contract THROUGH the streaming engine. Differs
    from semdedup_index_admission (batch twin) in delivery path,
    corpus split (mod 4 vs mod 3), AND output shape (index state vs
    decision tables), so the two hashes are independent.
    Idempotence: a replayed batch self-collides at sim 10⁶ and
    appends nothing (pytest-pinned fresh-checkpoint replay)."""
    from minisql_engine_spark.streaming.ingest import (
        stream_admit_semdedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    init = emb.filter(F.col("vec_id") % 4 == 0)
    s1 = emb.filter(F.col("vec_id") % 4 == 1)
    s2 = emb.filter(F.col("vec_id") % 4 >= 2)
    root = _sdix_tmp("ssdx", sf_dir)
    drop = os.path.join(root, "drop")
    # two files → two micro-batches under maxFilesPerTrigger=1
    s1.coalesce(1).write.mode("append").parquet(drop)
    s2.coalesce(1).write.mode("append").parquet(drop)
    index_path = _sdix_seed_index("ssdx", sf_dir, init, root)
    schema = spark.read.parquet(drop).schema
    q = stream_admit_semdedup(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop),
        index_path,
        os.path.join(root, "ckpt"),
        _SDIX_T,
    )
    q.awaitTermination(300)
    return (
        spark.read.parquet(os.path.join(index_path, "vecs"))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cell").cast("int").alias("cell"),
        )
        .orderBy("vec_id")
    )


def _ssdx_oracle() -> str:
    from minisql_engine_spark.operators.semdedup_index import (
        semdedup_admission_sql,
    )

    init = "(SELECT * FROM embeddings WHERE vec_id % 4 = 0)"
    s1 = "(SELECT * FROM embeddings WHERE vec_id % 4 = 1)"
    s2 = "(SELECT * FROM embeddings WHERE vec_id % 4 >= 2)"
    empty = "(SELECT vec_id, embedding FROM embeddings WHERE FALSE)"
    # init assignment = admission against an empty index: the ba
    # relation IS the frozen-cell argmax every later batch uses
    o0 = semdedup_admission_sql(init, empty, init, _SDIX_T)
    o1 = semdedup_admission_sql(s1, init, init, _SDIX_T)
    ix2 = (
        "(SELECT * FROM embeddings WHERE vec_id % 4 = 0"
        " UNION ALL SELECT e2.* FROM embeddings e2 JOIN (" + o1 + ") d"
        " ON d.vec_id = e2.vec_id WHERE d.admitted)"
    )
    o2 = semdedup_admission_sql(s2, ix2, init, _SDIX_T)
    return (
        "SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        " CAST(cell AS INTEGER) AS cell FROM ("
        "SELECT vec_id, cell FROM (" + o0 + ")"
        " UNION ALL SELECT vec_id, cell FROM (" + o1 + ") WHERE admitted"
        " UNION ALL SELECT vec_id, cell FROM (" + o2 + ") WHERE admitted"
        ") ORDER BY vec_id"
    )


_ORACLES["stream_admit_semdedup"] = _ssdx_oracle()


@_register(
    "semantic_dedup_keep_farthest",
    None,  # filled below — the operator's SQL twin
)
def q_semantic_dedup_keep_farthest(spark, sf_dir):
    """SemDeDup with the PAPER-EXACT keep rule (Abbas et al. 2023,
    operators/semdedup.py:semantic_dedup_keep_farthest): same
    auto-√n Lloyd clustering, cell-blocked exact-cosine pair search,
    and connected-components closure as the semantic_dedup row —
    but each duplicate group keeps the member FARTHEST from its cell
    centroid (lowest fx6 centroid cosine, ties → min id), the
    paper's low-density representative that preserves diversity.
    The chooser is the skew-immune struct-max (one partial-
    aggregatable aggregate per component — no window sort at scale);
    the centroid-sim join broadcasts the tiny centroid table. The
    oracle replays clustering, pair search, closure, AND the
    (sim ASC, id ASC) pick; the sim_fx6 audit column is the rounded
    integer both engines compute identically (no float tie hazard).
    Published-algorithm twin of semantic_dedup — the two rows pin
    both survivorship rules over one shared pipeline."""
    from minisql_engine_spark.operators.semdedup import (
        semantic_dedup_keep_farthest,
    )

    return semantic_dedup_keep_farthest(_t(spark, sf_dir, "embeddings"))


def _keep_farthest_oracle() -> str:
    from minisql_engine_spark.operators.semdedup import (
        semantic_dedup_keep_farthest_sql,
    )

    return semantic_dedup_keep_farthest_sql() + " ORDER BY vec_id"


_ORACLES["semantic_dedup_keep_farthest"] = _keep_farthest_oracle()


# ---------------------------------------------------------------------------
# Registry ordering — the driver records CORRECTNESS rows for at most the
# FIRST 50 registrations (round-1 lesson: 22 queries past the window got no
# row at all). Two defenses: (a) the registry is capped at 50 entries total
# (near-duplicate shapes are merged, see VERDICT r1 "trim to fit"), and
# (b) queries() emits the entries whose verification is newest-first, so
# even a shrunken window checks the least-proven operators.
#
# Long-proven entries rotate into _ARCHIVED (r3 task 2): excluded from
# the driver window but still registered — tests/test_oracle_parity.py
# runs archived_queries() against archived_oracle_sql() every pytest
# run, so rotation never drops verification, only driver visibility.
# ---------------------------------------------------------------------------

_DRIVER_WINDOW = 50

#: Hash-green for ≥2 consecutive driver rounds (r3+r4) and structurally
#: simple — rotated out of the driver window to free slots for the r3
#: additions that never got a driver row. Still verified by pytest.
_ARCHIVED: frozenset[str] = frozenset(
    {
        "case_when_having",
        "scalar_string_math",
        "json_extract_props",
        "set_ops",
        "pivot_status_by_segment",
        "scalar_date_interval",
        # r5 second wave — hash-green r2/r3/r4, rotated to make room
        # for sequence_packing + mixture_sample + emb_pq_topk
        "scan_star_cross",
        "filter_predicates",
        "join_dup_keys",
        # third wave — room for streaming_dedup + streaming_interval_join
        "agg_all",
        "distinct_order_limit",
        # fourth — room for corpus_vocabulary (streaming keeps 4 rows)
        "events_session_window",
        # fifth (r5 session 3) — room for bm25_retrieval +
        # lm_perplexity_buckets + semantic_dedup; all archived names
        # hash-green r1–r4
        "filter_comparators_nulls",
        "join_left_outer",
        "group_by_agg",
        # sixth — room for dsir_importance
        "subquery_suite",
        # seventh — room for duplicate_spans (full TPC-H stays
        # parametrized-pytest-verified in tests/test_tpch.py)
        "tpch_q14_promo_effect",
        # eighth — room for quality_rules
        "window_suite",
        # ninth — room for llm_curation_funnel (as-of keeps the
        # temporal-join family's driver row)
        "range_join_bands",
        # tenth — room for event_funnel (rollup/cube/pivot stay
        # pytest-verified via archived parity)
        "grouping_sets",
        # eleventh — room for editsim_pairs (pandas-UDF family keeps
        # pandas_group_features + udtf_chunk_documents rows)
        "udaf_weighted_avg",
        # twelfth — room for stats_corr (the dedup family keeps five
        # richer rows: minhash, simhash, ngram, semantic, spans)
        "dedup_exact",
        # thirteenth — room for rolling_features (streaming windows
        # keep their three live rows; this is the batch tumbling twin)
        "events_fixed_windows",
        # fourteenth (r5 session 4) — room for winsorize_clip +
        # frequent_tokens + jl_projection; all three rotated names are
        # hash-green r1–r4 and their families keep richer driver rows
        # (joins: asof/editsim/bucketed; TPC-H: q1/q3/q7/q8/q10/q18;
        # arrays: every embedding operator explodes arrays)
        "join_semi_anti",
        "tpch_q5_local_supplier_volume",
        "array_explode_dim_stats",
        # fifteenth — room for bpe_train_merges (the similarity family
        # keeps cosine/ivf/pq/lsh driver rows + semantic_dedup)
        "emb_near_dups",
        # sixteenth — room for profile_events + mad_outlier_flags
        # (TPC-H keeps q1/q7/q8/q18 driver rows; the full suite stays
        # parametrized-pytest-verified in tests/test_tpch.py)
        "tpch_q3_shipping_priority",
        "tpch_q10_returned_items",
        # seventeenth (r5 session 5) — room for corpus_drift (TPC-H
        # keeps q1/q8/q18 driver rows; q7 stays parametrized-pytest-
        # verified in tests/test_tpch.py like the rest of the suite)
        "tpch_q7_volume_shipping",
        # eighteenth — room for incr_agg_events (TPC-H keeps q1 for
        # the agg family and q18 for the join family)
        "tpch_q8_market_share",
        # nineteenth — room for hashvec_tfidf (the text family keeps
        # text_metrics, frequent_tokens, tfidf_keywords, and BPE
        # driver rows; vocabulary_stats shares its shuffle shape with
        # tfidf_keywords)
        "corpus_vocabulary",
        # twentieth — room for snapshot_merge_pruned (the stats
        # family keeps quantiles/winsorize/corr/profile/MAD driver
        # rows; the fixed-bucket arithmetic stays pytest-verified via
        # archived parity)
        "stats_histogram",
        # twenty-first (r5 session 6) — room for bloom_admission +
        # hll_distinct + lm_bigram_perplexity (TPC-H keeps the q1
        # driver row and the full 22-shape suite in tests/test_tpch.py;
        # the exact-TF-IDF family keeps hashvec_tfidf + the archived
        # parity; the quantile arithmetic keeps winsorize_clip's
        # driver row and stats_quantiles' archived parity)
        "tpch_q18_large_orders",
        "tfidf_keywords",
        "stats_quantiles",
        # twenty-second — room for cms_frequency (the time-series
        # family keeps rolling_features' driver row; the fixed-grid
        # resample stays pytest-verified via archived parity)
        "timeseries_resample",
        # twenty-third — room for hist_quantiles (the zero-shuffle
        # gate family keeps quality_rules' driver row, which is
        # plan-identical; redaction stays archived-parity-tested)
        "pii_redaction",
        # twenty-fourth (r6) — room for pergroup_hll + weighted_sample
        # + psi_drift + delete_range_pruned (r5 verdict task 5). All
        # four rotated names are hash-green r3–r5; their families keep
        # richer driver rows (dedup: minhash/simhash/semantic/spans +
        # the hashed-semi-join shape lives on in every admission
        # entry; temporal joins: rolling_features + event_funnel +
        # streaming_interval_join; UDTF/pandas: pandas_group_features
        # + multimodal_features)
        "contamination_report",
        "asof_join_events",
        "udtf_chunk_documents",
        "dedup_ngram_jaccard",
        # twenty-fifth (r6 second wave) — room for normalize_nfc +
        # scd2_dimension. pipeline_curation's composition role is
        # carried by llm_curation_funnel (richer, five-stage) and the
        # streaming funnel; bucketed_join_zero_shuffle's zero-Exchange
        # contract is now ALSO plan-gated by the bucketed dedup-index
        # admission tests (test_dedup_index.py), so the bucketing
        # family keeps live enforcement without a driver slot.
        "pipeline_curation",
        "bucketed_join_zero_shuffle",
        # twenty-sixth (r7 wave) — room for dedup_index_admission +
        # image_near_dups + audio_near_dups + scd2_asof_enrichment +
        # streaming_curate_funnel + cohort_retention + embedding_drift
        # + bpe_apply_trie. Every rotated name is hash-green ≥2
        # consecutive driver rounds and its family keeps a richer (or
        # newly-promoted) driver row: dedup keeps simhash/semantic/
        # spans + the new admission cycle; multimodal swaps the
        # feature-extract row for the two perceptual near-dup rows;
        # the funnel family swaps event_funnel for cohort_retention;
        # drift swaps corpus_drift for embedding_drift (psi stays);
        # similarity keeps ivf/pq/lsh + ivf_index_search; text keeps
        # frequent_tokens/normalize_nfc + the BPE rows; pandas-UDF
        # keeps the two new mapInPandas perceptual rows; TPC-H q1
        # joins the rest of the suite in parametrized pytest parity.
        "dedup_minhash_lsh",
        "multimodal_features",
        "pandas_group_features",
        "emb_cosine_topk",
        "tpch_q1_pricing_summary",
        "text_metrics",
        "event_funnel",
        "corpus_drift",
        # + drift_from_views (second r7 batch): winsorize_clip is
        # hash-green r5/r6 and the stats family keeps four richer
        # rows (hist_quantiles, mad_outlier_flags, profile_events,
        # stats_corr) plus stats_quantiles' archived parity for the
        # exact-quantile arithmetic winsorize shares.
        "winsorize_clip",
        # third r7 batch — room for skew_salted_join +
        # snapshot_compaction: quality_rules is hash-green r5s3–r7 and
        # its full rule-report SQL now replays inside BOTH funnel
        # driver rows (llm_curation_funnel, streaming_curate_funnel);
        # rolling_features is hash-green r5s3–r7 and the timeseries
        # family keeps cohort_retention live plus resample/asof
        # archived parity.
        "quality_rules",
        "rolling_features",
        # + zorder_pruned_scan (same batch): duplicate_spans is
        # hash-green r5s3–r7 and the span-cut machinery replays
        # inside llm_curation_funnel's oracle chain every round.
        "duplicate_spans",
        # + jsonl_corrupt_capture (same batch): mad_outlier_flags is
        # hash-green r5s4–r7 and the stats family keeps
        # hist_quantiles, profile_events, and stats_corr live.
        "mad_outlier_flags",
        # + ivf_index_maintenance (same batch): stats_corr is
        # hash-green r5s3–r7, the most expensive remaining stats row
        # (documented DECIMAL(38,12) trade), and the family keeps
        # hist_quantiles + profile_events live; the exact-corr
        # arithmetic stays parity-tested via the archive each run.
        "stats_corr",
        # r8 wave — room for hybrid_rrf_retrieval + split_leakage_safe
        # + pagerank_customer_supplier. All three rotated names are
        # hash-green ≥2 consecutive driver rounds (r5–r7) and their
        # families keep richer live rows: editsim_pairs' SymSpell
        # neighborhood machinery stays pytest- and archive-verified
        # while dedup keeps simhash/semantic/spans + both admission
        # cycles live; stats_quantiles' exact-quantile arithmetic
        # replays inside hist_quantiles (live) and winsorize_clip
        # (archived); timeseries_resample's family keeps
        # cohort_retention live plus rolling/asof archived parity.
        "editsim_pairs",
        # (stats_quantiles / timeseries_resample were already parked
        # in earlier waves — the r8 slots come from these two:)
        # bm25_retrieval's statistics, formula, and ranking replay
        # VERBATIM inside hybrid_rrf_retrieval's oracle (the
        # bm25_ranked CTE chain is the shared builder), so the lexical
        # retriever keeps a richer driver row; frequent_tokens is
        # hash-green r5–r7 and the frequency-sketch family keeps
        # cms_frequency live plus the SpaceSaving arithmetic in
        # archive parity.
        "bm25_retrieval",
        "frequent_tokens",
        # + mmr_diverse_topk (same wave): hashvec_tfidf is hash-green
        # r5s5–r7; the text→ANN bridge stays archive-parity-tested and
        # its densified-vector consumers (cosine/IVF/PQ/LSH) all keep
        # live driver rows.
        "hashvec_tfidf",
        # + nb_doc_classifier (same wave): profile_events is
        # hash-green r5s4–r7 and the DESCRIBE-surface arithmetic
        # (pruned per-column scans) stays archive-parity-tested;
        # stats keeps hist_quantiles live.
        "profile_events",
        # + snapshot_diff_cdc (same wave): snapshot_merge_pruned is
        # hash-green r5s5–r7 and its pruned-MERGE cycle now replays
        # INSIDE the CDC row (v2→v3 is a pruned merge whose diff is
        # gated on dir sharing); the lakehouse family keeps
        # delete_range_pruned, snapshot_compaction, zorder, and both
        # SCD2 rows live.
        "snapshot_merge_pruned",
        # + curriculum_order (same wave): jl_projection is hash-green
        # r5s4–r7, its sign-array fold form is pinned by the archived
        # oracle + the distance-calibration property, and the
        # projection family has no richer live candidate — the slot
        # buys the training-composition story its last driver row.
        "jl_projection",
        # + emb_sq8_topk (same wave): bloom_admission is hash-green
        # r5s6–r7 and the Bloom bitmap arithmetic stays archive-
        # parity-tested while its PRODUCTION compositions keep live
        # coverage (the dedup-index Bloom sidecar rides
        # dedup_index_admission's family tests, the streaming
        # admission fast path test_stream_ingest); the sketch family
        # keeps hll_distinct/cms_frequency/pergroup_hll live.
        "bloom_admission",
        # r9 wave — room for pagerank_weighted_trade: emb_ivf_topk is
        # hash-green r1–r8 (the most-certified entry in the window,
        # 7 consecutive driver rounds) and the IVF family keeps
        # ivf_index_search + ivf_index_maintenance live plus emb_pq/
        # sq8/lsh on the rest of the ANN spectrum; the brute-vs-IVF
        # recall arithmetic stays archive-parity-tested every run.
        "emb_ivf_topk",
        # + versioned_stream_admission (same wave): dedup_simhash is
        # hash-green r1–r8 (7 consecutive driver rounds) and the
        # dedup family keeps semantic_dedup, dedup_index_admission,
        # image_near_dups, and both funnel rows live; the simhash
        # banding + popcount arithmetic stays archive-parity-tested
        # every run.
        "dedup_simhash",
        # + retrieval_eval_suite (same wave): streaming_stateful_user
        # _stats is hash-green r2–r8 (6 consecutive driver rounds, the
        # longest-certified streaming row) and the streaming family
        # keeps FOUR live rows (streaming_dedup, streaming_interval_
        # join, streaming_curate_funnel, versioned_stream_admission);
        # the state-store arithmetic stays archive-parity-tested.
        "streaming_stateful_user_stats",
        # + repetition_signals (same wave): lm_bigram_perplexity is
        # hash-green r5–r8 and the LM family keeps
        # lm_perplexity_buckets live plus the frozen-LM scorer inside
        # BOTH funnel rows; the interpolated-bigram arithmetic stays
        # archive-parity-tested every run.
        "lm_bigram_perplexity",
        # r10 wave — room for doremi_mixture_weights: mixture_sample
        # is hash-green r5–r9 (4 consecutive driver rounds) and the
        # training-composition family trades its static-weights
        # sampler row for the ITERATIVE weight-learning row that
        # feeds it (doremi_weights output is mixture_sample input);
        # the token-budget selection arithmetic stays archive-parity-
        # tested every run and sequence_packing + curriculum_order
        # keep the family's other live rows.
        "mixture_sample",
        # + knn_graph_cells (same wave): ivf_index_search is
        # hash-green r5–r9 (4 consecutive driver rounds) and the IVF
        # family keeps ivf_index_maintenance live (the persisted-
        # index grow→compact→search cycle) plus the NEW cell-blocked
        # kNN-graph row on the same refined-centroid machinery;
        # emb_sq8/pq/lsh cover the rest of the ANN spectrum and the
        # seeded-query search arithmetic stays archive-parity-tested
        # every run.
        "ivf_index_search",
        # r11 wave — room for knn_graph_refine: emb_pq_topk is
        # hash-green r5–r10 (5 consecutive driver rounds) and the ANN
        # family keeps emb_sq8_topk, emb_lsh_ann,
        # ivf_index_maintenance, knn_graph_cells AND the new
        # NN-descent refinement live — the full memory/recall
        # spectrum stays driver-covered while the PQ codebook/rerank
        # arithmetic (incl. the published m=16 high-recall operating
        # point) stays archive-parity-tested every run.
        "emb_pq_topk",
        # + doremi_mixture_selection (same wave): sequence_packing is
        # hash-green r5–r10 (5 consecutive driver rounds) and the
        # training-composition family trades its static packer row
        # for the CLOSED LOOP (doremi learning chained into the
        # mixture_sample admission rule in one oracle-replayed plan);
        # curriculum_order and doremi_mixture_weights stay live and
        # the first-fit packing arithmetic stays archive-parity-
        # tested every run.
        "sequence_packing",
        # + line_dedup_boilerplate (same wave): streaming_dedup is
        # hash-green r5–r10 (5 consecutive driver rounds) and the
        # streaming family keeps THREE live rows (streaming_interval_
        # join, streaming_curate_funnel, versioned_stream_admission)
        # while the dedup family gains the line-granularity C4 rule
        # beside semantic_dedup, dedup_index_admission, and
        # image_near_dups; the dropDuplicates state arithmetic stays
        # archive-parity-tested every run.
        "streaming_dedup",
        # + classifier_eval_metrics (same wave): hll_distinct is
        # hash-green r5–r10 (5 consecutive driver rounds) and the
        # sketch family keeps cms_frequency and pergroup_hll live
        # (pergroup_hll exercises the same register arithmetic
        # per-group); the text family gains the train→score→MEASURE
        # closing row beside nb_doc_classifier; the HLL register fold
        # stays archive-parity-tested every run.
        "hll_distinct",
        # + unimax_language_budget (same wave): weighted_sample is
        # hash-green r6–r10 (4 consecutive driver rounds) and the
        # sampling/composition surface keeps curriculum_order,
        # split_leakage_safe, doremi_mixture_weights, and the new
        # closed-loop selection row live; the A-ES exponential-key
        # reservoir arithmetic stays archive-parity-tested every run
        # while the family gains the weights-free allocation member
        # (mixture spends given weights, doremi learns them, UniMax
        # needs only corpus statistics).
        "weighted_sample",
        # + pmi_collocations_topk (same wave): incr_agg_events is
        # hash-green r5–r10 (5 consecutive driver rounds) and the
        # incremental-aggregate machinery stays live through
        # drift_from_views (which consumes the same aggview layer)
        # while the text family gains corpus-wide PAIR ranking beside
        # tfidf_keywords' per-doc token ranking; the partition-pruned
        # incremental-refresh arithmetic stays archive-parity-tested
        # every run.
        "incr_agg_events",
        # + record_linkage_entities (same wave): psi_drift is
        # hash-green r6–r10 (4 consecutive driver rounds) and the
        # drift family keeps embedding_drift and drift_from_views
        # live (drift_from_views exercises the same fixed-bucket
        # histogram arithmetic); the dedup family gains its
        # structured-record granularity (Fellegi-Sunter agreement
        # weights + blocking + closure) beside content hashes, spans,
        # lines, and embeddings; the PSI term arithmetic stays
        # archive-parity-tested every run.
        "psi_drift",
        # + classifier_agreement_kappa (same wave): normalize_nfc is
        # hash-green r6–r10 (4 consecutive driver rounds) and the
        # text family keeps a deep live bench (repetition_signals,
        # lm_perplexity_buckets, nb_doc_classifier, bpe rows, dsir,
        # classifier_eval_metrics, pmi_collocations_topk) while
        # gaining the two-rater agreement closer (NB prediction vs
        # the stopword heuristic — two already-certified classifiers
        # feeding a chance-corrected measure); the Arrow NFC/NFKC
        # normalization arithmetic stays archive-parity-tested every
        # run.
        "normalize_nfc",
        # + matryoshka_prefix_recall (same wave): emb_lsh_ann is
        # hash-green r6–r10 (4 consecutive driver rounds) and the ANN
        # family keeps emb_sq8_topk, ivf_index_maintenance,
        # knn_graph_cells, and knn_graph_refine live while gaining
        # the prefix-dimension audit (the memory/recall spectrum's
        # third axis: SQ8/PQ compress per-component precision, IVF
        # bounds candidates, matryoshka drops components); the
        # SRP-plane fold + hamming multi-probe arithmetic stays
        # archive-parity-tested every run.
        "emb_lsh_ann",
        # + tokenizer_fertility_by_lang (same wave): bpe_train_merges
        # is hash-green r5–r10 (5 consecutive driver rounds) and the
        # BPE family keeps bpe_apply_trie live (the production apply
        # whose trie ≡ chained ≡ oracle identity the fertility row
        # REUSES) while gaining the per-language tokenizer-parity
        # audit that motivates UniMax-style budget decisions; the
        # training-loop replace chain stays archive-parity-tested
        # every run.
        "bpe_train_merges",
        # r12 wave — room for entity_rollup_golden: hist_quantiles is
        # hash-green r6–r11 (6 consecutive driver rounds, the
        # longest-certified remaining stats row) and the stats family
        # keeps the exact fixed-bucket + exact-quantile arithmetic
        # archive-parity-tested every run (stats_quantiles,
        # winsorize_clip, mad_outlier_flags, profile_events all
        # archived-green) while the dedup family closes its MDM loop:
        # record_linkage_entities (match) stays live and the new
        # golden-record survivorship row (MERGE) composes it.
        "hist_quantiles",
        # + linkage_index_admission (same wave): scd2_dimension is
        # hash-green r6–r11 (6 consecutive driver rounds) and its
        # init→apply machinery now has THREE other live/pytest
        # surfaces: scd2_asof_enrichment stays in the window, the
        # r12 entity-SCD2 composition replays a full init→apply in
        # test_entity_scd2.py with oracle parity, and the archived
        # row keeps exact parity every pytest run. The slot buys the
        # dedup family its INCREMENTAL entity-resolution member —
        # the driver hash certifying incremental ≡ batch-global via
        # the one-shot twin.
        "scd2_dimension",
        # r13 wave — room for video_near_dups: cms_frequency is
        # hash-green r5–r12 (7 consecutive driver rounds, the
        # longest-certified remaining sketch row) and the sketch
        # family keeps pergroup_hll live (the same associative
        # partial-merge discipline, per group) while the CMS
        # width/depth/point-query arithmetic stays archive-parity-
        # tested every run; the multimodal family gains its first
        # hash-certified VIDEO entry beside image_near_dups (audio
        # stays rows-only by design — FFT is not SQL-portable).
        "cms_frequency",
        # + lsh_recall_audit (same wave): dsir_importance is
        # hash-green r5–r12 (7 consecutive driver rounds) and the
        # importance/composition family keeps doremi_mixture_weights,
        # doremi_mixture_selection, and unimax_language_budget live
        # while the hashed-ngram importance-weight arithmetic stays
        # archive-parity-tested every run; the dedup family gains
        # its recall-audit member (the measurement that justifies
        # every banded operating point the family's other rows use),
        # registered with the linear n_queries budget from the start.
        "dsir_importance",
        # + stream_admit_linkage (same wave): streaming_interval_join
        # is hash-green r5–r12 (7 consecutive driver rounds) and the
        # streaming family keeps THREE live rows (streaming_curate_
        # funnel, versioned_stream_admission, and the NEW streaming
        # MDM admission — the first row to hash-certify the linkage
        # equivalence contract ACROSS micro-batch boundaries through
        # the real streaming engine); the stream-stream interval-join
        # state arithmetic stays archive-parity-tested every run.
        "streaming_interval_join",
        # + bpe_pack_sequences (same wave): lm_perplexity_buckets is
        # hash-green r5–r12 (7 consecutive driver rounds) and the LM
        # family keeps the frozen-LM scorer live inside BOTH funnel
        # rows (llm_curation_funnel, streaming_curate_funnel) while
        # the bigram-interpolation bucket arithmetic stays archive-
        # parity-tested every run; the training-composition family
        # closes its tokenizer→packer loop with a driver row (packing
        # budgets in REAL subword counts — the §2.4 mandate's last
        # member without driver visibility at any point).
        "lm_perplexity_buckets",
        # r14 wave — room for semdedup_index_admission (the embedding
        # member of the admission matrix, VERDICT r13 task 1):
        # llm_curation_funnel is hash-green r5–r13 (8 consecutive
        # driver rounds, the longest-certified entry in the window)
        # and the funnel family keeps streaming_curate_funnel live
        # (the SAME five-stage rule chain through the streaming
        # engine) plus cohort_retention; the batch funnel's full rule
        # report stays archive-parity-tested every run.
        "llm_curation_funnel",
        # + stream_admit_semdedup (same wave): delete_range_pruned is
        # hash-green r6–r13 (7 consecutive driver rounds) and the
        # lakehouse family keeps snapshot_compaction,
        # zorder_pruned_scan, snapshot_diff_cdc, and both SCD2 rows
        # live; the partition-pruned delete arithmetic stays
        # archive-parity-tested every run while the streaming family
        # gains the embedding admission member that completes the
        # {exact, MinHash, record, embedding} × {batch, stream}
        # matrix with driver visibility on every cell.
        "delete_range_pruned",
        # + semantic_dedup_keep_farthest (same wave): bpe_apply_trie
        # is hash-green r8–r13 (6 consecutive driver rounds) and the
        # BPE family keeps bpe_pack_sequences (which REUSES the trie
        # apply for its token budgets) and tokenizer_fertility_by_lang
        # live; the trie ≡ chained ≡ oracle apply identity stays
        # archive-parity-tested every run while the dedup family pins
        # the paper-exact SemDeDup survivorship rule beside the min-id
        # row over the same shared pipeline.
        "bpe_apply_trie",
    }
)

#: Names listed here are emitted first (operators new or unverified as of
#: round 5); everything else follows in file (registration) order.
_VERIFY_FIRST: tuple[str, ...] = (
    # r14 wave — brand new driver rows, never driver-checked
    "semdedup_index_admission",
    "stream_admit_semdedup",
    "semantic_dedup_keep_farthest",
    # r13 wave — brand new driver rows, never driver-checked, plus
    # the two re-certifications whose hashes changed by design
    # (matryoshka: linear n_queries budget; semantic_dedup: auto √n
    # cell count — both already listed below / in file order)
    "video_near_dups",
    "lsh_recall_audit",
    "stream_admit_linkage",
    "bpe_pack_sequences",
    # r12 wave — first re-certification round
    "entity_rollup_golden",
    "linkage_index_admission",
    # r11 wave — first re-certification round
    "knn_graph_refine",
    "doremi_mixture_selection",
    "line_dedup_boilerplate",
    "classifier_eval_metrics",
    "unimax_language_budget",
    "pmi_collocations_topk",
    "record_linkage_entities",
    "classifier_agreement_kappa",
    "matryoshka_prefix_recall",
    "tokenizer_fertility_by_lang",
    # r10 wave — first re-certification round
    "knn_graph_cells",
    "doremi_mixture_weights",
    # r9 wave — first re-certification round
    # (embedding_drift, rebuilt in r9 after its r8 driver hash FAIL,
    # already rides the r7 block below)
    "pagerank_weighted_trade",
    "versioned_stream_admission",
    "retrieval_eval_suite",
    # r8 wave — brand new driver rows, never driver-checked
    "hybrid_rrf_retrieval",
    "split_leakage_safe",
    "pagerank_customer_supplier",
    "mmr_diverse_topk",
    "nb_doc_classifier",
    "snapshot_diff_cdc",
    "curriculum_order",
    "emb_sq8_topk",
    # r7 third batch — never driver-checked
    "skew_salted_join",
    "snapshot_compaction",
    "zorder_pruned_scan",
    "jsonl_corrupt_capture",
    "ivf_index_maintenance",
    # r7 wave — brand new driver rows, never driver-checked
    "dedup_index_admission",
    "image_near_dups",
    "audio_near_dups",
    "scd2_asof_enrichment",
    "streaming_curate_funnel",
    "cohort_retention",
    "embedding_drift",
    "drift_from_views",
    "bpe_apply_trie",
    # r6 second wave — brand new operators, never driver-checked
    "normalize_nfc",
    "scd2_dimension",
    # r6 rotation — first driver rows for these (previously
    # pytest-oracle only)
    "pergroup_hll",
    "weighted_sample",
    "psi_drift",
    "delete_range_pruned",
    # r5 session-6 additions — brand new operators, never driver-checked
    "bloom_admission",
    "hll_distinct",
    "cms_frequency",
    "lm_bigram_perplexity",
    "hist_quantiles",
    # r5 session-5 additions — brand new operators, never driver-checked
    "corpus_drift",
    "incr_agg_events",
    "hashvec_tfidf",
    "snapshot_merge_pruned",
    # r5 session-3 additions — brand new operators, never driver-checked
    "bm25_retrieval",
    "lm_perplexity_buckets",
    "semantic_dedup",
    "dsir_importance",
    "duplicate_spans",
    "quality_rules",
    "llm_curation_funnel",
    "event_funnel",
    "editsim_pairs",
    "stats_corr",
    "rolling_features",
    # r5 session-4 additions — brand new operators, never driver-checked
    "winsorize_clip",
    "frequent_tokens",
    "jl_projection",
    "bpe_train_merges",
    "profile_events",
    "mad_outlier_flags",
    # r5 additions — brand new operators, never driver-checked
    "sequence_packing",
    "mixture_sample",
    "emb_pq_topk",
    "streaming_dedup",
    "streaming_interval_join",
    "corpus_vocabulary",
    # r5 rotation — first driver rows for these
    "tfidf_keywords",
    "stats_histogram",
    "stats_quantiles",
    "timeseries_resample",
    "pii_redaction",
    "ivf_index_search",
    # r3/r4 entries, newest-proven first
    "contamination_report",
    "tpch_q1_pricing_summary",
    "text_metrics",
    "dedup_minhash_lsh",
    "pipeline_curation",
    "ml_lsh_suite",
    "emb_lsh_ann",
    "grouping_sets",
    "multimodal_features",
    "events_fixed_windows",
    "subquery_suite",
    "udtf_chunk_documents",
    "udaf_weighted_avg",
    "asof_join_events",
    "pandas_group_features",
    "range_join_bands",
    "streaming_stateful_user_stats",
    "approx_distinct",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q18_large_orders",
    "bucketed_join_zero_shuffle",
)


def _ordered_names() -> list[str]:
    # archived names win over a stale _VERIFY_FIRST listing
    front = [
        n for n in _VERIFY_FIRST if n in _QUERIES and n not in _ARCHIVED
    ]
    back = [
        n
        for n in _QUERIES
        if n not in set(front) and n not in _ARCHIVED
    ]
    names = front + back
    if len(names) > _DRIVER_WINDOW:
        # RuntimeError, not assert: the window cap must hold even
        # under python -O, which compiles asserts out
        raise RuntimeError(
            f"{len(names)} queries registered but the driver checks only "
            f"{_DRIVER_WINDOW} — merge near-duplicate shapes before "
            "adding more"
        )
    return names


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2,
    least-proven first (see ordering note above)."""
    return {n: _QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each ``queries()`` entry."""
    return {n: _ORACLES[n] for n in _ordered_names() if n in _ORACLES}


def archived_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Rotated-out entries — not in the driver window, still tested
    by tests/test_oracle_parity.py against archived_oracle_sql()."""
    return {n: _QUERIES[n] for n in sorted(_ARCHIVED) if n in _QUERIES}


def archived_oracle_sql() -> dict[str, str]:
    """Oracle twins for :func:`archived_queries`."""
    return {n: _ORACLES[n] for n in sorted(_ARCHIVED) if n in _ORACLES}
