"""TPC-H-shaped relational queries (Q2-Q22 shapes, CUBE/grouping sets, z-order, WoW).

Consolidated from the round-batch modules named in the section
markers below (pure moves, zero semantic change — VERDICT r4 #10).
"""

from __future__ import annotations

from mintpy_spark.functions.scalars import HASH60_SPACE
from mintpy_spark.functions.timefn import bucket_start
from mintpy_spark.operators.sketch import kmv_intersect_estimate, kmv_set
from mintpy_spark.operators.zorder import zvalue, zvalue_sql
from mintpy_spark.queries import _q, load
from mintpy_spark.queries_tiers import KMV_K
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# =========================================================================
# from queries_r3x.py
# =========================================================================

"""Round-3 additions, batch x: three classic OLAP join shapes the
registry lacked (TPC-H Q4/Q13/Q22 analogs) and a week-over-week tier
delta.

* order-priority semi-join (Q4 shape) — EXISTS with a CORRELATED
  inequality (lineitem shipped > 60 days after its order's date):
  Spark's left_semi join with a compound condition, the shape that
  proves semi-join pushes the existence test into the join instead of
  a count-distinct dedup.
* customer order-count distribution (Q13 shape) — LEFT join preserving
  zero-order customers, then a histogram over the grouped counts: the
  two-level aggregation where the second agg's key is the first agg's
  value.
* idle rich customers (Q22 shape) — scalar-subquery threshold feeding
  an ANTI join.  All money flows in integer CENTS (floor(x*100 + 0.5))
  and the threshold is an integer division, so the cross-engine
  comparison never sits on a double half-point (memory: rounding traps).
* week-over-week change — self-join of the 1d tier on bucket_start - 7d;
  the ratio is computed over integer COUNTS (exact), with the 2-dp
  rounded value sum alongside for context.
"""


@_q(
    "olap_order_priority_semijoin",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY 1
    """,
)
def olap_order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one lineitem shipped more
    than 60 days after the order date, counted per priority.  The
    existence test is a LEFT SEMI join with a correlated inequality —
    one pass over lineitem, no count-distinct dedup of multiple matching
    lines.  Plan: date filter pushed to the orders scan, one shuffle
    per side on orderkey, |priorities|-bounded final agg."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    hit = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


@_q(
    "olap_custdist",
    """
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY 1
    """,
)
def olap_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many orders
    they placed, INCLUDING the zero-order bucket (LEFT join, count of
    the nullable side).  Two-level aggregation where level 2 groups on
    level 1's measure.  Plan: one shuffle join on custkey, per-customer
    count with map-side combine, then a tiny histogram agg."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    ).select(F.col("c_count").cast("long").alias("c_count"), "custdist")


@_q(
    "olap_idle_rich_customers",
    """
    WITH cents AS (
      SELECT c_custkey, c_mktsegment,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      FROM customer
    ), thr AS (
      SELECT CAST(SUM(bal_cents) // COUNT(*) AS BIGINT) AS t
      FROM cents WHERE bal_cents > 0
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(c.bal_cents) AS BIGINT) AS total_cents
    FROM cents c, thr
    WHERE c.bal_cents > thr.t
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY 1
    """,
)
def olap_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: LAPSED rich customers — above-average balance
    and no order since 1999 (every sf0.01 customer has ordered at least
    once, so the classic never-ordered form is empty; the lapsed form is
    the one a retention team actually runs).  A scalar-subquery
    threshold feeds an ANTI join against the recent-orders slice.  Money
    is integer cents end-to-end (floor(x*100 + 0.5), integer-division
    mean), so no double half-point can flip a row across engines.
    Plan: the positive-balance mean is a 1-row broadcast; the anti join
    shuffles on custkey; final agg is |segments|-bounded."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("bal_cents"),
    )
    thr = c.where(F.col("bal_cents") > 0).agg(
        F.expr("CAST(SUM(bal_cents) DIV COUNT(*) AS BIGINT)").alias("t")
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    rich = c.crossJoin(F.broadcast(thr)).where(F.col("bal_cents") > F.col("t"))
    idle = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_custs"),
        F.sum("bal_cents").cast("long").alias("total_cents"),
    )


@_q(
    "rollup_1d_wow_change",
    """
    WITH t AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             COUNT(value) AS cnt,
             ROUND(SUM(value), 2) AS vsum
      FROM events GROUP BY 1
    )
    SELECT cur.bucket_start,
           CAST(cur.cnt AS BIGINT) AS cnt,
           cur.vsum,
           CAST(prev.cnt AS BIGINT) AS cnt_prev_week,
           CAST(floor((cur.cnt - prev.cnt) * 10000.0 / prev.cnt + 0.5)
                AS BIGINT) AS wow_cnt_bp
    FROM t cur
    JOIN t prev ON prev.bucket_start + INTERVAL 7 DAY = cur.bucket_start
    """,
)
def rollup_1d_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change per day, computed FROM THE 1d TIER (not
    raw rows): self-join on bucket_start - 7d.  The change ratio uses
    integer counts (exact basis points); the 2-dp value sum rides along
    for context.  Days without a comparable day a week earlier emit no
    row (inner join) — restatement semantics, not zero-fill.  Plan: one
    tier build (single Exchange), then a self-join of the ~days-sized
    tier — broadcastable at any horizon (10 years = 3653 rows)."""
    ev = load(spark, sf_dir, "events")
    t = (
        ev.groupBy(bucket_start(F.col("ts"), "1d").alias("bucket_start"))
        .agg(
            F.count("value").cast("long").alias("cnt"),
            F.round(F.sum("value"), 2).alias("vsum"),
        )
    )
    cur, prev = t.alias("cur"), t.alias("prev")
    return cur.join(
        F.broadcast(prev),
        F.col("prev.bucket_start") + F.expr("INTERVAL 7 DAYS")
        == F.col("cur.bucket_start"),
    ).select(
        F.col("cur.bucket_start").alias("bucket_start"),
        F.col("cur.cnt").alias("cnt"),
        F.col("cur.vsum").alias("vsum"),
        F.col("prev.cnt").alias("cnt_prev_week"),
        F.floor(
            (F.col("cur.cnt") - F.col("prev.cnt"))
            * 10000.0
            / F.col("prev.cnt")
            + 0.5
        )
        .cast("long")
        .alias("wow_cnt_bp"),
    )


# =========================================================================
# from queries_r3gg.py
# =========================================================================

"""Round-3 batch gg: z-order layout cells, KMV audience intersection,
and the TPC-H Q17 small-quantity join shape.

- ``zorder_cell_stats``: Morton-interleaved (series, day) cells — the
  sort key that bounds a 2-D box query's row groups
  (operators/zorder.py).
- ``kmv_audience_intersection``: theta-sketch intersection of per-type
  audience KMV sketches — distinct-overlap at 10^12 rows without a
  user-level shuffle (sketch per segment, tiny pair join).
- ``olap_small_qty_revenue``: TPC-H Q17 shape — revenue from orders
  below 20% of the part's average quantity; the threshold compare is
  pure integer (5*qty*cnt < sum_qty), never a double average.
"""


_Z_X = "(user_id % 64)"
_Z_Y_DUCK = "(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 64)"


@_q(
    "zorder_cell_stats",
    f"""
    WITH z AS (
      SELECT {zvalue_sql(_Z_X, _Z_Y_DUCK, 6, duck=True)} AS zv,
             {_Z_X} AS x, {_Z_Y_DUCK} AS y
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT zv // 16 AS cell,
           COUNT(*) AS cnt,
           CAST(COUNT(DISTINCT x) AS BIGINT) AS nx,
           CAST(COUNT(DISTINCT y) AS BIGINT) AS ny,
           MIN(zv) AS zmin, MAX(zv) AS zmax
    FROM z GROUP BY 1
    """,
)
def zorder_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy of 4x4 z-curve tiles over (series-bucket, day-bucket):
    each cell's nx/ny <= 4 and zmax-zmin <= 15 certify that the
    interleave keeps both dimensions locally bounded — the property a
    z-sorted layout relies on for row-group pruning. Pure
    integer div/mod arithmetic, identical formula text on both engines."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .withColumn("x", F.expr("user_id % 64"))
        .withColumn(
            "y", (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 64)
        )
    )
    z = ev.withColumn("zv", zvalue("x", "y", 6))
    return z.groupBy(F.expr("zv div 16").alias("cell")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("x").alias("nx"),
        F.countDistinct("y").alias("ny"),
        F.min("zv").alias("zmin"),
        F.max("zv").alias("zmax"),
    )


@_q(
    "kmv_audience_intersection",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ), s AS (
      SELECT event_type, list_sort(list(hv)) AS kmv
      FROM r WHERE rn <= {KMV_K} GROUP BY 1
    ), p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.kmv AS ka, b.kmv AS kb,
             LEAST(CASE WHEN len(a.kmv) < {KMV_K} THEN {HASH60_SPACE}
                        ELSE a.kmv[-1] END,
                   CASE WHEN len(b.kmv) < {KMV_K} THEN {HASH60_SPACE}
                        ELSE b.kmv[-1] END) AS theta
      FROM s a JOIN s b ON a.event_type < b.event_type
    )
    SELECT type_a, type_b,
           CAST(len(ka) AS BIGINT) AS n_a,
           CAST(len(kb) AS BIGINT) AS n_b,
           theta,
           CAST(len(list_filter(list_intersect(ka, kb),
                                h -> h < theta)) AS BIGINT) AS n_sample,
           ROUND(CAST(len(list_filter(list_intersect(ka, kb),
                                      h -> h < theta)) AS DOUBLE)
                 * {HASH60_SPACE}.0::DOUBLE / CAST(theta AS DOUBLE), 2)
             AS est_common
    FROM p
    """,
)
def kmv_audience_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types from KMV sketches
    (theta intersection, operators/sketch.py). One distinct-agg per
    type, then a tiny sketch-pair join — the user set is never shuffled
    pairwise. The oracle rebuilds the identical sketches from raw rows."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    s = kmv_set(ev, "user_id", key_cols=("event_type",), k=KMV_K)
    a = s.select(F.col("event_type").alias("type_a"), F.col("kmv").alias("kmv_a"))
    b = s.select(F.col("event_type").alias("type_b"), F.col("kmv").alias("kmv_b"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    return kmv_intersect_estimate(pairs, k=KMV_K)


@_q(
    "olap_small_qty_revenue",
    """
    WITH li AS (
      SELECT l_partkey,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ), pf AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'
    ), j AS (
      SELECT li.l_partkey, li.qty, li.cents
      FROM li JOIN pf ON li.l_partkey = pf.p_partkey
    ), agg AS (
      SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
             COUNT(*) AS cnt
      FROM j GROUP BY 1
    )
    SELECT CAST(COALESCE(SUM(j.cents), 0) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_items
    FROM j JOIN agg ON j.l_partkey = agg.l_partkey
    WHERE 5 * j.qty * agg.cnt < agg.sum_qty
    """,
)
def olap_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity orders for one brand): broadcast
    the filtered part keys, compute per-part quantity partials once, and
    compare 5*qty*cnt < sum_qty in exact integers (qty < 0.2*avg without
    a double division). Money stays in cents."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("qty"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    pf = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    j = li.join(F.broadcast(pf), li.l_partkey == pf.p_partkey).select(
        "l_partkey", "qty", "cents"
    )
    agg = j.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    out = j.join(F.broadcast(agg), "l_partkey").where(
        F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sum_qty")
    )
    return out.agg(
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )


# =========================================================================
# from queries_r3hh.py
# =========================================================================

"""Round-3 batch hh: three more TPC-H optimizer shapes.

- ``olap_disjunctive_pushdown`` (Q19 shape): an OR-of-ANDs predicate
  across a join — Catalyst must push the common conjuncts to both scans
  and keep the disjunction as a post-join filter.
- ``olap_last_shipper_blame`` (Q21 shape on the available columns):
  EXISTS a co-supplier on the order AND NOT EXISTS a later-shipping
  co-supplier — a semi-join chased by an anti-join on the same key.
- ``olap_top_revenue_supplier`` (Q15 shape): revenue view + argmax,
  returning ALL suppliers tied at the max (the tie-safe formulation).

Money stays integer (cents, and cent-hundredths once the discount
multiplier is applied) — no double sums to hash-mismatch.
"""


_CENTS = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
_D100 = "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
_QTY = "CAST(floor(l_quantity + 0.5) AS BIGINT)"


@_q(
    "olap_disjunctive_pushdown",
    f"""
    SELECT CAST(SUM(c * (100 - d)) AS BIGINT) AS revenue_c100,
           COUNT(*) AS n_items
    FROM (
      SELECT {_CENTS} AS c, {_D100} AS d, {_QTY} AS q, l_partkey
      FROM lineitem
    ) li JOIN part p ON li.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND q BETWEEN 1  AND 11 AND p.p_size BETWEEN 1 AND 5)
       OR (p.p_brand = 'Brand#2' AND q BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
       OR (p.p_brand = 'Brand#3' AND q BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)
    """,
)
def olap_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: the disjunction references both sides, so only the
    derived bounds (q <= 30, size <= 15, brand IN (...)) are pushable;
    the plan broadcast-joins part and evaluates the OR post-join.
    Revenue = cents * (100 - discount_pct) in exact integers."""
    li = load(spark, sf_dir, "lineitem").selectExpr(
        f"{_CENTS} AS c", f"{_D100} AS d", f"{_QTY} AS q", "l_partkey"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("q").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("q").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("q").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return j.where(cond).agg(
        F.sum(F.col("c") * (F.lit(100) - F.col("d"))).cast("long").alias("revenue_c100"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_q(
    "olap_last_shipper_blame",
    """
    WITH l AS (
      SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
    ), f AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND EXISTS (SELECT 1 FROM l l2
                    WHERE l2.l_orderkey = l.l_orderkey
                      AND l2.l_suppkey <> l.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM l l3
                        WHERE l3.l_orderkey = l.l_orderkey
                          AND l3.l_suppkey <> l.l_suppkey
                          AND l3.l_shipdate >= l.l_shipdate)
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM f JOIN supplier s ON f.l_suppkey = s.s_suppkey
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def olap_last_shipper_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape on the available columns: in finished multi-supplier
    orders, blame the supplier(s) whose latest lineitem shipped strictly
    after every co-supplier's. Spark plan: ONE per-order aggregation
    replaces both correlated subqueries — max shipdate per order among
    ALL suppliers and among OTHER suppliers derive from (order, supplier)
    partials, avoiding two self-joins of the fact table."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    per = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
        "l_orderkey", "l_suppkey"
    ).agg(F.max("l_shipdate").alias("my_max"))
    # order-level: count of suppliers, global max, and the 2nd-distinct
    # max (to know the best OTHER supplier without a self-join)
    ow = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.max("my_max").alias("omax"),
        F.max_by("l_suppkey", F.struct("my_max", "l_suppkey")).alias("argmax"),
        # F.get (not [1]): ANSI mode throws on out-of-bounds for the
        # single-supplier orders that are filtered only downstream
        F.get(F.sort_array(F.collect_list("my_max"), asc=False), 1).alias(
            "second"
        ),
    )
    j = per.join(ow, "l_orderkey").where(F.col("n_supp") > 1)
    # blame rows: my_max == omax (I shipped last or tied-last) AND no
    # OTHER supplier ships >= later: other_max = second if I am the
    # unique argmax else omax
    other_max = F.when(
        (F.col("my_max") == F.col("omax")) & (F.col("l_suppkey") == F.col("argmax")),
        F.col("second"),
    ).otherwise(F.col("omax"))
    f = j.where(F.col("my_max") > other_max).select("l_orderkey", "l_suppkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = f.join(F.broadcast(s), f.l_suppkey == s.s_suppkey).groupBy(
        "s_name"
    ).agg(F.count(F.lit(1)).alias("numwait"))
    return out.orderBy(F.desc("numwait"), F.asc("s_name")).limit(10)


@_q(
    "olap_top_revenue_supplier",
    f"""
    WITH r AS (
      SELECT l_suppkey,
             CAST(SUM({_CENTS} * (100 - {_D100})) AS BIGINT) AS rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.rev AS total_rev_c100
    FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rev = (SELECT MAX(rev) FROM r)
    """,
)
def olap_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: quarterly revenue per supplier, return every supplier
    tied at the max. The max is a broadcast 1-row join, not a window
    over a single partition — tie-safe AND shuffle-free after the one
    revenue agg."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    r = li.selectExpr(
        "l_suppkey", f"{_CENTS} * (100 - {_D100}) AS rc"
    ).groupBy("l_suppkey").agg(F.sum("rc").cast("long").alias("rev"))
    mx = r.agg(F.max("rev").alias("mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        r.crossJoin(F.broadcast(mx))
        .where(F.col("rev") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("rev").alias("total_rev_c100"))
    )


# =========================================================================
# from queries_r3pp.py
# =========================================================================

"""Round-3 batch pp: the three remaining classic TPC-H join shapes the
slimmed testdata schema supports — Q5 (local-supplier revenue through a
5-way join), Q10 (returned-item top customers), Q18 (large-volume
orders via a HAVING semi-join).

Money discipline shared by all three: revenue is computed as
``cents * (100 - disc_bp)`` where both factors are exact BIGINTs
recovered from the 2-dp inputs (floor(x*100+0.5)), so the sum is an
exact integer in cents-percent units on BOTH engines — no double
accumulation order can fork the hash.
"""


# Exact-integer revenue: cents * (100 - discount basis points / 100).
_REV_SQL = (
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"
)


def _rev_col() -> F.Column:
    return F.expr(_REV_SQL).alias("rev_cp")


@_q(
    "olap_local_supplier_revenue",
    f"""
    WITH li AS (
      SELECT l_orderkey, l_suppkey, {_REV_SQL} AS rev_cp FROM lineitem
    ), o AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT n.n_name,
           CAST(SUM(li.rev_cp) AS BIGINT) AS revenue_cp,
           COUNT(*) AS n_items
    FROM li
    JOIN o ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON li.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1
    """,
)
def olap_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 1996 revenue per ASIA nation where the customer
    and the supplier share a nation (the "local supplier" predicate is
    an extra equi-condition on the supplier join, not a filter after
    it). Plan at scale: the date filter is pushed into the orders scan,
    supplier/nation/region are broadcast (supplier is dim-sized), and
    the only real shuffles are lineitem><orders on orderkey and
    ><customer on custkey — both map-side-combinable afterwards since
    the final agg is per-nation (25 groups)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _rev_col()
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(nr), s.s_nationkey == F.col("n_nationkey"))
    )
    return j.groupBy("n_name").agg(
        F.sum("rev_cp").cast("long").alias("revenue_cp"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_q(
    "olap_returned_items_top",
    f"""
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cp,
             COUNT(*) AS n_items
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-07-01'
      GROUP BY 1, 2, 3
    ), r AS (
      SELECT *, row_number() OVER (ORDER BY revenue_cp DESC, c_custkey) AS rnk
      FROM rev
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, c_custkey, c_name, n_name,
           revenue_cp, n_items
    FROM r WHERE rnk <= 20
    """,
)
def olap_returned_items_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns
    (returnflag='R') in 1996H1. The ranking window never sees raw rows:
    revenue is aggregated per customer first, then Spark's
    TakeOrderedAndProject pulls the global top-20 of the AGGREGATE
    (per-partition top-20 partials, no single-partition sort of the
    customer table), and row_number runs over just those 20 rows.
    Deterministic under revenue ties via the custkey tiebreak."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rev = (
        li.select("l_orderkey", _rev_col())
        .join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_name", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum("rev_cp").cast("long").alias("revenue_cp"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    top = rev.orderBy(F.desc("revenue_cp"), F.asc("c_custkey")).limit(20)
    w = Window.orderBy(F.desc("revenue_cp"), F.asc("c_custkey"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        "c_custkey", "c_name", "n_name", "revenue_cp", "n_items",
    )


@_q(
    "olap_large_volume_orders",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) > 300
    )
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
           big.sum_qty
    FROM big
    JOIN orders o ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def olap_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): the HAVING subquery is one
    map-side-combinable agg over lineitem; only qualifying orderkeys
    (sum_qty > 300, a sub-percent tail) flow into the orders/customer
    joins. The joins are left to AQE: the filtered agg is usually small
    enough that AQE converts both to broadcast at runtime, but we do
    not force it — at 10^12 rows the qualifying set can still exceed
    driver memory, and a shuffle join on the (orderkey, custkey) keys
    is the safe default. Quantities compare as exact integers."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("qty"),
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").cast("long").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "total_cents"
        ),
    )
    c = load(spark, sf_dir, "customer").select("c_custkey")
    j = big.join(o, big.l_orderkey == o.o_orderkey).join(
        c, o.o_custkey == c.c_custkey
    )
    return j.select(
        "c_custkey", "o_orderkey", "o_orderdate", "total_cents", "sum_qty"
    )


# =========================================================================
# from queries_r3tt.py
# =========================================================================

"""Round-3 batch tt: TPC-H Q14/Q16/Q20 shapes on the slimmed schema.

* ``olap_promo_revenue_share`` — Q14: the promo share of one month's
  revenue as a single conditional aggregate over ONE scan (no
  numerator/denominator double-scan), share in rounded integer bp of
  exact cents-percent revenue.
* ``olap_part_supplier_census`` — Q16 shape (no partsupp table in the
  slimmed schema, so supplier-part relationships come from observed
  lineitems): distinct suppliers per (brand, size-band) excluding one
  brand, with the COUNT(DISTINCT) running per narrow pair key.
* ``olap_excess_supply_suppliers`` — Q20 shape: suppliers whose shipped
  1996 quantity of small parts exceeds 2x their own all-parts daily
  average for the year — the correlated-subquery form rewritten as one
  agg + an integer-cross-multiply compare (no double division).
"""


@_q(
    "olap_promo_revenue_share",
    f"""
    WITH j AS (
      SELECT p.p_type, {_REV_SQL} AS rev_cp
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
        AND l.l_shipdate < TIMESTAMP '1996-04-01'
    )
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_cp ELSE 0 END)
                AS BIGINT) AS promo_cp,
           CAST(SUM(rev_cp) AS BIGINT) AS total_cp,
           COUNT(*) AS n_items,
           CAST((20000 * SUM(CASE WHEN p_type = 'PROMO' THEN rev_cp
                                  ELSE 0 END)
                 + SUM(rev_cp)) // (2 * SUM(rev_cp)) AS BIGINT)
             AS promo_bp
    FROM j
    """,
)
def olap_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: March-1996 promo revenue share. One lineitem
    scan (ship-date filter pushed to parquet), part broadcast, and the
    numerator folds into the same aggregate as the denominator via a
    conditional sum — never two scans or a self-join. Exact cents-
    percent integers; the share is a rounded integer division."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.select("l_partkey", F.expr(_REV_SQL).alias("rev_cp")).join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("rev_cp")).otherwise(0)
    )
    return j.agg(
        promo.cast("long").alias("promo_cp"),
        F.sum("rev_cp").cast("long").alias("total_cp"),
        F.count(F.lit(1)).alias("n_items"),
        F.expr(
            "(20000 * SUM(CASE WHEN p_type = 'PROMO' THEN rev_cp ELSE 0 END)"
            " + SUM(rev_cp)) DIV (2 * SUM(rev_cp))"
        )
        .cast("long")
        .alias("promo_bp"),
    )


@_q(
    "olap_part_supplier_census",
    """
    SELECT p.p_brand, CAST((p.p_size - 1) // 10 AS BIGINT) AS size_band,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS n_parts,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
    GROUP BY 1, 2
    """,
)
def olap_part_supplier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape over observed supply relationships (the slimmed
    schema has no partsupp, so lineitem IS the supplier-part evidence):
    distinct suppliers and parts per (brand, 10-wide size band),
    excluding one brand. The two COUNT(DISTINCT)s expand to one
    partial-deduped aggregate per key (Spark plans expand + two-phase
    agg — distinct sets stay per-group, no global dedup); the brand
    filter rides the part broadcast before the join."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") != "Brand#5")
        .select("p_partkey", "p_brand", "p_size")
    )
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return j.groupBy(
        "p_brand", F.expr("CAST((p_size - 1) DIV 10 AS BIGINT)").alias("size_band")
    ).agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_q(
    "olap_excess_supply_suppliers",
    """
    WITH small AS (
      SELECT l.l_suppkey,
             CAST(SUM(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS small_qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_size <= 10
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1
    ), allq AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS total_qty,
             COUNT(*) AS n_ship
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, small.small_qty, allq.total_qty,
           CAST(allq.n_ship AS BIGINT) AS n_ship
    FROM small
    JOIN allq ON small.l_suppkey = allq.l_suppkey
    JOIN supplier s ON small.l_suppkey = s.s_suppkey
    WHERE 5 * small.small_qty * allq.n_ship > allq.total_qty * 100
    """,
)
def olap_excess_supply_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose 1996 small-part (size <= 10)
    volume is over 20x their per-shipment average across all parts —
    the correlated subquery becomes two map-combined aggregates joined
    on suppkey, and the threshold compares as the integer cross-product
    5*small*n > total*100 (0.2*avg without a double). Both aggregates
    shuffle once on the same suppkey, so AQE coalesces them into
    co-partitioned exchanges; supplier is a broadcast dim."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    qty = F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_size") <= 10)
        .select("p_partkey")
    )
    small = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(qty).cast("long").alias("small_qty"))
    )
    allq = li.groupBy("l_suppkey").agg(
        F.sum(qty).cast("long").alias("total_qty"),
        F.count(F.lit(1)).alias("n_ship"),
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = (
        small.join(allq.withColumnRenamed("l_suppkey", "sk"),
                   small.l_suppkey == F.col("sk"))
        .where(
            F.lit(5) * F.col("small_qty") * F.col("n_ship")
            > F.col("total_qty") * 100
        )
        .join(F.broadcast(s), small.l_suppkey == F.col("s_suppkey"))
    )
    return j.select(
        "s_suppkey", "s_name", "small_qty", "total_qty",
        F.col("n_ship").cast("long").alias("n_ship"),
    )


# =========================================================================
# from queries_r3yy.py
# =========================================================================

"""Round-3 batch yy: TPC-H Q7/Q8/Q9 join shapes.

* ``olap_volume_shipping`` — Q7: cross-nation trade volume by
  (supplier nation, customer nation, ship year) for nations that
  DIFFER (the anti-local complement of Q5's local-supplier predicate).
* ``olap_market_share`` — Q8: one nation's share of yearly revenue
  among purchases by customers in its region — the two-level aggregate
  where the share folds into the same agg as the total via a
  conditional sum (no second scan, no self-join).
* ``olap_product_type_profit`` — Q9 shape (no partsupp cost in the
  slimmed schema, so "profit" is revenue): revenue by supplier nation x
  ship year over parts whose name carries one token (LIKE pushdown
  into the broadcast part dim).

All revenue stays in exact cents-percent BIGINTs (batch pp's _REV_SQL).
"""


@_q(
    "olap_volume_shipping",
    f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cp,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE s.s_nationkey <> c.c_nationkey
      AND ns.n_name IN ('NATION_1', 'NATION_2')
      AND nc.n_name IN ('NATION_1', 'NATION_2')
    GROUP BY 1, 2, 3
    """,
)
def olap_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations by ship year,
    each direction its own group. The nation filters ride the broadcast
    supplier/customer-side dims so the fact join only carries qualifying
    rows; the inequality predicate is an extra join condition, not a
    post-join filter. Final agg is (2 x 2 - diagonal) x years groups."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", F.expr(_REV_SQL).alias("rev_cp")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nations = ("NATION_1", "NATION_2")
    n = load(spark, sf_dir, "nation")
    ns = n.where(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.where(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sj = s.join(F.broadcast(ns), s.s_nationkey == F.col("snk"))
    cj = c.join(F.broadcast(nc), c.c_nationkey == F.col("cnk"))
    j = (
        li.join(F.broadcast(sj), li.l_suppkey == sj.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(
            cj,
            (o.o_custkey == cj.c_custkey) & (F.col("snk") != F.col("cnk")),
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).agg(
        F.sum("rev_cp").cast("long").alias("revenue_cp"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_q(
    "olap_market_share",
    f"""
    WITH r AS (
      SELECT n_nationkey FROM nation
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ), j AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
             CASE WHEN ns.n_name = 'NATION_1' THEN 1 ELSE 0 END AS is_target,
             {_REV_SQL} AS rev_cp
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN r ON c.c_nationkey = r.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    )
    SELECT order_year,
           CAST(SUM(CASE WHEN is_target = 1 THEN rev_cp ELSE 0 END)
                AS BIGINT) AS target_cp,
           CAST(SUM(rev_cp) AS BIGINT) AS total_cp,
           CAST((20000 * SUM(CASE WHEN is_target = 1 THEN rev_cp ELSE 0 END)
                 + SUM(rev_cp)) // (2 * SUM(rev_cp)) AS BIGINT) AS share_bp
    FROM j GROUP BY 1
    """,
)
def olap_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of revenue sold to ASIA
    customers, per order year. The target/total split is a conditional
    sum inside ONE aggregate — the classic Q8 nested-CASE form — and the
    share is a rounded integer division of exact cents-percent sums.
    Region/nation/supplier broadcast; two fact shuffles (orderkey,
    custkey) as in Q5."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.expr(_REV_SQL).alias("rev_cp")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("long").alias("order_year")
    )
    n = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rn = n.join(F.broadcast(reg), n.n_regionkey == reg.r_regionkey).select(
        F.col("n_nationkey").alias("rnk_")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cj = c.join(F.broadcast(rn), c.c_nationkey == F.col("rnk_")).select("c_custkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = n.select("n_nationkey", "n_name")
    sj = s.join(F.broadcast(ns), s.s_nationkey == ns.n_nationkey).select(
        "s_suppkey",
        F.when(F.col("n_name") == "NATION_1", 1).otherwise(0).alias("is_target"),
    )
    j = (
        li.join(F.broadcast(sj), li.l_suppkey == sj.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cj, o.o_custkey == cj.c_custkey)
    )
    return j.groupBy("order_year").agg(
        F.sum(F.when(F.col("is_target") == 1, F.col("rev_cp")).otherwise(0))
        .cast("long")
        .alias("target_cp"),
        F.sum("rev_cp").cast("long").alias("total_cp"),
        F.expr(
            "(20000 * SUM(CASE WHEN is_target = 1 THEN rev_cp ELSE 0 END)"
            " + SUM(rev_cp)) DIV (2 * SUM(rev_cp))"
        )
        .cast("long")
        .alias("share_bp"),
    )


@_q(
    "olap_product_type_profit",
    f"""
    SELECT ns.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cp,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def olap_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (revenue standing in for profit — the slimmed
    schema carries no supply cost): widget-part revenue by supplier
    nation and ship year. The LIKE filter prunes the part dim BEFORE it
    broadcasts, so the fact scan joins against only matching partkeys;
    nation resolves through the supplier broadcast. One fact pass, one
    (nation, year) agg."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate", F.expr(_REV_SQL).alias("rev_cp")
    )
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sj = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).join(
        F.broadcast(sj), li.l_suppkey == sj.s_suppkey
    )
    return j.groupBy(
        "supp_nation", F.year("l_shipdate").cast("long").alias("ship_year")
    ).agg(
        F.sum("rev_cp").cast("long").alias("revenue_cp"),
        F.count(F.lit(1)).alias("n_items"),
    )


# =========================================================================
# from queries_r4f.py
# =========================================================================

"""Round-4 batch f: CUBE / grouping-sets coverage — the one relational
surface the OLAP suite didn't yet exercise. Spark's `cube()` +
`grouping_id()` against DuckDB's `GROUP BY CUBE` + `GROUPING()`, in the
integer cents x discount-percent (c10k) idiom so every subtotal level is
exact.
"""


@_q(
    "olap_cube_revenue",
    """
    WITH f AS (
      SELECT n.n_name, c.c_mktsegment, o.o_orderkey,
             CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT))
               AS rev_c10k
      FROM customer c
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    )
    SELECT n_name, c_mktsegment,
           CAST(GROUPING(n_name, c_mktsegment) AS BIGINT) AS gid,
           CAST(SUM(rev_c10k) AS BIGINT)  AS revenue_c10k,
           COUNT(DISTINCT o_orderkey)     AS n_orders
    FROM f
    GROUP BY CUBE (n_name, c_mktsegment)
    """,
)
def olap_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue cube over (nation, market segment): all four grouping-set
    levels — cell, per-nation, per-segment, grand total — in one pass,
    disambiguated by grouping_id. The c10k integer idiom keeps every
    subtotal byte-exact across engines.

    Scale: Spark expands CUBE into a single Expand + hash aggregate —
    one shuffle regardless of the number of grouping sets, with map-side
    partial aggregation; the dimension joins broadcast. This is the
    standard shape for tiered dashboard rollups (the relational analog
    of the engine's 1h/1d/30d tier cascade, reference
    stack.py:451 multilook levels).
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "c_mktsegment",
            "o_orderkey",
            (cents * (F.lit(100) - disc)).alias("rev_c10k"),
        )
    )
    return (
        f.cube("n_name", "c_mktsegment")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("rev_c10k").alias("revenue_c10k"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .select(
            "n_name", "c_mktsegment", "gid", "revenue_c10k", "n_orders"
        )
    )


# =========================================================================
# from queries_r3ac.py
# =========================================================================

"""Round-3 batch bbb: the four TPC-H shapes that complete the suite —
Q6, Q2, Q11, Q12 — recast where they need the absent partsupp table
(reference analog: the slimmed TPC-H schema in TESTDATA.md; reference
MintPy has no OLAP layer, these exercise the engine's join planner).

Exactness discipline: every money expression uses the repo's integer
cents idiom (floor(x*100+0.5) as BIGINT) so sums, argmins, and
HAVING thresholds are order-independent and cross-engine exact — no
float-sum last-ulp ambiguity between Spark's and DuckDB's fold order.

* ``olap_revenue_delta`` (Q6): one filtered scan, one global sum —
  the pushdown showcase (predicate reaches the parquet reader).
* ``olap_min_cost_supplier`` (Q2 shape): cheapest supplier per part
  via exact integer unit cost, dims broadcast, ties kept.
* ``olap_important_parts`` (Q11 shape): per-part value share with a
  global-total scalar threshold (broadcast 1-row join, not a window
  over one partition).
* ``olap_ship_priority_class`` (Q12 shape): late-vs-ontime shipping
  census split by high/low order priority (CASE-pivot aggregate).
"""


@_q(
    "olap_revenue_delta",
    f"""
    SELECT CAST(SUM({_CENTS} * {_D100}) AS BIGINT) AS revenue_c10k,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND {_D100} BETWEEN 5 AND 7
      AND {_QTY} < 24
    """,
)
def olap_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the would-be revenue increase from dropping a band of
    discounts. One scan with every predicate pushable (shipdate is a
    raw-column range that reaches PushedFilters; the discount/qty bands
    prune after the columnar read), then a single global integer sum —
    zero joins, one exchange for the final 1-row agg. Revenue is in
    cents x discount-percent units (c10k) to stay integer-exact."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        li.selectExpr(f"{_CENTS} AS c", f"{_D100} AS d", f"{_QTY} AS q")
        .where((F.col("d") >= 5) & (F.col("d") <= 7) & (F.col("q") < 24))
        .agg(
            F.sum(F.col("c") * F.col("d")).cast("long").alias("revenue_c10k"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_q(
    "olap_min_cost_supplier",
    f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM({_CENTS}) * 10000 // SUM({_QTY}) AS BIGINT) AS unit_c
      FROM lineitem GROUP BY 1, 2
    ), best AS (
      SELECT l_partkey, MIN(unit_c) AS min_c FROM cost GROUP BY 1
    )
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name,
           c.unit_c AS unit_cost_micro
    FROM cost c
    JOIN best b ON c.l_partkey = b.l_partkey AND c.unit_c = b.min_c
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size <= 10 AND p.p_type = 'PROMO'
    """,
)
def olap_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape on the slimmed schema (no partsupp): the observed
    unit cost per (part, supplier) from lineitem history, then the
    cheapest supplier(s) per small PROMO part. unit cost is exact
    integer micro-dollars (cents*10000 // qty) so the per-part argmin
    is fold-order independent; ties all survive, as in real Q2. The
    Spark side uses integral ``div`` (not float ``/`` + cast: a
    correctly-rounded double quotient can land one above the floor at
    an exact-integer boundary). Plan: one (part,supp) agg, a map-side
    partial min re-agg on l_partkey, the best-join co-partitioned on
    l_partkey, then three broadcast joins for part/supplier/nation."""
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey", "l_suppkey", f"{_CENTS} AS c", f"{_QTY} AS q"
    )
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.expr("CAST((sum(c) * 10000) div sum(q) AS LONG)").alias("unit_c")
    )
    best = cost.groupBy("l_partkey").agg(F.min("unit_c").alias("min_c"))
    p = load(spark, sf_dir, "part").where(
        (F.col("p_size") <= 10) & (F.col("p_type") == "PROMO")
    ).select("p_partkey", "p_brand")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cost.join(best, "l_partkey")
        .where(F.col("unit_c") == F.col("min_c"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey", "p_brand", "s_name", "n_name",
            F.col("unit_c").alias("unit_cost_micro"),
        )
    )


@_q(
    "olap_important_parts",
    f"""
    WITH v AS (
      SELECT l.l_partkey, CAST(SUM({_CENTS}) AS BIGINT) AS value_c
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_regionkey = 0
      GROUP BY 1
    )
    SELECT l_partkey AS p_partkey, value_c
    FROM v
    WHERE value_c * 10000 > (SELECT SUM(value_c) FROM v) * 3
    """,
)
def olap_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp value -> lineitem revenue): parts whose
    region-0-supplied revenue exceeds 0.03% of that region's total.
    The global total is a broadcast 1-row crossJoin against the per-part
    aggregate (which Spark computes as a partial re-agg of the same
    shuffle, not a second scan); the threshold compare is pure integer
    cross-multiplication, so both engines agree bit-for-bit."""
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey", "l_suppkey", f"{_CENTS} AS c"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").where(F.col("n_regionkey") == 0).select(
        "n_nationkey"
    )
    v = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum("c").cast("long").alias("value_c"))
    )
    total = v.agg(F.sum("value_c").alias("total_c"))
    return (
        v.crossJoin(F.broadcast(total))
        .where(F.col("value_c") * 10000 > F.col("total_c") * 3)
        .select(F.col("l_partkey").alias("p_partkey"), "value_c")
    )


@_q(
    "olap_ship_priority_class",
    """
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60
                THEN 'late' ELSE 'ontime' END AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def olap_ship_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode -> order-to-ship latency class): did
    late shipping hit urgent orders? CASE-pivot counts per latency
    class. The orders side projects two columns and shuffles on the
    join key once; the pivot is a map-side partial so the final
    exchange carries two rows per class."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, "late"
            ).otherwise("ontime").alias("ship_class"),
            F.when(hi, 1).otherwise(0).alias("hi"),
            F.when(hi, 0).otherwise(1).alias("lo"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum("hi").cast("long").alias("high_line_count"),
            F.sum("lo").cast("long").alias("low_line_count"),
        )
    )
