"""Relational operator surface: scan/filter/project, joins (inner, semi,
anti, multi-way), aggregation (hash agg, distinct, rollup/cube,
conditional), sort/limit/top-k, window functions, set ops, subqueries,
scalar functions.

This is the completion of the reference's stubbed scan path (readMany,
reference: src/cli/server/model/graphql.rs:336-343, 382) into the full
analytics surface. Every query but q12 is one SQL text that Spark
parses and DuckDB checks (``register_sql``): filters and projections
reach the parquet scan (Catalyst pushdown), only bounded dimensions
carry ``/*+ BROADCAST */`` hints, aggregations are partial+final
map-side combines — no driver-side loops, no Python UDFs. With CBO off,
Catalyst keeps the written join order, so each text lists its joins in
the order the plan should run them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gus_spark.functions.deterministic import sql_davg, sql_dsum
from gus_spark.operators.util import ensure_parallelism
from gus_spark.queries import register, register_sql, table

_REVENUE = sql_dsum("l.l_extendedprice * (1 - l.l_discount)")


# --------------------------------------------------------------------------
# Scan / filter / project
# --------------------------------------------------------------------------
# read_one analogue on a big table: the pk equality predicate is pushed
# into the parquet scan (row-group min/max pruning at scale).
register_sql(
    "point_lookup_order",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM {orders} WHERE o_orderkey = 7
    """,
)

# TPC-H Q6: fully pushed-down filter + single deterministic agg — no
# shuffle at all beyond the final 1-row reduce.
register_sql(
    "q6_forecast_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
    FROM {{lineitem}}
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------
def _spread_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1's input. The local testdata ships one row group per table,
    which would serialize the decimal aggregation onto one core; at
    cluster scale inputs arrive with >= slots partitions and the guard
    is a no-op (no extra shuffle). spread_cols (r13): hash-spread on
    read columns instead of the round-robin guard's hidden local sort —
    600k rows made that sort the single biggest slice of this line."""
    return ensure_parallelism(
        table(spark, sf_dir, "lineitem"),
        spread_cols=["l_extendedprice", "l_shipdate", "l_quantity"],
    )


# TPC-H Q1: the canonical wide hash aggregation. Map-side partial
# aggregation collapses 600k rows to ~6 groups before the shuffle.
register_sql(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM {{lineitem}}
    WHERE l_shipdate <= TIMESTAMP '2000-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    lineitem=_spread_lineitem,
)

# All FOUR grouping sets of (returnflag, linestatus) in one pass — CUBE
# strictly contains ROLLUP's hierarchy, so this fusion of the former
# `rollup_returns` + `cube_orders` probes covers both shapes (hierarchy
# totals AND the off-hierarchy (·, linestatus) slice) with the full
# measure set: exact count-distincts (Expand + two-phase agg), decimal
# sum, min/max; `gid` is the explicit GROUPING() disambiguator
# (grouping-set id vs a genuinely NULL dimension value — identical bit
# layout in Spark and DuckDB). The all-NULL/gid=3 row IS the global
# aggregate (absorbing the former `agg_global_lineitem` probe too).
register_sql(
    "cube_lineitem_returns",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM {{lineitem}}
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)


# (cube_orders was folded into cube_lineitem_returns — its CUBE +
#  grouped count-distinct shape is a strict subset; the freed slot
#  went to bridge.q11_important_stock.)


#: TPC-H ship modes, indexed by the synthesized selector below.
_SHIPMODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]

#: the DuckDB twin of the synthesized lineitem shipping columns —
#: prepended to the q12 oracle. Pure integer arithmetic over existing
#: columns (the partsupp pattern, queries/bridge.py): the same rows are
#: constructible in any engine, so Spark and DuckDB agree bit-exactly.
#: Offsets mirror the TPC-H generator's intent (commitdate scattered
#: +-30 days around shipdate so `shipdate < commitdate` splits the
#: rows; receiptdate 1..30 days after shipdate so
#: `commitdate < receiptdate` is a real second filter). The shipmode
#: multipliers are COPRIME with 7 (11 and 3) so the mode genuinely
#: scatters over (orderkey, linenumber) — an orderkey multiplier
#: divisible by 7 would make the mode a pure function of line number
#: (a first cut used 7 and was caught in review: every MAIL row was
#: exactly line 4, a degenerate distribution both engines agreed on).
_LINEITEM_SHIP_SQL = """
    WITH lx AS (
      SELECT l_orderkey,
             CASE (l_orderkey * 11 + l_linenumber * 3) % 7
               WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR'
               WHEN 2 THEN 'RAIL'    WHEN 3 THEN 'SHIP'
               WHEN 4 THEN 'TRUCK'   WHEN 5 THEN 'MAIL'
               ELSE 'FOB' END AS l_shipmode,
             CAST(l_shipdate AS DATE) AS sd,
             CAST(l_shipdate AS DATE)
               + CAST(((l_orderkey * 13 + l_linenumber * 7) % 61) - 30
                      AS INTEGER) AS l_commitdate,
             CAST(l_shipdate AS DATE)
               + CAST(((l_orderkey * 23 + l_linenumber * 5) % 30) + 1
                      AS INTEGER) AS l_receiptdate
      FROM lineitem
    )
"""


@register(
    "q12_shipping_modes",
    oracle=_LINEITEM_SHIP_SQL
    + """
    SELECT l_shipmode,
           COUNT(*) FILTER (WHERE o_orderpriority IN
             ('1-URGENT', '2-HIGH')) AS high_line_count,
           COUNT(*) FILTER (WHERE o_orderpriority NOT IN
             ('1-URGENT', '2-HIGH')) AS low_line_count
    FROM lx JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipmode IN ('MAIL', 'SHIP')
      AND l_commitdate < l_receiptdate
      AND sd < l_commitdate
      AND l_receiptdate >= DATE '1997-01-01'
      AND l_receiptdate <  DATE '1998-01-01'
    GROUP BY l_shipmode ORDER BY l_shipmode
    """,
)
def q12_shipping_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: late-shipment counts by ship mode, split into
    high/low order priority — the last classic TPC-H shape the catalog
    lacked, blocked since round 5 on the testdata having no
    l_shipmode/l_commitdate/l_receiptdate. Those three columns are now
    SYNTHESIZED deterministically from existing integer/date columns
    (the partsupp pattern, queries/bridge.py): pure integer arithmetic
    plus date+int-days, so the DuckDB oracle CTE reconstructs the
    exact same rows at any scale factor.

    The priority split is expressed through the .pivot() API — Q12's
    high/low line counts ARE a two-value pivot over the derived
    priority class, so this probe carries the catalog's
    pivot-as-conditional-agg claim (absorbing the former
    `conditional_agg_pivot`, whose FILTER-per-status shape it
    strictly generalizes: derived pivot column + join + date
    predicates instead of a raw column over one table). Catalyst
    compiles the pivot to a single-pass conditional aggregate — one
    l_orderkey exchange for the join (orders is row-scaled: no
    broadcast hint, AQE decides), one shipmode exchange of <=2 groups
    for the agg. The date predicates are derived-column filters: they
    evaluate map-side before the join, so the exchange carries only
    qualifying rows (~1/14 of lineitem: 2/7 modes x ~1/2 commit-late
    x the receipt-year window)."""
    l = table(spark, sf_dir, "lineitem")
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber")
    sd = F.col("l_shipdate").cast("date")
    lx = l.select(
        "l_orderkey",
        F.element_at(
            F.array(*[F.lit(m) for m in _SHIPMODES]),
            ((ok * 11 + ln * 3) % 7 + 1).cast("int"),
        ).alias("l_shipmode"),
        sd.alias("sd"),
        F.date_add(sd, (((ok * 13 + ln * 7) % 61) - 30).cast("int"))
        .alias("l_commitdate"),
        F.date_add(sd, (((ok * 23 + ln * 5) % 30) + 1).cast("int"))
        .alias("l_receiptdate"),
    ).filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("sd") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_receiptdate") < F.lit("1998-01-01").cast("date"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        lx.join(o, lx.l_orderkey == o.o_orderkey)
        .withColumn(
            "priority_class",
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
            ).otherwise("low"),
        )
        .groupBy("l_shipmode")
        .pivot("priority_class", ["high", "low"])
        .count()
        .select(
            "l_shipmode",
            F.coalesce(F.col("high"), F.lit(0)).alias("high_line_count"),
            F.coalesce(F.col("low"), F.lit(0)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------
# TPC-H Q3: filtered 3-way join + agg + top-10. customer and orders are
# row-scaled (customer keeps ~1/5 after the segment filter, orders ~19%
# after the date filter), so neither carries a broadcast hint — a forced
# broadcast that fits at sf0.1 is an OOM at 100 TB. AQE still broadcasts
# at runtime whenever the built side is genuinely small. Unique
# tiebreak (l_orderkey) keeps the LIMIT deterministic.
#
# r14 NOTE (measured, reverted — the q9 semi-prune precedent does NOT
# transfer here): a left-semi prune of lineitem against the
# custkey-pruned orderkey list read 0.86-0.96 s across 6 fresh-JVM
# children vs 0.74-1.00 s unpruned interleaved on one host (min 0.858 vs
# 0.736) — the extra key-list scan + semi build is pure overhead at
# bench scale (the main join already broadcasts), and at shuffle scale
# it is NEUTRAL, not a win: the semi key IS the downstream join key, so
# the shuffled-semi fallback sorts/shuffles the full lineitem exactly
# once either way and only adds the key-list shuffle. q9 won because
# its semi key (partkey) differs from the downstream bridge key
# (partkey, suppkey) — the prune shrank a SECOND shuffle. No second
# lineitem shuffle exists here.
register_sql(
    "q3_shipping_priority",
    f"""
    SELECT l.l_orderkey, {_REVENUE} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM {{lineitem}} l
    JOIN ({{orders}} o JOIN {{customer}} c ON o.o_custkey = c.c_custkey)
      ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)

# TPC-H Q5: 6-way join. Only the fixed dimensions (region=5 rows,
# nation=25 rows) carry broadcast hints. customer AND supplier scale
# linearly with SF (supplier = 10k×SF is ~150 GB at the sf100k design
# point), so neither join is hinted — the size-based planner / AQE
# broadcasts them at runtime only when actually small. The single big
# shuffle is lineitem⋈orders on orderkey.
register_sql(
    "q5_regional_revenue",
    f"""
    SELECT /*+ BROADCAST(nr) */ nr.n_name, {_REVENUE} AS revenue
    FROM {{lineitem}} l
    JOIN {{orders}} o ON l.l_orderkey = o.o_orderkey
    JOIN ({{customer}} c
          JOIN (SELECT /*+ BROADCAST(r) */ n.n_nationkey, n.n_name
                FROM {{nation}} n JOIN {{region}} r
                  ON n.n_regionkey = r.r_regionkey
                WHERE r.r_name = 'ASIA') nr
            ON c.c_nationkey = nr.n_nationkey)
      ON o.o_custkey = c.c_custkey
    JOIN {{supplier}} s
      ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = nr.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY nr.n_name
    """,
)

# TPC-H Q7 (volume shipping): 6-way join where nation plays TWO roles
# (supplier side and customer side) with an OR'd cross-pair predicate
# that only becomes checkable after both roles are bound. Each nation
# role is pre-filtered to the 2-nation pair and broadcast (fixed
# 25-row dimension — the only allowed hints), which prunes supplier and
# customer before the fact joins; supplier/customer/orders are
# row-scaled and carry no hint. The one big shuffle is lineitem⋈orders
# on orderkey.
register_sql(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation,
           CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
           {_REVENUE} AS revenue
    FROM {{lineitem}} l
    JOIN (SELECT /*+ BROADCAST(n1) */ s_suppkey, supp_nation
          FROM {{supplier}}
          JOIN (SELECT n_nationkey AS s_nkey, n_name AS supp_nation
                FROM {{nation}} WHERE n_name IN ('NATION_3', 'NATION_7')) n1
            ON s_nationkey = s_nkey) s
      ON l.l_suppkey = s.s_suppkey
    JOIN {{orders}} o ON l.l_orderkey = o.o_orderkey
    JOIN (SELECT /*+ BROADCAST(n2) */ c_custkey, cust_nation
          FROM {{customer}}
          JOIN (SELECT n_nationkey AS c_nkey, n_name AS cust_nation
                FROM {{nation}} WHERE n_name IN ('NATION_3', 'NATION_7')) n2
            ON c_nationkey = c_nkey) c
      ON o.o_custkey = c.c_custkey
    WHERE ((supp_nation = 'NATION_3' AND cust_nation = 'NATION_7')
        OR (supp_nation = 'NATION_7' AND cust_nation = 'NATION_3'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                           AND TIMESTAMP '1997-12-31'
    GROUP BY supp_nation, cust_nation, CAST(YEAR(l.l_shipdate) AS BIGINT)
    """,
)

# TPC-H Q8 (national market share): the deepest join in the catalog —
# 8 relations, nation again in two roles (customer-region gate, a semi
# join, and supplier tagging) — feeding a conditional-ratio aggregate
# share = Σ(volume | supp_nation=X) / Σ(volume). Hints only on the
# bounded sides (region=5, the region-pruned customer-nation chain, and
# the 25-row supplier-nation tag); part/supplier/customer/orders are
# row-scaled and unhinted. Both sums are exact decimal cast to double,
# so the final double division is bit-identical on both engines
# regardless of partition order. The region gate is the semi join the
# plan runs; the oracle keeps the textbook inner-join star.
register_sql(
    "q8_market_share",
    f"""
    SELECT /*+ BROADCAST(n1), BROADCAST(n2) */
           CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum("CASE WHEN supp_nation = 'NATION_5' "
                     "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
           / {_REVENUE} AS mkt_share
    FROM {{lineitem}} l
    JOIN {{part}} p ON l.l_partkey = p.p_partkey
    JOIN {{orders}} o ON l.l_orderkey = o.o_orderkey
    JOIN {{customer}} c ON o.o_custkey = c.c_custkey
    SEMI JOIN (SELECT /*+ BROADCAST(r) */ n_nationkey AS c_nkey
               FROM {{nation}} JOIN {{region}} r ON n_regionkey = r.r_regionkey
               WHERE r.r_name = 'AMERICA') n1
      ON c.c_nationkey = n1.c_nkey
    JOIN {{supplier}} s ON l.l_suppkey = s.s_suppkey
    JOIN (SELECT n_nationkey AS s_nkey, n_name AS supp_nation
          FROM {{nation}}) n2
      ON s.s_nationkey = n2.s_nkey
    WHERE p.p_type = 'PROMO'
      AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1997-12-31'
    GROUP BY CAST(YEAR(o.o_orderdate) AS BIGINT)
    """,
    oracle=f"""
    SELECT o_year,
           {sql_dsum("CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END")}
           / {sql_dsum('volume')} AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1997-12-31'
    ) all_nations
    GROUP BY o_year
    """,
)

# TPC-H Q10: returned-item revenue per customer, top 20. orders (even
# date-filtered to ~4%) and customer scale with the data, so those joins
# carry no broadcast hint; only nation (25 rows, fixed) is
# hint-broadcast. AQE picks broadcast at runtime when the filtered
# orders slice is actually small. r14 NOTE (measured, reverted): a
# left-semi prune of lineitem against the quarter's orderkey list (the
# q9 precedent) read 0.65-1.00 s across 6 fresh-JVM children vs
# 0.62-0.65 s unpruned — overhead at bench scale and NEUTRAL at shuffle
# scale because the semi key is the downstream join key (see q3).
register_sql(
    "q10_returned_items",
    f"""
    SELECT /*+ BROADCAST(n) */ c.c_custkey, c.c_name,
           {_REVENUE} AS revenue, n.n_name
    FROM {{lineitem}} l
    JOIN {{orders}} o ON l.l_orderkey = o.o_orderkey
    JOIN {{customer}} c ON o.o_custkey = c.c_custkey
    JOIN {{nation}} n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)

# TPC-H Q19 (disjunctive predicates): fact⋈dimension where the filter
# is an OR of cross-table conjunct groups, so no single disjunct can be
# pushed whole to either scan. The classic optimization is written out:
# each table gets the IMPLIED single-table envelope of the disjunction
# (part: the brand keyset + size ≤ 15; lineitem: quantity ≤ 30) pushed
# to its scan, and the residual OR runs as the join filter over the
# pre-shrunk sides. part is row-scaled (200k×SF) so the join carries no
# forced hint; AQE broadcasts the brand-filtered slice when it is
# actually small. (The reference's shipmode/shipinstruct conjuncts are
# dropped — those columns don't exist in the testdata.)
register_sql(
    "q19_discounted_revenue",
    f"""
    SELECT {_REVENUE} AS revenue
    FROM {{lineitem}} l
    JOIN {{part}} p
      ON l.l_partkey = p.p_partkey
     AND ((p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30))
    WHERE l.l_quantity BETWEEN 1 AND 30
      AND p.p_brand IN ('Brand#12', 'Brand#23', 'Brand#3')
      AND p.p_size BETWEEN 1 AND 15
    """,
)

# TPC-H Q4 (order-priority checking): the correlated EXISTS whose
# predicate compares columns from BOTH relations (the lineitem shipped
# >60 days after its order date — the testdata's analogue of the
# reference's commitdate<receiptdate lateness test), written as the
# LEFT SEMI join it plans to, with a mixed equi + inequality condition —
# no fanout, no payload duplication (the explicit join also pushes its
# null filters to both scans). The date range is pushed to the orders
# scan; both sides are row-scaled so the semi join carries no hint —
# the filtered quarter of orders is small, so AQE broadcasts it at
# runtime. The oracle keeps the textbook EXISTS.
register_sql(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM {orders} o
    SEMI JOIN {lineitem} l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
    GROUP BY o.o_orderpriority
    """,
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)

# TPC-H Q22 (global sales opportunity): an UNCORRELATED scalar subquery
# (global average positive account balance) gating customers, composed
# with a NOT EXISTS anti join against recent orders (customers idle
# since 1998 — the testdata keeps every customer active over all time,
# so the reference's no-orders-in-7-years window becomes a recency
# window; nationkey plays cntrycode's role, c_phone not existing). The
# scalar aggregate is ONE row, joined in as a broadcast (bounded by
# construction — the one hint class always allowed); the anti join runs
# on row-scaled sides unhinted, with the date filter pushed to the
# orders scan so the anti side is a thin recent slice. Threshold
# determinism: the average is an exact decimal sum divided by count in
# double — identical bits on both engines, so the strict > admits
# identical customers. The oracle keeps the textbook scalar subquery
# and NOT EXISTS.
register_sql(
    "q22_global_sales_opportunity",
    f"""
    SELECT /*+ BROADCAST(thr) */
           CAST(c.c_nationkey AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust,
           {sql_dsum('c.c_acctbal')} AS totacctbal
    FROM {{customer}} c
    JOIN (SELECT {sql_davg('c_acctbal')} AS avg_bal
          FROM {{customer}} WHERE c_acctbal > 0.0) thr
      ON c.c_acctbal > thr.avg_bal
    ANTI JOIN {{orders}} o
      ON c.c_custkey = o.o_custkey
     AND o.o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY CAST(c.c_nationkey AS BIGINT)
    """,
    oracle=f"""
    SELECT CAST(c.c_nationkey AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust,
           {sql_dsum('c.c_acctbal')} AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT {sql_davg('c2.c_acctbal')}
                         FROM customer c2 WHERE c2.c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1998-01-01')
    GROUP BY c.c_nationkey
    """,
)

# TPC-H Q21 (suppliers who kept orders waiting): the sole-late-supplier-
# on-a-multi-supplier-order shape — EXISTS another supplier on the
# order, NOT EXISTS another LATE supplier ("late" = shipped >60 days
# after order date; see q4). The textbook formulation (the oracle)
# self-joins lineitem twice; at 100 TB that is two extra fact shuffles,
# so the Spark text computes the per-order facts ONCE from MIN/MAX
# window aggregates over ONE l_orderkey partitioning — another supplier
# exists ⇔ min(suppkey) ≠ max(suppkey); exactly one late supplier ⇔
# min(late suppkey) = max(late suppkey) (the row's own supplier is in
# the late set, so the singleton is it). A two-countDistinct groupBy
# would trigger Spark's Expand-based multi-distinct rewrite (two extra
# fact exchanges, plan-asserted against). Supplier is row-scaled
# (unhinted); nation (25 rows, fixed) gates it via a broadcast semi
# join. Replaces `outer_join_nation_counts` — its
# outer-join-preserving-empty-groups shape stays covered by q13.
register_sql(
    "q21_suppliers_waiting",
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS is_late
      FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ), waits AS (
      SELECT l_orderkey, l_suppkey, is_late,
             MIN(l_suppkey) OVER (PARTITION BY l_orderkey) AS min_sk,
             MAX(l_suppkey) OVER (PARTITION BY l_orderkey) AS max_sk,
             MIN(CASE WHEN is_late THEN l_suppkey END)
               OVER (PARTITION BY l_orderkey) AS min_late_sk,
             MAX(CASE WHEN is_late THEN l_suppkey END)
               OVER (PARTITION BY l_orderkey) AS max_late_sk
      FROM lo
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM waits w
    JOIN (SELECT /*+ BROADCAST(n) */ * FROM {supplier}
          SEMI JOIN (SELECT * FROM {nation} WHERE n_name = 'NATION_3') n
            ON s_nationkey = n.n_nationkey) s
      ON w.l_suppkey = s.s_suppkey
    WHERE w.is_late AND w.min_sk <> w.max_sk AND w.min_late_sk = w.max_late_sk
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
      AND n.n_name = 'NATION_3'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)

# TPC-H Q13 (customer order-count distribution): LEFT OUTER join with a
# predicate in the ON clause — the right side is filtered BEFORE the
# join so zero-order customers survive with c_count = 0 (a WHERE-clause
# filter would silently drop them: the classic outer-join trap this
# probe pins) — feeding an aggregation OF an aggregation (per-customer
# counts, then the count-of-counts histogram). The testdata has no
# o_comment; priority <> '1-URGENT' plays the same role. Two shuffles by
# design: custkey (join + first agg share one exchange) and the
# ~tens-of-values c_count key.
register_sql(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM {customer} c
      LEFT JOIN {orders} o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)


# --------------------------------------------------------------------------
# Sort / limit / top-k
# --------------------------------------------------------------------------
# (topk_expensive_lineitems was rotated out for bridge.q9: its two
#  plan claims stay pinned — scan pushdown + projection pruning by
#  q6/point_lookup_order (test_plans.py), TakeOrderedAndProject by
#  q2/q18's aggregate-then-top-k (test_plans.py asserts both).)


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------
# The ranking-function suite over one shuffle key (merges the former
# `window_top_orders_per_customer` + `window_running_revenue` +
# `window_rank_parts_by_price` probes): grouped top-k via ROW_NUMBER,
# tie-aware RANK/DENSE_RANK (tie-stable, so no tiebreak column needed),
# and a cumulative decimal sum per customer, then a filter on the
# window result. All four windows partition by o_custkey, so Catalyst
# reuses a single hash exchange (the rank specs even share the
# row_number sort); decimal accumulation keeps the running sum
# order-independent for the oracle.
register_sql(
    "window_orders_analytics",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, rn,
           rnk, drnk, running_revenue
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             RANK() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC) AS rnk,
             DENSE_RANK() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC) AS drnk,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_revenue
      FROM {orders}
    ) WHERE rn <= 3
    """,
)


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------
# All three set operations in one plan, tagged per branch (merges the
# former `union_trading_nations` / `intersect_nations` /
# `except_nations` probes): UNION-distinct, INTERSECT, and EXCEPT over
# the customer/supplier nation keys, concatenated with UNION ALL.
register_sql(
    "set_ops_nations",
    """
    SELECT 'union' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM {customer}
      UNION
      SELECT s_nationkey AS nationkey FROM {supplier})
    UNION ALL
    SELECT 'intersect' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM {customer}
      INTERSECT
      SELECT s_nationkey AS nationkey FROM {supplier})
    UNION ALL
    SELECT 'except' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM {customer}
      EXCEPT
      SELECT s_nationkey AS nationkey FROM {supplier})
    """,
)


# --------------------------------------------------------------------------
# Scalar functions
# (string/math/date families live in one fused probe,
#  advanced.scalar_function_suite; derived-key grouping below)
# --------------------------------------------------------------------------
# (monthly_revenue_trend was rotated out: its time-bucketed-agg shape
# is covered by events_hourly_rollup + q1; the slot went to
# text.repetition_profile.)
