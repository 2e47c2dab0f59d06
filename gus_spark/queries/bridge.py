"""Bridge-table join shapes over a SYNTHESIZED partsupp (TPC-H q2 /
q9 / q11 / q16 / q20 — the classic shapes the catalog lacked, blocked
for two rounds on the testdata having no partsupp table).

partsupp is derived deterministically from `part` x 4 seeded
suppliers with pure integer arithmetic — no files, no RNG, no hash
functions — so the EXACT same rows are constructible in any engine:
``PARTSUPP_SQL`` is one CTE text that Spark and DuckDB both parse (the
oracles run it), and the Spark texts' explode twin computes identical
values at any scale factor (integer +,*,%, an exact integer division,
plus one final cents/100 double division whose IEEE result is
bit-identical). Supplier assignment follows the TPC-H partsupp
generator's shape (4 distinct suppliers per part, spread by
quarter-of-S offsets: ``(p_partkey + i * floor(S / 4)) % S`` is
injective over i in 0..3 because 3*floor(S / 4) < S).

Scale shape (the Spark texts): one narrow `part` scan exploded x4
map-side and crossed with the 1-row supplier COUNT (an explicit
broadcast — the allowed 1-row-scalar hint class), so the synthesis
adds ZERO row-scaled shuffles — partsupp rows are born co-partitioned
with whatever partitioning `part` arrived in. Every Spark text here
is tuned (decorrelated, or the q9 semi prune) and keeps its textbook
oracle beside it.

The reference (a CRUD webserver; readMany is `todo!()` at
src/cli/server/model/graphql.rs:382) has no analytical surface; these
queries are part of the engine's completion of that stub.
"""

from __future__ import annotations

from gus_spark.functions.deterministic import sql_dsum
from gus_spark.queries import register_sql

#: the synthesized bridge table (ps_partkey, ps_suppkey, ps_availqty,
#: ps_supplycost), 4 distinct suppliers per part, as one CTE text both
#: engines parse. (VALUES (0),(1),(2),(3)) is the 4-supplier replica
#: index; s_n the 1-row supplier count.
PARTSUPP_SQL = """
    WITH s_n AS (SELECT COUNT(*) AS n FROM {supplier}),
    partsupp AS (
      SELECT /*+ BROADCAST(s_n) */ p_partkey AS ps_partkey,
             (p_partkey + i * CAST(FLOOR(n / 4) AS BIGINT)) % n AS ps_suppkey,
             ((p_partkey * 31 + i * 17) % 100) + 1 AS ps_availqty,
             (((p_partkey * 131 + i * 37) % 99900) + 100) / CAST(100 AS DOUBLE)
               AS ps_supplycost
      FROM {part} CROSS JOIN s_n CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(i)
    )
"""

_PARTSUPP_ORACLE = PARTSUPP_SQL.format(supplier="supplier", part="part")

#: Spark's twin of PARTSUPP_SQL for the bridge texts: the replica index
#: is a map-side explode instead of a second (4-row) nested-loop join,
#: which keeps q2's single nested-loop join (test_plans.py) and every
#: bridge plan as it was. Same rows: each oracle runs PARTSUPP_SQL.
_PARTSUPP_EXPLODE = """
    WITH partsupp AS (
      SELECT p_partkey AS ps_partkey,
             (p_partkey + i * (s_n DIV 4)) % s_n AS ps_suppkey,
             ((p_partkey * 31 + i * 17) % 100) + 1 AS ps_availqty,
             (((p_partkey * 131 + i * 37) % 99900) + 100) / CAST(100 AS DOUBLE)
               AS ps_supplycost
      FROM (SELECT /*+ BROADCAST(n) */ p_partkey, s_n
            FROM {part} CROSS JOIN (SELECT COUNT(*) AS s_n FROM {supplier}) n)
      LATERAL VIEW explode(array(0, 1, 2, 3)) t AS i
    )
"""

# TPC-H Q2: for every LARGE-type part, the EUROPE supplier(s) offering
# the minimum supply cost — the min-cost-per-group correlated subquery
# over a two-key bridge table, the most common real-warehouse bridge
# shape. (Absorbs the rotated-out `cheapest_line_per_part`.) The Spark
# text decorrelates the MIN into one window aggregate over a single
# ps_partkey exchange — no per-row re-scan, and ties (all suppliers at
# the min) survive, per the TPC-H definition, which a row_number would
# drop; the oracle keeps the textbook correlated subquery. region (5
# rows) and nation (25 rows) carry broadcast hints (the provably
# bounded class); supplier and part are row-scaled — no hints, AQE
# broadcasts the post-filter small side at runtime. The final ORDER BY
# carries the unique (p_partkey, ps_suppkey) tiebreak so LIMIT 100 is
# deterministic.
register_sql(
    "q2_min_cost_supplier",
    _PARTSUPP_EXPLODE
    + """
    , eligible AS (
      SELECT /*+ BROADCAST(n), BROADCAST(r) */
             ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
      FROM partsupp
      JOIN {supplier} ON ps_suppkey = s_suppkey
      JOIN {nation} n ON s_nationkey = n.n_nationkey
      JOIN {region} r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), cheapest AS (
      SELECT *, MIN(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost_w
      FROM eligible
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           ps_supplycost AS min_cost
    FROM (SELECT * FROM cheapest JOIN {part} ON ps_partkey = p_partkey
          WHERE ps_supplycost = min_cost_w AND p_type = 'LARGE'
          ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, ps_suppkey)
    LIMIT 100
    """,
    oracle=_PARTSUPP_ORACLE
    + """
    , eligible AS (
      SELECT ps.*, s.s_name, s.s_acctbal, n.n_name
      FROM partsupp ps
      JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           e.ps_supplycost AS min_cost
    FROM part p
    JOIN eligible e ON e.ps_partkey = p.p_partkey
    WHERE p.p_type = 'LARGE'
      AND e.ps_supplycost = (
        SELECT MIN(e2.ps_supplycost) FROM eligible e2
        WHERE e2.ps_partkey = p.p_partkey
      )
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey,
             e.ps_suppkey
    LIMIT 100
    """,
)

# TPC-H Q16: how many suppliers can supply each surviving (brand, type,
# size) bucket — distinct-aggregate over an anti-join (suppliers in bad
# standing excluded; the testdata has no comment column, so negative
# account balance stands in for the spec's Customer-Complaints
# predicate). (Array-probe slot rotation: `array_stats_embeddings`'s
# array size/min/max surface stays covered by similarity_topk_for_vec0
# and the scalar suite.) The exclusion is written as the LEFT ANTI join
# NOT IN decorrelates to (s_suppkey is never null, so NOT-IN's
# three-valued-logic trap is vacuous); ONE count-distinct avoids the
# Expand multi-distinct plan; the part filters (brand/type/size-set)
# push to the scan before the bridge join. The oracle keeps the
# textbook NOT IN.
register_sql(
    "q16_parts_supplier_relationship",
    _PARTSUPP_EXPLODE
    + """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps
    JOIN {part} p ON ps.ps_partkey = p.p_partkey
    ANTI JOIN (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0) bad
      ON ps.ps_suppkey = bad.s_suppkey
    WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 36)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    oracle=_PARTSUPP_ORACLE
    + """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 36)
      AND ps.ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)

# TPC-H Q9: profit by supplier nation and order year for one product
# family — the 6-relation star whose fact joins the bridge table on
# BOTH keys (lineitem ⋈ partsupp on (partkey, suppkey)), the
# cost-of-goods join every real margin query runs. (Rotated in for
# `topk_expensive_lineitems`.) Profit goes through the decimal-sum
# contract; full result ordered by (nation, year desc), no limit. Plan:
# the selective '%gear%' part filter joins partsupp FIRST (with CBO
# off, Catalyst keeps the written join order, so filtering the bridge
# before the fact join shrinks every downstream shuffle ~25×); only
# THEN does the two-key equi-join shuffle lineitem once on (partkey,
# suppkey); nation broadcasts (bounded); supplier/orders/part are
# row-scaled — no hints, AQE decides.
#
# Semi-join prune (r13): the '%gear%' filter keeps ~5% of parts, so 95%
# of lineitem rows can never match the bridge — drop them against the
# filtered part key list BEFORE lineitem enters the join tree,
# shrinking the relation built over lineitem ~20x (A/B: 0.71-0.76 s vs
# 1.07-1.16 s warm min-of-5). UNHINTED deliberately: the filtered part
# list is row-scaled, so the planner broadcasts it while it fits and
# falls back to a shuffled semi whose extra shuffle carries only
# lineitem's join keys. The oracle keeps the plain star.
_Q9_AMOUNT = (
    "l.l_extendedprice * (1 - l.l_discount) "
    "- ps.ps_supplycost * l.l_quantity"
)

register_sql(
    "q9_product_type_profit",
    _PARTSUPP_EXPLODE
    + f"""
    , gear AS (SELECT p_partkey FROM {{part}} WHERE p_name LIKE '%gear%')
    SELECT /*+ BROADCAST(n) */ n.n_name AS nation,
           CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum(_Q9_AMOUNT)} AS sum_profit
    FROM partsupp ps
    JOIN gear p ON ps.ps_partkey = p.p_partkey
    JOIN (SELECT * FROM {{lineitem}}
          SEMI JOIN gear ON l_partkey = gear.p_partkey) l
      ON l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
    JOIN {{supplier}} s ON ps.ps_suppkey = s.s_suppkey
    JOIN {{orders}} o ON l.l_orderkey = o.o_orderkey
    JOIN {{nation}} n ON s.s_nationkey = n.n_nationkey
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    oracle=_PARTSUPP_ORACLE
    + f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum(_Q9_AMOUNT)} AS sum_profit
    FROM partsupp ps
    JOIN lineitem l ON l.l_partkey = ps.ps_partkey
                   AND l.l_suppkey = ps.ps_suppkey
    JOIN part p ON p.p_partkey = ps.ps_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)

# TPC-H Q11: parts whose stock value at one nation's suppliers exceeds a
# fraction of the nation's total stock value — group aggregate compared
# against an uncorrelated GLOBAL scalar aggregate of the same derived
# table (the value-share shape). Stock value is computed in integer
# CENTS (round(supplycost*100) recovers the synthesis' exact cents;
# cents × availqty sums as BIGINT — order-free), the filter is a pure
# integer cross-multiply (value·1000 > total·3, i.e. share > 0.3%), and
# only the final output divides by 100.0 (exact: the sums stay far below
# 2^53). The q22 uncorrelated-scalar pattern: the 1-row global total
# broadcasts into a filter, never a per-group correlated pass. The
# valued subplan is re-derived on both sides (Catalyst doesn't CSE
# across the self-aggregate), which is fine HERE because it is
# dimension-sized (parts × 4, filtered to one nation's suppliers). The
# oracle keeps the textbook HAVING against a scalar subquery.
register_sql(
    "q11_important_stock",
    _PARTSUPP_EXPLODE
    + """
    , valued AS (
      SELECT /*+ BROADCAST(n) */ ps.ps_partkey,
             CAST(ROUND(ps.ps_supplycost * 100) AS BIGINT)
               * ps.ps_availqty AS value_cents
      FROM partsupp ps
      JOIN {supplier} s ON ps.ps_suppkey = s.s_suppkey
      JOIN {nation} n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_15'
    )
    SELECT /*+ BROADCAST(total) */ ps_partkey,
           CAST(vc AS DOUBLE) / 100.0 AS part_value
    FROM (SELECT ps_partkey, SUM(value_cents) AS vc
          FROM valued GROUP BY ps_partkey) per_part
    CROSS JOIN (SELECT SUM(value_cents) AS total_cents FROM valued) total
    WHERE vc * 1000 > total_cents * 3
    ORDER BY part_value DESC, ps_partkey
    """,
    oracle=_PARTSUPP_ORACLE
    + """
    , valued AS (
      SELECT ps.ps_partkey,
             CAST(ROUND(ps.ps_supplycost * 100) AS BIGINT)
               * ps.ps_availqty AS value_cents
      FROM partsupp ps
      JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_15'
    )
    SELECT ps_partkey,
           CAST(SUM(value_cents) AS DOUBLE) / 100.0 AS part_value
    FROM valued
    GROUP BY ps_partkey
    HAVING SUM(value_cents) * 1000 > (
      SELECT SUM(value_cents) * 3 FROM valued
    )
    ORDER BY part_value DESC, ps_partkey
    """,
)

# TPC-H Q20: suppliers holding more than half a year's shipped quantity
# of some 'bolt' part — the correlated half-sum semi-join (the
# subquery's aggregate is correlated on BOTH bridge keys), written in
# its decorrelated form: one (partkey, suppkey) group-by over the
# DATE-PRUNED lineitem scan, a two-key bridge join, and the outer IN as
# a LEFT SEMI into supplier. (Agg-on-agg slot rotation:
# `events_daily_from_hourly`'s shape stays covered by
# events_hourly_rollup + q13's count-of-counts.) The sum runs as
# DECIMAL, so half_qty is bit-identical on both engines regardless of
# partition order; 0.5 * x is an exact binary scale. The oracle keeps
# the textbook IN subquery.
register_sql(
    "q20_excess_stock_suppliers",
    _PARTSUPP_EXPLODE
    + f"""
    , qty AS (
      SELECT l_partkey, l_suppkey,
             0.5 * {sql_dsum('l_quantity')} AS half_qty
      FROM {{lineitem}}
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT /*+ BROADCAST(n) */ s.s_suppkey, s.s_name, n.n_name
    FROM {{supplier}} s
    SEMI JOIN (
      SELECT ps.ps_suppkey
      FROM partsupp ps
      JOIN {{part}} p ON ps.ps_partkey = p.p_partkey
      JOIN qty q ON ps.ps_partkey = q.l_partkey
                AND ps.ps_suppkey = q.l_suppkey
      WHERE p.p_name LIKE '%bolt%' AND ps.ps_availqty > q.half_qty
    ) excess ON s.s_suppkey = excess.ps_suppkey
    JOIN {{nation}} n ON s.s_nationkey = n.n_nationkey
    ORDER BY s.s_name
    """,
    oracle=_PARTSUPP_ORACLE
    + """
    , qty AS (
      SELECT l_partkey, l_suppkey,
             0.5 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS half_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT ps.ps_suppkey
      FROM partsupp ps
      JOIN part p ON p.p_partkey = ps.ps_partkey
                 AND p.p_name LIKE '%bolt%'
      JOIN qty q ON q.l_partkey = ps.ps_partkey
                AND q.l_suppkey = ps.ps_suppkey
      WHERE ps.ps_availqty > q.half_qty
    )
    ORDER BY s.s_name
    """,
)
