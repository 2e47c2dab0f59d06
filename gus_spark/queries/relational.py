"""Relational operator surface: scan/filter/project, joins (inner, semi,
anti, multi-way), aggregation (hash agg, distinct, rollup/cube,
conditional), sort/limit/top-k, window functions, set ops, subqueries,
scalar functions.

This is the completion of the reference's stubbed scan path (readMany,
reference: src/cli/server/model/graphql.rs:336-343, 382) into the full
analytics surface. Every query is a declarative DataFrame plan: filters
and projections reach the parquet scan (Catalyst pushdown), small
dimension tables broadcast, aggregations are partial+final map-side
combines — no driver-side loops, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gus_spark.functions.deterministic import davg, dsum, sql_davg, sql_dsum
from gus_spark.queries import register, table


# --------------------------------------------------------------------------
# Scan / filter / project
# --------------------------------------------------------------------------
@register(
    "point_lookup_order",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders WHERE o_orderkey = 7
    """,
)
def point_lookup_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_one analogue on a big table: pk equality predicate is pushed
    into the parquet scan (row-group min/max pruning at scale)."""
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") == 7)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate")
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: fully pushed-down filter + single deterministic agg —
    no shuffle at all beyond the final 1-row reduce."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the canonical wide hash aggregation. Map-side partial
    aggregation collapses 600k rows to ~6 groups before the shuffle.

    ensure_parallelism: the local testdata ships one row group per
    table, which would serialize the decimal aggregation onto one core;
    at cluster scale inputs arrive with >= slots partitions and the
    guard is a no-op (no extra shuffle).

    r14 (VERDICT r13 #7 pilot, guide §1.2): the aggregation is ONE
    `spark.sql()` parse over the spread scan, instead of ~10
    py4j-built aggregate Columns — the whole tree parses and analyzes
    in the JVM in one call. Measured build cost 0.145 s -> 0.021 s per
    build (warm avg-of-10); output bit-identical (toPandas equality of
    every double) because the SQL text IS the oracle text modulo the
    input name — the same DECIMAL(18,6) sums, the same division order.
    The scan is bound as a ``spark.sql`` DataFrame argument, whose
    temp view pyspark drops once the query is analyzed, so a build
    leaves no view in the session catalog."""
    from gus_spark.operators.util import ensure_parallelism

    # spread_cols (r13): hash-spread on read columns instead of the
    # round-robin guard's hidden local sort — 600k rows made that sort
    # the single biggest slice of this line (guide §2.5)
    li = ensure_parallelism(
        table(spark, sf_dir, "lineitem"),
        spread_cols=["l_extendedprice", "l_shipdate", "l_quantity"],
    )
    return spark.sql(
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
        FROM {{li}}
        WHERE l_shipdate <= TIMESTAMP '2000-09-01'
        GROUP BY l_returnflag, l_linestatus
        """,
        li=li,
    )


@register(
    "cube_lineitem_returns",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All FOUR grouping sets of (returnflag, linestatus) in one pass —
    CUBE strictly contains ROLLUP's hierarchy, so this fusion of the
    former `rollup_returns` + `cube_orders` probes covers both shapes
    (hierarchy totals AND the off-hierarchy (·, linestatus) slice)
    with the full measure set: exact count-distincts (Expand +
    two-phase agg), decimal sum, min/max; `gid` is the explicit
    GROUPING() disambiguator (grouping-set id vs a genuinely NULL
    dimension value — the standard CUBE-consumer idiom, identical bit
    layout in Spark's grouping() and DuckDB's GROUPING()). The
    all-NULL/gid=3 row IS the global aggregate (absorbing the former
    `agg_global_lineitem` probe too)."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            (
                F.grouping("l_returnflag") * 2
                + F.grouping("l_linestatus")
            ).cast("long").alias("gid"),
            F.count("*").alias("n"),
            dsum("l_quantity").alias("sum_qty"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
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
@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: filtered 3-way join + agg + top-10. customer and orders
    are row-scaled (customer keeps ~1/5 after the segment filter, orders
    ~19% after the date filter), so neither carries a broadcast hint —
    a forced broadcast that fits at sf0.1 is an OOM at 100 TB. AQE still
    broadcasts at runtime whenever the built side is genuinely small.
    Unique tiebreak (l_orderkey) keeps the LIMIT deterministic."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15"))
    )
    # r14 NOTE (measured, reverted — the q9 semi-prune precedent does
    # NOT transfer here): a left-semi prune of lineitem against the
    # custkey-pruned orderkey list read 0.86-0.96 s across 6 fresh-JVM
    # children vs 0.74-1.00 s unpruned interleaved on one host (min
    # 0.858 vs 0.736) — the extra key-list scan + semi build is pure
    # overhead at bench scale (the main join already broadcasts), and
    # at shuffle scale it is NEUTRAL, not a win: the semi key IS the
    # downstream join key, so the shuffled-semi fallback sorts/shuffles
    # the full lineitem exactly once either way and only adds the
    # key-list shuffle. q9 won because its semi key (partkey) differs
    # from the downstream bridge key (partkey, suppkey) — the prune
    # shrank a SECOND shuffle. No second lineitem shuffle exists here.
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o.join(c, o.o_custkey == c.c_custkey),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_regional_revenue",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join. Only the fixed dimensions (region=5 rows,
    nation=25 rows) carry broadcast hints. customer AND supplier scale
    linearly with SF (supplier = 10k×SF is ~150 GB at the sf100k design
    point), so neither join is hinted — the size-based planner / AQE
    broadcasts them at runtime only when actually small. The single big
    shuffle is lineitem⋈orders on orderkey."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    dims = (
        c.join(F.broadcast(n.join(F.broadcast(r),
                                  n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == F.col("n_nationkey"))
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == F.col("c_custkey"))
        .join(s,
              (li.l_suppkey == s.s_suppkey)
              & (s.s_nationkey == F.col("n_nationkey")))
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): 6-way join where nation plays TWO
    roles (supplier side and customer side) with an OR'd cross-pair
    predicate that only becomes checkable after both roles are bound.
    Each nation role is pre-filtered to the 2-nation pair and broadcast
    (fixed 25-row dimension — the only allowed hints), which prunes
    supplier and customer before the fact joins; supplier/customer/
    orders are row-scaled and carry no hint. The one big shuffle is
    lineitem⋈orders on orderkey."""
    pair = ("NATION_3", "NATION_7")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    n1 = n.select(F.col("n_nationkey").alias("s_nkey"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nkey"),
                  F.col("n_name").alias("cust_nation"))
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.to_timestamp(F.lit("1996-01-01")),
            F.to_timestamp(F.lit("1997-12-31")),
        )
    )
    o = table(spark, sf_dir, "orders")
    volume = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(volume).alias("revenue"))
    )


@register(
    "q8_market_share",
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
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the deepest join in the
    catalog — 8 relations, nation again in two roles (customer-region
    gate and supplier tagging) — feeding a conditional-ratio aggregate
    share = Σ(volume | supp_nation=X) / Σ(volume). Hints only on the
    bounded sides (region=5, the region-pruned customer-nation chain,
    and the 25-row supplier-nation tag); part/supplier/customer/orders
    are row-scaled and unhinted. Both sums are exact decimal (dsum) cast
    to double, so the final double division is bit-identical to the
    oracle regardless of partition order."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n = table(spark, sf_dir, "nation")
    n1 = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    n2 = n.select(F.col("n_nationkey").alias("s_nkey"),
                  F.col("n_name").alias("supp_nation"))
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.to_timestamp(F.lit("1996-01-01")),
            F.to_timestamp(F.lit("1997-12-31")),
        )
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    volume = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    nation_volume = F.when(F.col("supp_nation") == "NATION_5", volume).otherwise(
        F.lit(0.0)
    )
    return (
        li.join(p, li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"), "left_semi")
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            dsum(nation_volume).alias("nation_rev"),
            dsum(volume).alias("total_rev"),
        )
        .select(
            "o_year",
            (F.col("nation_rev") / F.col("total_rev")).alias("mkt_share"),
        )
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer, top 20. orders
    (even date-filtered to ~4%) and customer scale with the data, so
    those joins carry no broadcast hint; only nation (25 rows, fixed)
    is hint-broadcast. AQE picks broadcast at runtime when the filtered
    orders slice is actually small."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # r14 NOTE (measured, reverted): a left-semi prune of lineitem
    # against the quarter's orderkey list (the q9 precedent) read
    # 0.65-1.00 s across 6 fresh-JVM children vs 0.62-0.65 s unpruned
    # interleaved — overhead at bench scale (orders already
    # broadcasts) and NEUTRAL at shuffle scale because the semi key is
    # the downstream join key (one full lineitem shuffle either way;
    # see the q3 note above for the full analysis).
    n = table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(revenue).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (disjunctive predicates): fact⋈dimension where the
    filter is an OR of cross-table conjunct groups, so no single
    disjunct can be pushed whole to either scan (replaces the
    plain dimension-filtered `join_part_lineitem_brand`, whose
    fact⋈filtered-dimension shape this subsumes). The classic
    optimization is applied explicitly: each table gets the IMPLIED
    single-table envelope of the disjunction (part: the brand keyset +
    size ≤ 15; lineitem: quantity ≤ 30) pushed to its scan, and the
    residual OR runs as the join filter over the pre-shrunk sides.
    part is row-scaled (200k×SF — ~3 TB at sf100k) so the join carries
    no forced hint; AQE broadcasts the brand-filtered slice when it is
    actually small. (The reference's shipmode/shipinstruct conjuncts
    are dropped — those columns don't exist in the testdata — keeping
    the brand/size/quantity disjunction structure intact.)"""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
        & F.col("p_size").between(1, 15)
    )
    disjunction = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(p, (li.l_partkey == p.p_partkey) & disjunction)
        .agg(dsum(revenue).alias("revenue"))
    )


@register(
    "q4_order_priority",
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
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): correlated EXISTS whose
    predicate compares columns from BOTH relations (the lineitem
    shipped >60 days after its order date — the testdata's analogue of
    the reference's commitdate<receiptdate lateness test), planned as a
    LEFT SEMI join with a mixed equi + inequality condition — no
    fanout, no payload duplication (replaces the plain equi-semi-join
    `semi_join_active_customers`, whose shape this subsumes). The date
    range is pushed to the orders scan; both sides are row-scaled so
    the semi join carries no hint — the filtered quarter of orders is
    small, so AQE broadcasts it at runtime."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-07-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-10-01")))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


@register(
    "q22_global_sales_opportunity",
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
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): an UNCORRELATED scalar
    subquery (global average positive account balance) gating customers,
    composed with a NOT EXISTS anti join against recent orders
    (customers idle since 1998 — the testdata keeps every customer
    active over all time, so the reference's no-orders-in-7-years
    window becomes a recency window; nationkey plays cntrycode's role,
    c_phone not existing). Replaces the plain equi-anti-join
    `anti_join_idle_customers`, whose shape this subsumes. Plan shape:
    the scalar aggregate is ONE row, joined in as a broadcast
    cross-join (bounded by construction — the one hint class always
    allowed); the anti join runs on row-scaled sides unhinted, with the
    date filter pushed to the orders scan so the anti side is a thin
    recent slice, not all of orders. Threshold determinism: davg is an
    exact decimal sum divided by count in double — identical bits on
    both engines, so the strict > admits identical customers."""
    c = table(spark, sf_dir, "customer")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("1998-01-01")))
        .select("o_custkey")
    )
    rich = c.join(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.groupBy(F.col("c_nationkey").cast("long").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "q21_suppliers_waiting",
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
def q21_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): the sole-late-
    supplier-on-a-multi-supplier-order shape — EXISTS another supplier
    on the order, NOT EXISTS another LATE supplier ("late" = shipped
    >60 days after order date, the testdata's lateness analogue; see
    q4). The textbook formulation self-joins lineitem twice; at 100 TB
    that is two extra fact shuffles, so the Spark plan computes the
    per-order facts ONCE — distinct suppliers and distinct late
    suppliers per order — and filters late lineitems against them:
    EXISTS ⇔ n_supp > 1, NOT EXISTS ⇔ n_late_supp = 1 (the row's own
    supplier is late, so it is the one). Both facts come from MIN/MAX
    window aggregates over ONE l_orderkey partitioning — another
    supplier exists ⇔ min(suppkey) ≠ max(suppkey); exactly one late
    supplier ⇔ min(late suppkey) = max(late suppkey) (the row's own
    supplier is in the late set, so the singleton is it). A
    two-countDistinct groupBy would trigger Spark's Expand-based
    multi-distinct rewrite (two extra fact exchanges, plan-asserted
    against); the windows share one exchange with nothing else
    shuffling on the fact but the final suppkey agg. Supplier is
    row-scaled (unhinted); nation (25 rows, fixed) gates it via a
    broadcast semi join. Replaces `outer_join_nation_counts` — its
    outer-join-preserving-empty-groups shape stays covered by
    q13_customer_distribution's ON-clause-filtered LEFT JOIN."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("is_late"),
    )
    w = Window.partitionBy("l_orderkey")
    late_sk = F.when(F.col("is_late"), F.col("l_suppkey"))
    waits = lo.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.min("l_suppkey").over(w).alias("min_sk"),
        F.max("l_suppkey").over(w).alias("max_sk"),
        F.min(late_sk).over(w).alias("min_late_sk"),
        F.max(late_sk).over(w).alias("max_late_sk"),
    ).filter(
        F.col("is_late")
        & (F.col("min_sk") != F.col("max_sk"))
        & (F.col("min_late_sk") == F.col("max_late_sk"))
    )
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    return (
        waits.join(s, waits.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    with a predicate in the ON clause — the right side is filtered
    BEFORE the join so zero-order customers survive with c_count = 0
    (a WHERE-clause filter would silently drop them: the classic
    outer-join trap this probe pins) — feeding an aggregation OF an
    aggregation (per-customer counts, then the count-of-counts
    histogram). Adapted from the reference shape only in the filter
    column (the testdata has no o_comment; priority <> '1-URGENT'
    plays the same role). Two shuffles by design: custkey (join + first
    agg share one exchange) and the ~tens-of-values c_count key."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


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
@register(
    "window_orders_analytics",
    oracle="""
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
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_orders_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function suite over one shuffle key (merges the
    former `window_top_orders_per_customer` + `window_running_revenue`
    + `window_rank_parts_by_price` probes): grouped top-k via
    ROW_NUMBER, tie-aware RANK/DENSE_RANK (tie-stable, so no tiebreak
    column needed), and a cumulative decimal sum per customer, then a
    filter on the window result. All four windows partition by
    o_custkey, so Catalyst reuses a single hash exchange (the rank
    specs even share the row_number sort); decimal accumulation keeps
    the running sum order-independent for the oracle."""
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_ties = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.row_number().over(w_rank).alias("rn"),
            F.rank().over(w_ties).alias("rnk"),
            F.dense_rank().over(w_ties).alias("drnk"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w_run)
            .cast("double")
            .alias("running_revenue"),
        )
        .filter(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------
@register(
    "set_ops_nations",
    oracle="""
    SELECT 'union' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey AS nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey AS nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey AS nationkey FROM supplier)
    """,
)
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three set operations in one plan, tagged per branch (merges
    the former `union_trading_nations` / `intersect_nations` /
    `except_nations` probes): UNION-distinct, INTERSECT, and EXCEPT over
    the customer/supplier nation keys, concatenated with UNION ALL."""
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )

    def tagged(op: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(op).alias("op"), "nationkey")

    return (
        tagged("union", c.union(s).distinct())
        .unionByName(tagged("intersect", c.intersect(s)))
        .unionByName(tagged("except", c.subtract(s)))
    )


# --------------------------------------------------------------------------
# Scalar functions
# (string/math/date families live in one fused probe,
#  advanced.scalar_function_suite; derived-key grouping below)
# --------------------------------------------------------------------------
# (monthly_revenue_trend was rotated out: its time-bucketed-agg shape
# is covered by events_hourly_rollup + q1; the slot went to
# text.repetition_profile.)
