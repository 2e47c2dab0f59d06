"""Advanced relational operators: as-of join, explode/unnest, exact
percentiles, regexp extraction, array functions, approximate sketches.

The as-of join is the canonical "operator Spark lacks natively"
(reference has nothing comparable either): expressed here as a running
conditional MAX over an event-time window — one shuffle on the
partition key, no point-in-time self-join blowup, the formulation that
survives 100 TB. (The alternative — per-group ``merge_asof`` via
applyInPandas — is only preferable when the lookup side is a separate
table too large to window.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gus_spark.functions.deterministic import sql_davg, sql_dsum
from gus_spark.queries import register, register_sql, table


# As-of (point-in-time) join of each event against the latest purchase
# event at-or-before it, per user — a running conditional MAX, not an
# O(n²) inequality self-join.
register_sql(
    "asof_last_purchase",
    """
    SELECT event_id, user_id, ts, event_type,
           MAX(CASE WHEN event_type = 'purchase' THEN ts END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_ts
    FROM {events}
    WHERE user_id <= 40
    """,
)


@register(
    "decontaminate_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(TRIM(text), '\\s+') AS ws
      FROM documents
    ), grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(ws) >= 13
               THEN list_transform(range(1, len(ws) - 11),
                    i -> array_to_string(list_slice(ws, i, i + 12), ' '))
               ELSE [array_to_string(ws, ' ')] END)) AS g
      FROM toks
    )
    SELECT d.doc_id AS doc_id, b.doc_id AS bench_id,
           COUNT(*) AS shared_ngrams
    FROM (SELECT doc_id, g FROM grams WHERE source <> 'src0') d
    JOIN (SELECT doc_id, g FROM grams WHERE source = 'src0') b USING (g)
    GROUP BY 1, 2
    """,
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination (the GPT-3/PaLM 13-gram rule):
    corpus documents sharing a verbatim 13-token n-gram with any
    "benchmark" document — here source='src0' plays the eval suite —
    with the count of distinct shared grams per pair. The n-gram
    explode is map-side (and absorbs the former `explode_top_tokens`
    generator probe); the join is a uniform-key equi-join on gram
    hashes whose benchmark side AQE broadcasts when small. The oracle
    joins on the gram STRINGS; the operator joins on xxhash64 of them
    (8-byte shuffle keys), equal up to a ~1e-12 collision bound —
    operators/decontaminate.py."""
    from gus_spark.operators.decontaminate import ngram_contamination

    d = table(spark, sf_dir, "documents")
    return ngram_contamination(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=13,
    )


# (array_stats_embeddings was rotated out for bridge.q16: its array
#  size/min/max surface stays covered by similarity_topk_for_vec0's
#  oracle-checked array arithmetic.)


# (events_daily_from_hourly was rotated out for bridge.q20: its
#  re-aggregate-the-pre-aggregate shape stays covered by
#  events_hourly_rollup's time-bucket agg + q13's count-of-counts
#  second-level aggregation; the continuous-aggregate PATTERN — coarse
#  granularity reading the fine pre-agg — remains exercised and
#  asserted by the streaming windowed-agg tests.)


@register(
    "null_semantics",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(NULLIF(l_discount, 0.0)) AS n_discounted,
           CAST(SUM(CASE WHEN l_tax IS NOT DISTINCT FROM l_discount
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tax_eq_disc,
           CAST(SUM(CASE WHEN COALESCE(NULLIF(l_discount, 0.0), -1.0) = -1.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_no_discount,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling function library — NULLIF / COALESCE / null-safe
    equality (<=> vs IS NOT DISTINCT FROM) — plus exact continuous
    percentiles per group (absorbs the former `median_price_by_flag`
    probe; Spark `percentile` and DuckDB `quantile_cont` share the
    interpolation definition)."""
    from pyspark.sql import functions as F

    from gus_spark.queries import table as t

    li = t(spark, sf_dir, "lineitem")
    nullif_disc = F.nullif(F.col("l_discount"), F.lit(0.0))
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count(nullif_disc).alias("n_discounted"),
        F.sum(
            F.when(F.col("l_tax").eqNullSafe(F.col("l_discount")), 1).otherwise(0)
        ).alias("n_tax_eq_disc"),
        F.sum(
            F.when(F.coalesce(nullif_disc, F.lit(-1.0)) == -1.0, 1).otherwise(0)
        ).alias("n_no_discount"),
        F.percentile("l_extendedprice", 0.5).alias("median_price"),
        F.percentile("l_extendedprice", 0.9).alias("p90_price"),
    )


# (cheapest_line_per_part was rotated out for bridge.q2, the REAL
#  TPC-H Q2 over the synthesized partsupp — the same group-min
#  correlated-subquery shape, now on the bridge table with the
#  region/nation dimension joins the probe lacked.)


# TPC-H Q18: HAVING-filtered IN-subquery feeding a 3-way join, written
# as the semi join it plans to. Only the subquery's aggregate keeps a
# broadcast hint — it is a provably bounded keyset (orders with >150
# total quantity, a highly selective HAVING). orders and customer are
# row-scaled and carry no hint; the post-semi-join lineitem is small, so
# AQE broadcasts IT into the orders join at runtime instead. The oracle
# keeps the textbook IN subquery.
register_sql(
    "q18_large_volume_customers",
    f"""
    SELECT /*+ BROADCAST(big) */ c.c_custkey, c.c_name, o.o_orderkey,
           o.o_totalprice, {sql_dsum('l.l_quantity')} AS total_qty
    FROM {{lineitem}} l
    SEMI JOIN (SELECT l_orderkey
               FROM (SELECT l_orderkey, SUM(l_quantity) AS q
                     FROM {{lineitem}} GROUP BY l_orderkey)
               WHERE q > 150) big
      ON l.l_orderkey = big.l_orderkey
    JOIN {{orders}} o ON l.l_orderkey = o.o_orderkey
    JOIN {{customer}} c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    oracle=f"""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)


@register(
    "scalar_function_suite",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           date_diff('day', o.o_orderdate, l.l_shipdate) AS days_to_ship,
           CAST(o.o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS ship_deadline,
           CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                THEN 1 ELSE 0 END AS is_late,
           EXTRACT(year FROM o.o_orderdate) AS order_year,
           EXTRACT(quarter FROM o.o_orderdate) AS order_quarter,
           CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month_start,
           ROUND(l.l_extendedprice * (1 - l.l_discount), 4) AS net_price,
           ABS(l.l_discount - l.l_tax) AS disc_tax_gap,
           CASE WHEN l.l_quantity >= 40 THEN 'bulk'
                WHEN l.l_quantity >= 15 THEN 'mid'
                ELSE 'small' END AS qty_band,
           GREATEST(l.l_discount, l.l_tax) AS max_rate,
           LEAST(l.l_discount, l.l_tax) AS min_rate,
           UPPER(p.p_brand) AS brand_upper,
           LOWER(p.p_type) AS type_lower,
           LENGTH(p.p_name) AS name_len,
           SUBSTRING(p.p_type, 1, 5) AS type_prefix,
           CONCAT(p.p_brand, ':', p.p_type) AS brand_type,
           REPLACE(p.p_name, ' ', '_') AS name_snake,
           TRIM(p.p_name) AS name_trim,
           CAST(regexp_extract(p.p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_orderkey <= 300
    """,
)
def scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole scalar-function library in one fused probe (merges the
    former `date_arithmetic_shipping` + `math_case_expressions` +
    `scalar_string_functions`, freeing catalog slots for the deep TPC-H
    shapes): date family (interval arithmetic, datediff lag, lateness
    flag, year/quarter extraction, date_trunc), math family (ROUND at
    the exactly-representable 4 dp — at 2 dp Spark's shortest-repr
    HALF_UP and DuckDB's binary round disagree on .xx5 — plus ABS, CASE
    WHEN bands, GREATEST/LEAST), and string family (upper/lower/length/
    substring/concat/replace/trim plus regexp extraction). All JVM-side
    whole-stage codegen; one select, zero shuffles beyond the probe
    joins."""
    # lineitem is bounded by the orderkey<=300 probe filter; orders and
    # part are row-scaled: no hints — AQE broadcasts the small
    # (filtered-lineitem) side at runtime.
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 300)
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part")
    deadline = F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("days_to_ship"),
            deadline.alias("ship_deadline"),
            F.when(F.col("l_shipdate") > deadline, 1).otherwise(0)
            .alias("is_late"),
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.quarter("o_orderdate").cast("long").alias("order_quarter"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            F.round(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4
            ).alias("net_price"),
            F.abs(F.col("l_discount") - F.col("l_tax")).alias("disc_tax_gap"),
            F.when(F.col("l_quantity") >= 40, "bulk")
            .when(F.col("l_quantity") >= 15, "mid")
            .otherwise("small")
            .alias("qty_band"),
            F.greatest("l_discount", "l_tax").alias("max_rate"),
            F.least("l_discount", "l_tax").alias("min_rate"),
            F.upper("p_brand").alias("brand_upper"),
            F.lower("p_type").alias("type_lower"),
            F.length("p_name").alias("name_len"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
            F.regexp_replace("p_name", " ", "_").alias("name_snake"),
            F.trim("p_name").alias("name_trim"),
            F.regexp_extract("p_brand", "([0-9]+)", 1)
            .cast("long")
            .alias("brand_num"),
        )
    )


# TPC-H Q17 (small-quantity-order revenue): a correlated scalar
# subquery — ``l_quantity < 0.2 * (SELECT AVG(l_quantity) WHERE
# l2.l_partkey = p.p_partkey)`` — in its decorrelated form, exactly the
# rewrite Catalyst's RewriteCorrelatedScalarSubquery performs:
# semi-join lineitem to the brand's parts FIRST (so the per-part
# average aggregates only the ~1/25 brand slice, not all of lineitem),
# aggregate the per-part threshold, join it back, filter, and reduce.
# The brand keyset is row-scaled (part = 200k×SF) so no side is hinted.
# Threshold determinism: the average is an exact decimal sum divided by
# count in double, so 0.2×avg has identical bits on both engines and
# the strict `<` admits identical rows. The divide-by-7 annualization
# is TPC-H's constant (the corpus spans ~7 order years). The oracle
# keeps the textbook IN subquery.
register_sql(
    "q17_small_quantity_revenue",
    f"""
    WITH brand AS (
      SELECT * FROM {{lineitem}}
      SEMI JOIN (SELECT p_partkey FROM {{part}} WHERE p_brand = 'Brand#11') p
        ON l_partkey = p.p_partkey
    )
    SELECT {sql_dsum('l_extendedprice')} / 7.0 AS avg_yearly
    FROM brand
    JOIN (SELECT l_partkey, 0.2 * ({sql_davg('l_quantity')}) AS qty_thr
          FROM brand GROUP BY l_partkey) t USING (l_partkey)
    WHERE l_quantity < qty_thr
    """,
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN (
      SELECT l_partkey, 0.2 * ({sql_davg('l_quantity')}) AS qty_thr
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_brand = 'Brand#11')
      GROUP BY l_partkey
    ) t ON t.l_partkey = l.l_partkey
    WHERE l.l_quantity < t.qty_thr
    """,
)


# (stratified_sample_orders was rotated out for curation.
# mixture_sample_documents: the deterministic 16-bit md5-prefix cut is
# the same sampler primitive — now in operators/mixing.py — and the
# mixture form adds the budget-driven rate computation (epochs +
# fractional cut from corpus token totals) the shallow probe lacked.)
