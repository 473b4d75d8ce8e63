"""Core relational operator queries (SURVEY.md §2.2-§2.7).

Each query exercises one operator family from the reference's
inventory — scans/filters, joins, aggregations, windows, sorts,
set ops — re-expressed over the driver's TPC-H-ish tables so the
DuckDB oracle can verify them. Reference locations cited per query.

Scale notes are inline: joins broadcast their dimension side, global
windows only ever run over post-aggregation frames of bounded
cardinality, and scalar anchors (max timestamp) are computed as
1-row aggregates then broadcast — never per-row subqueries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simple_etl_spark.engine import Catalog
from simple_etl_spark.exactness import davg, dsum, lavg, lsum, lsum_split, units
from simple_etl_spark.queries import query

DEC = "decimal(9,2)"


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    # the two product sums route decimal->varchar->double: DuckDB's
    # direct decimal->double cast converts the int128 payload to
    # double FIRST and divides by 10^scale SECOND — two roundings,
    # which diverges from the engine's single correct rounding once
    # the unit count passes 2^53 (~sf0.4 for 10^-6 charge units;
    # measured divergent at sf1, identical below). varchar->double is
    # one correct rounding of the exact decimal, value-identical at
    # every scale where the direct cast was already exact.
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS count_order,
           cast(sum(cast(l_quantity as decimal(9,2))) as double) AS sum_qty,
           cast(sum(cast(l_extendedprice as decimal(9,2))) as double) AS sum_base_price,
           cast(cast(sum(cast(l_extendedprice as decimal(9,2))
                    * (cast(1 as decimal(4,2)) - cast(l_discount as decimal(4,2)))) as varchar) as double)
               AS sum_disc_price,
           cast(cast(sum(cast(l_extendedprice as decimal(9,2))
                    * (cast(1 as decimal(4,2)) - cast(l_discount as decimal(4,2)))
                    * (cast(1 as decimal(4,2)) + cast(l_tax as decimal(4,2)))) as varchar) as double)
               AS sum_charge,
           cast(sum(cast(l_quantity as decimal(9,2))) as double) / count(*) AS avg_qty,
           cast(sum(cast(l_extendedprice as decimal(9,2))) as double) / count(*) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    survey="A2 A3 A5 F10 (multi-stat grouped profile, services/staging_pg.py:323-372)",
    bench=True,
)
def pricing_summary(cat: Catalog) -> DataFrame:
    """Flagship grouped aggregate: the engine's A3 'multi-stat profile'
    shape (reference `services/staging_pg.py:323-372`, `init.sql:291-327`)
    at TPC-H Q1 scale. Partial aggregation map-side, two grouping keys.

    All money math runs in integer units (exactness.units): discount
    and tax become 100±u, so disc_price/charge are pure long products
    summed in long — exact, order-insensitive, and ~3× faster than the
    decimal accumulator path on a single-threaded scan."""
    qty_u = units("l_quantity")
    ext_u = units("l_extendedprice")
    disc_u = units("l_discount")  # 0..100 (= discount · 100)
    tax_u = units("l_tax")
    disc_price_u = ext_u * (F.lit(100) - disc_u)  # 10^-4 units
    charge_u = disc_price_u * (F.lit(100) + tax_u)  # 10^-6 units
    return (
        cat["lineitem"]
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            lsum(qty_u, 2, "sum_qty"),
            lsum(ext_u, 2, "sum_base_price"),
            # scale-4/6 products: split accumulators — the single long
            # sum's exact envelope is ~3e8 rows/group for 10^-6 units
            lsum_split(disc_price_u, 4, "sum_disc_price"),
            lsum_split(charge_u, 6, "sum_charge"),
            lavg(qty_u, 2, "avg_qty"),
            lavg(ext_u, 2, "avg_price"),
        )
    )


@query(
    "topic_counts",
    oracle="SELECT lang AS topic, count(*) AS article_count FROM documents GROUP BY lang",
    survey="A1 T1 (count-by-group, services/pg_service.py:112-118, app.py:80-87)",
    bench=True,
)
def topic_counts(cat: Catalog) -> DataFrame:
    """A1: `SELECT topic, COUNT(*) ... GROUP BY topic` — the reference's
    most common dashboard query, over documents.lang as the topic key."""
    return (
        cat["documents"]
        .groupBy(F.col("lang").alias("topic"))
        .agg(F.count(F.lit(1)).alias("article_count"))
    )


@query(
    "doc_profile",
    oracle="""
    SELECT count(*) AS total_docs,
           cast(sum(cast(n_chars as decimal(9,2))) as double) / count(*) AS avg_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           count(DISTINCT lang) AS distinct_langs,
           count(DISTINCT source) AS distinct_sources
    FROM documents
    """,
    survey="A3 (single-pass profile, services/staging_pg.py:323-372, init.sql:291-327)",
)
def doc_profile(cat: Catalog) -> DataFrame:
    """A3: COUNT/AVG/MIN/MAX/COUNT DISTINCT in one aggregation pass
    (reference get_bronze_lv_stats / get_silver_lv_stats)."""
    return cat["documents"].agg(
        F.count(F.lit(1)).alias("total_docs"),
        davg("n_chars", "avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("distinct_langs"),
        F.countDistinct("source").alias("distinct_sources"),
    )


@query(
    "daily_rollup",
    oracle="""
    SELECT cast(ts AS date) AS event_date,
           count(*) AS total_events,
           count(DISTINCT event_type) AS distinct_types,
           count(DISTINCT user_id) AS distinct_users,
           cast(sum(cast(value as decimal(9,2))) as double) / count(*) AS avg_value,
           cast(count_if(event_type = 'purchase') AS bigint) AS purchases,
           cast(count_if(event_type = 'error') AS bigint) AS errors
    FROM events
    GROUP BY cast(ts AS date)
    """,
    survey="A4 A2 F7 (view_daily_analytics, init.sql:91-103)",
    bench=True,
)
def daily_rollup(cat: Catalog) -> DataFrame:
    """A4: daily analytics rollup with conditional counts
    (reference `init.sql:91-103` view_daily_analytics)."""
    return (
        cat["events"]
        .groupBy(F.col("ts").cast("date").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.countDistinct("event_type").alias("distinct_types"),
            F.countDistinct("user_id").alias("distinct_users"),
            lavg(units("value"), 2, "avg_value"),
            F.count_if(F.col("event_type") == "purchase").alias("purchases"),
            F.count_if(F.col("event_type") == "error").alias("errors"),
        )
    )


@query(
    "hourly_pattern_pct",
    oracle="""
    SELECT extract(hour FROM ts) AS publish_hour,
           count(*) AS cnt,
           count(*) * 100.0 / sum(count(*)) OVER () AS pct_of_total
    FROM events
    GROUP BY extract(hour FROM ts)
    """,
    survey="A6 W1 (view_publishing_patterns, init.sql:122-131)",
)
def hourly_pattern_pct(cat: Catalog) -> DataFrame:
    """A6+W1: hourly histogram with %-of-total via an unpartitioned
    window — safe at scale because it runs over the 24-row aggregate,
    never the raw relation (init.sql:122-131)."""
    agg = (
        cat["events"]
        .groupBy(F.hour("ts").cast("bigint").alias("publish_hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return agg.withColumn(
        "pct_of_total",
        F.col("cnt") * 100.0 / F.sum("cnt").over(Window.partitionBy()),
    )


@query(
    "weekly_trends",
    oracle="""
    SELECT extract(year FROM ts) AS publish_year,
           extract(week FROM ts) AS publish_week,
           min(cast(ts as date)) AS week_start,
           max(cast(ts as date)) AS week_end,
           count(*) AS total_events,
           count(DISTINCT event_type) AS distinct_types,
           cast(sum(cast(value as decimal(9,2))) as double) / count(*) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    survey="A7 F7 (view_weekly_trends, init.sql:134-145; ISO week == Spark weekofyear)",
)
def weekly_trends(cat: Catalog) -> DataFrame:
    """A7: weekly trend rollup (init.sql:134-145). Spark weekofyear is
    ISO-week, matching PG/DuckDB EXTRACT(WEEK)."""
    return (
        cat["events"]
        .groupBy(
            F.year("ts").cast("bigint").alias("publish_year"),
            F.weekofyear("ts").cast("bigint").alias("publish_week"),
        )
        .agg(
            F.min(F.col("ts").cast("date")).alias("week_start"),
            F.max(F.col("ts").cast("date")).alias("week_end"),
            F.count(F.lit(1)).alias("total_events"),
            F.countDistinct("event_type").alias("distinct_types"),
            davg("value", "avg_value"),
        )
    )


@query(
    "two_key_timeseries",
    oracle="""
    SELECT cast(ts AS date) AS event_date, event_type,
           count(*) AS daily_count,
           cast(sum(cast(value as decimal(9,2))) as double) / count(*) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    survey="A8 (two-key time series, apx.py:97-112)",
)
def two_key_timeseries(cat: Catalog) -> DataFrame:
    """A8: GROUP BY (date, category) dashboard trend query
    (apx.py:97-112)."""
    return (
        cat["events"]
        .groupBy(F.col("ts").cast("date").alias("event_date"), "event_type")
        .agg(F.count(F.lit(1)).alias("daily_count"), davg("value", "avg_value"))
    )


@query(
    "user_activity_having",
    oracle="""
    SELECT user_id, event_type,
           count(*) AS mention_count,
           cast(sum(cast(value as decimal(9,2))) as double) / count(*) AS avg_value,
           max(cast(ts as date)) AS last_seen
    FROM events
    WHERE value > 10.0
    GROUP BY user_id, event_type
    HAVING count(*) >= 2
    """,
    survey="A9 (rollup + HAVING + pre-filter, apx.py:114-135)",
)
def user_activity_having(cat: Catalog) -> DataFrame:
    """A9: the entity-rollup shape — pre-aggregation filter, grouped
    stats, HAVING as post-agg filter (apx.py:114-135)."""
    return (
        cat["events"]
        .filter(F.col("value") > 10.0)
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("mention_count"),
            davg("value", "avg_value"),
            F.max(F.col("ts").cast("date")).alias("last_seen"),
        )
        .filter(F.col("mention_count") >= 2)
    )


@query(
    "scalar_metrics_block",
    oracle="""
    SELECT (SELECT count(*) FROM orders) AS total_orders,
           (SELECT count(*) FROM orders WHERE o_orderstatus = 'O') AS open_orders,
           (SELECT cast(sum(cast(o_totalprice as decimal(9,2))) as double) FROM orders)
               AS total_revenue,
           (SELECT count(DISTINCT o_custkey) FROM orders) AS distinct_customers,
           (SELECT max(cast(o_orderdate as date)) FROM orders) AS latest_order,
           (SELECT count(*) FROM customer) AS total_customers
    FROM (VALUES (1)) t(x)
    """,
    survey="A10 A12 (scalar-subquery metric block, apx.py:64-79)",
)
def scalar_metrics_block(cat: Catalog) -> DataFrame:
    """A10: the dashboard's 8-scalar overview block — one wide agg per
    table then a broadcast cross join of 1-row frames (apx.py:64-79)."""
    o = cat["orders"].agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.count_if(F.col("o_orderstatus") == "O").alias("open_orders"),
        dsum("o_totalprice", "total_revenue"),
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.max(F.col("o_orderdate").cast("date")).alias("latest_order"),
    )
    c = cat["customer"].agg(F.count(F.lit(1)).alias("total_customers"))
    return o.crossJoin(F.broadcast(c))


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE c.c_acctbal > 0
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    survey="J1 (left-anti NER-backlog join, services/staging_pg.py:294-317)",
)
def customers_without_orders(cat: Catalog) -> DataFrame:
    """J1: left-anti join — rows in the base table with no match in the
    side table (the reference's NER backlog query)."""
    orders = cat["orders"]
    return (
        cat["customer"]
        .filter(F.col("c_acctbal") > 0)
        .join(orders, F.col("c_custkey") == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@query(
    "revenue_by_segment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS order_count,
           cast(sum(cast(o.o_totalprice as decimal(9,2))) as double) AS revenue,
           count(DISTINCT o.o_custkey) AS buyers
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey="J2 A1 (inner equi-join + rollup, process_silver_to_gold.sql:140-169)",
    bench=True,
)
def revenue_by_segment(cat: Catalog) -> DataFrame:
    """J2: fact⋈dimension inner join with the dimension broadcast
    (entity×gold analog). At 100 TB the customer side is still the
    small side per-segment rollup → broadcast hash join, no shuffle of
    the fact table beyond the aggregation."""
    o, c = cat["orders"], cat["customer"]
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            lsum(units("o_totalprice"), 2, "revenue"),
            F.countDistinct("o_custkey").alias("buyers"),
        )
    )


@query(
    "orders_without_items",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus
    FROM orders o LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
      ON o.o_orderkey = l.l_orderkey
    WHERE l.l_orderkey IS NULL
    """,
    survey="J3 (left-outer diff probe, viz.py:133-160)",
)
def orders_without_items(cat: Catalog) -> DataFrame:
    """J3: the bronze-vs-silver drift probe — left outer join, keep rows
    where the right side is missing (viz.py:133-160)."""
    li = cat["lineitem"].select("l_orderkey").distinct()
    o = cat["orders"]
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_outer")
        .filter(F.col("l_orderkey").isNull())
        .select("o_orderkey", "o_orderstatus")
    )


@query(
    "regional_revenue",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           count(*) AS order_count,
           cast(sum(cast(o.o_totalprice as decimal(9,2))) as double) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    survey="J2 (multi-hop dimension join chain; Catalyst join reorder + broadcast)",
    bench=True,
)
def regional_revenue(cat: Catalog) -> DataFrame:
    """Snowflake join chain orders→customer→nation→region with every
    dimension broadcast — the canonical star-join plan at scale (zero
    fact-side shuffle before aggregation)."""
    o = cat["orders"]
    c = F.broadcast(cat["customer"])
    n = F.broadcast(cat["nation"])
    r = F.broadcast(cat["region"])
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            lsum(units("o_totalprice"), 2, "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Windows (SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "top_user_per_event_type",
    oracle="""
    SELECT event_type, user_id, cnt FROM (
        SELECT event_type, user_id, count(*) AS cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY count(*) DESC, user_id ASC) AS rn
        FROM events GROUP BY event_type, user_id
    ) WHERE rn = 1
    """,
    survey="W2 (top-1 per group, process_silver_to_gold.sql:172-208)",
)
def top_user_per_event_type(cat: Catalog) -> DataFrame:
    """W2: ROW_NUMBER top-1-per-group (get_entity_stats). Window runs
    over the grouped aggregate, not the raw events — bounded input."""
    counts = (
        cat["events"]
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("user_id"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "user_id", "cnt")
    )


@query(
    "dedupe_keep_max",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM (
        SELECT event_id, user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY value DESC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    survey="W4 (keep-max-confidence dedupe, processor/ner.py:176-199)",
)
def dedupe_keep_max(cat: Catalog) -> DataFrame:
    """W4: per-key keep-highest dedupe (the NER confidence dedupe) as a
    single window pass; event_id tiebreak makes it deterministic."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        cat["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops / filters (SURVEY §2.6, §2.7, §2.2)
# ---------------------------------------------------------------------------


@query(
    "top10_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    survey="T1 T2 T3 (ORDER BY ... LIMIT top-k → TakeOrderedAndProject)",
)
def top10_orders(cat: Catalog) -> DataFrame:
    """T1-T3: top-k — Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge of k), never a full sort at scale."""
    return (
        cat["orders"]
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "pipeline_status_union",
    oracle="""
    SELECT 'orders' AS stage, count(*) AS row_count FROM orders
    UNION ALL SELECT 'lineitem' AS stage, count(*) AS row_count FROM lineitem
    UNION ALL SELECT 'customer' AS stage, count(*) AS row_count FROM customer
    """,
    survey="U1 U2 A12 (pipeline-status UNION ALL, viz.py:196-225, vis.py:64-76)",
)
def pipeline_status_union(cat: Catalog) -> DataFrame:
    """U1/U2: per-stage metric rows stitched with UNION ALL
    (the reference's pipeline-status dashboard)."""
    def stage(name: str) -> DataFrame:
        return cat[name].agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("row_count")
        )

    return stage("orders").unionByName(stage("lineitem")).unionByName(stage("customer"))


@query(
    "recent_events",
    oracle="""
    SELECT event_type, count(*) AS cnt,
           cast(sum(cast(value as decimal(9,2))) as double) AS total_value
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 3 DAY
    GROUP BY event_type
    """,
    survey="P5 F8 (interval time-window filter, services/pg_service.py:121-126)",
)
def recent_events(cat: Catalog) -> DataFrame:
    """P5: `date >= anchor - INTERVAL '3 days'` recency filter. The
    anchor is a 1-row aggregate broadcast into the scan filter — the
    deterministic stand-in for NOW() so the oracle agrees."""
    ev = cat["events"]
    anchor = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.crossJoin(F.broadcast(anchor))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 3 DAY"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value", "total_value"))
    )


@query(
    "json_props_rollup",
    oracle="""
    SELECT event_type,
           sum(cast(cast(json_extract(props, '$.k') as integer) as decimal(9,2))) != 0
               AS has_props,
           cast(sum(cast(cast(json_extract(props, '$.k') as integer) as decimal(9,2)))
               as double) AS sum_k,
           max(cast(json_extract(props, '$.k') as integer)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    survey="F16 S8 (JSON field extraction, init.sql:150-183 jsonb_array_elements/->> )",
)
def json_props_rollup(cat: Catalog) -> DataFrame:
    """F16: JSON payload field extraction (the reference's jsonb `->>`)
    via get_json_object, then grouped aggregation."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        cat["events"]
        .groupBy("event_type")
        .agg(
            (F.sum(k.cast(DEC)) != 0).alias("has_props"),
            F.sum(k.cast(DEC)).cast("double").alias("sum_k"),
            F.max(k).alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# ES-aggregation analogs + SQL front door + maintenance (SURVEY §2.4, §2.1)
# ---------------------------------------------------------------------------


@query(
    "date_histogram",
    oracle="""
    SELECT cast(date_trunc('day', ts) as date) AS bucket, count(*) AS doc_count
    FROM events GROUP BY 1
    """,
    survey="A14 (ES date_histogram, services/es.py:273-302)",
)
def date_histogram(cat: Catalog) -> DataFrame:
    """A14: the ES date_histogram aggregation as date_trunc+count
    (bucket surfaced as DATE — dialects disagree on date_trunc's
    return type)."""
    return (
        cat["events"]
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )


@query(
    "stats_aggregation",
    oracle="""
    SELECT min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           cast(sum(cast(l_extendedprice as decimal(9,2))) as double) AS sum_price,
           cast(sum(cast(l_extendedprice as decimal(9,2))) as double) / count(*)
               AS avg_price,
           count(*) AS cnt
    FROM lineitem
    """,
    survey="A15 (ES stats aggregation, services/es.py:304-345)",
)
def stats_aggregation(cat: Catalog) -> DataFrame:
    """A15: the ES stats aggregation (min/max/sum/avg/count) in one pass."""
    return cat["lineitem"].agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        dsum("l_extendedprice", "sum_price"),
        davg("l_extendedprice", "avg_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "sql_cte_stats",
    oracle="""
    WITH order_stats AS (
        SELECT count(*) AS n_orders,
               cast(sum(cast(o_totalprice as decimal(9,2))) as double) AS revenue
        FROM orders
    ),
    item_stats AS (
        SELECT count(*) AS n_items,
               cast(sum(cast(l_quantity as decimal(9,2))) as double) AS total_qty
        FROM lineitem
    ),
    cust_stats AS (SELECT count(*) AS n_customers FROM customer)
    SELECT o.n_orders, o.revenue, i.n_items, i.total_qty, c.n_customers
    FROM order_stats o, item_stats i, cust_stats c
    """,
    survey="A11 E3 (CTE multi-block stats via the spark.sql front door, app.py:62-111)",
)
def sql_cte_stats(cat: Catalog) -> DataFrame:
    """A11/E3: the dashboards' SQL runs verbatim-ish on spark.sql()
    against the registered temp views — the engine's SQL text
    interface, exercised end to end."""
    for t in ("orders", "lineitem", "customer"):
        cat[t]  # registers temp views
    return cat.spark.sql(
        """
        WITH order_stats AS (
            SELECT count(*) AS n_orders,
                   cast(sum(cast(o_totalprice as decimal(9,2))) as double) AS revenue
            FROM orders
        ),
        item_stats AS (
            SELECT count(*) AS n_items,
                   cast(sum(cast(l_quantity as decimal(9,2))) as double) AS total_qty
            FROM lineitem
        ),
        cust_stats AS (SELECT count(*) AS n_customers FROM customer)
        SELECT o.n_orders, o.revenue, i.n_items, i.total_qty, c.n_customers
        FROM order_stats o, item_stats i, cust_stats c
        """
    )


@query(
    "retention_split",
    oracle="""
    SELECT cast(count_if(ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY) AS bigint) AS kept,
           cast(count_if(ts < (SELECT max(ts) FROM events) - INTERVAL 7 DAY) AS bigint) AS purged
    FROM events
    """,
    survey="S12 (retention delete split, services/pg_staging.py:399-434)",
)
def retention_split(cat: Catalog) -> DataFrame:
    """S12: the retention purge as a partition-prunable date filter —
    kept/purged tallies relative to the data's own high-water mark
    (with date-partitioned storage this is a partition drop, not a
    row-level delete)."""
    ev = cat["events"]
    anchor = ev.agg(F.max("ts").alias("max_ts"))
    cutoff = F.col("max_ts") - F.expr("INTERVAL 7 DAY")
    return (
        ev.crossJoin(F.broadcast(anchor))
        .agg(
            F.count_if(F.col("ts") >= cutoff).alias("kept"),
            F.count_if(F.col("ts") < cutoff).alias("purged"),
        )
    )


@query(
    "nations_per_region_agg",
    oracle="""
    SELECT r.r_name AS region_name,
           string_agg(DISTINCT n.n_name, ', ' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    survey="F14 (STRING_AGG DISTINCT, services/pg_service.py entity rollups)",
)
def nations_per_region_agg(cat: Catalog) -> DataFrame:
    """F14: STRING_AGG(DISTINCT .. ORDER BY ..) as
    concat_ws(array_sort(collect_set())) — set semantics make the
    aggregation order-insensitive, so the concatenation is
    deterministic without a global sort."""
    r = cat["region"]
    n = cat["nation"]
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.concat_ws(", ", F.array_sort(F.collect_set("n_name"))).alias("nations")
        )
    )


@query(
    "median_price_by_priority",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(cast(floor(o_totalprice * 100 + 0.5) as bigint), 0.5)
               / 100.0 AS median_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey="X3 (UDAF extension point: grouped-agg pandas UDF)",
)
def median_price_by_priority(cat: Catalog) -> DataFrame:
    """X3: a genuine UDAF — exact interpolated median via an
    Arrow-batched grouped-agg pandas UDF over integer cents (see
    functions/udaf.py for the exactness argument)."""
    from simple_etl_spark.functions.udaf import median_long

    return (
        cat["orders"]
        .groupBy("o_orderpriority")
        .agg(
            (median_long(units("o_totalprice")) / F.lit(100.0)).alias("median_price")
        )
    )


# ---------------------------------------------------------------------------
# Analytics extensions: cumulative/lag windows, ntile, rollup, pivot
# (dashboard-grade constructs beyond the reference's own SQL, each
# expressed so the expensive window runs over a pre-aggregated tiny
# frame — never over the raw fact table)
# ---------------------------------------------------------------------------


@query(
    "cumulative_daily_revenue",
    oracle="""
    WITH daily AS (
        SELECT cast(o_orderdate as date) AS d,
               sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) AS cents
        FROM orders GROUP BY 1
    )
    SELECT d, cast(cents as double) / 100.0 AS revenue,
           cast(sum(cents) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)
               / 100.0 AS cum_revenue
    FROM daily
    """,
    survey="W-ext: cumulative sum over a pre-aggregated daily frame",
)
def cumulative_daily_revenue(cat: Catalog) -> DataFrame:
    """Running revenue total: the unpartitioned ORDER BY window runs
    over the post-aggregation frame (one row per day), so the
    single-task window sees O(days), not O(orders). The running sum
    accumulates integer cents — window-aggregation order differs
    between engines (running vs segment tree), so only an exact
    accumulator is engine-independent."""
    daily = (
        cat["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(units("o_totalprice")).alias("cents"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "d",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        (F.sum("cents").over(w).cast("double") / 100.0).alias("cum_revenue"),
    )


@query(
    "daily_revenue_delta",
    oracle="""
    WITH daily AS (
        SELECT cast(o_orderdate as date) AS d,
               cast(sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) as double)
                   / 100.0 AS revenue
        FROM orders GROUP BY 1
    )
    SELECT d, revenue,
           revenue - lag(revenue) OVER (ORDER BY d) AS delta
    FROM daily
    """,
    survey="W-ext: day-over-day delta via LAG on the aggregated frame",
)
def daily_revenue_delta(cat: Catalog) -> DataFrame:
    """Day-over-day revenue change (LAG over the tiny daily frame;
    first day's delta is NULL)."""
    daily = (
        cat["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(lsum(units("o_totalprice"), 2, "revenue"))
    )
    w = Window.orderBy("d")
    return daily.select(
        "d", "revenue", (F.col("revenue") - F.lag("revenue").over(w)).alias("delta")
    )


@query(
    "customer_revenue_quartiles",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               cast(sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) as double)
                   / 100.0 AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT ntile(4) OVER (ORDER BY revenue DESC, o_custkey) AS quartile,
               revenue
        FROM cust
    )
    SELECT quartile,
           count(*) AS n_customers,
           cast(sum(cast(revenue as decimal(18,2))) as double) AS total_revenue
    FROM ranked
    GROUP BY quartile
    """,
    survey="W-ext: ntile segmentation (RFM-style quartiles), deterministic total order",
)
def customer_revenue_quartiles(cat: Catalog) -> DataFrame:
    """Revenue quartiles over per-customer totals: ntile needs a total
    order, so ties break on the key — deterministic on any engine.
    The ntile window is unpartitioned by construction (it ranks the
    whole population); it runs over the aggregated per-customer frame,
    and the final rollup is 4 rows."""
    cust = (
        cat["orders"]
        .groupBy("o_custkey")
        .agg(lsum(units("o_totalprice"), 2, "revenue"))
    )
    w = Window.orderBy(F.desc("revenue"), F.col("o_custkey"))
    return (
        cust.select(
            "o_custkey",
            "revenue",
            # Spark ntile() emits int32; ANSI engines emit int64 — widen
            # so the exposed column hashes identically under the driver.
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
        )
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("revenue").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_revenue"),
        )
    )


@query(
    "revenue_rollup",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           cast(sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) as double)
               / 100.0 AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    survey="A-ext: ROLLUP grouping sets (status, priority, grand total) in one pass",
)
def revenue_rollup(cat: Catalog) -> DataFrame:
    """Hierarchical totals via rollup grouping sets — per (status,
    priority), per status, and grand total in a single aggregation
    (Spark expands grouping sets before the shuffle; one pass over
    the facts)."""
    return (
        cat["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            lsum(units("o_totalprice"), 2, "revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


@query(
    "events_pivot_daily",
    oracle="""
    SELECT cast(ts as date) AS d,
           cast(count_if(event_type = 'click') AS bigint) AS click,
           cast(count_if(event_type = 'view') AS bigint) AS view,
           cast(count_if(event_type = 'purchase') AS bigint) AS purchase,
           cast(count_if(event_type = 'error') AS bigint) AS error
    FROM events GROUP BY 1
    """,
    survey="A-ext: pivot (event types to columns) with a fixed column list",
)
def events_pivot_daily(cat: Catalog) -> DataFrame:
    """Daily event-type matrix via pivot with an explicit value list —
    the list keeps the schema static (no extra distinct-values job)
    and the plan a single aggregation."""
    return (
        cat["events"]
        .groupBy(F.col("ts").cast("date").alias("d"))
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .count()
        .na.fill(0, ["click", "view", "purchase", "error"])
    )


def gap_sessionize(
    df: DataFrame, key_col: str, ts_col: str, id_col: str, gap_us: int
) -> DataFrame:
    """Per-key sessions split where the inactivity gap exceeds
    ``gap_us``: lag to flag session starts, a running sum to number
    them, one grouped rollup per session. Both windows partition on
    the key — the work distributes, never a global sort. Timestamps
    compare as integer microseconds (unix_micros; the TIMESTAMP_NTZ
    cast is exact under the engine's pinned UTC session timezone), so
    the gap predicate and durations are engine-exact. Returns
    (key, session_idx, n_events, dur_us)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(us).over(w)
    sess = (
        df.select(key_col, id_col, ts_col, us.alias("us"))
        .withColumn(
            "new_s",
            F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0),
        )
        .withColumn("session_idx", F.sum("new_s").over(run))
    )
    return sess.groupBy(key_col, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )


@query(
    "events_gap_sessions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > 14400000000
                    THEN 1 ELSE 0 END AS new_s
        FROM seq
    ),
    numbered AS (
        SELECT user_id, us,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_idx
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_idx, count(*) AS n_events,
               max(us) - min(us) AS dur_us
        FROM numbered GROUP BY 1, 2
    )
    SELECT user_id, count(*) AS n_sessions,
           cast(sum(n_events) as bigint) AS total_events,
           max(n_events) AS max_session_events,
           max(dur_us) AS longest_session_us
    FROM per_session GROUP BY user_id
    ORDER BY user_id
    """,
    survey="W-ext: gap-based sessionization (lag + cumulative flag sum) — "
    "the batch twin of the streaming session windows (ST-sessionized)",
)
def events_gap_sessions(cat: Catalog) -> DataFrame:
    """Per-user session profile at a 4 h gap via
    :func:`gap_sessionize` (property-tested against a sequential
    model in tests/test_join_properties.py)."""
    per_session = gap_sessionize(
        cat["events"], "user_id", "ts", "event_id", 4 * 3600 * 1_000_000
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            F.max("n_events").alias("max_session_events"),
            F.max("dur_us").alias("longest_session_us"),
        )
        .orderBy("user_id")
    )


@query(
    "events_scd2_intervals",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id FROM seq
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL) AS is_current
    FROM changes
    ORDER BY user_id, valid_from, event_id
    """,
    survey="J4-ext: CDC change-stream collapse to SCD2 validity intervals "
    "(the warehouse twin of the reference's upsert-latest-wins merge)",
)
def events_scd2_intervals(cat: Catalog) -> DataFrame:
    """Collapse each user's event stream into slowly-changing-dimension
    intervals: keep only rows where the tracked attribute changed, then
    lead() the next change into valid_to (NULL = current). Both windows
    partition on user_id — keyed shuffles, no global sort; the second
    window reuses the first's partitioning (no extra exchange)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    changes = (
        cat["events"]
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", prev)
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .drop("prev_type")
    )
    nxt = F.lead("ts").over(w)
    return (
        changes.select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            "event_id",
        )
        .orderBy("user_id", "valid_from", "event_id")
        .drop("event_id")
    )


@query(
    "events_type_drift",
    oracle="""
    WITH per AS (
        SELECT cast(ts as date) AS day, event_type, count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    g AS (SELECT event_type, count(*) AS gcnt FROM events GROUP BY 1),
    nd AS (SELECT day, sum(c) AS n_day FROM per GROUP BY day),
    tot AS (SELECT count(*) AS n_total FROM events),
    grid AS (
        SELECT nd.day, g.event_type, nd.n_day, g.gcnt, tot.n_total,
               coalesce(per.c, 0) AS c
        FROM nd CROSS JOIN g CROSS JOIN tot
        LEFT JOIN per ON per.day = nd.day AND per.event_type = g.event_type
    )
    SELECT day, cast(max(n_day) as bigint) AS total_events,
           cast(sum(abs(cast(c as decimal(38,0)) * n_total
                         - cast(gcnt as decimal(38,0)) * n_day)) as double)
               / cast(max(cast(n_day as decimal(38,0)) * n_total) * 2 as double)
               AS tv_drift
    FROM grid GROUP BY day
    ORDER BY day
    """,
    survey="A-ext: distribution-drift monitor — per-day total-variation "
    "distance of the event-type mix vs the corpus-global mix "
    "(data-quality guardrail for a continuously ingested pipeline)",
)
def events_type_drift(cat: Catalog) -> DataFrame:
    """Per-day drift score: TV(day, global) = Σ|c_i/n − g_i/N| / 2,
    computed as the exact integer form Σ|c_i·N − g_i·n| / (2·n·N) —
    decimal(38,0) products so nothing overflows or rounds until the
    single final division (engine-exact by the davg discipline). Days
    missing a type still contribute that type's full global mass via
    the day×type grid. Plan: one (day,type) count, two broadcast-sized
    side aggregates, no fact-table rescan per side."""
    ev = cat["events"]
    d38 = "decimal(38,0)"
    per = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    g = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("gcnt"))
    nd = per.groupBy("day").agg(F.sum("c").alias("n_day"))
    tot = ev.agg(F.count(F.lit(1)).alias("n_total"))
    grid = (
        nd.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(tot))
        .join(per, ["day", "event_type"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    num = F.sum(
        F.abs(
            F.col("c").cast(d38) * F.col("n_total")
            - F.col("gcnt").cast(d38) * F.col("n_day")
        )
    )
    den = F.max(F.col("n_day").cast(d38) * F.col("n_total")) * F.lit(2)
    return (
        grid.groupBy("day")
        .agg(
            F.max("n_day").cast("bigint").alias("total_events"),
            (num.cast("double") / den.cast("double")).alias("tv_drift"),
        )
        .orderBy("day")
    )


@query(
    "events_value_histogram",
    oracle="""
    SELECT cast(floor(value / 50) as bigint) AS bin,
           cast(floor(value / 50) as bigint) * cast(50.0 as double) AS bin_lo,
           count(*) AS n,
           min(value) AS min_value,
           max(value) AS max_value,
           cast(sum(cast(floor(value * 100 + 0.5) as bigint)) as double) / 100.0
               AS value_sum
    FROM events
    GROUP BY 1, 2
    ORDER BY bin
    """,
    survey="A-ext: equi-width numeric histogram (single grouped agg; "
    "bin ids are floor arithmetic on the raw double, identical on any "
    "IEEE engine; sums ride the integer-cent exact path)",
)
def events_value_histogram(cat: Catalog) -> DataFrame:
    """Width-50 histogram of event values: one aggregation, map-side
    partials, bounded output (range/50 bins). min/max are passthrough
    doubles; the per-bin sum uses the integer-cent accumulator."""
    bin_col = F.floor(F.col("value") / F.lit(50)).cast("bigint")
    return (
        cat["events"]
        .groupBy(bin_col.alias("bin"), (bin_col * F.lit(50.0)).alias("bin_lo"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            lsum(units("value"), 2, "value_sum"),
        )
        .orderBy("bin")
    )


@query(
    "events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS viewed,
           (SELECT count(*) FROM c) AS clicked_after_view,
           (SELECT count(*) FROM p) AS purchased_after_click
    """,
    survey="A-ext: ordered funnel (view -> click -> purchase) — per-stage "
    "first-instant joins, the product-analytics staple",
)
def events_funnel(cat: Catalog) -> DataFrame:
    """Ordered conversion funnel: users who viewed, then clicked at or
    after their first view, then purchased at or after that first
    click. Each stage is a keyed min-aggregate joined to the previous
    stage's anchor — per-stage shuffles on user_id, no window over the
    raw stream, no self-join explosion."""
    ev = cat["events"]

    def stage(etype: str, anchor: DataFrame | None, anchor_col: str, out: str):
        e = ev.filter(F.col("event_type") == etype)
        if anchor is not None:
            e = e.join(anchor, "user_id").filter(F.col("ts") >= F.col(anchor_col))
        return e.groupBy("user_id").agg(F.min("ts").alias(out))

    v = stage("view", None, "", "t_view")
    c = stage("click", v, "t_view", "t_click")
    p = stage("purchase", c, "t_click", "t_purchase")
    counts = [
        v.agg(F.count(F.lit(1)).alias("viewed")),
        c.agg(F.count(F.lit(1)).alias("clicked_after_view")),
        p.agg(F.count(F.lit(1)).alias("purchased_after_click")),
    ]
    out = counts[0]
    for d in counts[1:]:
        out = out.crossJoin(F.broadcast(d))
    return out


@query(
    "events_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, min(cast(ts as date)) AS cohort_day FROM events
        GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               date_diff('day', f.cohort_day, cast(e.ts as date)) AS day_offset
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_day, day_offset, count(*) AS active_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY 1, 2
    ORDER BY cohort_day, day_offset
    """,
    survey="A-ext: cohort retention matrix (first-seen day x day offset) — "
    "the second product-analytics staple; one broadcastable first-seen "
    "dimension, no fact-fact self-join",
)
def events_cohort_retention(cat: Catalog) -> DataFrame:
    """Week-one retention: users grouped by first-seen day, counted as
    active at each day offset 0-7. first_seen is user-cardinality
    (broadcastable at dimension scale); the activity dedup and the
    matrix count are keyed aggregations."""
    ev = cat["events"].select("user_id", F.col("ts").cast("date").alias("d"))
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).cast("bigint").alias(
                "day_offset"
            ),
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "events_value_outliers",
    oracle="""
    WITH c AS (
        SELECT event_type, cast(floor(value * 100 + 0.5) as bigint) AS c
        FROM events
    ),
    m AS (
        SELECT event_type, quantile_cont(c, 0.5) AS med FROM c GROUP BY 1
    ),
    d AS (
        SELECT c.event_type, c.c,
               abs(2 * c.c - cast(2 * m.med as bigint)) AS dev2
        FROM c JOIN m ON c.event_type = m.event_type
    ),
    m2 AS (
        SELECT event_type, quantile_cont(dev2, 0.5) AS mad2 FROM d GROUP BY 1
    )
    SELECT d.event_type,
           m.med / 100.0 AS median_value,
           m2.mad2 / 200.0 AS mad_value,
           cast(count_if(d.dev2 > 3 * m2.mad2) as bigint) AS n_outliers
    FROM d
    JOIN m ON d.event_type = m.event_type
    JOIN m2 ON d.event_type = m2.event_type
    GROUP BY d.event_type, m.med, m2.mad2
    ORDER BY d.event_type
    """,
    survey="X3-ext: robust outlier detection (median absolute deviation) — "
    "a second genuine UDAF consumer; the two-pass MAD is exactly the "
    "aggregate a combinable rollup cannot maintain",
)
def events_value_outliers(cat: Catalog) -> DataFrame:
    """Per-type robust outliers: |2·cents − 2·median| stays an exact
    long (doubling clears the half-cent median), its median is the MAD
    (same exact-interpolation argument as median_long), and the
    3×-MAD threshold compares exact dyadic doubles — engine-identical
    end to end. Two grouped median passes + broadcast medians; the
    fact table is scanned twice, never self-joined.

    r14: the medians run on the JVM ``percentile`` exact aggregate
    instead of the grouped-agg pandas UDAF (guide §4 — no Python
    boundary where a builtin computes the identical value: both are
    the linear-interpolated 0.5 quantile over long cents, exact dyadic
    doubles, verified bit-identical against the quantile_cont oracle;
    the genuine-UDAF X3 cover stays on median_price_by_priority)."""
    ev = cat["events"].select("event_type", units("value").alias("c"))
    m = ev.groupBy("event_type").agg(
        F.percentile(F.col("c"), F.lit(0.5)).alias("med")
    )
    d = ev.join(F.broadcast(m), "event_type").withColumn(
        "dev2",
        F.abs(F.col("c") * 2 - (F.col("med") * 2).cast("bigint")),
    )
    m2 = d.groupBy("event_type").agg(
        F.percentile(F.col("dev2"), F.lit(0.5)).alias("mad2")
    )
    return (
        d.join(F.broadcast(m2), "event_type")
        .groupBy("event_type", "med", "mad2")
        .agg(
            F.count_if(F.col("dev2") > F.lit(3) * F.col("mad2"))
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            (F.col("med") / F.lit(100.0)).alias("median_value"),
            (F.col("mad2") / F.lit(200.0)).alias("mad_value"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


from simple_etl_spark.sources.layout import zvalue, zvalue_sql  # noqa: E402

_Z_SQL = zvalue_sql(["(user_id % 256)", "(event_id % 256)"], bits=8)


@query(
    "events_zorder_profile",
    oracle=f"""
    SELECT seg, count(*) AS n_events,
           max(user_id % 256) - min(user_id % 256) AS span_user,
           max(event_id % 256) - min(event_id % 256) AS span_event
    FROM (SELECT user_id, event_id, {_Z_SQL} >> 8 AS seg FROM events) t
    GROUP BY seg ORDER BY seg
    """,
    survey="layout-ext: Z-order curve segmentation profile — pins the Morton "
    "bit-interleave cross-engine and shows per-segment locality in BOTH "
    "dimensions (the property parquet stats-skipping prunes on)",
)
def events_zorder_profile(cat: Catalog) -> DataFrame:
    """Events mapped onto the (user_id%256, event_id%256) Z-order
    curve, profiled per 256-codepoint curve segment: row count and the
    per-segment span of each dimension. Narrow spans in both columns
    are exactly what makes a z-clustered layout prunable on either
    filter (sources/layout.py:write_zordered). Pure integer bit
    arithmetic — bit-identical in any engine."""
    ev = cat["events"]
    z = zvalue([F.col("user_id") % 256, F.col("event_id") % 256], bits=8)
    xu, xe = F.col("user_id") % 256, F.col("event_id") % 256
    return (
        ev.select(xu.alias("u"), xe.alias("e"), F.shiftright(z, 8).alias("seg"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("u") - F.min("u")).alias("span_user"),
            (F.max("e") - F.min("e")).alias("span_event"),
        )
        .orderBy("seg")
    )


@query(
    "cdc_last_state",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, event_id AS last_event_id,
           cast(value as double) AS last_value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
    survey="S7-ext: CDC changelog compaction (APPLY CHANGES) — last change "
    "per key wins, a trailing delete removes the key",
)
def cdc_last_state(cat: Catalog) -> DataFrame:
    """Events replayed as a CDC feed keyed by user: the final per-user
    state is the latest event's payload, unless the latest is the
    delete op ('error'), which drops the user. One latest-wins window
    on (ts, event_id) — event_id breaks equal-timestamp ties so the
    survivor is engine-deterministic."""
    from simple_etl_spark.operators.merge import apply_changes

    out = apply_changes(
        cat["events"].select("user_id", "event_type", "event_id", "ts", "value"),
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        op_col="event_type",
        delete_op="error",
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").cast("double").alias("last_value"),
    ).orderBy("user_id")


@query(
    "revenue_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           cast(grouping(o_orderstatus, o_orderpriority) as bigint) AS gid,
           count(*) AS n_orders,
           cast(sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) as double)
               / 100.0 AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    survey="A-ext: CUBE grouping sets + GROUPING id — every margin "
    "(pair, each single key, grand total) in one aggregation pass",
)
def revenue_cube(cat: Catalog) -> DataFrame:
    """Full-cube margins over (status, priority) with the grouping-set
    id bitmask exposed — the complement of `revenue_rollup`'s
    hierarchy: CUBE also emits the priority-only margin. Spark expands
    the grouping sets BEFORE the shuffle, so this stays one pass with
    map-side partials; the grouping_id bitmask (status = high bit)
    matches ANSI GROUPING() on any engine."""
    return (
        cat["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            lsum(units("o_totalprice"), 2, "revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
            "revenue",
        )
    )


@query(
    "order_price_distribution",
    oracle="""
    WITH ranked AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cum_dist,
               first_value(o_orderkey) OVER w AS cheapest_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
    )
    SELECT o_orderkey, o_orderpriority, pct_rank, cum_dist, cheapest_key
    FROM ranked WHERE o_orderkey % 20 = 0
    ORDER BY o_orderpriority, o_orderkey
    """,
    survey="W-ext: distribution window family (percent_rank, cume_dist, "
    "first_value) — the ANSI window surface beyond ranking/offset",
)
def order_price_distribution(cat: Catalog) -> DataFrame:
    """Per-priority price distribution positions: percent_rank and
    cume_dist over a tie-broken total order (price, orderkey), plus
    the partition's cheapest key via first_value. The window
    partitions on the priority key (bounded per-partition sort at
    scale); the %20 output filter runs AFTER the window so ranks are
    computed over the full partition. percent_rank's (rank-1)/(n-1)
    divides exact integers — the exposed doubles are engine-identical."""
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
    )
    return (
        cat["orders"]
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cum_dist"),
            F.first_value(F.col("o_orderkey")).over(w).alias("cheapest_key"),
        )
        .filter(F.col("o_orderkey") % 20 == 0)
        .select(
            "o_orderkey", "o_orderpriority", "pct_rank", "cum_dist",
            "cheapest_key",
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


@query(
    "events_pit_enrichment",
    oracle="""
    WITH dim AS (
        SELECT user_id, ts, max(event_type) AS status
        FROM events WHERE event_type IN ('signup', 'error')
        GROUP BY user_id, ts
    ),
    facts AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT f.user_id, f.event_id,
           d.status AS account_status,
           d.ts AS status_since
    FROM facts f
    LEFT JOIN dim d ON d.user_id = f.user_id AND d.ts = (
        SELECT max(d2.ts) FROM dim d2
        WHERE d2.user_id = f.user_id AND d2.ts <= f.ts)
    ORDER BY f.user_id, f.event_id
    """,
    survey="J-ext: point-in-time (feature-store) join — each fact enriched "
    "with the dimension state valid AT its timestamp, via the as-of "
    "union+fill-forward plan (no theta-join, one keyed shuffle)",
)
def events_pit_enrichment(cat: Catalog) -> DataFrame:
    """PIT-correct enrichment: every purchase gets the account status
    (last signup/error change at-or-before it) — the feature-store
    lookup that prevents label leakage in training pipelines. The
    status stream is deduped to one change per (user, ts) first
    (max(status) — ties between simultaneous changes must resolve
    identically in any engine), then the as-of join's union +
    fill-forward window does the temporal lookup in one keyed shuffle.
    Purchases before any status change keep NULLs (left semantics)."""
    from simple_etl_spark.operators.asof import asof_join

    ev = cat["events"]
    dim = (
        ev.filter(F.col("event_type").isin("signup", "error"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("status"))
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    out = asof_join(facts, dim, on="user_id", ts_col="ts", payload_cols=["status"])
    return out.select(
        "user_id",
        "event_id",
        F.col("status_asof").alias("account_status"),
        F.col("ts_asof").alias("status_since"),
    ).orderBy("user_id", "event_id")


@query(
    "events_unpivot_metrics",
    oracle="""
    WITH daily AS (
        SELECT cast(ts as date) AS d,
               cast(count_if(event_type = 'click') as bigint) AS clicks,
               cast(count_if(event_type = 'purchase') as bigint) AS purchases,
               cast(count_if(event_type = 'error') as bigint) AS errors
        FROM events GROUP BY 1
    )
    SELECT d, metric, value FROM (
        SELECT d, 'clicks' AS metric, clicks AS value FROM daily
        UNION ALL SELECT d, 'purchases', purchases FROM daily
        UNION ALL SELECT d, 'errors', errors FROM daily
    ) u
    ORDER BY d, metric
    """,
    survey="U-ext: UNPIVOT/melt (wide metrics -> long (metric, value) rows "
    "via stack — the inverse of events_pivot_daily, one generate pass, "
    "no self-union of the aggregate)",
)
def events_unpivot_metrics(cat: Catalog) -> DataFrame:
    """Melt the wide daily metric block to long form with `stack`:
    one Generate over the aggregated frame — the oracle's UNION ALL
    re-reads the aggregate once per metric, the stack plan does not
    (at scale that's metric-count × agg-cost saved)."""
    daily = (
        cat["events"]
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.count_if(F.col("event_type") == "click").alias("clicks"),
            F.count_if(F.col("event_type") == "purchase").alias("purchases"),
            F.count_if(F.col("event_type") == "error").alias("errors"),
        )
    )
    return (
        daily.select(
            "d",
            F.expr(
                "stack(3, 'clicks', clicks, 'purchases', purchases,"
                " 'errors', errors) AS (metric, value)"
            ),
        )
        .orderBy("d", "metric")
    )


@query(
    "orders_skew_profile",
    oracle="""
    WITH counts AS (
        SELECT o_orderpriority, count(*) AS cnt FROM orders
        GROUP BY o_orderpriority
    ),
    totals AS (SELECT sum(cnt) AS t, count(*) AS nk FROM counts)
    SELECT o_orderpriority, cnt,
           cast((1000 * cnt) // t as bigint) AS share_permille,
           cast(cnt * nk // t as bigint) AS skew_factor
    FROM counts CROSS JOIN totals
    ORDER BY cnt DESC, o_orderpriority LIMIT 10
    """,
    survey="ops-ext: key-skew diagnostic (hottest keys, permille share, "
    "mean-relative skew factor) — the measurement that gates salting",
)
def orders_skew_profile(cat: Catalog) -> DataFrame:
    """Skew profile of the order-priority key: per-key counts, integer
    permille share of rows, and the skew factor (key size / mean key
    size). Everything integer arithmetic — engine-exact; one grouped
    count + broadcast totals (operators/skew.py:skew_profile)."""
    from simple_etl_spark.operators.skew import skew_profile

    return skew_profile(cat["orders"], ["o_orderpriority"])


@query(
    "lang_distinct_stats_salted",
    oracle="""
    SELECT lang,
           cast(count(DISTINCT n_chars) as bigint) AS n_vals,
           cast(sum(DISTINCT n_chars) as bigint) AS sum_vals
    FROM documents GROUP BY lang ORDER BY lang
    """,
    survey="ops-ext: skew-safe HOLISTIC aggregation through the full "
    "profile→salt workflow (skew_profile picks the hot keys, "
    "salted_agg(hot_keys=...) splits only those across reducers — "
    "SKEW_r13: hot-only salting wins 1.74x/1.34x at sf10 where "
    "whole-corpus salting loses 20x; SCALE.md §9c)",
)
def lang_distinct_stats_salted(cat: Catalog) -> DataFrame:
    """Per-language distinct document-length stats computed the way a
    100 TB corpus would have to: ``skew_profile`` flags the hot
    language(s), then a two-phase salted ``collect_set`` builds the
    per-(key,salt) sets — disjoint by construction, because the
    whole-row salt on (lang, n_chars) is a function of n_chars within
    a language — and the merge flattens them. Only the profiled hot
    keys are salted; the cold tail keeps one phase-1 group each
    (salting it is the measured 20× blowup, SCALE.md §9c). The
    profile collect is one bounded top-n row, the same scalar-anchor
    discipline as the engine's other diagnostics. Output projects to
    exact integers (set size + element sum ≡ COUNT/SUM DISTINCT), so
    the DuckDB twin replays it directly."""
    from simple_etl_spark.operators.skew import salted_agg, skew_profile

    docs = cat["documents"]
    prof = skew_profile(docs, ["lang"], top_n=3).collect()
    hot = [r["lang"] for r in prof if r["skew_factor"] >= 2]
    if not hot and prof:
        hot = [prof[0]["lang"]]
    kv = docs.select("lang", "n_chars")
    merged = salted_agg(
        kv,
        ["lang"],
        [F.collect_set("n_chars").alias("p_vals")],
        [F.flatten(F.collect_list("p_vals")).alias("vals")],
        factor=8,
        hot_keys=hot,
    )
    return merged.select(
        "lang",
        F.size("vals").cast("bigint").alias("n_vals"),
        F.aggregate(
            "vals", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("sum_vals"),
    ).orderBy("lang")


@query(
    "segment_events_salted_join",
    oracle="""
    SELECT c_mktsegment AS segment,
           cast(count(*) as bigint) AS n_events,
           cast(count(DISTINCT user_id) as bigint) AS n_users
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1 ORDER BY 1
    """,
    survey="ops-ext: skew-safe equi-join through salted_join (salt the "
    "big side, explode-replicate the small side, join on key+salt) — "
    "the AQE-independent fallback SKEW_r13 measured at 1.7x on the "
    "40%-hot-key corpus at sf10",
)
def segment_events_salted_join(cat: Catalog) -> DataFrame:
    """Events⋈customer rollup by market segment executed through
    ``salted_join`` — the construction for a heavy-tailed probe side
    against a dimension too big to broadcast. The salt spreads each
    fact key over 8 sub-keys and replicates the 1-segment-column dim
    per salt; the result must equal the plain join exactly (the
    DuckDB twin runs the unsalted SQL). Integer outputs only (count +
    exact distinct), no float lineage."""
    from simple_etl_spark.operators.skew import salted_join

    ev = cat["events"].select(
        F.col("user_id").alias("c_custkey"), "event_id"
    )
    cust = cat["customer"].select("c_custkey", "c_mktsegment")
    j = salted_join(ev, cust, ["c_custkey"], factor=8)
    return (
        j.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("c_custkey").alias("n_users"),
        )
        .orderBy("segment")
    )


def topn_with_other(
    df,
    group_col: str,
    n: int,
    other_label: str = "Other",
):
    """Top-``n`` groups by count plus one residual "Other" row — the
    dashboard staple (every pie/bar chart the reference's Streamlit
    apps draw shows top categories + the lump).

    Scale shape: ONE aggregation over the fact table; the top-n cut
    and the residual sum are post-aggregation arithmetic on the
    |groups|-row frame (rank window + conditional re-agg) — the fact
    table is never re-scanned or re-labeled. Ties at the cut break by
    the group value ascending, so the result is total-order
    deterministic. ``Other`` is emitted only when nonempty, and the
    re-agg groups on (label, is_top) so a REAL group value that
    happens to equal ``other_label`` keeps its own row (is_top
    disambiguates) instead of being merged into the residual."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col(group_col).asc())
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    labeled = ranked.select(
        F.when(F.col("rnk") <= n, F.col(group_col))
        .otherwise(F.lit(other_label))
        .alias("label"),
        "cnt",
        (F.col("rnk") <= n).alias("is_top"),
    )
    # grouping on (label, is_top) — not label alone — keeps a REAL
    # group named like ``other_label`` separate from the residual lump
    return (
        labeled.groupBy("label", "is_top")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .select("label", "cnt", "is_top")
        .orderBy(F.col("is_top").desc(), F.col("cnt").desc(), F.col("label"))
    )


@query(
    "sources_topn_with_other",
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS cnt FROM documents GROUP BY source
    ),
    ranked AS (
        SELECT source, cnt,
               row_number() OVER (ORDER BY cnt DESC, source ASC) AS rnk
        FROM counts
    ),
    labeled AS (
        SELECT CASE WHEN rnk <= 5 THEN source ELSE 'Other' END AS label,
               cnt, rnk <= 5 AS is_top
        FROM ranked
    )
    SELECT label, cast(sum(cnt) as bigint) AS cnt, is_top
    FROM labeled GROUP BY label, is_top
    ORDER BY is_top DESC, cnt DESC, label
    """,
    survey="viz-ext: top-N categories + residual Other bucket (one fact "
    "aggregation; cut and lump are post-agg arithmetic)",
)
def sources_topn_with_other(cat: Catalog):
    """Top-5 document sources by count plus the 'Other' lump — the
    reference dashboards' category charts, computed without a second
    fact pass."""
    return topn_with_other(cat["documents"], "source", 5)


def time_weighted_mean(
    df,
    key_col: str,
    ts_col: str,
    value_col: str,
):
    """Time-weighted average of an irregularly sampled metric per key:
    each observation holds its value until the next one, so its weight
    is the duration to the successor — the correct mean for sampled
    gauges (a value sampled for an hour must outweigh one sampled for
    a second; the plain AVG treats them equally). Coverage is
    [first_ts, last_ts) per key: the final observation has no duration
    and contributes no weight, so a key with a single event has an
    empty coverage interval and is OMITTED from the output entirely
    (no row — callers wanting a placeholder row left-join this result
    onto their key spine).

    Exactness: value in integer cents × duration in integer
    microseconds. The duration sum telescopes to the key's span, but
    max_cents·span_us can still pass int64 (a 10^5-dollar gauge over a
    year is ~3×10^20), so the per-row product and its accumulator run
    in DECIMAL(38,0) — exact at any realistic scale, order-independent
    — and the exposed mean is ONE double division of exact sums,
    mirrored op-for-op in the oracle (whose bigint product would
    itself overflow without the same widening). The duration sum stays
    a plain long (bounded by the span).

    Scale shape: one shuffle on the key (the LEAD window), then the
    grouped sum — no self-join, no range join."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    # ntz → ltz cast is lossless under the engine's pinned-UTC session
    # (unix_micros rejects TIMESTAMP_NTZ directly)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    dur = F.lead(us).over(w) - us
    weighted = df.select(
        F.col(key_col),
        dur.alias("_dur"),
        (units(F.col(value_col)).cast("decimal(38,0)") * dur).alias("_wv"),
    ).filter(F.col("_dur").isNotNull())
    return (
        weighted.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("_dur").alias("span_us"),
            (
                F.sum("_wv").cast("double")
                / F.sum("_dur")
                / F.lit(100.0)
            ).alias("twa"),
        )
        .orderBy(key_col)
    )


@query(
    "events_time_weighted_value",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts))
                   - epoch_us(ts) AS dur,
               cast(floor(value * 100 + 0.5) as decimal(38,0)) AS cents
        FROM events
    )
    SELECT user_id, cast(count(*) as bigint) AS n_intervals,
           cast(sum(dur) as bigint) AS span_us,
           cast(sum(cents * dur) as double) / sum(dur) / 100.0 AS twa
    FROM seq WHERE dur IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
    survey="temporal-ext: time-weighted mean of an irregularly sampled "
    "gauge (telescoping integer-microsecond weights, exact long "
    "accumulation, one double division)",
)
def events_time_weighted_value(cat: Catalog):
    """Per-user time-weighted mean of events.value: each value holds
    until the user's next event; weights are exact microsecond
    durations."""
    return time_weighted_mean(cat["events"], "user_id", "ts", "value")


@query(
    "fk_integrity_audit",
    oracle="""
    SELECT fk, orphans FROM (
        SELECT 'customer->nation' AS fk, count(*) AS orphans
        FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE n.n_nationkey IS NULL
        UNION ALL
        SELECT 'lineitem->orders', count(*)
        FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IS NULL
        UNION ALL
        SELECT 'nation->region', count(*)
        FROM nation n LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_regionkey IS NULL
        UNION ALL
        SELECT 'orders->customer', count(*)
        FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_custkey IS NULL
        UNION ALL
        SELECT 'supplier->nation', count(*)
        FROM supplier s LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_nationkey IS NULL
    ) t ORDER BY fk
    """,
    survey="dq-ext: referential-integrity audit — per-FK orphan counts "
    "via anti-joins across the star (the warehouse health check the "
    "reference's FK constraints did declaratively in Postgres, "
    "services/staging_pg.py:76-88)",
)
def fk_integrity_audit(cat: Catalog):
    """Orphan-row counts for every foreign key in the star schema:
    each edge is a LEFT-ANTI join reduced to a single count — zero on
    consistent data, and the row that goes nonzero names the broken
    edge. Dimension-sized parents (nation, region, customer) carry an
    explicit broadcast hint so the child side keeps its partitioning
    at any scale; the one fact-sized parent (orders, in
    lineitem->orders) is left un-hinted — broadcasting a fact table
    would be wrong, so that edge shuffles on the key and AQE picks
    the strategy. The five probes are independent single-row
    aggregates unioned into one report."""
    edges = [
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey", True),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
        ("nation->region", "nation", "n_regionkey", "region", "r_regionkey", True),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey", True),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey", True),
    ]
    out = None
    for name, child, ck, parent, pk, bcast in edges:
        pside = cat[parent].select(pk)
        if bcast:
            pside = F.broadcast(pside)
        orphans = (
            cat[child]
            .join(
                pside,
                F.col(ck) == F.col(pk),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("orphans"))
            .select(F.lit(name).alias("fk"), "orphans")
        )
        out = orphans if out is None else out.unionByName(orphans)
    return out.orderBy("fk")


@query(
    "daily_revenue_ewma",
    oracle="""
    WITH daily AS (
        SELECT cast(o_orderdate as date) AS d,
               sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) AS cents
        FROM orders GROUP BY 1
    ),
    win AS (
        SELECT d, cents,
               list(cast(cents as double)) OVER (
                   ORDER BY d ROWS BETWEEN 29 PRECEDING AND CURRENT ROW
               ) AS lst
        FROM daily
    )
    SELECT d, cast(cents as double) / 100.0 AS revenue,
           cast(list_reduce(lst, (acc, x) -> acc * 0.8::double + x)
                / list_reduce(list_transform(lst, x -> 1.0::double),
                              (acc, x) -> acc * 0.8::double + 1.0::double)
                / 100.0 as decimal(18,2)) AS ewma_q
    FROM win ORDER BY d
    """,
    survey="W-ext: trailing-30-day EWMA trend (alpha=0.2) — the smoothing "
    "recursion as a SEQUENTIAL fold over the frame's collect_list, so "
    "both engines accumulate in the identical order (a windowed SUM of "
    "weighted terms would be segment-tree reorderable); window over the "
    "pre-aggregated daily frame only",
)
def daily_revenue_ewma(cat: Catalog) -> DataFrame:
    """Exponentially weighted 30-day revenue trend: daily exact-cent
    totals, then the EWM recursion s <- 0.8*s + x folded left-to-right
    over each row's trailing frame (first element seeds, exactly
    list_reduce's contract), normalized by the same fold over ones.
    Both engines execute the identical addition sequence; the exposed
    value is quantized to CENTS (2 dp) — at revenue magnitudes a
    30-step double fold holds ~8 safe sub-cent digits, so a 6-dp
    exposure put engine ulps in graded digits at sf0.1 (observed
    hash mismatch), while the cent boundary sits orders of magnitude
    above the fold's drift."""
    daily = (
        cat["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(units("o_totalprice")).alias("cents"))
    )
    w = Window.orderBy("d").rowsBetween(-29, 0)
    lst = F.collect_list(F.col("cents").cast("double")).over(w)
    s = F.expr(
        "aggregate(slice(_lst, 2, size(_lst) - 1), "
        "element_at(_lst, 1), (acc, x) -> acc * 0.8d + x)"
    )
    wsum = F.expr(
        "aggregate(slice(_lst, 2, size(_lst) - 1), "
        "1.0d, (acc, x) -> acc * 0.8d + 1.0d)"
    )
    return (
        daily.withColumn("_lst", lst)
        .select(
            "d",
            (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
            ((s / wsum) / F.lit(100.0)).cast("decimal(18,2)").alias("ewma_q"),
        )
        .orderBy("d")
    )


@query(
    "nation_share_of_region",
    oracle="""
    WITH nat AS (
        SELECT r.r_name AS region_name, n.n_name AS nation_name,
               sum(cast(floor(o.o_totalprice * 100 + 0.5) as bigint)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT region_name, nation_name,
           cast(cents as double) / 100.0 AS revenue,
           cast((1000 * cents) // sum(cents) OVER (PARTITION BY region_name)
                as bigint) AS share_permille
    FROM nat ORDER BY region_name, nation_name
    """,
    survey="W-ext: hierarchical percent-of-parent (nation share within "
    "region) — the window partitions the POST-AGG nations frame on the "
    "parent key; integer-permille share, engine-exact",
)
def nation_share_of_region(cat: Catalog) -> DataFrame:
    """Each nation's revenue and its integer-permille share of its
    region's total: the drill-down share every hierarchy dashboard
    renders. The share window runs over the aggregated (region,
    nation) frame — 25 rows — partitioned by the parent key; revenue
    accumulates as exact cents."""
    o, c = cat["orders"], cat["customer"]
    n, r = cat["nation"], cat["region"]
    nat = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(F.sum(units("o_totalprice")).alias("cents"))
    )
    w = Window.partitionBy("region_name")
    # `div` is exact integer division on longs — op-for-op with the
    # oracle's `//` (a floor of DOUBLE division can round up across an
    # ulp boundary and flip the last permille digit)
    nat2 = nat.withColumn("_rc", F.sum("cents").over(w))
    share = F.expr("(1000 * cents) div _rc").cast("bigint")
    return nat2.select(
        "region_name",
        "nation_name",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        share.alias("share_permille"),
    ).orderBy("region_name", "nation_name")


def content_checksum(df, cols: list[str]):
    """Order- and partition-independent content fingerprint of a
    relation: the exact decimal SUM of each row's 60-bit md5 integer
    over the named columns (null-safe concat with a field separator).
    Addition commutes, so any reshuffle, compaction, or replica of the
    same multiset of rows produces the identical checksum — the cheap
    equality probe run before a row-level diff (table_store's
    snapshot_diff) is worth its shuffle. Collisions need ~2^30 rows by
    birthday bound on 60 bits per row PLUS a matching sum — adequate
    for an integrity probe, not an adversarial MAC.

    Returns a 1-row frame (n_rows, checksum decimal(38,0))."""
    if not cols:
        raise ValueError("content_checksum needs at least one column")
    # per-column md5 BEFORE concatenation (the snapshot_diff idiom,
    # table_store.py): fixed-width hex per field means no separator
    # collisions — ('a|b','c') vs ('a','b|c') hash differently — and
    # the non-hex NULL sentinel cannot be forged by a string value
    payload = F.concat_ws(
        "|",
        *[
            F.coalesce(F.md5(F.col(c).cast("string")), F.lit("NULL"))
            for c in cols
        ],
    )
    h = F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("decimal(38,0)")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h).cast("decimal(38,0)").alias("checksum"),
    )


@query(
    "orders_content_checksum",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(sum(('0x' || substr(md5(
               concat_ws('|',
                   coalesce(md5(cast(o_orderkey as varchar)), 'NULL'),
                   coalesce(md5(cast(o_custkey as varchar)), 'NULL'),
                   coalesce(md5(cast(o_orderstatus as varchar)), 'NULL'),
                   coalesce(md5(cast(o_totalprice as varchar)), 'NULL'))),
               1, 15))::bigint) as decimal(38,0)) AS checksum
    FROM orders
    """,
    survey="dq-ext: order/partition-independent content checksum "
    "(commutative md5-sum fingerprint — the cheap replica/compaction "
    "equality probe)",
)
def orders_content_checksum(cat: Catalog) -> DataFrame:
    """Content fingerprint of the orders business columns: identical
    for any row order, partitioning, or storage layout of the same
    rows."""
    return content_checksum(
        cat["orders"],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    )


@query(
    "event_type_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', cast(ts as date)) AS x,
               count(*) AS y
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               cast(count(*) as bigint) AS n,
               cast(sum(x) as bigint) AS sx,
               cast(sum(y) as bigint) AS sy,
               cast(sum(x * y) as bigint) AS sxy,
               cast(sum(x * x) as bigint) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n,
           cast(cast(n * sxy - sx * sy as double)
                / (n * sxx - sx * sx) as decimal(18,6)) AS slope_q
    FROM m WHERE n * sxx - sx * sx <> 0
    ORDER BY event_type
    """,
    survey="analytics-ext: per-group least-squares trend slope from "
    "EXACT integer moments (n, Σx, Σy, Σxy, Σx²) — one grouped "
    "aggregation, one double division, engine-exact to 6 dp",
)
def event_type_daily_trend(cat: Catalog) -> DataFrame:
    """Is each event type's daily volume rising or falling? The
    least-squares slope of daily counts over the day index, computed
    from integer moments that accumulate exactly in longs (day indexes
    and counts are small; every product stays far inside int64), then
    ONE double division quantized to 6 dp — no per-row floats, no
    covariance UDF, and the oracle mirrors the arithmetic
    symbol-for-symbol. Degenerate groups (a single active day) are
    excluded rather than divided by zero."""
    daily = (
        cat["events"]
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("x"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / denom
    ).cast("decimal(18,6)")
    return (
        m.filter(denom != 0)
        .select("event_type", "n", slope.alias("slope_q"))
        .orderBy("event_type")
    )


def fd_violations(df, det_col: str, dep_col: str):
    """Functional-dependency check: does ``det_col`` determine
    ``dep_col``? Returns one row (n_groups, n_violating) where a
    violating group holds more than one distinct dependent value —
    the profiling primitive behind normalization decisions,
    dimension-key validation, and "is this column safe to
    de-duplicate on" questions.

    One grouped countDistinct (map-side partials on the det key),
    then a two-counter fold over the |groups| frame. Exact integers
    throughout."""
    per = df.groupBy(det_col).agg(
        F.countDistinct(dep_col).alias("_nd")
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("_nd") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating"),
    )


@query(
    "lineitem_fd_profile",
    oracle="""
    SELECT fk, n_groups, n_violating FROM (
        SELECT 'l_orderkey->l_returnflag' AS fk,
               cast(count(*) as bigint) AS n_groups,
               cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) as bigint)
                   AS n_violating
        FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS nd
              FROM lineitem GROUP BY l_orderkey) t
        UNION ALL
        SELECT 'l_orderkey->l_linestatus',
               cast(count(*) as bigint),
               cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) as bigint)
        FROM (SELECT l_orderkey, count(DISTINCT l_linestatus) AS nd
              FROM lineitem GROUP BY l_orderkey) t
    ) u ORDER BY fk
    """,
    survey="dq-ext: functional-dependency profile (violating-group "
    "counts per candidate FD — one grouped countDistinct each, exact "
    "integers)",
)
def lineitem_fd_profile(cat: Catalog):
    """Do lineitem's order-level columns actually depend on the order
    key? Violation counts for two candidate FDs — multi-line orders
    legitimately mix return flags and line statuses, and the profile
    quantifies exactly how often (the answer that decides whether a
    column can ride a dedupe or belongs in a child table)."""
    li = cat["lineitem"]
    out = None
    for dep in ["l_linestatus", "l_returnflag"]:
        row = fd_violations(li, "l_orderkey", dep).select(
            F.lit(f"l_orderkey->{dep}").alias("fk"),
            "n_groups",
            "n_violating",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk")


def grouped_mode(df, group_col: str, value_col: str):
    """Deterministic per-group MODE: the most frequent value with ties
    broken by the value ascending — unlike the engine-native ``mode()``
    aggregate, whose tie winner is evaluation-order-dependent and
    therefore unverifiable cross-engine. Counts aggregate first
    (map-side partials); the rank window runs over the
    |group × distinct value| post-agg frame, never the fact table.

    Returns (group, mode_value, mode_count)."""
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("cnt").desc(), F.col(value_col).asc()
    )
    return (
        counts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            group_col,
            F.col(value_col).alias("mode_value"),
            F.col("cnt").alias("mode_count"),
        )
    )


@query(
    "orders_priority_mode",
    oracle="""
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT o_orderstatus, o_orderpriority, cnt,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY cnt DESC, o_orderpriority ASC)
                   AS r
        FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_value, cnt AS mode_count
    FROM ranked WHERE r = 1 ORDER BY o_orderstatus
    """,
    survey="stats-ext: deterministic per-group mode (count rank with a "
    "value tie-break over the post-agg frame — the engine-native mode() "
    "aggregate's tie winner is evaluation-order-dependent and "
    "unverifiable cross-engine)",
)
def orders_priority_mode(cat: Catalog):
    """The most common order priority within each order status, with a
    deterministic tie-break (operators/relational.py:grouped_mode)."""
    return grouped_mode(cat["orders"], "o_orderstatus", "o_orderpriority").orderBy(
        "o_orderstatus"
    )


# ---------------------------------------------------------------------------
# Funnel analysis (ordered multi-stage conversion)
# ---------------------------------------------------------------------------


def funnel(
    df,
    stages: list[str],
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
):
    """Ordered conversion funnel: a key reaches stage i when its
    stage-i event strictly follows the time at which it reached stage
    i-1 — the earliest-chain greedy, which decides EXISTENCE of an
    ordered chain exactly (if any chain exists, the one built from
    earliest valid times exists). Returns one row per stage:
    (stage_idx, stage, keys_reached, conversion_permille) where the
    permille is vs the PREVIOUS stage (first stage reports 1000).

    Scale shape: one filtered keyed aggregation per stage — |stages|
    passes over the (pre-filtered) fact, each a map-side-combined min
    on the key; after the first shuffle the per-key frames co-locate,
    and no per-key event array is ever materialized (the sequence
    logic lives in the chained strict-inequality predicates, not in a
    collected list). The final stage tallies are |stages| scalars.
    Conversion permilles are integral division — engine-exact."""
    if len(stages) < 2:
        raise ValueError("funnel needs at least 2 stages")
    reached = (
        df.filter(F.col(type_col) == stages[0])
        .groupBy(key_col)
        .agg(F.min(ts_col).alias("_t0"))
    )
    counts = [("0", stages[0], reached)]
    for i, st in enumerate(stages[1:], start=1):
        nxt = (
            df.filter(F.col(type_col) == st)
            .join(reached, key_col)
            .filter(F.col(ts_col) > F.col(f"_t{i-1}"))
            .groupBy(key_col, f"_t{i-1}")
            .agg(F.min(ts_col).alias(f"_t{i}"))
        )
        counts.append((str(i), st, nxt))
        reached = nxt
    out = None
    for idx, st, frame in counts:
        row = frame.agg(F.count(F.lit(1)).alias("keys_reached")).select(
            F.lit(int(idx)).cast("bigint").alias("stage_idx"),
            F.lit(st).alias("stage"),
            "keys_reached",
        )
        out = row if out is None else out.unionByName(row)
    w = Window.orderBy("stage_idx")
    prev = F.lag("keys_reached").over(w)
    return out.select(
        "stage_idx",
        "stage",
        "keys_reached",
        F.when(prev.isNull(), F.lit(1000))
        .otherwise(
            F.expr(
                "CAST(1000 * keys_reached AS DECIMAL(38,0))"
                " div greatest(lag(keys_reached)"
                " OVER (ORDER BY stage_idx), 1)"
            )
        )
        .cast("bigint")
        .alias("conversion_permille"),
    ).orderBy("stage_idx")


@query(
    "events_funnel_stages",
    oracle="""
    WITH s0 AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s1 AS (
        SELECT e.user_id, min(e.ts) AS t1
        FROM events e JOIN s0 ON s0.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s0.t0
        GROUP BY e.user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    tallies AS (
        SELECT 0 AS stage_idx, 'view' AS stage,
               (SELECT count(*) FROM s0) AS keys_reached
        UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
    )
    SELECT cast(stage_idx as bigint) AS stage_idx, stage,
           cast(keys_reached as bigint) AS keys_reached,
           cast(CASE WHEN stage_idx = 0 THEN 1000
                     ELSE (1000 * keys_reached)
                          // greatest(lag(keys_reached)
                                      OVER (ORDER BY stage_idx), 1)
                END as bigint) AS conversion_permille
    FROM tallies ORDER BY stage_idx
    """,
    survey="funnel-ext: ordered multi-stage conversion (view→click→"
    "purchase earliest-chain semantics; per-stage keyed min "
    "aggregations, no per-key event arrays)",
)
def events_funnel_stages(cat: Catalog):
    """The view→click→purchase conversion funnel over the event stream
    with strict time ordering (a click before the first view does not
    count), one row per stage with a conversion_permille vs the prior
    stage. Registered alongside the round-4 ``events_funnel`` (one-row
    summary, >= anchor semantics) — the two differ in both shape and
    anchor strictness, so BOTH stay on the oracle surface."""
    return funnel(cat["events"], ["view", "click", "purchase"])
