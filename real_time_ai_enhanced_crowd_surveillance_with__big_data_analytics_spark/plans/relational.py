"""Relational query plans over the driver testdata (SURVEY.md §2).

Each query is a (spark_fn, oracle_sql) pair: the Spark side is pure
DataFrame API (Catalyst does pushdown/pruning/join selection), the
oracle is ANSI SQL run by DuckDB on the same parquet. Column names are
aliased identically on both sides; floats are rounded in the output
layer only; timestamps are formatted to strings so value hashes agree.

Scale posture: every groupBy/join key here is either a broadcast-sized
dimension (nation/region/class-name — reference coco.names join,
main.py:211) or a high-cardinality key that hash-partitions evenly
(user_id, order key). AQE handles skew/coalesce at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.detections import CROWD_THRESHOLD
from ..operators.edge_trigger import rising_edges
from ..operators.topk import topk_per_group
from ..sources.tables import load_table

# Reference operating points (BASELINE.md): confidence>0.5 scaled onto the
# events.value domain; the crowd threshold (>3, main.py:232) is
# operators/detections.py's CROWD_THRESHOLD.
VALUE_THRESHOLD = 100.0
ALARM_THRESHOLD = 150.0


def _ts_str(col):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


# --- flagship: crowded frames (S1→P4→P5→A1→P10; reference main.py:210-233) --

def crowded_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Per (user, hour) event counts with crowd flag.

    Reference pipeline: confidence filter (main.py:210) → class-equality
    filter (main.py:211) → per-frame COUNT (main.py:226) → threshold
    (main.py:232). Filters sit directly on the scan (parquet pushdown);
    the single shuffle is the groupBy on (user_id, hour) — a
    high-cardinality composite key, partition-prunable by hour at scale.
    """
    events = load_table(spark, "events", sf)
    return (
        events
        .filter((F.col("value") > VALUE_THRESHOLD) & (F.col("event_type") == "click"))
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").alias("n_detections"))
        .select(
            "user_id",
            _ts_str(F.col("bucket")).alias("bucket_hour"),
            "n_detections",
            (F.col("n_detections") > CROWD_THRESHOLD).alias("crowded"),
        )
    )


CROWDED_FRAMES_SQL = f"""
SELECT user_id,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_hour,
       count(*) AS n_detections,
       count(*) > {CROWD_THRESHOLD} AS crowded
FROM events
WHERE value > {VALUE_THRESHOLD} AND event_type = 'click'
GROUP BY user_id, date_trunc('hour', ts)
"""


# --- TPC-H Q1 shape: pricing summary (A1 aggregation battery) ---------------

def pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped aggregate battery (the 'historical trend analysis' the
    reference promises, README.md:2, but never builds). Map-side partial
    aggregation + single shuffle on a 6-value key; scan reads only the
    7 referenced columns (column pruning)."""
    li = load_table(spark, "lineitem", sf)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- revenue by nation (J1 broadcast-dim joins at fact scale) ---------------

def revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """customer ⋈ orders ⋈ nation ⋈ region with explicit broadcasts of the
    dimensions (reference's positional coco.names lookup generalized,
    main.py:211). orders⋈customer shuffles on the customer key; nation
    and region never shuffle (broadcast hash joins)."""
    orders = load_table(spark, "orders", sf)
    customer = load_table(spark, "customer", sf)
    nation = load_table(spark, "nation", sf)
    region = load_table(spark, "region", sf)
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


REVENUE_BY_NATION_SQL = """
SELECT r_name, n_name,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --- top-k per group (W1; reference torch.topk main.py:80-81) ---------------

def top_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 orders by totalprice per customer; row_number window with a
    deterministic tiebreak (orderkey) pins reference topk's stable-sort
    semantics."""
    orders = load_table(spark, "orders", sf)
    return topk_per_group(
        orders,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rank")


TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


# --- rising-edge alarm (W2; reference main.py:171-185) ----------------------

def alarm_rising_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Edge-triggered alarms over the event stream in batch form: the
    alarm condition (value > threshold ≙ Fire_Reported) fires only on the
    False→True transition per user (camera analog). Single shuffle on
    user_id; lag/sum stay in codegen."""
    events = load_table(spark, "events", sf)
    flagged = rising_edges(
        events,
        F.col("value") > ALARM_THRESHOLD,
        key_cols=["user_id"],
        order_col="event_id",
        flag_name="alarm",
    )
    return flagged.filter(F.col("alarm_edge")).select(
        "user_id",
        "event_id",
        _ts_str(F.col("ts")).alias("ts_s"),
        F.round("value", 2).alias("value"),
        F.col("alarm_episode").alias("episode"),
    )


ALARM_RISING_EDGES_SQL = f"""
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         (value > {ALARM_THRESHOLD}) AS alarm,
         coalesce(lag(value > {ALARM_THRESHOLD})
                  OVER (PARTITION BY user_id ORDER BY event_id), false) AS prev_alarm
  FROM events
), flagged AS (
  SELECT *,
         CAST(sum(CASE WHEN alarm AND NOT prev_alarm THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS episode
  FROM lagged
)
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       round(value, 2) AS value,
       episode
FROM flagged
WHERE alarm AND NOT prev_alarm
"""


# --- conditional counts (A2; reference countNonZero main.py:168) ------------

def conditional_counts(spark: SparkSession, sf: str) -> DataFrame:
    """count_if per group — the mask-pixel count (countNonZero of the HSV
    inRange mask) as a relational conditional aggregate. Partial aggs
    map-side; one shuffle on the tiny event_type key."""
    events = load_table(spark, "events", sf)
    hot = F.col("value") > VALUE_THRESHOLD
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.sum(hot.cast("long")).alias("n_hot"),
        F.round(F.avg(hot.cast("double")), 6).alias("hot_ratio"),
    )


CONDITIONAL_COUNTS_SQL = f"""
SELECT event_type,
       count(*) AS n_total,
       CAST(sum(CASE WHEN value > {VALUE_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
       round(avg(CASE WHEN value > {VALUE_THRESHOLD} THEN 1.0 ELSE 0.0 END), 6) AS hot_ratio
FROM events
GROUP BY event_type
"""


# --- argmax per key (A3/A4; reference np.argmax main.py:108,207) ------------

def argmax_event(spark: SparkSession, sf: str) -> DataFrame:
    """Per user: the event with the maximum value (argmax with
    deterministic event_id tiebreak — reference argmax takes the first
    max, np.argmax semantics)."""
    events = load_table(spark, "events", sf)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("argmax_type"),
            F.round("value", 2).alias("max_value"),
            F.col("event_id").alias("argmax_event_id"),
        )
    )


ARGMAX_EVENT_SQL = """
SELECT user_id,
       event_type AS argmax_type,
       round(value, 2) AS max_value,
       event_id AS argmax_event_id
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


# --- anti-join (J5; reference UNIQUE-username insert views.py:49) -----------

def customers_without_events(spark: SparkSession, sf: str) -> DataFrame:
    """Left anti-join — the uniqueness/absence check (reference: UNIQUE
    username enforced before insert, views.py:49). At scale both sides
    hash-partition on the key; AQE converts to broadcast when the right
    side is small post-filter."""
    customer = load_table(spark, "customer", sf)
    events = load_table(spark, "events", sf)
    return (
        customer.join(events, customer.c_custkey == events.user_id, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_WITHOUT_EVENTS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
"""


# --- semi-join existence (A8/J4; reference len(indices)>0 main.py:127-130) --

def customers_with_errors(spark: SparkSession, sf: str) -> DataFrame:
    """Boolean existence as a semi-join: customers that produced at least
    one 'error' event (reference: fire present iff any surviving box)."""
    customer = load_table(spark, "customer", sf)
    events = load_table(spark, "events", sf)
    errs = events.filter(F.col("event_type") == "error")
    return (
        customer.join(errs, customer.c_custkey == errs.user_id, "left_semi")
        .select("c_custkey", "c_name")
    )


CUSTOMERS_WITH_ERRORS_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM events
              WHERE event_type = 'error' AND user_id = c_custkey)
"""


# --- rollup (historical trend analysis; SURVEY §2.4 note) -------------------

def event_trend_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP by (event_type, day): the camera × time-bucket × class
    trend rollup the reference's README promises. Grouping-set aggs are
    one shuffle; day buckets partition-prune at scale."""
    events = load_table(spark, "events", sf)
    return (
        events.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .rollup("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("event_type", "day", "n_events", "sum_value")
    )


EVENT_TREND_ROLLUP_SQL = """
SELECT event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY ROLLUP (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))
"""


# --- TPC-H Q3/Q10 shapes (fact-fact joins; SURVEY §2.3 note on SMJ) ---------

def shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    revenue per order, top 10. Both fact joins shuffle on their keys
    (Catalyst picks SMJ/broadcast by size); filters reach the scans."""
    customer = load_table(spark, "customer", sf)
    orders = load_table(spark, "orders", sf)
    lineitem = load_table(spark, "lineitem", sf)
    cutoff = "1998-06-01"
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            _ts_str(F.col("o_orderdate")).alias("order_date"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def returned_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: returned lineitems ⋈ orders ⋈ customer ⋈
    nation(broadcast), revenue per customer, top 20."""
    customer = load_table(spark, "customer", sf)
    orders = load_table(spark, "orders", sf)
    lineitem = load_table(spark, "lineitem", sf)
    nation = load_table(spark, "nation", sf)
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


RETURNED_REVENUE_SQL = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --- JSON extraction (Kafka-payload shape; SURVEY §2.8 note) ----------------

def props_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON payload parsing (events.props is a JSON object — the Kafka
    event-payload shape). get_json_object stays in codegen; at scale
    prefer from_json with an explicit schema once fields stabilize."""
    events = load_table(spark, "events", sf)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


PROPS_EXTRACT_SQL = """
SELECT event_type,
       count(*) AS n,
       min(CAST(props ->> '$.k' AS INT)) AS min_k,
       max(CAST(props ->> '$.k' AS INT)) AS max_k,
       round(avg(CAST(props ->> '$.k' AS INT)), 6) AS avg_k
FROM events
GROUP BY event_type
"""


def props_variant_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Same aggregate as ``props_extract`` through Spark 4's VARIANT
    type: ``parse_json`` shreds the payload once into the binary
    variant encoding and ``try_variant_get`` does typed path access —
    the schema-on-read path for payloads whose fields DON'T stabilize
    (where ``from_json`` with a fixed schema can't be written). Shares
    ``props_extract``'s oracle: two engine routes, one answer."""
    events = load_table(spark, "events", sf)
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


# --- sessionization (gap-based; classic event analytics) --------------------

SESSION_WINDOW_GAP_MIN = 30


def session_window_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user sessions via Spark's NATIVE ``session_window`` operator
    (the streaming-ready form: the identical groupBy runs under
    Structured Streaming with a watermark and merging session state,
    SPARK-10816), complementing ``sessionize``'s lag+running-sum batch
    twin. Semantics probed and mirrored exactly in the oracle: events
    merge while the gap is ≤ the 30-min window (strictly-greater gap
    opens a new session) at full microsecond precision, and the session
    end is last-event ts + gap. One shuffle on (user, session)."""
    events = load_table(spark, "events", sf)
    return (
        events.groupBy(
            F.session_window(
                "ts", f"{SESSION_WINDOW_GAP_MIN} minutes"
            ).alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            _ts_str(F.col("w.start")).alias("session_start"),
            _ts_str(F.col("w.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


SESSION_WINDOW_STATS_SQL = f"""
WITH lagged AS (
  SELECT user_id, event_id, value, ts,
         epoch_us(ts) AS tus,
         lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), marked AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR tus - prev > {SESSION_WINDOW_GAP_MIN * 60 * 1000000}
                 THEN 1 ELSE 0 END AS new_s
  FROM lagged
), numbered AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS sid
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL {SESSION_WINDOW_GAP_MIN} MINUTE,
                '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM numbered
GROUP BY user_id, sid
"""


# --- event analytics: funnel / retention / paths -----------------------------

def funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user
    converts a stage only with an event strictly AFTER their previous
    stage's first event (the classic product-analytics funnel, which a
    naive per-type count gets wrong on out-of-order users). Each stage
    frame is one row per converted user — orders of magnitude smaller
    than events — and is localCheckpointed so the next stage JOINS it
    instead of recomputing its whole upstream chain (without this the
    lazy DAG re-derives v inside c inside p: 8 shuffles instead of 4,
    3 event scans re-read per stage). Join strategy is left to AQE: at
    small SF the stage frame broadcasts, at 100 TB (stage frames are
    per-user, potentially 1e9 rows) it stays a user_id-keyed shuffle
    join sharing the aggregation's partitioning."""
    events = load_table(spark, "events", sf)
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint()
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint()
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    # global agg, NOT groupBy on the stage literals: an empty stage
    # must still yield its (stage, 0) row exactly like the oracle's
    # COUNT(*) over an empty CTE (groupBy over an empty frame emits
    # nothing and would drop the zero-conversion stage from the report)
    out = None
    for stage_df, stage, ord_ in ((v, "view", 1), (c, "click", 2), (p, "purchase", 3)):
        agg = stage_df.agg(F.count("*").alias("n_users")).select(
            F.lit(stage).alias("stage"),
            F.lit(ord_).cast("int").alias("stage_ord"),
            "n_users",
        )
        out = agg if out is None else out.unionAll(agg)
    return out


FUNNEL_CONVERSION_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 'view' AS stage, CAST(1 AS INTEGER) AS stage_ord, count(*) AS n_users FROM v
UNION ALL
SELECT 'click', CAST(2 AS INTEGER), count(*) FROM c
UNION ALL
SELECT 'purchase', CAST(3 AS INTEGER), count(*) FROM p
"""


def retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the week of their
    first event, counted once per subsequent active week. Two shuffles
    (first-event agg, cohort-week distinct count); week arithmetic is
    exact epoch math on Monday-truncated timestamps so both engines
    agree bit-for-bit."""
    events = load_table(spark, "events", sf)
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        activity.join(first, "user_id")
        .withColumn(
            "week_offset",
            (
                (F.unix_timestamp("wk") - F.unix_timestamp("cohort"))
                / 604800
            ).cast("long"),
        )
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count("*").alias("n_users"))
    )


RETENTION_COHORTS_SQL = """
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
       CAST((epoch(a.wk) - epoch(f.cohort)) / 604800 AS BIGINT) AS week_offset,
       count(*) AS n_users
FROM activity a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


PATH_MAX_EVENTS = 8


def user_event_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user behavioral path: the first PATH_MAX_EVENTS event types
    in (ts, event_id) order joined with '>' — the sequence-mining /
    markov-funnel input shape. One shuffle on user_id; the sort is
    per-group inside the aggregation buffer (array_sort over collected
    structs), never a global sort."""
    events = load_table(spark, "events", sf)
    return (
        events.groupBy("user_id")
        .agg(
            F.collect_list(
                F.struct("ts", "event_id", "event_type")
            ).alias("evs"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.array_join(
                F.transform(
                    F.slice(F.array_sort("evs"), 1, PATH_MAX_EVENTS),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path"),
            "n_events",
        )
    )


USER_EVENT_PATHS_SQL = f"""
SELECT user_id,
       array_to_string(
         list_slice(list(event_type ORDER BY ts, event_id),
                    1, {PATH_MAX_EVENTS}), '>') AS path,
       count(*) AS n_events
FROM events
GROUP BY user_id
"""


def markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user event-type transition matrix: P(next | prev) estimated
    over consecutive event pairs in (ts, event_id) order — the
    first-order behavioral model behind next-action prediction and
    anomaly scoring. One user-keyed window builds the pairs; the
    probability normalization is a window over the 25-row transition
    frame, not the corpus."""
    events = load_table(spark, "events", sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id", "ts", "event_id", F.col("event_type").alias("prev")
        )
        .withColumn("next", F.lead("prev").over(w))
        .filter(F.col("next").isNotNull())
    )
    counts = pairs.groupBy("prev", "next").agg(F.count("*").alias("n"))
    total_w = Window.partitionBy("prev")
    return counts.select(
        "prev",
        "next",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(total_w), 6
        ).alias("p"),
    )


MARKOV_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT user_id, event_type AS prev,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next
  FROM events
), counts AS (
  SELECT prev, next, count(*) AS n
  FROM pairs WHERE next IS NOT NULL
  GROUP BY prev, next
)
SELECT prev, next, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev), 6) AS p
FROM counts
"""


def frequent_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Path mining one order above ``markov_transitions``: every
    observed 3-step event-type path per user (consecutive in
    (ts, event_id) order) with its count and its LIFT over the
    first-order Markov expectation — ``lift = n_abc·n_b /
    (n_ab·n_bc)`` — the "is this journey more common than its steps
    predict" product-analytics readout (lift ≫ 1 = a real funnel,
    lift ≪ 1 = an avoided path).

    The lift is one e6-scaled integer division; counts are exact. The
    middle-state count n_b uses interior positions (events with both a
    predecessor and a successor), so the identity Σ_ac n_abc = n_b
    holds exactly per b — pinned in the test.

    Scale: one user-keyed shuffle builds the lead-chain (the
    sessionize posture); all aggregations land on the |types|³ ≤ 125
    path grid and the |types|² pair grid — corpus-independent.
    """
    events = load_table(spark, "events", sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chain = (
        events.select("user_id", "ts", "event_id", F.col("event_type").alias("a"))
        .withColumn("b", F.lead("a").over(w))
        .withColumn("c", F.lead("a", 2).over(w))
    )
    tri = (
        chain.filter(F.col("c").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count("*").alias("n_abc"))
    )
    pairs = (
        chain.filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_pair"))
    )
    mids = (
        chain.filter(F.col("c").isNotNull())
        .groupBy("b")
        .agg(F.count("*").alias("n_b"))
    )
    return (
        tri.join(
            F.broadcast(pairs.select(F.col("a"), F.col("b"), F.col("n_pair").alias("n_ab"))),
            ["a", "b"],
        )
        .join(
            F.broadcast(
                pairs.select(
                    F.col("a").alias("b"),
                    F.col("b").alias("c"),
                    F.col("n_pair").alias("n_bc"),
                )
            ),
            ["b", "c"],
        )
        .join(F.broadcast(mids), "b")
        .select(
            "a",
            "b",
            "c",
            "n_abc",
            "n_ab",
            "n_bc",
            "n_b",
            F.expr("(1000000 * n_abc * n_b) DIV (n_ab * n_bc)").alias("lift_e6"),
        )
    )


FREQUENT_PATHS_SQL = """
WITH chain AS (
  SELECT event_type AS a,
         lead(event_type) OVER uw AS b,
         lead(event_type, 2) OVER uw AS c
  FROM events
  WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
), tri AS (
  SELECT a, b, c, count(*) AS n_abc
  FROM chain WHERE c IS NOT NULL GROUP BY 1, 2, 3
), pairs AS (
  SELECT a, b, count(*) AS n_pair
  FROM chain WHERE b IS NOT NULL GROUP BY 1, 2
), mids AS (
  SELECT b, count(*) AS n_b FROM chain WHERE c IS NOT NULL GROUP BY 1
)
SELECT t.a, t.b, t.c,
       CAST(t.n_abc AS BIGINT) AS n_abc,
       CAST(ab.n_pair AS BIGINT) AS n_ab,
       CAST(bc.n_pair AS BIGINT) AS n_bc,
       CAST(m.n_b AS BIGINT) AS n_b,
       (1000000 * CAST(t.n_abc AS BIGINT) * m.n_b)
         // (CAST(ab.n_pair AS BIGINT) * bc.n_pair) AS lift_e6
FROM tri t
JOIN pairs ab ON ab.a = t.a AND ab.b = t.b
JOIN pairs bc ON bc.a = t.b AND bc.b = t.c
JOIN mids m ON m.b = t.b
"""


def bom_subtree_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Bill-of-materials subtree rollup via a RECURSIVE CTE — Spark 4's
    recursive-query surface exercised end to end (SPARK-24497), the
    hierarchy workload (org charts, BOM explosion, category trees)
    that previously forced a driver-side loop.

    The containment forest is derived deterministically from part
    keys: ``parent(p) = p DIV 10`` for p ≥ 10, roots are parts 0-9
    (root 0 is a legitimate singleton — no key 10-19 divides to 0).
    Per root: subtree part count, exact cents value, and max depth.
    Both engines run the structurally identical recursive SQL.

    Scale: recursion depth is log₁₀(max key) (4 here, bounded by the
    KEY WIDTH, not row count); each step is one equi-join of the
    frontier against the part table on the derived parent key — the
    same per-level BFS shape as spatial_two_hop_reach, now expressed
    in the engine's own recursion operator instead of a Python loop.
    """
    load_table(spark, "part", sf).createOrReplaceTempView("bom_part_v")
    return spark.sql(
        """
        WITH RECURSIVE reach(root, node, depth, cents) AS (
          SELECT p_partkey, p_partkey, 0,
                 CAST(round(p_retailprice * 100) AS BIGINT)
          FROM bom_part_v WHERE p_partkey < 10
          UNION ALL
          SELECT r.root, c.p_partkey, r.depth + 1,
                 CAST(round(c.p_retailprice * 100) AS BIGINT)
          FROM reach r JOIN bom_part_v c
            ON c.p_partkey DIV 10 = r.node AND c.p_partkey >= 10
        )
        SELECT root,
               count(*) AS n_parts,
               sum(cents) AS total_cents,
               CAST(max(depth) AS INT) AS max_depth
        FROM reach GROUP BY root
        """
    )


BOM_SUBTREE_ROLLUP_SQL = """
WITH RECURSIVE reach(root, node, depth, cents) AS (
  SELECT p_partkey, p_partkey, 0, CAST(round(p_retailprice * 100) AS BIGINT)
  FROM part WHERE p_partkey < 10
  UNION ALL
  SELECT r.root, c.p_partkey, r.depth + 1,
         CAST(round(c.p_retailprice * 100) AS BIGINT)
  FROM reach r JOIN part c
    ON c.p_partkey // 10 = r.node AND c.p_partkey >= 10
)
SELECT root,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(max(depth) AS INT) AS max_depth
FROM reach GROUP BY root
"""


def cohort_ltv_triangle(spark: SparkSession, sf: str) -> DataFrame:
    """Lifetime-value triangle: users cohorted by first-seen day, value
    accumulated per age week — the finance view on top of
    ``retention_cohorts`` (that query counts who comes back; this one
    tracks what they're WORTH as the cohort ages, the payback-period
    readout).

    Exact integers end to end: revenue in cents, cumulative LTV via a
    per-cohort window over the ≤5 age-week cells, per-user LTV as the
    e6-scaled declared-floor ratio against the FIXED cohort size (the
    denominator is the cohort's day-0 population, not the week's
    actives — the standard LTV convention).

    Scale: two user-keyed shuffles (first-seen agg, then the event join
    sharing that partitioning) and one aggregate onto the
    (cohort_day × age_week) grid — calendar-bounded; the cumulative
    window runs over ≤5 cells per cohort.
    """
    events = load_table(spark, "events", sf)
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    sizes = first_seen.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_size")
    )
    joined = events.join(first_seen, "user_id").select(
        "cohort_day",
        F.floor(
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            / 7
        ).cast("long").alias("age_week"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "user_id",
    )
    cells = joined.groupBy("cohort_day", "age_week").agg(
        F.countDistinct("user_id").alias("active_users"),
        F.sum("cents").alias("revenue_cents"),
    )
    cum = Window.partitionBy("cohort_day").orderBy("age_week").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cells.withColumn("cum_cents", F.sum("revenue_cents").over(cum))
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "age_week",
            "cohort_size",
            "active_users",
            "revenue_cents",
            "cum_cents",
            F.expr("(1000000 * cum_cents) DIV cohort_size").alias(
                "ltv_per_user_e6"
            ),
        )
    )


COHORT_LTV_TRIANGLE_SQL = """
WITH first_seen AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
  FROM events GROUP BY user_id
), sizes AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
  FROM first_seen GROUP BY cohort_day
), joined AS (
  SELECT f.cohort_day,
         CAST(floor(date_diff('day',
                    CAST(f.cohort_day AS DATE),
                    CAST(date_trunc('day', e.ts) AS DATE)) / 7.0) AS BIGINT)
           AS age_week,
         CAST(round(e.value * 100) AS BIGINT) AS cents,
         e.user_id
  FROM events e JOIN first_seen f USING (user_id)
), cells AS (
  SELECT cohort_day, age_week,
         CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM joined GROUP BY 1, 2
), cum AS (
  SELECT *, CAST(sum(revenue_cents) OVER (
    PARTITION BY cohort_day ORDER BY age_week
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
  FROM cells
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day, age_week,
       s.cohort_size, active_users, revenue_cents, cum_cents,
       (1000000 * cum_cents) // s.cohort_size AS ltv_per_user_e6
FROM cum c JOIN sizes s USING (cohort_day)
"""


SESSION_GAP_MIN = 60


def sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap
    from the previous event exceeds 60 min (lag + running sum — the
    batch twin of streaming session_window). One shuffle on user_id."""
    events = load_table(spark, "events", sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = (gap_s.isNull() | (gap_s > SESSION_GAP_MIN * 60)).cast("long")
    sessions = (
        events.withColumn("new_s", new_session)
        .withColumn(
            "session_seq",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        _ts_str(F.min("ts")).alias("session_start"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "duration_s"
        ),
    )


SESSIONIZE_SQL = f"""
WITH lagged AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
), marked AS (
  SELECT *, CASE WHEN gap_s IS NULL OR gap_s > {SESSION_GAP_MIN * 60}
                 THEN 1 ELSE 0 END AS new_s
  FROM lagged
), numbered AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM marked
)
SELECT user_id, session_seq,
       count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       max(CAST(floor(epoch(ts)) AS BIGINT))
         - min(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_s
FROM numbered
GROUP BY user_id, session_seq
"""


# --- as-of join (last event at-or-before each order date) -------------------

def asof_last_event(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: for each purchase event, the same user's last click
    strictly before it. Spark lacks a native as-of join; the
    equi-join-on-key + time predicate + argmax-per-left-row composition
    keeps it relational (shuffles only on the user key). At scale, salt
    hot users or pre-bucket both sides on user_id; the per-left-row
    argmax is a window over the join output, not a per-group
    merge_asof UDF."""
    events = load_table(spark, "events", sf)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user")) & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.desc_nulls_last("c_ts"), F.desc_nulls_last("click_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            _ts_str(F.col("p_ts")).alias("purchase_ts"),
            F.col("click_id").alias("last_click_id"),
            _ts_str(F.col("c_ts")).alias("last_click_ts"),
        )
    )


ASOF_LAST_EVENT_SQL = """
WITH purchases AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id AS c_user, event_id AS click_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
), joined AS (
  SELECT p.*, c.click_id, c.c_ts,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.c_ts DESC NULLS LAST,
                                     c.click_id DESC NULLS LAST) AS rn
  FROM purchases p
  LEFT JOIN clicks c ON c.c_user = p.p_user AND c.c_ts < p.p_ts
)
SELECT p_user AS user_id, purchase_id,
       strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       click_id AS last_click_id,
       strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
FROM joined WHERE rn = 1
"""


def asof_next_event(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of join WITH tolerance: for each click, the same
    user's first purchase within the next hour (or nulls). The
    tolerance bounds the join both ways (c_ts < p_ts ≤ c_ts + 1h),
    which is what makes the operator streamable — the same predicate
    drives the watermarked stream-stream interval join
    (streaming/runner.py::click_purchase_pairs), and in batch it keeps
    the per-key join output bounded instead of all-history."""
    events = load_table(spark, "events", sf)
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    w = Window.partitionBy("click_id").orderBy(
        F.asc_nulls_last("p_ts"), F.asc_nulls_last("purchase_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            _ts_str(F.col("c_ts")).alias("click_ts"),
            F.col("purchase_id").alias("next_purchase_id"),
            _ts_str(F.col("p_ts")).alias("next_purchase_ts"),
        )
    )


ASOF_NEXT_EVENT_SQL = """
WITH clicks AS (
  SELECT user_id AS c_user, event_id AS click_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), joined AS (
  SELECT c.*, p.purchase_id, p.p_ts,
         row_number() OVER (PARTITION BY c.click_id
                            ORDER BY p.p_ts ASC NULLS LAST,
                                     p.purchase_id ASC NULLS LAST) AS rn
  FROM clicks c
  LEFT JOIN purchases p ON p.p_user = c.c_user
    AND p.p_ts > c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
)
SELECT c_user AS user_id, click_id,
       strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       purchase_id AS next_purchase_id,
       strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS next_purchase_ts
FROM joined WHERE rn = 1
"""


# --- range join (proximity join; bucketized — no cartesian) ------------------

RANGE_WINDOW_S = 1800  # ±30 min


def clicks_near_purchases(spark: SparkSession, sf: str) -> DataFrame:
    """For each purchase, the count of same-user clicks within ±30
    minutes — a range/interval join. Bucketized equi-join
    (operators/range_join.py): the naive |Δt| theta join would be a
    per-user cartesian; bucketing keeps it hash-partitioned."""
    from ..operators.range_join import range_join

    events = load_table(spark, "events", sf)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    joined = range_join(
        purchases, clicks, "user_id", "p_ts", "c_ts", RANGE_WINDOW_S
    )
    return (
        joined.groupBy("user_id", "purchase_id")
        .agg(F.count("*").alias("n_nearby_clicks"))
    )


CLICKS_NEAR_PURCHASES_SQL = f"""
SELECT p.user_id, p.event_id AS purchase_id, count(*) AS n_nearby_clicks
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND abs(CAST(floor(epoch(p.ts)) AS BIGINT)
         - CAST(floor(epoch(c.ts)) AS BIGINT)) <= {RANGE_WINDOW_S}
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY p.user_id, p.event_id
"""


# --- approximate aggregates (the 100 TB forms; rows-only) --------------------

def approx_aggregates(spark: SparkSession, sf: str) -> DataFrame:
    """HLL++ distinct counts and t-digest percentiles per event_type —
    the bounded-memory, one-pass forms of distinct_stats /
    value_percentiles for 100 TB inputs.

    Oracle-checkable form (r5 was a perpetual ``no_oracle`` red): the
    sketch ESTIMATES are engine-specific and stay out of the output;
    what the output carries is (a) the exact statistics the sketches
    approximate and (b) booleans asserting each estimate landed inside
    its published error bound — HLL++ default rsd 0.05, checked at 3σ
    (15%); percentile_approx default accuracy 10 000 → rank error 1e-4,
    checked against the vastly looser exact p40..p60 / p90..p99 rank
    corridor. DuckDB's oracle computes the same exact columns and
    literal TRUE flags, so rows+schema+hash verify fully and an
    out-of-bounds sketch turns the row red instead of being
    unverifiable. Spark's sketches are order/partition-independent
    (hash-based HLL merge; rank-bounded KLL/t-digest within the
    corridor regardless of merge order), so the flags are
    deterministic. Accuracy is additionally asserted against tighter
    tolerances in tests/test_approx.py."""
    events = load_table(spark, "events", sf)
    # Plan shape matters here: mixing an exact COUNT DISTINCT with the
    # percentile/sketch buffers in ONE aggregate makes Catalyst insert
    # an Expand (x2 rows) and push every buffer through it — 5.4 s at
    # sf0.1. Split instead: (a) percentiles + sketches + count in one
    # pass (the six exact percentiles share one sort buffer via the
    # array form — seven independent percentile aggregates cost 10.8 s);
    # (b) exact distinct as its own two-phase hash agg (map-side
    # combine on (event_type, user_id)); broadcast-join the
    # event_type-cardinality results. ~0.9 s total, and each branch
    # stays a partial-aggregated shuffle at 100 TB.
    main = events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id").alias("_hll"),
        F.expr(
            "percentile(value, array(0.40, 0.5, 0.60, 0.90, 0.95, 0.99))"
        ).alias("_p"),
        F.expr("percentile_approx(value, array(0.5, 0.95))").alias("_ap"),
    )
    distinct = (
        events.groupBy("event_type", "user_id")
        .agg(F.lit(1))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )
    agg = main.join(F.broadcast(distinct), "event_type")
    return agg.select(
        "event_type",
        "n_events",
        "n_users",
        F.round(F.col("_p")[1], 6).alias("p50"),
        F.round(F.col("_p")[4], 6).alias("p95"),
        (
            F.abs(F.col("_hll") - F.col("n_users"))
            <= F.lit(0.15) * F.col("n_users")
        ).alias("hll_in_bounds"),
        (
            (F.col("_ap")[0] >= F.col("_p")[0])
            & (F.col("_ap")[0] <= F.col("_p")[2])
        ).alias("p50_in_bounds"),
        (
            (F.col("_ap")[1] >= F.col("_p")[3])
            & (F.col("_ap")[1] <= F.col("_p")[5])
        ).alias("p95_in_bounds"),
    )


APPROX_AGGREGATES_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       TRUE AS hll_in_bounds,
       TRUE AS p50_in_bounds,
       TRUE AS p95_in_bounds
FROM events
GROUP BY event_type
"""


# --- exact percentiles (SURVEY §2.4 'free in Spark' note) --------------------

def value_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``). At 100 TB swap in
    percentile_approx (t-digest) — same API shape, bounded memory."""
    events = load_table(spark, "events", sf)
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


VALUE_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
"""


def grid_exact_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact p50/p95/p99 per type WITHOUT the per-group memory
    concentration of ``percentile`` and WITHOUT t-digest error — the
    third rung of the quantile ladder this repo ships: when values
    snap to a bounded grid (cents), exact quantiles are one histogram
    aggregate plus a cumulative window over GRID CELLS. ``percentile``
    buffers every group value in executor memory (the 100 TB failure
    mode value_percentiles' docstring punts on); this form's state is
    the cents grid (≤ 49k cells/type here), corpus-size-independent.

    Lower-quantile spec (type-1 / SQL ``quantile_disc``): the smallest
    grid value whose cumulative count reaches ``ceil(p·n)`` — integer
    arithmetic all the way (``k = (p_num·n + 99) DIV 100``).
    """
    events = load_table(spark, "events", sf)
    hist = (
        events.select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per = Window.partitionBy("event_type")
    cum = (
        hist.withColumn("cum", F.sum("c").over(w))
        .withColumn("n", F.sum("c").over(per))
    )

    def q(p_num: int):
        k = F.expr(f"({p_num} * n + 99) DIV 100")
        return F.min(F.when(F.col("cum") >= k, F.col("cents"))).alias(
            f"p{p_num}_cents"
        )

    return cum.groupBy("event_type").agg(
        F.max("n").alias("n"), q(50), q(95), q(99)
    )


GRID_EXACT_PERCENTILES_SQL = """
WITH hist AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         count(*) AS c
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, cents,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM hist
)
SELECT event_type,
       max(n) AS n,
       min(CASE WHEN cum >= (50 * n + 99) // 100 THEN cents END) AS p50_cents,
       min(CASE WHEN cum >= (95 * n + 99) // 100 THEN cents END) AS p95_cents,
       min(CASE WHEN cum >= (99 * n + 99) // 100 THEN cents END) AS p99_cents
FROM cum GROUP BY event_type
"""


# --- rank-family ordered analytics -------------------------------------------

def value_rank_profile(spark: SparkSession, sf: str) -> DataFrame:
    """percent_rank / cume_dist / lag deltas per event_type over value —
    the remaining rank-family window functions in one partitioned pass
    (one shuffle on event_type; the order key (value, event_id) is
    tie-free so every engine ranks identically)."""
    events = load_table(spark, "events", sf)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.asc("value"), F.asc("event_id"))
    return events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.round("value", 6).alias("value"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.col("value") - F.lag("value", 1).over(w), 6).alias("step"),
    )


VALUE_RANK_PROFILE_SQL = """
SELECT event_id,
       round(value, 6) AS value,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       round(value - lag(value, 1) OVER w, 6) AS step
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
"""


# --- cumulative window frames ------------------------------------------------

def running_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Running revenue per customer (cumulative window frame) + first
    and latest order dates (first_value/last_value with explicit
    frames) — the ordered-analytics battery over a growing frame."""
    orders = load_table(spark, "orders", sf)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _ts_str(F.col("o_orderdate")).alias("order_date"),
        F.round(F.sum("o_totalprice").over(cum), 2).alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
        _ts_str(F.first("o_orderdate").over(cum)).alias("first_order_date"),
    )


RUNNING_REVENUE_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date,
       round(sum(o_totalprice) OVER w, 2) AS running_total,
       row_number() OVER w AS order_seq,
       strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S')
         AS first_order_date
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# --- RANGE-interval moving window (time-based frame) -------------------------

_EPOCH_DAY = "1990-01-01"


def moving_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-7-day order revenue per customer — a RANGE frame over a
    day number (rows-frames can't express "last 7 days": a day with
    many orders must contribute all of them, a quiet week none).

    The ORDER BY key is an integer day offset, so rangeBetween(-6, 0)
    is exact peer-group arithmetic on both engines (interval RANGE
    frames over raw timestamps differ in peer handling). Revenue sums
    in exact integer cents — frame membership varies the summation
    order, which would otherwise flip low bits between engines.
    """
    orders = load_table(spark, "orders", sf)
    day = F.datediff(F.col("o_orderdate"), F.lit(_EPOCH_DAY))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-6, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _ts_str(F.col("o_orderdate")).alias("order_date"),
        (F.sum(cents).over(w) / 100.0).alias("rev_7d"),
        F.count(F.lit(1)).over(w).alias("n_orders_7d"),
    )


MOVING_REVENUE_SQL = f"""
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w / 100.0 AS rev_7d,
       count(*) OVER w AS n_orders_7d
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '{_EPOCH_DAY}', o_orderdate)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# --- ntile decile segmentation -----------------------------------------------


def revenue_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Customers bucketed into revenue deciles (ntile), with per-decile
    totals — the RFM-style segmentation rollup. ntile's bucket-boundary
    arithmetic is specified identically in Spark and DuckDB (floor
    division of ordered rank), so the decile assignment is
    deterministic given the (total, custkey) tiebreak order.

    The un-partitioned ntile window funnels the per-customer aggregate
    (already reduced from the fact table) through one task — exact
    equal-count deciles are inherently a global total order. At 100 TB
    swap the boundary step for approx_percentile thresholds broadcast
    back over the aggregate (approximate bucket counts, no global
    sort); the exact form here is the oracle-checkable specification.
    """
    orders = load_table(spark, "orders", sf)
    per_cust = orders.groupBy("o_custkey").agg(
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias(
            "total_rev"
        )
    )
    w = Window.orderBy(F.desc("total_rev"), F.asc("o_custkey"))
    tiled = per_cust.select(
        "o_custkey", "total_rev", F.ntile(10).over(w).alias("decile")
    )
    return tiled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("total_rev"), 2).alias("decile_rev"),
        F.round(F.min("total_rev"), 2).alias("floor_rev"),
    )


REVENUE_DECILES_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_rev
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT o_custkey, total_rev,
         ntile(10) OVER (ORDER BY total_rev DESC, o_custkey ASC) AS decile
  FROM per_cust
)
SELECT decile, count(*) AS n_customers,
       round(sum(total_rev), 2) AS decile_rev,
       round(min(total_rev), 2) AS floor_rev
FROM tiled
GROUP BY decile
"""


# --- distinct-count aggregates ----------------------------------------------

def distinct_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Exact distinct counts per event_type (SURVEY §2.4: distinct-agg
    exposure). countDistinct is exact (two-phase partial dedup +
    merge); at 100 TB swap approx_count_distinct (HLL++, one pass,
    bounded memory) — not oracle-comparable since HLL implementations
    differ across engines, so the exact form carries the parity check."""
    events = load_table(spark, "events", sf)
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.date_trunc("day", "ts")).alias("n_days"),
        F.count("*").alias("n_events"),
    )


DISTINCT_STATS_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT date_trunc('day', ts)) AS n_days,
       count(*) AS n_events
FROM events
GROUP BY event_type
"""


# --- stratified sampling (training-data pipeline op; rows-only) --------------

SAMPLE_FRACTIONS = {"click": 0.5, "view": 0.25, "purchase": 1.0, "signup": 1.0, "error": 0.1}
# Portable stratified-sampling coin: two-round affine hash of event_id
# mod a large prime, reduced mod 1000 against per-mille fractions.
# Own multiplier (classic MINSTD 16_807) — deliberately distinct from
# training_data's SELECT_MULT 69_621 / SHARD_MULT 40_503 and
# indexing's split 48_271, so no two hash families are congruent
# (the r5 shard/split lesson). event_id is dense-sequential, which an
# affine map alone would keep sequential — the second round breaks the
# residue correlation with event_type assignment.
STRATA_P = 1_000_000_007
STRATA_MULT = 16_807
STRATA_ADD = 29


def stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class downsampling — the class-rebalancing primitive of
    training-data pipelines. Replaces ``sampleBy`` (engine-specific
    RNG, so it could only ever get a rows-only driver check) with the
    repo's portable two-round affine hash on event_id: keep a row iff
    ``hash % 1000 < frac·1000``. Same statistical contract (uniform
    acceptance per stratum, tests/test_approx.py keeps the 5-sigma
    Bernoulli bound), but byte-identical across engines — full
    hash-parity oracle, and at 100 TB the sample is reproducible across
    reruns/engines, which seeded RNG sampling is not (partition-order
    dependent). Plan: one scan + filter (no shuffle before the bounded
    groupBy); the hash costs two fused int ops per row."""
    events = load_table(spark, "events", sf)
    cases = None
    for et, frac in SAMPLE_FRACTIONS.items():
        per_mille = F.lit(int(round(frac * 1000)))
        cases = (F if cases is None else cases).when(
            F.col("event_type") == et, per_mille
        )
    r1 = ((F.col("event_id") % STRATA_P) * STRATA_MULT + STRATA_ADD) % STRATA_P
    coin = ((r1 * STRATA_MULT + STRATA_ADD) % STRATA_P) % 1000
    sampled = events.filter(coin < cases.otherwise(F.lit(0)))
    return sampled.groupBy("event_type").agg(
        F.count("*").alias("n_sampled"),
        F.min("event_id").alias("first_event"),
    )


def _strata_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{et}' THEN {int(round(frac * 1000))}"
        for et, frac in SAMPLE_FRACTIONS.items()
    )
    return f"CASE event_type {whens} ELSE 0 END"


STRATIFIED_SAMPLE_SQL = f"""
SELECT event_type,
       count(*) AS n_sampled,
       min(event_id) AS first_event
FROM events
WHERE ((((event_id % {STRATA_P}) * {STRATA_MULT} + {STRATA_ADD})
        % {STRATA_P}) * {STRATA_MULT} + {STRATA_ADD})
      % {STRATA_P} % 1000 < {_strata_case_sql()}
GROUP BY event_type
"""


# --- pivot / cube (grouping-set battery) -------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def event_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot event_type to columns per user (explicit category list —
    at scale an unlisted pivot needs an extra distinct pass)."""
    events = load_table(spark, "events", sf)
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


EVENT_PIVOT_SQL = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY user_id
"""


def event_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Melt (UNPIVOT) the per-user pivot back to long format — the
    reshape pair to event_pivot, exercising Spark's native ``unpivot``
    (wide metric columns → (key, metric, value) rows). Zero cells drop
    on both engines, so the round trip reproduces the sparse long layout
    the pivot started from."""
    events = load_table(spark, "events", sf)
    wide = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )
    return wide.unpivot(
        "user_id", list(EVENT_TYPES), "event_type", "n_events"
    ).filter(F.col("n_events") > 0)


EVENT_UNPIVOT_SQL = """
WITH wide AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
  FROM events
  GROUP BY user_id
)
SELECT user_id, event_type, n_events
FROM wide UNPIVOT (n_events FOR event_type IN (click, error, purchase, signup, view))
WHERE n_events > 0
"""


def event_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (event_type, day) — all grouping sets in one shuffle.

    avg(value) via integer-exact cents (tools/round_margin_audit.py
    measured the float avg within 3e-10 quanta of a 6dp rounding
    midpoint — ``value`` lives on a 0.01 grid, so group means land
    exactly on midpoints and summation-order jitter decides the
    rounded value): sum cents as int64 (exact, order-free), divide by
    n once, floor(x+0.5) — the same deterministic double in every
    engine/partitioning."""
    events = load_table(spark, "events", sf)
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (
        events.withColumn(
            "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
        )
        .withColumn("cents", cents)
        .cube("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.floor(
                    F.sum("cents") * F.lit(10000.0) / F.count("*") + F.lit(0.5)
                ) / F.lit(1000000.0)
            ).alias("avg_value"),
        )
    )


EVENT_CUBE_SQL = """
SELECT event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n_events,
       floor(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
             * 10000.0 / count(*) + 0.5) / 1000000.0 AS avg_value
FROM events
GROUP BY CUBE (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))
"""


# --- explicit GROUPING SETS with grouping_id ---------------------------------

def event_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Hand-picked grouping sets — (event_type, day), (event_type), ()
    — with grouping_id disambiguating the null-vs-rollup levels.
    Unlike cube/rollup this computes ONLY the requested sets (cube on k
    cols computes 2^k); all sets still share one shuffle. The
    per-(type, day) set is the fine-grained trend table, (type) the
    per-class totals, () the grand total — the reference dashboard's
    three zoom levels in one pass."""
    events = load_table(spark, "events", sf)
    with_day = events.withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    with_day.createOrReplaceTempView("_ev_gs")
    return spark.sql(
        """
        SELECT event_type, day,
               CAST(grouping_id(event_type, day) AS INT) AS gid,
               count(*) AS n_events,
               -- 1e2 not 100.0: Spark SQL parses a 100.0 literal as
               -- DECIMAL, which would make sum_value DECIMAL('3832.70')
               -- vs the oracle's DOUBLE ('3832.7') and break the hash
               round(sum(CAST(round(value * 100) AS BIGINT)) / 1e2, 2)
                 AS sum_value
        FROM _ev_gs
        GROUP BY GROUPING SETS ((event_type, day), (event_type), ())
        """
    )


EVENT_GROUPING_SETS_SQL = """
SELECT event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(grouping(event_type) * 2
            + grouping(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS INT)
         AS gid,
       count(*) AS n_events,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
FROM events
GROUP BY GROUPING SETS
  ((event_type, strftime(date_trunc('day', ts), '%Y-%m-%d')),
   (event_type), ())
"""


# --- z-score outlier detection -----------------------------------------------

Z_THRESHOLD = 3.0


def value_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Events whose value deviates > 3σ from their event_type's mean —
    the 'predictive modeling' anomaly primitive the reference paper
    promises (p.3) with none built. Population std over exact per-type
    aggregates: one shuffle computes (n, Σv, Σv²) per type; the z-score
    predicate is a broadcast join back — the fact table shuffles once,
    the stats relation is k rows. Both engines compute std from the
    same Σ/Σ² floats, and z rounds before the compare to pin the
    boundary rows."""
    events = load_table(spark, "events", sf)
    stats = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    ).select(
        "event_type",
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt(F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) ** 2).alias(
            "sigma"
        ),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6)
    return (
        events.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "event_id",
            F.round("value", 2).alias("value_r"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > Z_THRESHOLD)
    )


VALUE_OUTLIERS_SQL = f"""
WITH stats AS (
  SELECT event_type, sum(value) / count(*) AS mu,
         sqrt(sum(value * value) / count(*)
              - (sum(value) / count(*)) * (sum(value) / count(*))) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_type, e.event_id, round(e.value, 2) AS value_r,
       round((e.value - s.mu) / s.sigma, 6) AS z
FROM events e JOIN stats s USING (event_type)
WHERE abs(round((e.value - s.mu) / s.sigma, 6)) > {Z_THRESHOLD}
"""


RELATIONAL_QUERIES = {
    "crowded_frames": (crowded_frames, CROWDED_FRAMES_SQL),
    "pricing_summary": (pricing_summary, PRICING_SUMMARY_SQL),
    "revenue_by_nation": (revenue_by_nation, REVENUE_BY_NATION_SQL),
    "top_orders_per_customer": (top_orders_per_customer, TOP_ORDERS_SQL),
    "alarm_rising_edges": (alarm_rising_edges, ALARM_RISING_EDGES_SQL),
    "conditional_counts": (conditional_counts, CONDITIONAL_COUNTS_SQL),
    "argmax_event": (argmax_event, ARGMAX_EVENT_SQL),
    "customers_without_events": (customers_without_events, CUSTOMERS_WITHOUT_EVENTS_SQL),
    "customers_with_errors": (customers_with_errors, CUSTOMERS_WITH_ERRORS_SQL),
    "event_trend_rollup": (event_trend_rollup, EVENT_TREND_ROLLUP_SQL),
    "shipping_priority": (shipping_priority, SHIPPING_PRIORITY_SQL),
    "returned_revenue": (returned_revenue, RETURNED_REVENUE_SQL),
    "props_extract": (props_extract, PROPS_EXTRACT_SQL),
    "props_variant_extract": (props_variant_extract, PROPS_EXTRACT_SQL),
    "sessionize": (sessionize, SESSIONIZE_SQL),
    "session_window_stats": (session_window_stats, SESSION_WINDOW_STATS_SQL),
    "funnel_conversion": (funnel_conversion, FUNNEL_CONVERSION_SQL),
    "retention_cohorts": (retention_cohorts, RETENTION_COHORTS_SQL),
    "user_event_paths": (user_event_paths, USER_EVENT_PATHS_SQL),
    "markov_transitions": (markov_transitions, MARKOV_TRANSITIONS_SQL),
    "frequent_paths": (frequent_paths, FREQUENT_PATHS_SQL),
    "bom_subtree_rollup": (bom_subtree_rollup, BOM_SUBTREE_ROLLUP_SQL),
    "cohort_ltv_triangle": (cohort_ltv_triangle, COHORT_LTV_TRIANGLE_SQL),
    "grid_exact_percentiles": (
        grid_exact_percentiles,
        GRID_EXACT_PERCENTILES_SQL,
    ),
    "asof_last_event": (asof_last_event, ASOF_LAST_EVENT_SQL),
    "asof_next_event": (asof_next_event, ASOF_NEXT_EVENT_SQL),
    "value_percentiles": (value_percentiles, VALUE_PERCENTILES_SQL),
    "distinct_stats": (distinct_stats, DISTINCT_STATS_SQL),
    "value_rank_profile": (value_rank_profile, VALUE_RANK_PROFILE_SQL),
    "running_revenue": (running_revenue, RUNNING_REVENUE_SQL),
    "moving_revenue": (moving_revenue, MOVING_REVENUE_SQL),
    "revenue_deciles": (revenue_deciles, REVENUE_DECILES_SQL),
    "clicks_near_purchases": (clicks_near_purchases, CLICKS_NEAR_PURCHASES_SQL),
    "approx_aggregates": (approx_aggregates, APPROX_AGGREGATES_SQL),
    "stratified_sample": (stratified_sample, STRATIFIED_SAMPLE_SQL),
    "event_pivot": (event_pivot, EVENT_PIVOT_SQL),
    "event_unpivot": (event_unpivot, EVENT_UNPIVOT_SQL),
    "event_cube": (event_cube, EVENT_CUBE_SQL),
    "event_grouping_sets": (event_grouping_sets, EVENT_GROUPING_SETS_SQL),
    "value_outliers": (value_outliers, VALUE_OUTLIERS_SQL),
}
