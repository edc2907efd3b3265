"""Medallion pipeline queries (reference parity) + operational event
analytics + the SQL surface and service-tier aggregates.
Exports the shared payments-stream oracle fragment PAY_SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecommerce_data_pipeline_spark.functions import money_sum, money_sum_sql
from ecommerce_data_pipeline_spark.operators import curate as cu
from ecommerce_data_pipeline_spark.operators import dedup as dd
from ecommerce_data_pipeline_spark.operators import similarity as sim
from ecommerce_data_pipeline_spark.operators import text as tx
from ecommerce_data_pipeline_spark.operators import windows as win
from ecommerce_data_pipeline_spark.operators.dedup import kafka_identity_dedup
from ecommerce_data_pipeline_spark.operators.enrich import enrich_orders
from ecommerce_data_pipeline_spark.operators.fact import sales_minute_agg
from ecommerce_data_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media_features,
)
from ecommerce_data_pipeline_spark.operators.parse import (
    bronze_projection,
    parse_orders,
    parse_payments,
)
from ecommerce_data_pipeline_spark.operators.service import (
    cart_totals,
    inventory_counters,
)
from ecommerce_data_pipeline_spark.sources.events import (
    orders_events,
    payments_events,
    silver_orders_frame,
    silver_payments_frame,
)
from ecommerce_data_pipeline_spark.sources.parquet import load_table, register_views

from ecommerce_data_pipeline_spark.queries._registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    register,
)


# ---------------------------------------------------------------------------
# Shared oracle SQL fragments
# ---------------------------------------------------------------------------

# The deterministic payments stream, reconstructed in SQL exactly as
# sources/events.py derives it (integer-exact cents splits by orderkey residue).
PAY_SQL = """
pay_legs AS (
  SELECT o_orderkey AS order_key, o_orderdate AS order_ts,
    CASE
      WHEN o_orderkey % 10 = 1 THEN CAST(floor(CAST(round(o_totalprice*100) AS BIGINT)/2) AS BIGINT)
      WHEN o_orderkey % 10 = 2 THEN CAST(floor(CAST(round(o_totalprice*100) AS BIGINT)*6/10) AS BIGINT)
      WHEN o_orderkey % 10 = 3 THEN CAST(round(o_totalprice*100) AS BIGINT)
           + CAST(floor(CAST(round(o_totalprice*100) AS BIGINT)/10) AS BIGINT)
      ELSE CAST(round(o_totalprice*100) AS BIGINT)
    END AS amount_cents, 1 AS seq
  FROM orders WHERE o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey, o_orderdate,
    CAST(round(o_totalprice*100) AS BIGINT)
      - CAST(floor(CAST(round(o_totalprice*100) AS BIGINT)*6/10) AS BIGINT), 2
  FROM orders WHERE o_orderkey % 10 = 2
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderdate, CAST(999 AS BIGINT), 1
  FROM orders WHERE o_orderkey % 997 = 0
),
pay AS (
  SELECT 'payments.events' AS topic,
    CAST(order_key % 6 AS INTEGER) AS partition,
    row_number() OVER (PARTITION BY order_key % 6
      ORDER BY order_ts + to_seconds(30 + order_key % 570 + seq*60),
               CAST(order_key AS VARCHAR)) - 1 AS "offset",
    order_ts + to_seconds(30 + order_key % 570 + seq*60) AS kafka_timestamp,
    order_key, amount_cents
  FROM pay_legs
),
pay_agg AS (
  SELECT order_key, sum(amount_cents)/100.0 AS paid_raw,
         max(kafka_timestamp) AS last_ts
  FROM pay GROUP BY 1
),
enriched AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
    concat('user', CAST(o_custkey AS VARCHAR), '@example.com') AS user_id,
    round(o_totalprice, 2) AS total_amount,
    'USD' AS currency,
    round(coalesce(p.paid_raw, 0), 2) AS paid_amount,
    round(coalesce(p.paid_raw, 0), 2) >= round(o_totalprice, 2) AS fully_paid,
    date_trunc('second', o_orderdate) AS order_ts,
    p.last_ts AS last_payment_ts,
    greatest(date_trunc('second', o_orderdate),
             coalesce(p.last_ts, date_trunc('second', o_orderdate))) AS updated_ts,
    o_orderkey, o_orderdate
  FROM orders LEFT JOIN pay_agg p ON p.order_key = o_orderkey
)
"""

# DuckDB twin of operators.dedup._md5_long: first 15 hex chars of md5 as int64.
def md5_long_sql(expr: str) -> str:
    return (
        "CAST(list_sum([CAST(strpos('0123456789abcdef', substr(md5("
        + expr
        + "), i, 1)) - 1 AS BIGINT) * CAST(16**(15-i) AS BIGINT) "
        "for i in generate_series(1, 15)]) AS BIGINT)"
    )


def _anchor_join(df: DataFrame, anchor_col) -> DataFrame:
    """Cross-join a 1-row max() anchor (broadcast) for deterministic
    'relative to data head' time windows."""
    anchor = df.agg(anchor_col.alias("__anchor"))
    return df.crossJoin(F.broadcast(anchor))


# ---------------------------------------------------------------------------
# Medallion pipeline queries (reference parity)
# ---------------------------------------------------------------------------


@register(
    "silver_orders_clean",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
         CAST(o_orderkey % 6 AS INTEGER) AS part,
         row_number() OVER (PARTITION BY o_orderkey % 6
             ORDER BY o_orderdate + INTERVAL 1 SECOND,
                      CAST(o_orderkey AS VARCHAR)) - 1 AS off
  FROM orders
), items AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
SELECT 'orders.events' AS topic, part AS partition, off AS "offset",
  o_orderdate + INTERVAL 1 SECOND AS kafka_timestamp,
  'order.created' AS event_type,
  CAST(o_orderkey AS VARCHAR) AS order_id,
  concat('user', CAST(o_custkey AS VARCHAR), '@example.com') AS user_id,
  'USD' AS currency,
  round(o_totalprice, 2) AS total_amount,
  'CREATED' AS status,
  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS event_time,
  sha256(concat('evt:', CAST(o_orderkey AS VARCHAR))) AS event_id,
  date_trunc('second', o_orderdate) AS event_ts,
  CAST(date_trunc('second', o_orderdate) AS DATE) AS event_date,
  CAST(coalesce(i.n, 0) AS INTEGER) AS n_items
FROM base LEFT JOIN items i ON i.l_orderkey = o_orderkey
""",
)
def silver_orders_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze→silver for order.created: projection (P1) → W1 dedup →
    from_json parse (P2) → derived times (P3). Proves the JSON round trip is
    lossless; `items` is carried as its size (array-of-struct hashing is
    covered in unit tests)."""
    clean = silver_orders_frame(spark, sf_dir)
    return clean.select(
        "topic",
        "partition",
        "offset",
        "kafka_timestamp",
        "event_type",
        "order_id",
        "user_id",
        "currency",
        "total_amount",
        "status",
        "event_time",
        "event_id",
        "event_ts",
        "event_date",
        F.coalesce(F.size("items"), F.lit(0)).alias("n_items"),
    )


@register(
    "silver_payments_clean",
    oracle=f"""
WITH {PAY_SQL}
SELECT topic, partition, "offset", kafka_timestamp,
  CAST(order_key AS VARCHAR) AS order_id,
  amount_cents/100.0 AS amount,
  'USD' AS currency,
  'succeeded' AS status,
  CAST(NULL AS VARCHAR) AS method,
  sha256(concat('evt:payments.events:', CAST(partition AS VARCHAR), ':', CAST("offset" AS VARCHAR))) AS event_id,
  sha256(concat('pay:payments.events:', CAST(partition AS VARCHAR), ':', CAST("offset" AS VARCHAR))) AS payment_id,
  kafka_timestamp AS event_ts,
  CAST(kafka_timestamp AS DATE) AS event_date
FROM pay
""",
)
def silver_payments_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze→silver for payment.succeeded: flat-payload parse, cents→dollars,
    sha256 synthetic ids, Kafka-timestamp-as-event-time (silver_payments.py
    parity, including its quirks)."""
    clean = silver_payments_frame(spark, sf_dir)
    return clean.select(
        "topic",
        "partition",
        "offset",
        "kafka_timestamp",
        "order_id",
        "amount",
        "currency",
        "status",
        "method",
        "event_id",
        "payment_id",
        "event_ts",
        "event_date",
    )


@register(
    "order_payments_enriched",
    oracle=f"""
WITH {PAY_SQL}
SELECT order_id, user_id, total_amount, currency, paid_amount, fully_paid,
       order_ts, last_payment_ts, updated_ts
FROM enriched
""",
)
def order_payments_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full silver chain + A1/J1 enrichment: one row per order with
    paid_amount (coalesced 0.0), fully_paid, updated_ts
    (silver_enrich.py:32-44 semantics). Orphan payments drop out; unpaid /
    partial / split / overpaid orders all present via the fixture residues."""
    orders_clean = silver_orders_frame(spark, sf_dir)
    payments_clean = silver_payments_frame(spark, sf_dir)
    return enrich_orders(orders_clean, payments_clean)


@register(
    "fct_sales_minute",
    oracle=f"""
WITH {PAY_SQL}
SELECT date_trunc('minute', o_orderdate) AS minute_bucket,
  {money_sum_sql('total_amount')} AS gmv,
  count(*) AS paid_orders
FROM enriched WHERE fully_paid
GROUP BY 1
""",
)
def fct_sales_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gold fact end-to-end: events → silver → enrich → paid-only
    inner join → minute-bucket agg (fct_sales_minute.sql:8-41).
    processed_ts (current_timestamp) excluded — run-dependent."""
    orders_clean = silver_orders_frame(spark, sf_dir)
    payments_clean = silver_payments_frame(spark, sf_dir)
    enriched = enrich_orders(orders_clean, payments_clean)
    return sales_minute_agg(orders_clean, enriched).drop("processed_ts")


@register(
    "recent_sales_top10",
    oracle=f"""
WITH {PAY_SQL},
fct AS (
  SELECT date_trunc('minute', o_orderdate) AS minute_bucket,
    {money_sum_sql('total_amount')} AS gmv,
    count(*) AS paid_orders
  FROM enriched WHERE fully_paid GROUP BY 1
)
SELECT minute_bucket, gmv, paid_orders FROM fct
ORDER BY minute_bucket DESC LIMIT 10
""",
)
def recent_sales_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: the README dashboard query (README.md:159-162) — latest 10 minute
    buckets via operators.windows.top_k_recent. Physical plan is
    TakeOrderedAndProject: no global sort."""
    return win.top_k_recent(fct_sales_minute(spark, sf_dir), "minute_bucket", 10)


@register(
    "paid_orders_recent",
    oracle=f"""
WITH {PAY_SQL}
SELECT order_id, user_id, total_amount, paid_amount, updated_ts
FROM enriched WHERE fully_paid
ORDER BY updated_ts DESC, order_id LIMIT 20
""",
)
def paid_orders_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README.md:164-167: latest fully-paid orders over the enriched view."""
    return (
        order_payments_enriched(spark, sf_dir)
        .filter(F.col("fully_paid"))
        .orderBy(F.col("updated_ts").desc(), F.col("order_id"))
        .limit(20)
        .select("order_id", "user_id", "total_amount", "paid_amount", "updated_ts")
    )


# ---------------------------------------------------------------------------
# Operational event analytics (events table: dense 30-day stream)
# ---------------------------------------------------------------------------


@register(
    "events_minute_fact",
    oracle=f"""
SELECT date_trunc('minute', ts) AS minute_bucket,
  {money_sum_sql('value')} AS gmv,
  count(*) AS purchases
FROM events WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def events_minute_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 on the dense stream: per-minute purchase rollup."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute_bucket"))
        .agg(money_sum("value").alias("gmv"), F.count(F.lit(1)).alias("purchases"))
    )


@register(
    "events_last_hour",
    oracle=f"""
WITH fct AS (
  SELECT date_trunc('minute', ts) AS minute_bucket,
    {money_sum_sql('value')} AS gmv,
    count(*) AS purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT minute_bucket, gmv, purchases FROM fct
WHERE minute_bucket >= (SELECT max(minute_bucket) FROM fct) - INTERVAL 60 MINUTE
""",
)
def events_last_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: vw_sales_last_60min semantics, anchored at the data head (max
    bucket) instead of current_timestamp for determinism."""
    fct = events_minute_fact(spark, sf_dir)
    anchored = _anchor_join(fct, F.max("minute_bucket"))
    return anchored.filter(
        F.col("minute_bucket")
        >= F.timestamp_add("MINUTE", F.lit(-60), F.col("__anchor"))
    ).select("minute_bucket", "gmv", "purchases")


@register(
    "events_incremental_2h",
    oracle=f"""
SELECT date_trunc('minute', ts) AS minute_bucket,
  {money_sum_sql('value')} AS gmv,
  count(*) AS purchases
FROM events
WHERE event_type = 'purchase'
  AND ts >= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
GROUP BY 1
""",
)
def events_incremental_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/ST5: the 2-hour incremental lookback slice — the set of minute
    buckets a late-data MERGE run would recompute (fct_sales_minute.sql:35-40)."""
    ev = load_table(spark, sf_dir, "events")
    anchored = _anchor_join(ev, F.max("ts"))
    return (
        anchored.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.timestamp_add("HOUR", F.lit(-2), F.col("__anchor")))
        )
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute_bucket"))
        .agg(money_sum("value").alias("gmv"), F.count(F.lit(1)).alias("purchases"))
    )


@register(
    "freshness_by_type",
    oracle="""
SELECT event_type, max(ts) AS max_event_ts, count(*) AS n_events
FROM events GROUP BY 1
""",
)
def freshness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: freshness probe — max event time per stream (README.md:214-220)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max("ts").alias("max_event_ts"), F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "user_current_state",
    oracle="""
SELECT user_id, event_type AS current_state, ts AS state_ts
FROM (
  SELECT user_id, event_type, ts,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def user_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 as a batch view: last event per key = current state of the keyed
    state machine (order CREATED→PAID, shipment transitions)."""
    cur = win.current_state(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    )
    return cur.select(
        "user_id",
        F.col("event_type").alias("current_state"),
        F.col("ts").alias("state_ts"),
    )


@register(
    "user_sessions",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), ids AS (
  SELECT user_id, ts, value,
    -- CAST: DuckDB integer sum() yields HUGEINT (int128); Spark emits int64.
    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end,
  {money_sum_sql('value')} AS total_value
FROM ids GROUP BY 1, 2
""",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum."""
    return win.sessionize(load_table(spark, sf_dir, "events"))


@register(
    "events_json_props",
    oracle="""
SELECT event_id, user_id, ts,
  CAST(props->>'$.k' AS INTEGER) AS k_val
FROM events
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 on real stored JSON: schema-on-read extraction from the props blob."""
    from ecommerce_data_pipeline_spark.schemas import EVENT_PROPS_SCHEMA

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.from_json(F.col("props"), EVENT_PROPS_SCHEMA).getField("k").alias("k_val"),
    )


@register(
    "catalog_search_page",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part
WHERE contains(p_name, 'red')
ORDER BY p_partkey
LIMIT 50 OFFSET 20
""",
)
def catalog_search_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/O2: catalog substring search + deterministic keyset paging
    (services/catalog/app/api/products.py:20-35)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").contains("red"))
        .orderBy("p_partkey")
        .offset(20)
        .limit(50)
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# SQL surface (S4/S10): the same query text runs via spark.sql() and DuckDB
# ---------------------------------------------------------------------------

_SQL_SURFACE = """
SELECT date_trunc('minute', ts) AS minute_bucket,
       sum(CAST(round(value*100) AS BIGINT))/CAST(100.0 AS DOUBLE) AS gmv,
       count(*) AS purchases
FROM events
WHERE event_type = 'purchase'
GROUP BY date_trunc('minute', ts)
ORDER BY minute_bucket DESC
LIMIT 15
"""


@register("sql_recent_purchase_minutes", oracle=_SQL_SURFACE)
def sql_recent_purchase_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S10: the Trino-style interactive SQL surface — temp views +
    spark.sql() with dialect-shared SQL text (README.md:154-190). The exact
    same string is the oracle."""
    register_views(spark, sf_dir, tables=("events",))
    return spark.sql(_SQL_SURFACE)


# ---------------------------------------------------------------------------
# Service-tier aggregates (A5/A6)
# ---------------------------------------------------------------------------


@register(
    "cart_totals",
    oracle="""
SELECT l_orderkey AS order_id,
  CAST(count(*) AS BIGINT) AS n_items,
  sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice/l_quantity*100) AS BIGINT))/100.0 AS cart_total
FROM lineitem GROUP BY 1
""",
)
def q_cart_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: cents-exact cart total per order (routes.py:140-147 semantics)."""
    return cart_totals(load_table(spark, sf_dir, "lineitem"))


@register(
    "inventory_counters",
    oracle="""
SELECT l_partkey AS product_id,
  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS reserved_qty,
  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS committed_qty,
  count(*) AS n_movements
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY 1
""",
)
def q_inventory_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-product reserve/commit counters (inventory.py:52-125)."""
    return inventory_counters(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )




@register(
    "user_state_history",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_state
  FROM events),
changes AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id
  FROM ordered WHERE prev_state IS NULL OR prev_state <> event_type)
SELECT user_id, state, valid_from,
  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
    AS valid_to,
  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
    IS NULL AS is_current
FROM changes
""",
)
def q_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 state history — `dbt snapshot` semantics (the dimension-
    history feature of the reference's dbt tier) on the keyed state
    machine ST7 tracks only the head of: consecutive duplicate states
    collapse, each state CHANGE opens an interval [valid_from, valid_to),
    the open interval is flagged current.

    One shuffle on user_id; the change-detect lag and the interval-close
    lead share the same partitioning+ordering so Catalyst plans a single
    sort, and the lead runs on the already-collapsed change frame. The
    incremental write-side twin is operators/state.py:scd2_apply
    (O(batch) per run, tested incremental == rebuild)."""
    from ecommerce_data_pipeline_spark.operators.state import scd2_collapse

    ev = load_table(spark, sf_dir, "events")
    return scd2_collapse(
        ev, key_col="user_id", state_col="event_type", ts_col="ts",
        order_col="event_id",
    )


@register(
    "order_items_revenue",
    # Oracle recomputes from lineitem directly: the Spark side must carry
    # the items ARRAY<STRUCT> through to_json -> from_json -> explode
    # losslessly (price doubles included) to hash-match.
    oracle="""
SELECT CAST(l_partkey AS INTEGER) AS product_id,
  CAST(sum(CAST(l_quantity AS INTEGER)) AS BIGINT) AS qty_total,
  sum(CAST(l_quantity AS INTEGER)
      * CAST(round(l_extendedprice/l_quantity*100) AS BIGINT))/100.0
    AS revenue,
  count(*) AS n_lines
FROM lineitem
GROUP BY 1
""",
)
def q_order_items_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-array analytics through the full medallion chain: the
    silver orders' items ARRAY<STRUCT<product_id,qty,price>> (parsed out
    of the JSON envelope, silver_orders.py:52-67 contract) exploded into
    a per-product revenue rollup. Proves array-of-struct columns survive
    the to_json -> from_json round trip value-exact — the oracle never
    sees the JSON, it recomputes from lineitem. Explode is a no-shuffle
    generator; the only exchange is the product_id rollup (map-side
    partials first). Money in cents per the engine discipline."""
    from ecommerce_data_pipeline_spark.sources.events import silver_orders_frame

    so = silver_orders_frame(spark, sf_dir)
    it = so.select(F.explode("items").alias("it")).select(
        F.col("it.product_id").alias("product_id"),
        F.col("it.qty").alias("qty"),
        F.col("it.price").alias("price"),
    )
    return it.groupBy("product_id").agg(
        F.sum("qty").alias("qty_total"),
        (
            F.sum(
                F.col("qty") * F.round(F.col("price") * 100).cast("long")
            )
            / 100.0
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "scd2_point_in_time",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_state
  FROM events),
changes AS (
  SELECT user_id, event_type AS state, ts AS valid_from
  FROM ordered WHERE prev_state IS NULL OR prev_state <> event_type),
probes AS (
  SELECT event_id, user_id, ts, ts - INTERVAL 1 HOUR AS pts
  FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
  c.state AS state_1h_before, c.valid_from AS state_since
FROM probes p ASOF JOIN changes c
  ON p.user_id = c.user_id AND c.valid_from <= p.pts
""",
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time lookup (the lakehouse 'dimension AS OF fact
    time' join): for each purchase, the state the user was in ONE HOUR
    before it — an as-of join of probe timestamps against the SCD2
    history's change points. Because SCD2 intervals are non-overlapping,
    interval containment `valid_from <= t < valid_to` reduces to backward
    as-of against valid_from alone — no interval predicate, and the
    union-sort asof plan gives ONE shuffle of |probes|+|changes| rows on
    user_id (operators/asof.py) instead of a non-equi join's per-user
    cross product. Deterministic: (user_id, ts) is unique in the event
    stream, so every probe has exactly one greatest prior change.
    Purchases with no change ≥1 h old drop (inner as-of, matching
    DuckDB's ASOF JOIN)."""
    from ecommerce_data_pipeline_spark.operators.asof import asof_join
    from ecommerce_data_pipeline_spark.operators.state import scd2_collapse

    ev = load_table(spark, sf_dir, "events")
    history = scd2_collapse(
        ev, key_col="user_id", state_col="event_type", ts_col="ts"
    ).select("user_id", "state", "valid_from")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.timestamp_add("HOUR", F.lit(-1), F.col("ts")).alias("pts"),
    )
    out = asof_join(
        probes,
        history,
        on=["user_id"],
        left_ts="pts",
        right_ts="valid_from",
        value_cols=["state"],
        prefix="m_",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("m_state").alias("state_1h_before"),
        F.col("m_valid_from").alias("state_since"),
    )


@register(
    "variant_props_rollup",
    oracle="""
WITH x AS (
  SELECT event_type, CAST(props->>'$.k' AS INTEGER) AS k FROM events)
SELECT event_type, count(*) AS n,
  CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max
FROM x GROUP BY 1
""",
)
def q_variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured rollup through Spark 4's VARIANT type: parse_json
    into a binary variant (no up-front schema — the open-content model
    from_json can't give), typed path extraction with variant_get, then a
    plain hash agg. VARIANT keeps extraction JVM-side and shreds once at
    parse instead of re-tokenizing the JSON string per field access —
    at 100 TB of event blobs that's the difference between one decode and
    one per extracted path."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@register(
    "cdc_change_feed",
    # Delta Change-Data-Feed parity on plain parquet: bootstrap the table
    # with the even docs, then MERGE the %3 docs (text uppercased). The
    # captured change set tags rows already present (doc_id % 6 == 0) as
    # update_postimage and new keys (doc_id % 6 == 3) as insert; the
    # summary is closed-form from the id arithmetic.
    oracle="""
SELECT CASE WHEN doc_id % 2 = 0 THEN 'update_postimage' ELSE 'insert' END
         AS _change_type,
       count(*) AS n,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents WHERE doc_id % 3 = 0
GROUP BY 1
""",
)
def q_cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7's MERGE with change capture surfaced as a query: the merge
    returns its own change set (insert vs update_postimage, computed as a
    key-pruned semi/anti join pair BEFORE the table mutates — lake.py
    merge(capture_changes=True), the plain-parquet twin of Delta CDF).
    Downstream incremental consumers (gold refresh, replication) read
    this feed instead of diffing snapshots. Returns the per-change-type
    summary of the second (incremental) merge."""
    import tempfile

    from ecommerce_data_pipeline_spark.lake import ParquetTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    with tempfile.TemporaryDirectory(
        prefix="cdc_feed_", ignore_cleanup_errors=True
    ) as root:
        t = ParquetTable(f"{root}/docs")
        t.merge(spark, docs.filter(F.col("doc_id") % 2 == 0), keys=["doc_id"])
        updates = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
            "text", F.upper("text")
        )
        changes = t.merge(spark, updates, keys=["doc_id"], capture_changes=True)
        return (
            changes.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_id").alias("id_sum"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "table_time_travel",
    # Snapshot semantics, hash-checked: v0 = even docs; the mutation
    # rewrites %3 docs (uppercased) and inserts new keys. Reading VERSION
    # AS OF 0 must return the pre-mutation rows bit-for-bit, so the
    # summary diffs v0 against current per source: v0 docs, current docs,
    # and how many of v0's rows were replaced (their text changed).
    oracle="""
WITH v0 AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 2 = 0),
cur AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END AS text, source
  FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
)
SELECT source,
  (SELECT count(*) FROM v0 x WHERE x.source = s.source) AS v0_docs,
  (SELECT count(*) FROM cur x WHERE x.source = s.source) AS current_docs,
  (SELECT count(*) FROM v0 x JOIN cur c USING (doc_id)
   WHERE x.source = s.source AND x.text <> c.text) AS rows_rewritten
FROM (SELECT DISTINCT source FROM documents
      WHERE doc_id % 2 = 0 OR doc_id % 3 = 0) s
""",
)
def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-link time travel (Delta VERSION AS OF parity on plain parquet,
    lake.py:_archive/read_version): bootstrap v0, MERGE a mutation, then
    read BOTH the archived v0 snapshot and the current table and diff them
    per source. The oracle recomputes the diff from the mutation rule, so
    a snapshot that leaked post-mutation bytes (or a merge that failed to
    rewrite) breaks the hash."""
    import tempfile

    from ecommerce_data_pipeline_spark.lake import ParquetTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    with tempfile.TemporaryDirectory(
        prefix="time_travel_", ignore_cleanup_errors=True
    ) as root:
        t = ParquetTable(f"{root}/docs", keep_versions=3)
        t.merge(spark, docs.filter(F.col("doc_id") % 2 == 0), keys=["doc_id"])
        t.merge(
            spark,
            docs.filter(F.col("doc_id") % 3 == 0).withColumn(
                "text", F.upper("text")
            ),
            keys=["doc_id"],
        )
        v0 = t.read_version(spark, 0).select(
            "doc_id", F.col("text").alias("t0"), "source"
        )
        cur = t.read(spark).select("doc_id", F.col("text").alias("t1"))
        joined = v0.join(cur, "doc_id", "left")
        per_v0 = joined.groupBy("source").agg(
            F.count(F.lit(1)).alias("v0_docs"),
            F.sum(
                F.when(F.col("t1") != F.col("t0"), 1).otherwise(0)
            ).alias("rows_rewritten"),
        )
        cur_counts = (
            t.read(spark).groupBy("source").agg(F.count(F.lit(1)).alias("current_docs"))
        )
        return (
            cur_counts.join(per_v0, "source", "left")
            .select(
                "source",
                F.coalesce("v0_docs", F.lit(0)).alias("v0_docs"),
                "current_docs",
                F.coalesce("rows_rewritten", F.lit(0)).alias("rows_rewritten"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "schema_evolution_merge",
    # Delta mergeSchema parity on plain parquet: the update set carries a
    # NEW quality_score column; the merge sync_all_columns path must
    # null-backfill it for untouched rows and keep it for merged ones.
    # quality = round((doc_id % 100)/100.0, 2) only on %3 docs.
    oracle="""
WITH cur AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 3 = 0 THEN round((doc_id % 100) / 100.0, 2) END AS q
  FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
)
SELECT source,
  count(*) AS n_docs,
  count(q) AS n_with_quality,
  round(coalesce(sum(q), 0), 2) AS quality_sum
FROM cur GROUP BY source
""",
)
def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through MERGE (Delta mergeSchema parity,
    lake.py:sync_all_columns): bootstrap without the column, MERGE an
    update set that adds quality_score — pre-existing rows null-backfill,
    merged rows keep their values — then summarize the evolved table per
    source. The oracle derives the same summary from the mutation rule,
    so a dropped column, a mis-backfill, or a lost update all break it."""
    import tempfile

    from ecommerce_data_pipeline_spark.lake import ParquetTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    with tempfile.TemporaryDirectory(
        prefix="schema_evo_", ignore_cleanup_errors=True
    ) as root:
        t = ParquetTable(f"{root}/docs")
        t.merge(spark, docs.filter(F.col("doc_id") % 2 == 0), keys=["doc_id"])
        updates = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
            "quality_score", F.round((F.col("doc_id") % 100) / 100.0, 2)
        )
        t.merge(spark, updates, keys=["doc_id"])
        return (
            t.read(spark)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count("quality_score").alias("n_with_quality"),
                F.round(
                    F.coalesce(F.sum("quality_score"), F.lit(0.0)), 2
                ).alias("quality_sum"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "gdpr_delete_audit",
    # Keyed DELETE (right-to-be-forgotten) with its CDF pre-image feed:
    # bootstrap all docs, delete doc_id % 7 == 0, summarize survivors AND
    # the delete feed per source. Every deleted pre-image must carry
    # _change_type='delete' and match the closed-form doomed set.
    oracle="""
SELECT source,
  count(*) FILTER (WHERE doc_id % 7 <> 0) AS surviving_docs,
  count(*) FILTER (WHERE doc_id % 7 = 0) AS deleted_docs,
  CAST(coalesce(sum(doc_id) FILTER (WHERE doc_id % 7 = 0), 0) AS BIGINT)
    AS deleted_id_sum
FROM documents GROUP BY source
""",
)
def q_gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-by-key surface (Delta DELETE WHERE parity, the GDPR erasure
    path) end-to-end: bootstrap, delete the doomed key set with change
    capture, then join the surviving table's counts with the delete
    feed's per-source pre-image counts — proving rows left the table AND
    the CDF feed recorded exactly their pre-images."""
    import tempfile

    from ecommerce_data_pipeline_spark.lake import ParquetTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    with tempfile.TemporaryDirectory(
        prefix="gdpr_del_", ignore_cleanup_errors=True
    ) as root:
        t = ParquetTable(f"{root}/docs")
        t.merge(spark, docs, keys=["doc_id"])
        doomed = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        _removed, feed = t.delete_keys(
            spark, doomed, keys=["doc_id"], capture_changes=True
        )
        survivors = (
            t.read(spark)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("surviving_docs"))
        )
        deleted = (
            feed.filter(F.col("_change_type") == "delete")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("deleted_docs"),
                F.sum("doc_id").alias("deleted_id_sum"),
            )
        )
        return (
            survivors.join(deleted, "source", "full")
            .select(
                "source",
                F.coalesce("surviving_docs", F.lit(0)).alias("surviving_docs"),
                F.coalesce("deleted_docs", F.lit(0)).alias("deleted_docs"),
                F.coalesce("deleted_id_sum", F.lit(0)).alias("deleted_id_sum"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "incremental_view_refresh",
    # Change-feed-driven incremental maintenance of a JOIN+AGG view —
    # S9's gold MERGE generalized from a single-table rollup to a joined
    # view, the dbt-incremental/materialized-view pattern every lakehouse
    # runs. The driver's hash equality against this FULL-rebuild oracle IS
    # the incremental==rebuild proof.
    oracle=f"""
SELECT o.o_orderkey AS order_id,
  round(o.o_totalprice, 2) AS total_amount,
  {money_sum_sql('l.l_extendedprice')} AS legs_revenue,
  count(*) AS n_legs
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
""",
)
def q_incremental_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh of a materialized join view from a MERGE
    change feed (lake.py merge(capture_changes=True) — the Delta CDF
    twin): the view V = orders ⋈ per-order lineitem rollup is
    bootstrapped WITHOUT the held-out legs (all legs of every 7th order,
    plus the first leg of every 11th), the held-out batch is then MERGEd
    into the legs table, and V is refreshed by recomputing ONLY the
    orders the change feed names — a broadcast semi-join prunes both the
    legs scan and the orders scan to the affected keys, so refresh cost
    is O(changed orders), never a rebuild. The %7 orders exercise view
    INSERTs (no prior row), the %11 orders view UPDATEs (partial rollup
    replaced). Returns the refreshed view; the oracle recomputes it from
    scratch, so the driver hash proves incremental == full rebuild.

    Reference analogue: the dbt incremental gold model's MERGE contract
    (fct_sales_minute.sql:2-6) lifted from minute buckets to join keys.
    """
    import tempfile

    from ecommerce_data_pipeline_spark.lake import ParquetTable

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.round("o_totalprice", 2).alias("total_amount"),
    )
    legs = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("leg_no"),
        F.col("l_extendedprice").alias("amount"),
    )
    late = (F.col("order_id") % 7 == 0) | (
        (F.col("order_id") % 11 == 0) & (F.col("leg_no") == 1)
    )

    def view_rows(legs_df: DataFrame, orders_df: DataFrame) -> DataFrame:
        roll = legs_df.groupBy("order_id").agg(
            money_sum("amount").alias("legs_revenue"),
            F.count(F.lit(1)).alias("n_legs"),
        )
        return orders_df.join(roll, "order_id").select(
            "order_id", "total_amount", "legs_revenue", "n_legs"
        )

    with tempfile.TemporaryDirectory(prefix="ivr_", ignore_cleanup_errors=True) as root:
        legs_t = ParquetTable(f"{root}/legs")
        view_t = ParquetTable(f"{root}/view")
        legs_t.merge(spark, legs.filter(~late), keys=["order_id", "leg_no"])
        view_t.overwrite(view_rows(legs_t.read(spark), orders))
        # Incremental batch: MERGE the held-out legs, capture the change
        # feed, refresh only the named keys.
        changes = legs_t.merge(
            spark, legs.filter(late), keys=["order_id", "leg_no"],
            capture_changes=True,
        )
        affected = changes.select("order_id").distinct()
        refreshed = view_rows(
            legs_t.read(spark).join(F.broadcast(affected), "order_id"),
            orders.join(F.broadcast(affected), "order_id"),
        )
        # probe_insert_only=False: the refresh set ALWAYS overlaps the
        # view by construction (every %11 order already has a bootstrap
        # row), so the insert-only fast-path probe is a job this merge
        # can never win (lake.py documents exactly this caller class).
        view_t.merge(
            spark, refreshed, keys=["order_id"], probe_insert_only=False
        )
        return view_t.read(spark).localCheckpoint(eager=True)
