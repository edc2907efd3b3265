"""Streaming layer (ST1-ST5) + state machines + Kafka wire shapes +
assorted enrichment queries registered alongside them."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecommerce_data_pipeline_spark.functions import money_sum, money_sum_sql
from ecommerce_data_pipeline_spark.operators import curate as cu
from ecommerce_data_pipeline_spark.operators import dedup as dd
from ecommerce_data_pipeline_spark.operators.postings import write_batch_output
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
from ecommerce_data_pipeline_spark.session import run_independent, scoped_conf
from ecommerce_data_pipeline_spark.sources.parquet import load_table, register_views
from ecommerce_data_pipeline_spark.streaming.statestore import rocksdb_state

from ecommerce_data_pipeline_spark.queries._registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    register,
)
from ecommerce_data_pipeline_spark.queries.llm_text import (  # noqa: F401
    _COSINE_SQL,
    _sw_list,
    _WORDS_SQL,
)
from ecommerce_data_pipeline_spark.queries.medallion import PAY_SQL


# ---------------------------------------------------------------------------
# Streaming layer (ST1-ST5) + ST7 state machine as registry queries
# ---------------------------------------------------------------------------


# Wall-clock phase breakdown of the last q_streaming_fct_sales_minute run:
# the query's elapsed time is dominated by micro-batch trigger machinery
# (checkpoint setup + N availableNow batches), not compute — bench.py
# reports this split so the streaming tax is not read as operator cost.
STREAMING_PHASES: dict[str, float] = {}

# Stateful operators latch their state-store partition count from the
# session conf at stream START; 32-64 state-store partitions for a
# fixture-sized key space is pure per-batch setup churn. Sizing state
# partitions to key cardinality is standard stateful-streaming tuning (it
# also makes a State Data Source read 8 tasks); the stateful queries below
# scope it around their run and restore it after.
_STATE_PARTITIONS = {"spark.sql.shuffle.partitions": "8"}


@register(
    "streaming_fct_sales_minute",
    # Same oracle as fct_sales_minute: micro-batched ingest through the
    # checkpointed streaming medallion must land on the identical gold fact.
    oracle=f"""
WITH {PAY_SQL}
SELECT date_trunc('minute', o_orderdate) AS minute_bucket,
  {money_sum_sql('total_amount')} AS gmv,
  count(*) AS paid_orders
FROM enriched WHERE fully_paid
GROUP BY 1
""",
)
def q_streaming_fct_sales_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1-ST4 end-to-end: stage the event streams as files, ingest them as
    checkpointed micro-batches (availableNow; maxFilesPerTrigger=2 over 4
    files → 2 bronze batches/stream; silver drains in 1 batch — multi-batch
    silver MERGE semantics live in tests/test_streaming.py's dedicated
    silver_batches=2 run, not the bench path), run silver as foreachBatch
    MERGE, then enrich+gold — and return the gold fact. Equality with the
    batch oracle proves trigger-shape independence."""
    import tempfile
    import time

    from ecommerce_data_pipeline_spark import pipeline as pl
    from ecommerce_data_pipeline_spark.streaming import (
        run_streaming_pipeline,
        stage_event_files,
    )

    with tempfile.TemporaryDirectory(
        prefix="stream_fct_", ignore_cleanup_errors=True
    ) as root:
        t0 = time.time()
        o_src, p_src = f"{root}/src/orders", f"{root}/src/payments"
        # The two topic stagings are independent fixture writes — overlap
        # them so the second write's tasks back-fill executors freed by the
        # first's tail (r17).
        o_ev, p_ev = orders_events(spark, sf_dir), payments_events(spark, sf_dir)
        o_schema, p_schema = run_independent(
            lambda: stage_event_files(spark, o_ev, o_src),
            lambda: stage_event_files(spark, p_ev, p_src),
        )
        STREAMING_PHASES["stage_fixture_files_sec"] = round(time.time() - t0, 3)
        # Unpartitioned silver: the fixture's order dates scatter uniformly
        # over ~7 years, so date-partitioned micro-batch merges would rewrite
        # every partition every batch (see Lakehouse docstring).
        lake = pl.Lakehouse(f"{root}/lake", partition_silver=False)
        t0 = time.time()
        run_streaming_pipeline(
            spark,
            lake,
            o_src,
            p_src,
            o_schema,
            p_schema,
            f"{root}/ckpt",
            phases=STREAMING_PHASES,
        )
        STREAMING_PHASES["drain_batches_sec"] = round(time.time() - t0, 3)
        # Pin the (minute-grain, small) fact in the block manager so the
        # working tree — staged streams, lakehouse, checkpoints — can be
        # deleted before returning; repeated registry runs must not
        # accumulate temp dirs.
        return (
            lake.fct_sales_minute.read(spark)
            .drop("processed_ts")
            .localCheckpoint(eager=True)
        )


@register(
    "order_status_current",
    oracle=f"""
WITH {PAY_SQL},
pay_known AS (
  SELECT order_key, kafka_timestamp FROM pay
  JOIN orders ON o_orderkey = order_key
),
agg AS (
  SELECT order_key, count(*) AS n_pay, min(kafka_timestamp) AS first_pay
  FROM pay_known GROUP BY 1
)
SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
  CASE WHEN a.order_key IS NOT NULL THEN 'PAID' ELSE 'CREATED' END AS state,
  CASE WHEN a.order_key IS NOT NULL THEN a.first_pay
       ELSE date_trunc('second', o_orderdate) END AS state_ts,
  CAST(1 + coalesce(a.n_pay, 0) AS BIGINT) AS n_events
FROM orders LEFT JOIN agg a ON a.order_key = o_orderkey
""",
)
def q_order_status_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 as a monotone fold: CREATED→PAID per order, first PAID event
    wins (consumer.py:52-77 idempotent-skip semantics); payment events for
    unknown orders are dropped like the consumer's failed lookup."""
    from ecommerce_data_pipeline_spark.operators.state import fold_state_events

    orders_clean = silver_orders_frame(spark, sf_dir)
    payments_clean = silver_payments_frame(spark, sf_dir)
    known = orders_clean.select("order_id").distinct()
    ev = orders_clean.select(
        "order_id", F.lit("CREATED").alias("state"), F.col("event_ts")
    ).unionByName(
        payments_clean.join(known, "order_id", "left_semi").select(
            "order_id", F.lit("PAID").alias("state"), F.col("event_ts")
        )
    )
    return fold_state_events(ev)


@register(
    "embedding_near_dup_pairs",
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
  round(list_inner_product(a.e, b.e)
        / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4)
    AS cosine_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_inner_product(a.e, b.e)
        / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4)
      >= 0.4
""",
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact — block-matrix BLAS kernel
    (similarity.embedding_near_dup_pairs_blocked; ~15x the throughput of
    the zip_with/aggregate expression form, which remains as the
    pure-built-in verifier twin, equality-tested in tests/). Threshold 0.4
    because the synthetic corpus has no true near-dups (max pairwise
    cosine ≈0.51) — this exercises the operator on a non-trivial result
    set."""
    return sim.embedding_near_dup_pairs_blocked(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


@register(
    "notification_emails",
    oracle=f"""
WITH {PAY_SQL}
SELECT CAST(p.order_key AS VARCHAR) AS order_id,
  sha256(concat('pay:payments.events:', CAST(p.partition AS VARCHAR), ':',
                CAST(p."offset" AS VARCHAR))) AS payment_id,
  concat('user', CAST(o.o_custkey AS VARCHAR), '@example.com') AS user_email,
  p.amount_cents/100.0 AS amount,
  p.kafka_timestamp AS event_ts
FROM pay p JOIN orders o ON o.o_orderkey = p.order_key
""",
)
def q_notification_emails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/ST8: the notifications service's order_id→email cache expressed
    as a join — every payment event enriched with the buyer's email from
    the order stream (notifications/app/kafka/consumer.py:13-16,46-94).
    Orphan payments drop out exactly like a cache miss does. In streaming
    this is a stream-static join of the payment stream against silver
    orders (bounded state — no stream-stream buffer)."""
    orders_clean = silver_orders_frame(spark, sf_dir)
    payments_clean = silver_payments_frame(spark, sf_dir)
    return payments_clean.join(
        orders_clean.select("order_id", F.col("user_id").alias("user_email")),
        "order_id",
    ).select("order_id", "payment_id", "user_email", "amount", "event_ts")


@register(
    "orders_kafka_encoded",
    oracle="""
SELECT CAST(o_orderkey AS VARCHAR) AS key,
  to_json(struct_pack(
    event_type := 'order.created',
    order_id := CAST(o_orderkey AS VARCHAR),
    currency := 'USD',
    status := 'CREATED',
    total_amount := round(o_totalprice, 2)
  )) AS value
FROM orders
""",
)
def q_orders_kafka_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: producer-side Kafka encoding — key by order_id, compact JSON
    value (producer.py:79-80). The result is what df.write.format("kafka")
    would ship; non-null fields only (Spark's to_json drops nulls)."""
    from ecommerce_data_pipeline_spark.sources.sinks import to_kafka_shape

    clean = silver_orders_frame(spark, sf_dir)
    encoded = clean.select(
        "order_id",
        F.col("event_type"),
        F.col("currency"),
        F.col("status"),
        F.col("total_amount"),
    )
    return to_kafka_shape(
        encoded, "order_id", ["event_type", "order_id", "currency", "status", "total_amount"]
    )


@register(
    "language_id_confusion",
    oracle=f"""
WITH w AS (SELECT doc_id, lang, {_WORDS_SQL} AS words FROM documents),
r AS (
  SELECT doc_id, lang,
    {", ".join(
        f"round(len(list_filter(words, t -> list_contains({_sw_list(lang)}, t)))*1.0"
        f" / greatest(len(words), 1), 4) AS r_{lang}"
        for lang in tx.STOPWORDS
    )}
  FROM w
),
p AS (
  SELECT doc_id, lang,
    CASE WHEN greatest(r_en, r_es, r_fr, r_de) <= 0 THEN 'und'
         {" ".join(
             f"WHEN r_{lang} = greatest(r_en, r_es, r_fr, r_de) THEN '{lang}'"
             for lang in tx.STOPWORDS
         )}
    END AS predicted_lang
  FROM r
)
SELECT lang AS true_lang, predicted_lang, count(*) AS n_docs
FROM p GROUP BY 1, 2
""",
)
def q_language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluated against the corpus's stored ground-truth
    ``lang`` column: the (true, predicted) confusion counts — the quality
    metric a training-data pipeline actually tracks for its filters."""
    docs = load_table(spark, sf_dir, "documents")
    pred = tx.language_id(docs)
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred.select("doc_id", "predicted_lang"), "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "kmeans_ivf_topk",
    # Oracle = the exact brute-force top-k: with nprobe == k_cells the
    # multi-probe search scores every cell, so the IVF machinery (k-means
    # fit, cell assignment, per-cell scoring, rank) must reproduce the
    # exact answer bit-for-bit — the same contract tests/test_quantize.py
    # pins. The recall/latency tradeoff of partial probing (nprobe < k)
    # is measured separately by ann_recall_report.
    oracle=f"""
WITH {_COSINE_SQL}
scored AS (
  SELECT query_id, neighbor_id,
    round(list_inner_product(qv, nv)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))), 4)
      AS cosine_sim
  FROM q, v WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 5
""",
)
def q_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a REAL coarse quantizer: deterministic k-means (8
    cells, 3 Lloyd iterations) + multi-probe search probing ALL cells,
    which must equal exact brute force (the oracle). Production tuning
    drops nprobe (e.g. 3/8) for ~nprobe/k of the scoring work at reduced
    recall — that operating point is what ann_recall_report measures."""
    from ecommerce_data_pipeline_spark.operators.quantize import (
        kmeans_fit,
        multiprobe_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    centroids = kmeans_fit(emb, k=8, iters=3)
    return multiprobe_topk(emb, queries_df, centroids, k=5, nprobe=8)


@register(
    "events_minute_users",
    oracle="""
SELECT date_trunc('minute', ts) AS minute_bucket,
  count(DISTINCT user_id) AS active_users,
  count(*) AS n_events
FROM events GROUP BY 1
""",
)
def q_events_minute_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per minute, written as the explicit two-phase form
    (dedupe on (bucket,user) first, then count): the partial aggregation of
    the dedupe phase absorbs hot-key skew BEFORE the wide row hits one
    reducer — the shape countDistinct expands to, stated explicitly so the
    skew story is visible in the plan (Expand → partial HashAggregate →
    shuffle → final)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("minute", F.col("ts")).alias("minute_bucket"), "user_id"
    )
    per_user = ev.groupBy("minute_bucket", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_user.groupBy("minute_bucket").agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum("n").alias("n_events"),
    )


@register(
    "revenue_by_nation",
    oracle="""
SELECT n_name AS nation, r_name AS region,
  sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY 1, 2
""",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic fact-to-dimension star join (orders ⋈ customer ⋈ nation ⋈
    region): nation/region are broadcast (tiny dims at ANY scale factor),
    customer broadcasts until it outgrows the threshold and AQE flips it to
    shuffle — the fact side is never shuffled for the joins, only for the
    final rollup. Cents-exact revenue."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            money_sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )




@register(
    "streaming_replay_dedup",
    # The stream ingests the slice PLUS a replayed subset (at-least-once
    # delivery); watermark-scoped dedup must recover exactly the clean
    # slice, which is what the oracle selects.
    oracle="""
SELECT event_id, user_id, event_type, round(value, 4) AS value
FROM events WHERE user_id % 5 = 0
""",
)
def q_streaming_replay_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-once recovery from at-least-once delivery:
    dropDuplicatesWithinWatermark on the event id over a file stream in
    which half the slice's files are delivered TWICE (the broker-replay
    shape ST3 tolerates). The watermark delay is sized past the fixture's
    whole time span so replayed files are deduped regardless of file
    arrival order — production sizes it to the real delivery lag, which
    bounds the id state instead of keeping it all.
    """
    import tempfile

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    # Watermarks require TIMESTAMP (with zone); the lake reads ts as NTZ.
    # Session TZ is pinned UTC so the cast is value-identity.
    slice_df = ev.select(
        "event_id",
        F.col("ts").cast("timestamp_ltz").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    with (
        tempfile.TemporaryDirectory(
            prefix="stream_dedup_", ignore_cleanup_errors=True
        ) as root,
        scoped_conf(spark, _STATE_PARTITIONS),
    ):
        src, out, ck = f"{root}/src", f"{root}/out", f"{root}/ckpt"
        slice_df.repartition(4).write.mode("overwrite").parquet(src)
        # Replay: a subset of the stream arrives again as new files.
        slice_df.filter(F.col("user_id") % 10 == 0).repartition(2).write.mode(
            "append"
        ).parquet(src)
        schema = spark.read.parquet(src).schema
        deduped = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 3)
            .parquet(src)
            .withWatermark("ts", "1440 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        with rocksdb_state(spark):
            q = (
                deduped.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        return (
            spark.read.parquet(out)
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.round("value", 4).alias("value"),
            )
            .localCheckpoint(eager=True)
        )


def _register_streaming_media_decode() -> None:
    # Deferred so the streaming variant shares media_image_decode's
    # closed-form pixel oracle verbatim: decode-on-ingest must land on
    # exactly the batch decode's features — codec, raster orientation,
    # thumb grid and Arrow plumbing all identical through the streaming
    # engine's micro-batch execution of the same mapInPandas kernel.
    from ecommerce_data_pipeline_spark.queries._registry import ORACLES

    @register("streaming_media_decode", oracle=ORACLES["media_image_decode"])
    def q_streaming_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Multimodal decode-on-ingest: binary image payloads arrive as a
        file stream (the Kafka-topic stand-in used across the streaming
        tier) and are decoded INSIDE the stream — the same Arrow-batched
        PGM/BMP kernel (decode_image_features) running under availableNow
        micro-batches into a checkpointed append sink. This is the shape a
        100 TB ingest pipeline runs (decode once on arrival, store
        features), and the oracle proves the streaming execution is
        feature-identical to the batch decode. Stateless: per-batch work
        is pure projection, no state store."""
        import tempfile

        from ecommerce_data_pipeline_spark.operators.multimodal import (
            decode_image_features,
            synth_image_corpus,
        )

        media = synth_image_corpus(load_table(spark, sf_dir, "documents"))
        with tempfile.TemporaryDirectory(
            prefix="stream_media_", ignore_cleanup_errors=True
        ) as root:
            src, out, ck = f"{root}/src", f"{root}/out", f"{root}/ckpt"
            media.repartition(4).write.mode("overwrite").parquet(src)
            schema = spark.read.parquet(src).schema
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(src)
            )
            q = (
                decode_image_features(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(out).localCheckpoint(eager=True)


_register_streaming_media_decode()


@register(
    "stream_stream_attribution_join",
    # Deterministic because availableNow drains ALL staged files and the
    # watermark is sized past the fixture span: the streamed interval join
    # must land on exactly the batch join's pair set.
    oracle="""
SELECT p.event_id AS purchase_event_id, v.event_id AS view_event_id,
  p.user_id,
  date_diff('microsecond', v.ts, p.ts) AS gap_us
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
  AND p.user_id % 3 = 0
""",
)
def q_stream_stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (the Structured Streaming
    feature ST8's cache is the poor-man's version of): purchases joined to
    every view by the same user in the preceding hour, both sides real
    file streams. The event-time range condition is what lets Spark BOUND
    the join state: each side retains only rows inside
    watermark + interval, so state is O(rate × horizon), not O(stream).
    Here the watermark spans the whole fixture (drain-everything test
    shape); production sizes it to the delivery lag. Oracle = the batch
    interval join — streamed and batch answers must be identical."""
    import tempfile

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 3 == 0)
        .select(
            "event_id",
            F.col("ts").cast("timestamp_ltz").alias("ts"),
            "user_id",
            "event_type",
        )
    )
    with (
        tempfile.TemporaryDirectory(
            prefix="stream_ssj_", ignore_cleanup_errors=True
        ) as root,
        scoped_conf(spark, _STATE_PARTITIONS),
    ):
        p_src, v_src = f"{root}/purchases", f"{root}/views"
        out, ck = f"{root}/out", f"{root}/ckpt"
        # Staged sequentially on purpose: an r17 attempt pooled these two
        # writes (guide §2.6) and measured WORSE — solo 8-run median
        # 5.3 s vs 4.35 s sequential, plus 18-21 s outliers when profiled
        # after thread-pooled streaming queries in the same session.
        # Reverted with numbers (OPTIMIZATION_r17.md).
        ev.filter(F.col("event_type") == "purchase").repartition(4).write.mode(
            "overwrite"
        ).parquet(p_src)
        ev.filter(F.col("event_type") == "view").repartition(4).write.mode(
            "overwrite"
        ).parquet(v_src)
        schema = spark.read.parquet(p_src).schema
        ps = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(p_src)
            .withWatermark("ts", "1440 hours")
            .select(
                F.col("event_id").alias("purchase_event_id"),
                F.col("ts").alias("p_ts"),
                F.col("user_id").alias("p_user"),
            )
        )
        vs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(v_src)
            .withWatermark("ts", "1440 hours")
            .select(
                F.col("event_id").alias("view_event_id"),
                F.col("ts").alias("v_ts"),
                F.col("user_id").alias("v_user"),
            )
        )
        joined = ps.join(
            vs,
            F.expr(
                "p_user = v_user AND v_ts <= p_ts "
                "AND p_ts <= v_ts + INTERVAL 1 HOUR"
            ),
        )
        with rocksdb_state(spark):
            q = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        return (
            spark.read.parquet(out)
            .select(
                "purchase_event_id",
                "view_event_id",
                F.col("p_user").alias("user_id"),
                (
                    F.unix_micros("p_ts") - F.unix_micros("v_ts")
                ).alias("gap_us"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "streaming_session_windows",
    # Oracle = the batch lag-formulation of 30-min gap sessions (same SQL
    # as session_window_fact) on the streamed slice: the streaming
    # session_window state machine must land on the identical session set.
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END
      AS new_session
  FROM events WHERE user_id % 7 = 0
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), ids AS (
  SELECT user_id, ts, value,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
  min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  count(*) AS n_events,
  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
FROM ids GROUP BY user_id, sid
""",
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization: the same ``session_window`` expression as
    the batch `session_window_fact`, but as a watermarked append-mode
    aggregation over a real file stream — Spark's mergeable session state
    (sessions extend/merge as late-but-in-watermark events arrive; state
    is evicted once the watermark passes a session's end, so memory is
    O(open sessions), not O(stream)).

    Append mode only EMITS a session once the event-time watermark passes
    its end, so the fixture stages a far-future sentinel row as the
    strictly-last file (mtime forced): processing it advances the
    watermark past every real session, and the availableNow no-data final
    batch flushes them all. Production has no sentinel — the live stream
    advances the watermark by itself; the 1 s delay here is fixture-sized
    where production sizes it to delivery lag."""
    import os
    import tempfile

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 7 == 0)
        .select(
            "user_id", F.col("ts").cast("timestamp_ltz").alias("ts"), "value"
        )
    )
    with (
        tempfile.TemporaryDirectory(
            prefix="stream_sess_", ignore_cleanup_errors=True
        ) as root,
        scoped_conf(spark, _STATE_PARTITIONS),
    ):
        src, out, ck = f"{root}/src", f"{root}/out", f"{root}/ckpt"
        ev.repartition(4).write.mode("overwrite").parquet(src)
        # One-scalar driver read (same class as the A4 incremental bound).
        sentinel = ev.agg(
            F.lit(-1).cast("long").alias("user_id"),
            F.timestamp_add("DAY", F.lit(366), F.max("ts")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
        before = set(os.listdir(src))
        sentinel.coalesce(1).write.mode("append").parquet(src)
        # The file source takes unread files oldest-mtime-first; pin the
        # sentinel's part file to the future so it is unambiguously the
        # LAST batch (slice rows must never arrive behind its watermark).
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                path = os.path.join(src, f)
                future = os.path.getmtime(path) + 3600
                os.utime(path, (future, future))
        schema = spark.read.parquet(src).schema
        sessions = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .withWatermark("ts", "1 second")
            .groupBy(
                "user_id", F.session_window("ts", "30 minutes").alias("sw")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                money_sum("value").alias("total_value"),
            )
        )
        with rocksdb_state(spark):
            q = (
                sessions.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        return (
            spark.read.parquet(out)
            .filter(F.col("user_id") >= 0)
            .select(
                "user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events",
                "total_value",
            )
            .localCheckpoint(eager=True)
        )


def _register_streaming_incremental_dedup() -> None:
    # Deferred so the streaming variant shares dedup_incremental_assign's
    # oracle verbatim (same pattern as streaming_media_decode): each new
    # doc is assigned against the STATIC persisted signature artifact, so
    # micro-batch boundaries cannot change any assignment and streaming
    # output == batch output by construction.
    from ecommerce_data_pipeline_spark.queries._registry import ORACLES

    @register(
        "streaming_incremental_dedup",
        oracle=ORACLES["dedup_incremental_assign"],
    )
    def q_streaming_incremental_dedup(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Streaming dedup-on-ingest against the artifact store: the
        corpus's signature artifact (exact-hash table, LSH bucket table,
        shingle arrays — operators/dedup.py:signature_artifact) is
        persisted to parquet ONCE; new docs then arrive as a file stream
        (the Kafka stand-in) and every micro-batch probes the artifact
        inside foreachBatch via assign_against_artifact. State is bounded
        by the ARTIFACT, not the stream history — the stream itself is
        stateless (no state store; the artifact plays the role RocksDB
        state plays in dropDuplicates), which is exactly how a 100 TB
        ingest dedups: signatures live in the lake, batches probe them,
        'new' assignments append their signatures back (append elided
        here to keep assignment independent of batch partitioning — the
        batch twin defines one deterministic answer).

        Bench phase split (STREAMING_PHASES, same pattern as the flagship
        streaming query): the artifact build is a ONE-TIME per-corpus-
        snapshot cost in production, so it is timed separately from the
        steady-state micro-batch drain — the drain number is the per-batch
        ingest-dedup cost a 100 TB deployment actually pays repeatedly.

        Reference analogue: the consumers' upsert-by-key idempotent
        ingest contract (docs/events.md:145-150), lifted from single-row
        keys to content identity."""
        import tempfile
        import time

        docs = load_table(spark, sf_dir, "documents")
        new = docs.filter(F.col("doc_id") % 5 == 0)
        existing = docs.filter(F.col("doc_id") % 5 != 0)
        with tempfile.TemporaryDirectory(
            prefix="stream_incdedup_", ignore_cleanup_errors=True
        ) as root:
            t0 = time.time()
            art = f"{root}/artifact"
            src, out, ck = f"{root}/src", f"{root}/out", f"{root}/ckpt"
            exact_t, banded_t, prof_t = dd.signature_artifact(existing)

            # The three artifact writes and the new-batch staging write
            # are independent jobs — overlap them from a small driver
            # pool (guide §2.6, r17) instead of paying four sequential
            # job tails. Ordering constraint kept: shingles lands first
            # IN ITS THREAD so the shared minhash-profile checkpoint is
            # materialized exactly once, then buckets reads it from the
            # block manager (bucket rows derive from the profile).
            def _shingles_then_buckets() -> None:
                prof_t.write.mode("overwrite").parquet(f"{art}/shingles")
                banded_t.write.mode("overwrite").parquet(f"{art}/buckets")

            run_independent(
                lambda: exact_t.write.mode("overwrite").parquet(f"{art}/exact"),
                _shingles_then_buckets,
                lambda: new.repartition(4).write.mode("overwrite").parquet(src),
            )
            STREAMING_PHASES["incdedup_artifact_build_sec"] = round(
                time.time() - t0, 3
            )

            t0 = time.time()
            schema = spark.read.parquet(src).schema

            # Resolve the three artifact scans ONCE, outside foreachBatch
            # (r16 optimization, guide §5 — driver metadata work): the
            # artifact is STATIC during the drain (the append-back is
            # elided by design, see above), so per-batch re-reads only
            # re-paid schema inference + file listing for every
            # micro-batch. The frames are lazy scans — each batch still
            # reads the artifact files through them.
            exact_df = spark.read.parquet(f"{art}/exact")
            buckets_df = spark.read.parquet(f"{art}/buckets")
            shingles_df = spark.read.parquet(f"{art}/shingles")

            def assign_batch(batch_df: DataFrame, batch_id: int) -> None:
                assigned = dd.assign_against_artifact(
                    batch_df,
                    exact_df,
                    buckets_df,
                    shingles_df,
                )
                # Idempotent per-batch sink (operators/postings.py): the
                # r10 ADVICE flagged the ANN path's blind append as
                # retry-duplicating; this path had the identical bug class
                # and takes the identical fix (r11 sweep).
                write_batch_output(assigned, out, batch_id)

            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(src)
            )
            q = (
                stream.writeStream.foreachBatch(assign_batch)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            result = (
                spark.read.parquet(out)
                .drop("batch")
                .localCheckpoint(eager=True)
            )
            STREAMING_PHASES["incdedup_drain_sec"] = round(time.time() - t0, 3)
            return result


_register_streaming_incremental_dedup()


@register(
    "streaming_trending_topk",
    # Trending dashboard shape: 15-min tumbling-window counts per event
    # type computed IN the stream (watermarked state, append mode), top-3
    # rank applied on read — streaming append mode cannot rank across a
    # window's rows until the window closes, so production serves rank
    # at the query layer over the emitted counts; doing the same here
    # keeps streaming-vs-batch equivalence honest. Windows align on
    # epoch multiples of 900 s in both engines.
    oracle="""
WITH wc AS (
  SELECT make_timestamp(
           CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 * 1000000
         ) AS window_start,
         event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n_events, CAST(rn AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY window_start
            ORDER BY n_events DESC, event_type) AS rn
  FROM wc) WHERE rn <= 3
""",
)
def q_streaming_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING windowed trending: tumbling 15-min counts per event_type
    as a watermarked streaming aggregation (state = open windows only),
    flushed by the far-future-sentinel pattern of
    streaming_session_windows, then ranked top-3 per window on read."""
    import os
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp_ltz").alias("ts"), "event_type"
    )
    with (
        tempfile.TemporaryDirectory(
            prefix="stream_trend_", ignore_cleanup_errors=True
        ) as root,
        scoped_conf(spark, _STATE_PARTITIONS),
    ):
        src, out, ck = f"{root}/src", f"{root}/out", f"{root}/ckpt"
        ev.repartition(4).write.mode("overwrite").parquet(src)
        sentinel = ev.agg(
            F.timestamp_add("DAY", F.lit(366), F.max("ts")).alias("ts"),
            F.lit("__sentinel__").alias("event_type"),
        )
        before = set(os.listdir(src))
        sentinel.coalesce(1).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                path = os.path.join(src, f)
                future = os.path.getmtime(path) + 3600
                os.utime(path, (future, future))
        schema = spark.read.parquet(src).schema
        counts = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .withWatermark("ts", "1 second")
            .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        with rocksdb_state(spark):
            q = (
                counts.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        emitted = (
            spark.read.parquet(out)
            .filter(F.col("event_type") != "__sentinel__")
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )
        from pyspark.sql.window import Window as W

        rk = W.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), "event_type"
        )
        return (
            emitted.withColumn("rank", F.row_number().over(rk))
            .filter(F.col("rank") <= 3)
            .localCheckpoint(eager=True)
        )


def _register_streaming_trending_topk_merge() -> None:
    # Deferred so the update-mode serving twin shares the append twin's
    # oracle verbatim: both must land on the identical batch top-3.
    from ecommerce_data_pipeline_spark.queries._registry import ORACLES

    @register(
        "streaming_trending_topk_merge",
        oracle=ORACLES["streaming_trending_topk"],
    )
    def q_streaming_trending_topk_merge(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The serving-layer twin of streaming_trending_topk: instead of
        ranking on read over append-mode emissions, the windowed counts run
        in UPDATE output mode and foreachBatch maintains a queryable
        ``gold.trending_topk`` table — per batch, MERGE the updated
        (window_start, event_type) counts into a counts table, re-rank ONLY
        the windows the batch touched, and MERGE the top-3 by
        (window_start, rank). This is the reference's gold-MERGE serving
        pattern (fct_sales_minute.sql:2-6) applied to a ranked dashboard:
        readers always see a complete, keyed top-k without scanning
        emissions. State: update mode needs no window-close sentinel; the
        watermark bounds state in production — here it is set beyond the
        fixture horizon because availableNow file replay is unordered, and
        equivalence with the batch oracle (shared verbatim) is the test.

        Production scale note: both gold tables would be PARTITIONED by
        date(window_start) (ParquetTable(partition_by=...) — merges then
        rewrite only the partitions a batch touches, and recent-window
        batches touch ~1) or be Delta tables whose MERGE prunes by key;
        the unpartitioned fixture tables keep the tiny test honest.
        """
        import tempfile

        from ecommerce_data_pipeline_spark.lake import ParquetTable

        ev = load_table(spark, sf_dir, "events").select(
            F.col("ts").cast("timestamp_ltz").alias("ts"), "event_type"
        )
        with (
            tempfile.TemporaryDirectory(
                prefix="stream_trend_merge_", ignore_cleanup_errors=True
            ) as root,
            scoped_conf(spark, _STATE_PARTITIONS),
        ):
            src, ck = f"{root}/src", f"{root}/ckpt"
            ev.repartition(4).write.mode("overwrite").parquet(src)
            schema = spark.read.parquet(src).schema
            counts_tbl = ParquetTable(f"{root}/gold_counts")
            topk_tbl = ParquetTable(f"{root}/gold_trending_topk")

            def upsert_topk(batch_df: DataFrame, batch_id: int) -> None:
                b = batch_df.select(
                    F.col("w.start").alias("window_start"),
                    "event_type",
                    "n_events",
                ).localCheckpoint(eager=True)
                counts_tbl.merge(
                    spark, b, ["window_start", "event_type"],
                    probe_insert_only=False,
                )
                touched = b.select("window_start").distinct()
                rk = Window.partitionBy("window_start").orderBy(
                    F.col("n_events").desc(), "event_type"
                )
                ranked = (
                    counts_tbl.read(spark)
                    .join(F.broadcast(touched), "window_start")
                    .withColumn("rank", F.row_number().over(rk))
                    .filter(F.col("rank") <= 3)
                    .localCheckpoint(eager=True)
                )
                topk_tbl.merge(
                    spark, ranked, ["window_start", "rank"],
                    probe_insert_only=False,
                )

            counts = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(src)
                .withWatermark("ts", "3650 days")
                .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"))
            )
            with rocksdb_state(spark):
                q = (
                    counts.writeStream.foreachBatch(upsert_topk)
                    .outputMode("update")
                    .option("checkpointLocation", ck)
                    .trigger(availableNow=True)
                    .start()
                )
            q.awaitTermination()
            return (
                topk_tbl.read(spark)
                .select("window_start", "event_type", "n_events", "rank")
                .localCheckpoint(eager=True)
            )


_register_streaming_trending_topk_merge()


# ---------------------------------------------------------------------------
# State Data Source reader: inspect a checkpoint's state store (Spark 4)
# ---------------------------------------------------------------------------


@register(
    "streaming_state_inspect",
    # The state store of a streaming dropDuplicates IS the distinct-key
    # set, so the oracle recomputes it directly from the batch table.
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT event_id) AS BIGINT) AS state_keys,
       CAST(sum(DISTINCT event_id) % 1000000007 AS BIGINT) AS key_checksum
FROM events
WHERE user_id % 7 = 0
GROUP BY 1
""",
)
def q_streaming_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational state-store introspection via Spark 4's State Data
    Source: run a checkpointed streaming ``dropDuplicates`` over a file
    stream (multiple availableNow micro-batches), then read the
    checkpoint's state back with ``spark.read.format("statestore")`` and
    prove the state keys are EXACTLY the distinct (event_type, event_id)
    pairs of the batch input — per-type counts and an id checksum hash-
    matched against the oracle.

    This is the debugging/repair surface a 100 TB streaming deployment
    needs: state bloat diagnosis ("which keys live in the dedup store?"),
    watermark-eviction audits, and offline state repair all start from
    reading the store as a DataFrame instead of attaching a debugger to
    the stream. The read is partition-parallel (one task per state-store
    partition) and never replays the stream. (Reference parity: the
    reference's checkpointed streaming jobs — e.g.
    analytics/spark/jobs/bronze_orders_raw.py — expose no comparable
    state introspection; this is a Spark-4-native extension.)"""
    import tempfile

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    slice_df = ev.select("event_id", "event_type")
    with (
        tempfile.TemporaryDirectory(
            prefix="stream_state_", ignore_cleanup_errors=True
        ) as root,
        scoped_conf(spark, _STATE_PARTITIONS),
    ):
        src, out, ck = f"{root}/src", f"{root}/out", f"{root}/ckpt"
        slice_df.repartition(4).write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        deduped = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .dropDuplicates(["event_type", "event_id"])
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state = spark.read.format("statestore").load(ck)
        result = (
            state.groupBy(F.col("key.event_type").alias("event_type"))
            .agg(
                F.count(F.lit(1)).alias("state_keys"),
                (F.sum("key.event_id") % F.lit(1000000007))
                .cast("long")
                .alias("key_checksum"),
            )
            .localCheckpoint(eager=True)
        )
        # Cross-check: the state key-set must equal the sink's row set —
        # dropDuplicates emits exactly one row per state key.
        n_state = result.agg(F.sum("state_keys")).collect()[0][0]
        n_sink = spark.read.parquet(out).count()
        if n_state != n_sink:
            raise AssertionError(
                f"state/sink divergence: state_keys={n_state} sink={n_sink}"
            )
        return result
