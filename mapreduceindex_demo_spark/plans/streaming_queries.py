"""Streaming query suite (SURVEY §2.5): windowed aggregations (oracle-
checked — batch/stream share the same plan) and end-to-end streaming index
maintenance through a checkpointed file-source CDC replay (oracle-checked
against the windowed-SQL final state)."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from mapreduceindex_demo_spark.catalog import IndexDefn
from mapreduceindex_demo_spark.plans.registry import query
from mapreduceindex_demo_spark.session import load_table, parquet_col_max, table_path
from mapreduceindex_demo_spark.streaming import (
    materialize_cdc_files,
    run_streaming_index_maintenance,
)
from mapreduceindex_demo_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)

#: op-augmented events schema used by the CDC file feed
CDC_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string, op string"
)


@query(
    "streaming_tumbling_counts",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "window", "tumbling"),
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows (F.window). The same plan runs
    under readStream+watermark — see tests/test_streaming.py."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@query(
    "streaming_sliding_counts",
    oracle="""
    WITH k AS (SELECT 0 AS shift UNION ALL SELECT 1),
    w AS (SELECT to_timestamp((CAST(floor(epoch(ts) / 43200) AS BIGINT)
                               - shift) * 43200) AS wstart
          FROM events, k)
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS cnt
    FROM w GROUP BY 1
    """,
    tags=("streaming", "window", "sliding"),
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 day / 12 h): each event lands in 2 overlapping
    windows; oracle reproduces Spark's epoch-aligned window starts."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


@query(
    "streaming_session_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  >= INTERVAL 30 MINUTE
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered)
    SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           user_id, COUNT(*) AS cnt
    FROM sessions GROUP BY user_id, session_id
    """,
    tags=("streaming", "window", "session"),
)
def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — Spark session_window vs the
    gaps-and-islands SQL formulation (an event merges iff ts < prev + gap)."""
    return session_counts(load_table(spark, sf_dir, "events"))


@query(
    "streaming_interval_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                 value AS purchase_value
          FROM events WHERE event_type = 'purchase')
    SELECT purchase_id, click_id, user_id,
      strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_time,
      strftime(purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
      purchase_value
    FROM c JOIN p USING (user_id)
    WHERE click_ts <= purchase_ts
      AND click_ts >= purchase_ts - INTERVAL 1 HOUR
    """,
    tags=("streaming", "join", "interval", "asof"),
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution within 1 h,
    same user). Batch run here for the oracle; the identical builder runs
    as a watermarked stream-stream join in tests/test_streaming.py —
    watermark + time bound make the join state evictable (T4/T5)."""
    from mapreduceindex_demo_spark.streaming.joins import (
        click_attribution_join,
        split_click_purchase,
    )

    clicks, purchases = split_click_purchase(load_table(spark, sf_dir, "events"))
    return click_attribution_join(clicks, purchases)


@query(
    "streaming_index_maintenance",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, props,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events)
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS key_0,
           event_type AS key_1,
           user_id AS doc_id
    FROM latest WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("streaming", "mapindex", "cdc", "foreachBatch"),
)
def q_streaming_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming maintenance: events → 5-file CDC feed →
    readStream(maxFilesPerTrigger=1) → checkpointed foreachBatch MERGE →
    final index state equals the batch-SQL golden answer. This is the
    reference's whole projector pipeline (S1→M1-M7→S7) as one streaming
    query."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    work = tempfile.mkdtemp(prefix=f"mri_stream_{sf_tag}_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    cdc_dir = materialize_cdc_files(spark, sf_dir, os.path.join(work, "cdc"))
    defn = IndexDefn(
        name="idx_stream_users",
        bucket="events",
        sec_exprs=(
            "CAST(get_json_object(props, '$.k') AS BIGINT)",
            "event_type",
        ),
    )
    return run_streaming_index_maintenance(
        spark,
        cdc_dir,
        os.path.join(work, "ckpt"),
        [defn],
        CDC_SCHEMA,
        doc_id_col="user_id",
        seq_col="event_id",
    )[defn.name]


@query(
    "stateful_running_counters",
    oracle="""
    SELECT user_id, COUNT(*) AS events_seen,
      CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        AS value_sum,
      MAX(event_id) AS last_event_id
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def q_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState (T5): per-user running counters maintained as
    keyed state across a 3-file micro-batch replay; the final emission per
    user must equal the batch aggregation (the state-fold ≡ fold-at-once
    invariant). Integer-cents state arithmetic keeps the sum exact, which
    is what makes this Python stateful operator oracle-CHECKABLE."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduceindex_demo_spark.streaming.stateful import (
        running_user_counters,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    work = tempfile.mkdtemp(prefix=f"mri_state_{sf_tag}_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", "ts"
    )
    # split boundary from parquet footer stats — no Spark job (r1 ADVICE)
    hi = parquet_col_max(table_path(sf_dir, "events"), "event_id") or 0
    step = (hi + 3) // 3 or 1
    src = os.path.join(work, "src")
    for b in range(3):
        p = os.path.join(src, f"b{b}")
        events.filter(
            (F.col("event_id") >= b * step) & (F.col("event_id") < (b + 1) * step)
        ).coalesce(1).write.mode("overwrite").parquet(p)
        for root, _, names in os.walk(p):
            for nm in names:
                os.utime(os.path.join(root, nm), (1_700_000_000 + b,) * 2)
    stream = (
        spark.readStream.schema(
            "user_id bigint, event_id bigint, value double, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "b*"))
    )
    qname = f"counters_{sf_tag.replace('.', '_')}"
    (
        running_user_counters(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("last_event_id"))
    return (
        spark.table(qname)
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


@query(
    "streaming_dedup_users",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    HAVING COUNT(*) >= 1
    """,
    tags=("streaming", "dedup", "stateful"),
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup state: replay the CDC feed through
    ``dropDuplicates`` + a per-key count — the keyed state every streaming
    dedup pipeline maintains. The emitted set (each user exactly once,
    with its total event count aggregated across micro-batches) must equal
    the batch GROUP BY — state survives the 5-file replay boundaries.

    Implemented as the equivalent incremental plan (groupBy over the
    replayed feed): batch/stream share the same logical plan in Spark, and
    the stateful checkpoint/restart behavior of this exact pipeline is
    pytest-covered in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    work = tempfile.mkdtemp(prefix=f"mri_sdedup_{sf_tag}_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    cdc_dir = materialize_cdc_files(spark, sf_dir, os.path.join(work, "cdc"))
    feed = spark.read.schema(CDC_SCHEMA).parquet(
        os.path.join(cdc_dir, "batch_*")
    )
    return (
        feed.dropDuplicates(["event_id"])  # replay-safe: at-least-once feed
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


@query(
    "streaming_drift_daily",
    oracle="""
    WITH ref AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS c
                 FROM events GROUP BY 1),
    rt AS (SELECT SUM(c) AS t FROM ref),
    d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                 event_type, CAST(COUNT(*) AS DOUBLE) AS c
          FROM events GROUP BY 1, 2),
    dt AS (SELECT day, SUM(c) AS td FROM d GROUP BY 1)
    SELECT d.day,
           CAST(dt.td AS BIGINT) AS n_events,
           round(SUM((d.c / dt.td)
                     * ln((d.c / dt.td) / (ref.c / rt.t))), 6)
             + 0.0 AS kl_to_reference
    FROM d JOIN dt USING (day) JOIN ref USING (event_type)
    CROSS JOIN rt
    GROUP BY 1, 2
    """,
    tags=("streaming", "monitoring", "drift"),
)
def q_streaming_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift TIME SERIES — [q:text_unigram_drift]'s docstring claim
    ("keyed by arrival day in streaming ingest") made executable: per
    event-time day, the KL divergence of that day's event-type
    distribution from a reference distribution (here: the whole corpus;
    in production a pinned snapshot). A day whose mix of event types
    shifts — a scraper breaking, a feed going silent, a bot spike —
    stands out as a KL spike before it poisons anything downstream.

    Scale/streaming shape: the per-(day, type) counts are ONE tumbling
    groupBy — the identical logical plan runs under readStream with a
    watermark, exactly like [q:streaming_tumbling_counts]; the reference
    distribution is a |types|-row broadcast joined into each window's
    output, and the per-day fold aggregates |types| rows per day. State
    is bounded by live windows × event types."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    ref = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    rt = ref.agg(F.sum("c").alias("t"))
    d = events.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("double").alias("dc"))
    dt = d.groupBy("day").agg(F.sum("dc").alias("td"))
    p = F.col("dc") / F.col("td")
    q_ = F.col("c") / F.col("t")
    return (
        d.join(dt, "day")
        .join(F.broadcast(ref), "event_type")
        .crossJoin(F.broadcast(rt))
        .groupBy("day")
        .agg(
            F.max("td").cast("bigint").alias("n_events"),
            (F.round(F.sum(p * F.log(p / q_)), 6) + F.lit(0.0)).alias(
                "kl_to_reference"
            ),
        )
    )


@query(
    "streaming_left_interval_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                 value AS purchase_value
          FROM events WHERE event_type = 'purchase')
    SELECT p.purchase_id, c.click_id, p.user_id,
      strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_time,
      strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
      p.purchase_value,
      c.click_id IS NULL AS is_organic
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    """,
    tags=("streaming", "join", "interval", "outer"),
)
def q_left_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join (every purchase, attributed
    or ORGANIC) — the outer twin of [q:streaming_interval_join],
    completing the T6 join family with the semantics Structured
    Streaming reserves for watermarked time-bound joins: the NULL side
    of an outer stream-stream join can only be emitted once the
    watermark proves no matching click can still arrive, which is also
    the state-eviction moment (SS rejects an un-watermarked outer
    stream-stream join outright). Batch run here for the oracle; the
    identical builder runs as a TRUE watermarked outer stream-stream
    join in tests/test_streaming.py, NULL rows included.

    Scale shape: [q:streaming_interval_join]'s — user_id hash shuffle
    both sides, state bounded by the watermark horizon × arrival rate,
    independent of stream length."""
    from mapreduceindex_demo_spark.streaming.joins import (
        purchase_attribution_left_join,
        split_click_purchase,
    )

    clicks, purchases = split_click_purchase(load_table(spark, sf_dir, "events"))
    return purchase_attribution_left_join(clicks, purchases)


@query(
    "streaming_full_interval_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                 value AS purchase_value
          FROM events WHERE event_type = 'purchase')
    SELECT p.purchase_id, c.click_id,
      COALESCE(p.user_id, c.user_id) AS user_id,
      strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_time,
      strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
      p.purchase_value,
      CASE WHEN p.purchase_id IS NULL THEN 'unconverted'
           WHEN c.click_id IS NULL THEN 'organic'
           ELSE 'attributed' END AS row_kind
    FROM p FULL JOIN c
      ON c.user_id = p.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    """,
    tags=("streaming", "join", "interval", "outer", "full"),
)
def q_full_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER stream-stream interval join — the three-way funnel
    ledger completing T6 (inner [q:streaming_interval_join] → left
    [q:streaming_left_interval_join] → full): every purchase emits as
    attributed or ORGANIC and every click that converted nothing emits
    as UNCONVERTED with NULL purchase columns. Structured Streaming
    supports exactly this as a watermarked time-bound full-outer
    stream-stream join (each side's NULL row emitted when the watermark
    proves the other side can no longer match — its state-eviction
    moment). Batch run here for the oracle; the identical builder runs
    as a TRUE watermarked full-outer stream-stream join in
    tests/test_streaming.py, both NULL sides included.

    Scale shape: [q:streaming_interval_join]'s — user_id hash shuffle
    both sides, state bounded by the watermark horizon × arrival rate,
    independent of stream length."""
    from mapreduceindex_demo_spark.streaming.joins import (
        attribution_full_join,
        split_click_purchase,
    )

    clicks, purchases = split_click_purchase(load_table(spark, sf_dir, "events"))
    return attribution_full_join(clicks, purchases)
