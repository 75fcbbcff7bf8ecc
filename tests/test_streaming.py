"""Streaming semantics tests (SURVEY §5.4): checkpointed exactly-once index
maintenance incl. kill/restart, and watermark-driven late-data dropping."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduceindex_demo_spark.catalog import IndexDefn
from mapreduceindex_demo_spark.plans.streaming_queries import CDC_SCHEMA
from mapreduceindex_demo_spark.session import load_table
from mapreduceindex_demo_spark.streaming import (
    materialize_cdc_files,
    run_streaming_index_maintenance,
)
from mapreduceindex_demo_spark.streaming.windows import tumbling_counts, with_watermark
from tests.conftest import SMOKE_SF_DIR


def _defn(name):
    return IndexDefn(
        name=name,
        bucket="events",
        sec_exprs=("CAST(get_json_object(props,'$.k') AS BIGINT)", "event_type"),
    )


def _golden(spark):
    from pyspark.sql import Window

    events = load_table(spark, SMOKE_SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    return sorted(
        tuple(r)
        for r in (
            events.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
            .select(
                F.expr("CAST(get_json_object(props,'$.k') AS BIGINT)").alias("key_0"),
                F.col("event_type").alias("key_1"),
                F.col("user_id").alias("doc_id"),
            )
            .collect()
        )
    )


def test_streaming_maintenance_kill_restart_exactly_once(spark, tmp_path):
    """Run the stream over a 3-file prefix, stop, add the remaining 2 files,
    restart with the SAME checkpoint and engine state: committed batches
    must not re-apply, new ones must, and the final state equals the batch
    golden answer (T1 exactly-once; rollback ≙ checkpoint recovery)."""
    from mapreduceindex_demo_spark.mapindex import MapIndexEngine

    cdc = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5, upto_file=3)
    eng = MapIndexEngine(spark)

    state1 = run_streaming_index_maintenance(
        spark, cdc, ckpt, [_defn("idx_rs")], CDC_SCHEMA, engine=eng
    )["idx_rs"]
    n1 = state1.count()
    assert n1 > 0

    # "crash" happened; more CDC arrives; restart from the same checkpoint
    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5)
    assert len(os.listdir(cdc)) == 5
    state2 = run_streaming_index_maintenance(
        spark, cdc, ckpt, [_defn("idx_rs")], CDC_SCHEMA, engine=eng
    )["idx_rs"]
    assert sorted(tuple(r) for r in state2.collect()) == _golden(spark)


def test_streaming_durable_maintenance_survives_engine_death(spark, tmp_path):
    """The full reference pipeline: stream → durable index ON DISK. Run a
    3-file prefix, then throw the engine away entirely ("process death"),
    and resume on a NEW session + NEW engine from the same index_path and
    checkpoint: committed batches must not re-apply (their partition
    rewrites are idempotent anyway), new ones must, and the final ON-DISK
    state equals the batch golden answer."""
    cdc = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5, upto_file=3)

    state1 = run_streaming_index_maintenance(
        spark, cdc, ckpt, [_defn("idx_dur_rs")], CDC_SCHEMA,
        index_paths={"idx_dur_rs": idx},
    )["idx_dur_rs"]
    assert state1.count() > 0  # engine from phase 1 is now dropped

    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5)
    s2 = spark.newSession()
    state2 = run_streaming_index_maintenance(
        s2, cdc, ckpt, [_defn("idx_dur_rs")], CDC_SCHEMA,
        index_paths={"idx_dur_rs": idx},
    )["idx_dur_rs"]
    assert sorted(tuple(r) for r in state2.collect()) == _golden(spark)

    # the durable layout holds the LSM/SSTable contract: rows inside each
    # bucket file are sorted by the index key (row-group stats prune scans)
    import pyarrow.parquet as pq

    bucket_dirs = [d for d in os.listdir(idx) if d.startswith("__bucket=")]
    assert bucket_dirs
    some = os.path.join(idx, sorted(bucket_dirs)[0])
    f = [x for x in os.listdir(some) if x.endswith(".parquet")][0]
    t = pq.read_table(os.path.join(some, f), columns=["key_0"]).to_pydict()
    k = [x for x in t["key_0"] if x is not None]
    assert k == sorted(k)


def test_streaming_tumbling_with_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a 1-hour watermark: a row arriving
    after its window's watermark passes is dropped (T4 late data)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    # NB: a late row merging into a window still held in state is accepted
    # (eviction is end-of-batch); the drop is observable only after the
    # window was finalized in an EARLIER batch — hence three files.
    rows1 = [
        (1, "2024-01-01 00:10:00", 1, "click", 1.0, "{}", "upsert"),
        (2, "2024-01-03 00:00:00", 1, "click", 1.0, "{}", "upsert"),  # advances watermark
    ]
    rows2 = [
        (3, "2024-01-03 00:10:00", 1, "click", 1.0, "{}", "upsert"),  # finalizes 01-01
    ]
    rows3 = [
        (4, "2024-01-01 00:20:00", 2, "click", 1.0, "{}", "upsert"),  # late: window closed
        (5, "2024-01-03 00:30:00", 2, "click", 1.0, "{}", "upsert"),  # on time
    ]

    def write_batch(i, rows):
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts string, user_id bigint, event_type string,"
            " value double, props string, op string",
        ).withColumn("ts", F.to_timestamp("ts"))
        p = os.path.join(src, f"b{i}")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        # the file source orders by FILE mtime — stamp the parquet files,
        # not the directory, or batches replay out of order
        for root, _, names in os.walk(p):
            for nm in names:
                os.utime(
                    os.path.join(root, nm),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )

    write_batch(0, rows1)
    write_batch(1, rows2)
    write_batch(2, rows3)

    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "b*"))
    )
    agg = tumbling_counts(with_watermark(stream, "1 hour"))
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.cnt)
        for r in spark.table("late_test").collect()
    }
    # the 2024-01-01 window finalized with ONLY the on-time row; the late
    # row (event 3) was dropped, not added
    assert ("2024-01-01 00:00:00", 1) in got
    assert ("2024-01-01 00:00:00", 2) not in got


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The click→purchase attribution join run as a TRUE stream-stream join
    (two readStreams, watermarks on both sides) produces exactly the batch
    result — one declaration, both execution modes."""
    from mapreduceindex_demo_spark.streaming.joins import (
        click_attribution_join,
        split_click_purchase,
    )

    events = load_table(spark, SMOKE_SF_DIR, "events")
    clicks_b, purchases_b = split_click_purchase(events)
    expected = sorted(
        tuple(r) for r in click_attribution_join(clicks_b, purchases_b).collect()
    )

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks_b.write.parquet(cdir)
    purchases_b.write.parquet(pdir)
    clicks_s = spark.readStream.schema(
        "c_user_id bigint, click_id bigint, click_ts timestamp"
    ).parquet(cdir)
    purchases_s = spark.readStream.schema(
        "p_user_id bigint, purchase_id bigint, purchase_ts timestamp, "
        "purchase_value double"
    ).parquet(pdir)
    q = (
        click_attribution_join(clicks_s, purchases_s, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.table("attrib").collect())
    assert got == expected and len(got) > 0


def test_multi_index_single_stream_maintenance(spark, tmp_path):
    """One CDC stream maintains TWO differently-shaped indexes (the
    reference's topic carries a LIST of instances — projector.go:237-247):
    each micro-batch is MERGEd into both under one checkpoint; both final
    states must equal their batch golden answers."""
    cdc = str(tmp_path / "cdc")
    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=4)
    d1 = _defn("idx_multi_kv")
    d2 = IndexDefn(
        name="idx_multi_purchase_value",
        bucket="events",
        sec_exprs=("value",),
        where_expr="event_type = 'purchase'",
    )
    out = run_streaming_index_maintenance(
        spark, cdc, str(tmp_path / "ckpt"), [d1, d2], CDC_SCHEMA
    )

    assert sorted(tuple(r) for r in out["idx_multi_kv"].collect()) == _golden(spark)

    from pyspark.sql import Window

    events = load_table(spark, SMOKE_SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    golden2 = sorted(
        tuple(r)
        for r in (
            events.withColumn("rn", F.row_number().over(w))
            .filter(
                (F.col("rn") == 1)
                & (F.col("event_type") != "error")     # live docs only
                & (F.col("event_type") == "purchase")  # index WHERE
            )
            .select(
                F.col("value").alias("key_0"),
                F.col("user_id").alias("doc_id"),
            )
            .collect()
        )
    )
    assert sorted(tuple(r) for r in out["idx_multi_purchase_value"].collect()) == golden2
    assert len(golden2) > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: re-deliveries of the same event_id in
    later micro-batches (within the watermark horizon) are suppressed —
    the streaming half of the dedup story."""
    import os as _os

    events = load_table(spark, SMOKE_SF_DIR, "events").select(
        "event_id", "ts", "user_id"
    )
    src = str(tmp_path / "src")
    # batch 0: all events; batch 1: a re-delivered duplicate slice
    events.coalesce(1).write.parquet(_os.path.join(src, "b0"))
    events.limit(200).coalesce(1).write.parquet(_os.path.join(src, "b1"))
    for b in range(2):
        p = _os.path.join(src, f"b{b}")
        for root, _, names in _os.walk(p):
            for nm in names:
                _os.utime(_os.path.join(root, nm), (1_700_000_000 + b,) * 2)

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(_os.path.join(src, "b*"))
    )
    q = (
        stream.withWatermark("ts", "10 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream")
    assert got.count() == events.count()                  # no duplicates emitted
    assert got.select("event_id").distinct().count() == events.count()


def test_multi_index_durable_one_checkpoint_survives_engine_death(spark, tmp_path):
    """The reference's full topic topology, durable: ONE mutation stream +
    ONE checkpoint maintaining TWO indexes on storage. Run a 3-file
    prefix, throw the engine away ("process death"), add the remaining
    CDC files, and resume on a NEW session + NEW engine from the same
    index paths and checkpoint. Both on-disk indexes must equal their
    windowed-SQL rebuilds over the full log."""
    cdc = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    defn_a = _defn("idx_multi_dur_a")
    defn_b = IndexDefn(
        name="idx_multi_dur_b",
        bucket="events",
        sec_exprs=("event_type",),
        where_expr="value > 50",
    )
    paths = {
        "idx_multi_dur_a": str(tmp_path / "idx_a"),
        "idx_multi_dur_b": str(tmp_path / "idx_b"),
    }
    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5, upto_file=3)

    states1 = run_streaming_index_maintenance(
        spark, cdc, ckpt, [defn_a, defn_b], CDC_SCHEMA, index_paths=paths
    )
    assert states1["idx_multi_dur_a"].count() > 0  # engine now dropped

    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5)
    s2 = spark.newSession()
    states2 = run_streaming_index_maintenance(
        s2, cdc, ckpt, [defn_a, defn_b], CDC_SCHEMA, index_paths=paths
    )
    assert (
        sorted(tuple(r) for r in states2["idx_multi_dur_a"].collect())
        == _golden(spark)
    )

    # index B golden: latest live version per user, WHERE value > 50
    from pyspark.sql import Window

    events = load_table(spark, SMOKE_SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    golden_b = sorted(
        tuple(r)
        for r in (
            events.withColumn("rn", F.row_number().over(w))
            .filter(
                (F.col("rn") == 1)
                & (F.col("event_type") != "error")
                & (F.col("value") > 50)
            )
            .select(
                F.col("event_type").alias("key_0"),
                F.col("user_id").alias("doc_id"),
            )
            .collect()
        )
    )
    assert (
        sorted(tuple(r) for r in states2["idx_multi_dur_b"].collect()) == golden_b
    )


def test_dedup_within_watermark_bounds_state_and_drops_replays(spark, tmp_path):
    """dropDuplicatesWithinWatermark — the BOUNDED-STATE dedup the
    unbounded dropDuplicates can't be at 100 TB (its key set grows
    forever; the watermark variant expires state once event time passes
    the horizon). Feed a micro-batched stream where batch 2 replays a
    batch-1 event inside the watermark (at-least-once delivery) plus one
    genuinely new event: the replay must be dropped, the new event kept."""
    import pyspark.sql.functions as SF

    src = str(tmp_path / "feed")
    os.makedirs(src)
    rows1 = [(1, "2024-01-01 10:00:00", 100), (2, "2024-01-01 10:05:00", 101)]
    rows2 = [(2, "2024-01-01 10:05:00", 101), (3, "2024-01-01 10:06:00", 102)]
    schema = "event_id bigint, ts string, user_id bigint"
    for i, rows in enumerate([rows1, rows2]):
        (
            spark.createDataFrame(rows, schema)
            .select("event_id", SF.col("ts").cast("timestamp"), "user_id")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(src, f"b{i}"))
        )
        os.utime(
            os.path.join(src, f"b{i}"), (1_700_000_000 + i, 1_700_000_000 + i)
        )

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "b*"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = []

    def sink(batch_df, batch_id):
        out.extend((r["event_id"], r["user_id"]) for r in batch_df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(out) == [(1, 100), (2, 101), (3, 102)]


def test_streaming_maintains_reduce_view(spark, tmp_path):
    """A reduce view on a streamed index rides the same exactly-once sink:
    every micro-batch's delta folds into the view inside foreachBatch and
    is materialized at the same commit point as the index
    (checkpoint_state), so after the stream drains — including a
    kill/restart in the middle — the view equals a from-scratch GROUP BY
    over the golden final index."""
    from mapreduceindex_demo_spark.mapindex import MapIndexEngine

    cdc = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5, upto_file=3)
    eng = MapIndexEngine(spark)
    empty = spark.createDataFrame([], CDC_SCHEMA)
    eng.create_index(_defn("idx_rv"), empty, doc_id_col="user_id")
    eng.create_reduce_view("rv", "idx_rv", ["key_1"], sum_col="key_0")
    # a second view with the opt-in minmax measure rides the same sink:
    # streamed batches retract real extremes (deletes + doc updates), so
    # the affected-group recompute path runs inside foreachBatch too
    eng.create_reduce_view("rvmm", "idx_rv", ["key_1"], minmax_col="key_0")

    run_streaming_index_maintenance(
        spark, cdc, ckpt, [_defn("idx_rv")], CDC_SCHEMA, engine=eng
    )
    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5)
    run_streaming_index_maintenance(
        spark, cdc, ckpt, [_defn("idx_rv")], CDC_SCHEMA, engine=eng
    )

    got = sorted(tuple(r) for r in eng.reduce_view_table("rv").collect())
    want = sorted(
        tuple(r)
        for r in eng.index_table("idx_rv")
        .groupBy("key_1")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("key_0").alias("total"))
        .collect()
    )
    assert got == want and len(got) > 0
    got_mm = sorted(tuple(r) for r in eng.reduce_view_table("rvmm").collect())
    want_mm = sorted(
        tuple(r)
        for r in eng.index_table("idx_rv")
        .groupBy("key_1")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("key_0").alias("min_val"),
            F.max("key_0").alias("max_val"),
        )
        .collect()
    )
    assert got_mm == want_mm and len(got_mm) > 0
    # and the index itself still matches the batch golden answer
    assert sorted(tuple(r) for r in eng.index_table("idx_rv").collect()) == _golden(
        spark
    )


def test_streaming_durable_view_survives_engine_death(spark, tmp_path):
    """Stream → durable index + durable reduce view, with process death in
    the middle: the resumed run reopens the index from its sidecar and
    AUTO-REGISTERS the persisted view (an engine that forgot the view
    would silently stop maintaining its partials), and after the stream
    drains the served view equals a GROUP BY over the golden index."""
    from mapreduceindex_demo_spark.mapindex import MapIndexEngine

    cdc = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5, upto_file=3)

    # bootstrap: empty durable index + its durable view, then stream
    eng = MapIndexEngine(spark)
    empty = spark.createDataFrame([], CDC_SCHEMA)
    eng.create_index(_defn("idx_dur_rv"), empty, doc_id_col="user_id")
    eng.save_index("idx_dur_rv", idx, buckets=8)
    eng.save_reduce_view_durable("rv", "idx_dur_rv", ["key_1"], sum_col="key_0")
    run_streaming_index_maintenance(
        spark, cdc, ckpt, [_defn("idx_dur_rv")], CDC_SCHEMA,
        index_paths={"idx_dur_rv": idx}, engine=eng,
    )

    # process death; remaining CDC arrives; resume on a NEW session+engine
    materialize_cdc_files(spark, SMOKE_SF_DIR, cdc, n_files=5)
    s2 = spark.newSession()
    run_streaming_index_maintenance(
        s2, cdc, ckpt, [_defn("idx_dur_rv")], CDC_SCHEMA,
        index_paths={"idx_dur_rv": idx},
    )

    served = MapIndexEngine(spark)
    served.load_index(idx)  # auto-registers the persisted view
    got = sorted(tuple(r) for r in served.reduce_view_table_durable("rv").collect())
    want = sorted(
        tuple(r)
        for r in served.index_table("idx_dur_rv")
        .groupBy("key_1")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("key_0").alias("total"))
        .collect()
    )
    assert got == want and len(got) > 0


def test_streaming_drift_counts_feed_the_batch_kl(spark, tmp_path):
    """streaming_drift_daily's streaming claim, executed: the per-(day,
    type) tumbling counts run as a streaming aggregation over readStream
    (complete mode — the state is the live window set), and the batch-side
    KL fold over the SINK table reproduces the registered query exactly.
    This is the two-stage production shape: streaming agg → sink →
    dashboard fold (Spark forbids chained streaming aggregations, so the
    |days|×|types| fold is deliberately batch-side)."""
    from mapreduceindex_demo_spark.plans import QUERIES
    from tests.conftest import SMOKE_SF_DIR

    events = load_table(spark, SMOKE_SF_DIR, "events")
    src = str(tmp_path / "drift_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    counts = stream.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("double").alias("dc"))
    q = (
        counts.writeStream.format("memory")
        .queryName("drift_counts_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_drift"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # copy the sink into an ordinary DataFrame first: MemoryPlan exposes
    # FIXED attribute ids, so any self-join of the sink view trips
    # Spark's conflicting-reference resolution (INTERNAL_ERROR) instead
    # of the usual auto-dedup
    sink = spark.createDataFrame(
        spark.table("drift_counts_sink").collect(),
        "day string, event_type string, dc double",
    )
    ref = sink.groupBy("event_type").agg(F.sum("dc").alias("c"))
    rt = ref.agg(F.sum("c").alias("t"))
    dt = sink.groupBy("day").agg(F.sum("dc").alias("td"))
    p = F.col("dc") / F.col("td")
    qq = F.col("c") / F.col("t")
    folded = (
        sink.join(dt, "day")
        .join(F.broadcast(ref), "event_type")
        .crossJoin(F.broadcast(rt))
        .groupBy("day")
        .agg(
            F.max("td").cast("bigint").alias("n_events"),
            (F.round(F.sum(p * F.log(p / qq)), 6) + F.lit(0.0)).alias(
                "kl_to_reference"
            ),
        )
    )
    got = sorted(tuple(r) for r in folded.collect())
    want = sorted(
        tuple(r)
        for r in QUERIES["streaming_drift_daily"].fn(spark, SMOKE_SF_DIR).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_daily_counts_feed_the_batch_anomaly_scores(spark, tmp_path):
    """events_anomaly_daily's streaming claim, executed: the per-(type,
    day) tumbling counts run as a streaming aggregation over readStream,
    and the batch-side trailing-window z-score pass over the SINK table
    reproduces the registered query exactly — the same two-stage shape as
    the drift time series (streaming agg → sink → monitoring fold; the
    trailing window is inherently a batch pass over closed days)."""
    from pyspark.sql import Window

    from mapreduceindex_demo_spark.plans import QUERIES
    from tests.conftest import SMOKE_SF_DIR

    events = load_table(spark, SMOKE_SF_DIR, "events")
    src = str(tmp_path / "anom_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    counts = stream.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    q = (
        counts.writeStream.format("memory")
        .queryName("anom_counts_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_anom"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink = spark.createDataFrame(
        spark.table("anom_counts_sink").collect(),
        "event_type string, day string, cnt long",
    )
    tw = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    w = sink.select(
        "event_type",
        "day",
        "cnt",
        F.sum("cnt").over(tw).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(tw).alias("ss"),
        F.count(F.lit(1)).over(tw).alias("n"),
    ).where(F.col("n") >= 4)
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    sd = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n").cast("double")
        )
        / (F.col("n") - 1).cast("double")
    )
    z = w.select(
        "event_type", "day", "cnt", mu.alias("mu"), sd.alias("sd")
    ).where(F.col("sd") > 0)
    zexpr = (F.col("cnt").cast("double") - F.col("mu")) / F.col("sd")
    folded = (
        z.select(
            "event_type",
            "day",
            F.col("cnt").cast("bigint").alias("cnt"),
            (F.round(F.col("mu"), 6) + F.lit(0.0)).alias("trailing_mean"),
            (F.round(zexpr, 6) + F.lit(0.0)).alias("zscore"),
            F.round(F.abs(zexpr), 6).alias("__az"),
        )
        .orderBy(F.desc("__az"), "event_type", "day")
        .limit(10)
        .drop("__az")
        .collect()
    )
    batch = QUERIES["events_anomaly_daily"].fn(spark, SMOKE_SF_DIR).collect()
    assert sorted(map(tuple, folded)) == sorted(map(tuple, batch))


def test_stream_stream_left_interval_join_matches_batch(spark, tmp_path):
    """The LEFT-OUTER attribution join run as a true watermarked outer
    stream-stream join — pinning the OUTER-emission semantics exactly:
    (phase 1) at stream end the emitted set is the matched rows plus the
    NULL (organic) rows whose join window the final watermark has
    passed; the tail organics are WITHHELD (no future data proves their
    window closed — the published SS outer-join behavior, not a bug);
    (phase 2) restarting from the checkpoint with one watermark-advancing
    late click flushes exactly the withheld rows — eventual completeness
    vs the batch answer, NULL rows included."""
    import datetime

    from mapreduceindex_demo_spark.streaming.joins import (
        purchase_attribution_left_join,
        split_click_purchase,
    )

    events = load_table(spark, SMOKE_SF_DIR, "events")
    clicks_b, purchases_b = split_click_purchase(events)
    expected = sorted(
        tuple(r)
        for r in purchase_attribution_left_join(clicks_b, purchases_b).collect()
    )
    assert any(r[1] is None for r in expected), "no organic purchases at smoke SF"
    assert any(r[1] is not None for r in expected)

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks_b.repartition(4).write.parquet(cdir)
    purchases_b.write.parquet(pdir)
    cschema = "c_user_id bigint, click_id bigint, click_ts timestamp"
    pschema = (
        "p_user_id bigint, purchase_id bigint, purchase_ts timestamp, "
        "purchase_value double"
    )

    outdir = str(tmp_path / "out")
    oschema = (
        "purchase_id bigint, click_id bigint, user_id bigint, "
        "click_time string, purchase_time string, purchase_value double, "
        "is_organic boolean"
    )

    def run():
        # file sink, not memory: only a fault-tolerant sink supports the
        # phase-2 checkpoint resume
        clicks_s = spark.readStream.schema(cschema).option(
            "maxFilesPerTrigger", "2"
        ).parquet(cdir)
        purchases_s = spark.readStream.schema(pschema).parquet(pdir)
        q = (
            purchase_attribution_left_join(
                clicks_s, purchases_s, watermark="2 hours"
            )
            .writeStream.format("parquet")
            .option("path", outdir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [
            tuple(r) for r in spark.read.schema(oschema).parquet(outdir).collect()
        ]

    got1 = run()
    # the global watermark is min(per-stream max event time) - lateness
    max_c = max(r.click_ts for r in clicks_b.collect())
    max_p = max(r.purchase_ts for r in purchases_b.collect())
    wm = min(max_c, max_p) - datetime.timedelta(hours=2)
    emittable = sorted(
        r
        for r in expected
        if r[1] is not None
        or datetime.datetime.strptime(r[4], "%Y-%m-%d %H:%M:%S") < wm
    )
    assert sorted(got1) == emittable
    withheld = len(expected) - len(emittable)
    assert withheld > 0, "the tail-withholding branch must be exercised"

    # phase 2: one late event on EACH stream a day past the end — the
    # global watermark is the MIN of the per-stream watermarks, so both
    # must advance to flush the withheld organics. The sentinel click
    # matches no purchase; the sentinel purchase is itself withheld
    # (nothing ever advances the watermark past it), so the resumed
    # output is exactly the original batch answer.
    late = max_p + datetime.timedelta(days=1)
    spark.createDataFrame(
        [(int(-1), int(-1), late)], cschema
    ).write.mode("append").parquet(cdir)
    spark.createDataFrame(
        [(int(-2), int(-2), late, float(0.0))], pschema
    ).write.mode("append").parquet(pdir)
    got_all = run()
    assert sorted(got_all) == expected


def test_stream_stream_full_interval_join_matches_batch(spark, tmp_path):
    """The FULL-OUTER attribution join run as a true watermarked full
    stream-stream join — BOTH NULL sides pinned: (phase 1) at stream end
    the emitted set is the matched rows, plus the organic purchases
    whose join window the final watermark passed, plus the unconverted
    clicks whose forward horizon the watermark passed; each side's tail
    NULLs are WITHHELD (published SS semantics). (phase 2) restarting
    from the checkpoint with one watermark-advancing late event per
    stream flushes exactly the remainder — eventual completeness vs the
    batch answer, both NULL kinds included."""
    import datetime

    from mapreduceindex_demo_spark.streaming.joins import (
        attribution_full_join,
        split_click_purchase,
    )

    def _key(t):
        return tuple((x is None, str(x)) for x in t)

    events = load_table(spark, SMOKE_SF_DIR, "events")
    clicks_b, purchases_b = split_click_purchase(events)
    expected = sorted(
        (tuple(r) for r in attribution_full_join(clicks_b, purchases_b).collect()),
        key=_key,
    )
    kinds = {r[6] for r in expected}
    assert kinds == {"attributed", "organic", "unconverted"}, kinds

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks_b.repartition(4).write.parquet(cdir)
    purchases_b.write.parquet(pdir)
    cschema = "c_user_id bigint, click_id bigint, click_ts timestamp"
    pschema = (
        "p_user_id bigint, purchase_id bigint, purchase_ts timestamp, "
        "purchase_value double"
    )
    outdir = str(tmp_path / "out")
    oschema = (
        "purchase_id bigint, click_id bigint, user_id bigint, "
        "click_time string, purchase_time string, purchase_value double, "
        "row_kind string"
    )

    def run():
        clicks_s = spark.readStream.schema(cschema).option(
            "maxFilesPerTrigger", "2"
        ).parquet(cdir)
        purchases_s = spark.readStream.schema(pschema).parquet(pdir)
        q = (
            attribution_full_join(clicks_s, purchases_s, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", outdir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [
            tuple(r) for r in spark.read.schema(oschema).parquet(outdir).collect()
        ]

    got1 = run()
    matched1 = sorted((r for r in got1 if r[6] == "attributed"), key=_key)
    assert matched1 == sorted(
        (r for r in expected if r[6] == "attributed"), key=_key
    )
    # every phase-1 NULL row is a genuine batch row (no spurious NULLs),
    # and some from EACH side are withheld at stream end
    assert set(got1) <= set(expected)
    for kind in ("organic", "unconverted"):
        assert len([r for r in expected if r[6] == kind]) > len(
            [r for r in got1 if r[6] == kind]
        ), f"the {kind} tail-withholding branch must be exercised"

    # phase 2: one late event on EACH stream a day past the end advances
    # the min-across-streams watermark; the sentinels themselves stay
    # withheld (nothing ever advances the watermark past them), so the
    # resumed output is exactly the original batch answer.
    max_c = max(r.click_ts for r in clicks_b.collect())
    max_p = max(r.purchase_ts for r in purchases_b.collect())
    late = max(max_c, max_p) + datetime.timedelta(days=1)
    spark.createDataFrame(
        [(int(-1), int(-1), late)], cschema
    ).write.mode("append").parquet(cdir)
    spark.createDataFrame(
        [(int(-2), int(-2), late, float(0.0))], pschema
    ).write.mode("append").parquet(pdir)
    got_all = run()
    assert sorted(got_all, key=_key) == expected
