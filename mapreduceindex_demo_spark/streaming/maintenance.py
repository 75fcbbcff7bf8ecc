"""Streaming index maintenance: the reference's mutation-stream pipeline
(S1/S3-S6, T1/T2) on Structured Streaming.

Correspondence (SURVEY §2.1/§2.5):

- per-vbucket DCP feed with restart timestamps → file-source micro-batches
  with a checkpoint dir (offsets = the reference's TsVbuuid vectors);
- snapshot markers / stream-begin / sync heartbeats → micro-batch
  boundaries (not user-visible);
- rollback negotiation (kv_sender.go:270-346) → checkpoint recovery: a
  restarted query resumes from the last committed batch, and the MERGE in
  apply_changes is idempotent per batch, so replays converge — this is the
  exactly-once story (T1);
- INIT_STREAM backfill → the index's batch build before the stream starts;
  MAINT_STREAM → the running query.

At 100 TB the file source becomes Kafka/cloud-log CDC and the in-memory
state a real table (MERGE INTO); nothing else changes shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceindex_demo_spark.catalog import IndexDefn
from mapreduceindex_demo_spark.mapindex import MapIndexEngine
from mapreduceindex_demo_spark.session import load_table, parquet_col_max, table_path
from mapreduceindex_demo_spark.sources import hadoopfs


def materialize_cdc_files(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_files: int = 5,
    upto_file: int | None = None,
) -> str:
    """Split the events table into ``n_files`` sequential parquet files by
    event_id range — a deterministic replayable CDC feed for the file
    source. ``upto_file`` materializes only a prefix (for restart tests).

    Files get strictly increasing mtimes so the file source's
    (modTime, path) ordering replays them in sequence order.
    """
    events = load_table(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "delete").otherwise("upsert")
    )
    # split boundary from parquet footer stats — no Spark job (r1 ADVICE)
    hi = parquet_col_max(table_path(sf_dir, "events"), "event_id") or 0
    step = (hi + n_files) // n_files or 1

    def batch_fn(b: int) -> DataFrame:
        return events.filter(
            (F.col("event_id") >= b * step) & (F.col("event_id") < (b + 1) * step)
        )

    return _materialize_batches(spark, out_dir, n_files, upto_file, batch_fn)


def _materialize_batches(
    spark: SparkSession,
    out_dir: str,
    n_files: int,
    upto_file: int | None,
    batch_fn,
) -> str:
    """The ONE replayable-feed writer behind every CDC materializer: each
    ``batch_fn(b)`` frame lands as ``batch_{b:03d}/data.parquet`` with a
    strictly increasing mtime stamped on the DATA FILE — the file source
    orders leaf FILES by (modTime, path), so stamping the directory would
    leave replay order to wall-clock write times and coarse filesystem
    mtime granularity (two batches in one tick could replay delete-before-
    upsert and resurrect retracted rows). Skip-if-exists makes a prefix
    materialization + later completion idempotent; all metadata ops go
    through the Hadoop FS API so the staging dir can live on
    hdfs://s3a:// like the index layouts."""
    fs = hadoopfs.HadoopFS(spark, out_dir)
    fs.mkdirs(out_dir)
    limit = n_files if upto_file is None else upto_file
    for b in range(limit):
        part_dir = hadoopfs.join(out_dir, f"batch_{b:03d}")
        if fs.exists(part_dir):
            continue
        batch_fn(b).coalesce(1).write.mode("overwrite").parquet(part_dir + ".tmp")
        files = [
            f
            for f in fs.list_names(part_dir + ".tmp")
            if f.endswith(".parquet")
        ]
        fs.mkdirs(part_dir)
        fs.rename(
            hadoopfs.join(part_dir + ".tmp", files[0]),
            hadoopfs.join(part_dir, "data.parquet"),
        )
        fs.delete(part_dir + ".tmp")
        fs.set_times(
            hadoopfs.join(part_dir, "data.parquet"), (1_700_000_000 + b) * 1000
        )
    return out_dir


def run_streaming_index_maintenance(
    spark: SparkSession,
    cdc_dir: str,
    checkpoint_dir: str,
    defn: IndexDefn,
    schema,
    engine: MapIndexEngine | None = None,
    doc_id_col: str = "user_id",
    seq_col: str = "event_id",
) -> DataFrame:
    """Run the maintenance stream to exhaustion (Trigger.AvailableNow) with
    a checkpoint, applying each micro-batch through the engine's MERGE.
    Returns the final index state. Restart-safe: rerunning with the same
    checkpoint skips committed batches (rollback ≙ checkpoint recovery)."""
    eng = engine or MapIndexEngine(spark)
    if defn.name not in eng.catalog.list_indexes():
        empty = spark.createDataFrame([], schema)
        eng.create_index(defn, empty, doc_id_col=doc_id_col)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(hadoopfs.join(cdc_dir, "batch_*"))
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch ≙ the dataport sink (S7); idempotent MERGE per batch
        eng.apply_changes(
            defn.name,
            batch_df,
            doc_id_col=doc_id_col,
            op_col="op",
            seq_col=seq_col,
        )
        # the commit point: exactly-once requires the batch's effect to be
        # durable before the checkpoint commits the offset (apply_changes
        # has committed already, so this runs no job)
        eng.checkpoint_state(defn.name)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return eng.index_table(defn.name)


def run_streaming_durable_maintenance(
    spark: SparkSession,
    cdc_dir: str,
    checkpoint_dir: str,
    defn: IndexDefn,
    schema,
    index_path: str,
    engine: MapIndexEngine | None = None,
    doc_id_col: str = "user_id",
    seq_col: str = "event_id",
    buckets: int = 8,
) -> DataFrame:
    """Maintenance stream writing through the DURABLE index table — the
    complete reference pipeline: DCP feed → projector → index ON STORAGE
    (dataport sink indexjs.go:129-188 persisting via index.go:173-214).

    Exactly-once (T1), the storage-backed version: each micro-batch is
    merged with :meth:`MapIndexEngine.apply_changes_durable`, whose
    dynamic-partition-overwrite rewrite is IDEMPOTENT — a crash after the
    write but before the checkpoint commits the offset replays the batch
    into identical bytes on restart. No in-memory state to pin; the
    parquet table is the state, and it survives engine AND session death
    (resume with a fresh engine pointing at the same index_path +
    checkpoint_dir).

    First call bootstraps: an empty index is created and saved at
    ``index_path``; later calls (including restarts) reopen it from the
    sidecar.
    """
    eng = engine or MapIndexEngine(spark)
    if hadoopfs.HadoopFS(spark, index_path).exists(
        hadoopfs.join(index_path, MapIndexEngine.DURABLE_META)
    ):
        eng.load_index(index_path)
    else:
        empty = spark.createDataFrame([], schema)
        eng.create_index(defn, empty, doc_id_col=doc_id_col)
        eng.save_index(defn.name, index_path, buckets=buckets)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(hadoopfs.join(cdc_dir, "batch_*"))
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        eng.apply_changes_durable(
            defn.name,
            batch_df,
            doc_id_col=doc_id_col,
            op_col="op",
            seq_col=seq_col,
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return eng.index_table(defn.name)


def run_streaming_multi_index_maintenance(
    spark: SparkSession,
    cdc_dir: str,
    checkpoint_dir: str,
    defns: list[IndexDefn],
    schema,
    engine: MapIndexEngine | None = None,
    doc_id_col: str = "user_id",
    seq_col: str = "event_id",
) -> dict[str, DataFrame]:
    """Maintain MANY indexes from ONE mutation stream — the reference's
    actual topic shape: ``NewMutationTopicRequest(topic, endpointType,
    instances)`` carries a *list* of index instances and every DCP event
    is evaluated against all of them (projector.go:237-247, evaluator map
    keyed by instance uuid at projector.go:787-813).

    One readStream + one checkpoint; each micro-batch is read once,
    cached, and MERGEd into every index — the scan/feed cost is amortized
    across indexes exactly as one DCP feed serves all indexes on a bucket.
    At 100 TB this is the difference between N CDC consumers and one.
    """
    eng = engine or MapIndexEngine(spark)
    empty = spark.createDataFrame([], schema)
    for defn in defns:
        if defn.name not in eng.catalog.list_indexes():
            eng.create_index(defn, empty, doc_id_col=doc_id_col)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(hadoopfs.join(cdc_dir, "batch_*"))
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()  # one materialization feeds all indexes
        try:
            for defn in defns:
                eng.apply_changes(
                    defn.name,
                    batch_df,
                    doc_id_col=doc_id_col,
                    op_col="op",
                    seq_col=seq_col,
                )
                eng.checkpoint_state(defn.name)
        finally:
            batch_df.unpersist()

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {defn.name: eng.index_table(defn.name) for defn in defns}


def run_streaming_multi_index_durable_maintenance(
    spark: SparkSession,
    cdc_dir: str,
    checkpoint_dir: str,
    defns: list[IndexDefn],
    schema,
    index_paths: dict[str, str],
    engine: MapIndexEngine | None = None,
    doc_id_col: str = "user_id",
    seq_col: str = "event_id",
    buckets: int = 8,
) -> dict[str, DataFrame]:
    """ONE mutation stream maintaining MANY indexes ON STORAGE — the full
    reference topology: a topic's single DCP feed serves every index on
    the bucket (projector.go:237-247), and each index instance persists
    through its dataport sink to the storage nodes (indexjs.go:129-188,
    index.go:173-214). One readStream + ONE checkpoint; each micro-batch
    is read once, cached, and merged THROUGH each index's durable table
    via the idempotent dynamic-partition-overwrite rewrite.

    Exactly-once across N sinks from one offset log: a crash after some
    (but not all) indexes committed their rewrite replays the batch into
    ALL of them on restart — the already-written indexes rewrite the same
    partitions with the same bytes (idempotent), the missed ones catch
    up, and the offset only commits once every sink has applied. Survives
    engine AND session death: resume with a fresh engine pointing at the
    same index paths + checkpoint dir.

    First call bootstraps each index (empty build + save); restarts
    reopen every index from its sidecar.
    """
    eng = engine or MapIndexEngine(spark)
    empty = spark.createDataFrame([], schema)
    for defn in defns:
        path = index_paths[defn.name]
        if hadoopfs.HadoopFS(spark, path).exists(
            hadoopfs.join(path, MapIndexEngine.DURABLE_META)
        ):
            eng.load_index(path)
        else:
            eng.create_index(defn, empty, doc_id_col=doc_id_col)
            eng.save_index(defn.name, path, buckets=buckets)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(hadoopfs.join(cdc_dir, "batch_*"))
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()  # one materialization feeds all sinks
        try:
            for defn in defns:
                eng.apply_changes_durable(
                    defn.name,
                    batch_df,
                    doc_id_col=doc_id_col,
                    op_col="op",
                    seq_col=seq_col,
                )
        finally:
            batch_df.unpersist()

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {defn.name: eng.index_table(defn.name) for defn in defns}


# -- streaming maintenance of the durable VECTOR index ----------------------

#: CDC feed schema for embedding mutations
VECTOR_CDC_SCHEMA = (
    "vec_id BIGINT, ee ARRAY<DOUBLE>, op STRING"
)


def materialize_embedding_cdc_files(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_files: int = 4,
    upto_file: int | None = None,
    bootstrap_max_id: int = 16,
) -> None:
    """Deterministic replayable embedding-mutation feed: vectors above the
    bootstrap range arrive as upsert slices by vec_id range; the LAST file
    retracts every vec_id divisible by 13 (delete ops) — so deletes always
    follow their upserts (replay-order contract in _materialize_batches)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") != 0)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("ee")
        )
    )
    hi = parquet_col_max(table_path(sf_dir, "embeddings"), "vec_id") or 0
    lo = bootstrap_max_id
    slices = max(n_files - 1, 1)
    step = (hi - lo + slices) // slices or 1

    def batch_fn(b: int) -> DataFrame:
        if b < n_files - 1:
            return emb.where(
                (F.col("vec_id") > lo + b * step)
                & (F.col("vec_id") <= lo + (b + 1) * step)
            ).withColumn("op", F.lit("upsert"))
        return emb.where(
            (F.col("vec_id") % 13 == 0) & (F.col("vec_id") > lo)
        ).withColumn("op", F.lit("delete"))

    _materialize_batches(spark, out_dir, n_files, upto_file, batch_fn)


def run_streaming_vector_index_maintenance(
    spark: SparkSession,
    cdc_dir: str,
    checkpoint_dir: str,
    index_path: str,
):
    """Stream embedding mutations into the durable IVF vector index
    (operators/vector_index.py) — the ANN twin of
    :func:`run_streaming_durable_maintenance`: the quantizer stays frozen
    (trained at bootstrap), each micro-batch re-assigns its upserts
    against the stored centroids and dynamically overwrites only the
    affected cell directories. The rewrite is idempotent, so a batch
    replayed after a crash-before-checkpoint lands identical bytes —
    exactly-once index state from an at-least-once feed, surviving
    engine AND session death (resume with the same index_path +
    checkpoint_dir).

    At 100 TB this is the live-embedding-ingestion shape: a Kafka feed of
    (id, vector) upserts/deletes keeps a serving ANN index fresh without
    ever rebuilding it; re-training (which moves cell boundaries) stays a
    scheduled batch job.
    """
    from mapreduceindex_demo_spark.operators.vector_index import IVFVectorIndex

    idx = IVFVectorIndex.open(spark, index_path)

    stream = (
        spark.readStream.schema(VECTOR_CDC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(hadoopfs.join(cdc_dir, "batch_*"))
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        idx.apply_changes(batch_df)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return idx


# -- streaming maintenance of the SEARCH indexes ----------------------------

#: CDC feed schema for document mutations (the search-index feed)
DOC_CDC_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, "
    "n_chars BIGINT, op STRING"
)


def materialize_document_cdc_files(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_files: int = 4,
    upto_file: int | None = None,
) -> None:
    """Replayable document-mutation feed: upsert slices by doc_id range,
    then a final file retracting every doc_id divisible by 13 — the feed
    that keeps the full-text search indexes (token postings + doc length)
    fresh (replay-order contract in _materialize_batches)."""
    docs = load_table(spark, sf_dir, "documents")
    hi = parquet_col_max(table_path(sf_dir, "documents"), "doc_id") or 0
    slices = max(n_files - 1, 1)
    step = (hi + slices) // slices or 1

    def batch_fn(b: int) -> DataFrame:
        if b < n_files - 1:
            return docs.where(
                (F.col("doc_id") >= b * step) & (F.col("doc_id") < (b + 1) * step)
            ).withColumn("op", F.lit("upsert"))
        return docs.where(F.col("doc_id") % 13 == 0).withColumn(
            "op", F.lit("delete")
        )

    _materialize_batches(spark, out_dir, n_files, upto_file, batch_fn)


def search_index_defns() -> list[IndexDefn]:
    """The two engine indexes that make the corpus BM25-servable: an array
    index over the tokens (= inverted postings) and a single-key index
    over the token count (= doc lengths). Plain IndexDefns — the whole
    search-index maintenance story is the ordinary multi-index durable
    stream applied to them."""
    return [
        IndexDefn(
            name="idx_search_tokens",
            bucket="documents",
            sec_exprs=("split(text, ' ')",),
            is_array_index=True,
        ),
        IndexDefn(
            name="idx_search_doclen",
            bucket="documents",
            sec_exprs=("size(split(text, ' '))",),
        ),
    ]
