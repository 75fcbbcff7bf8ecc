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


def _run_available_now(
    spark: SparkSession, cdc_dir: str, checkpoint_dir: str, schema, apply_batch
) -> None:
    """The one readStream loop: replay the ``batch_*`` files under
    ``cdc_dir`` one per micro-batch, in order, through ``apply_batch``
    (foreachBatch ≙ the dataport sink, S7) to exhaustion
    (Trigger.AvailableNow), with the offsets in ``checkpoint_dir``."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(hadoopfs.join(cdc_dir, "batch_*"))
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_streaming_index_maintenance(
    spark: SparkSession,
    cdc_dir: str,
    checkpoint_dir: str,
    defns: list[IndexDefn],
    schema,
    engine: MapIndexEngine | None = None,
    doc_id_col: str = "user_id",
    seq_col: str | None = "event_id",
    index_paths: dict[str, str] | None = None,
    buckets: int = 8,
) -> dict[str, DataFrame]:
    """Maintain the indexes ``defns`` from ONE mutation stream, run to
    exhaustion (Trigger.AvailableNow) with one checkpoint. Returns the
    final state of each index by name.

    This is the reference's topic shape: ``NewMutationTopicRequest(topic,
    endpointType, instances)`` carries a *list* of index instances and
    every DCP event is evaluated against all of them (projector.go:237-247,
    evaluator map keyed by instance uuid at projector.go:787-813). One
    readStream and one offset log serve every index; each index's commit
    reads the micro-batch once into the batch frame the engine owns, so N
    indexes read a micro-batch N times (its file, not a shared cache).

    Without ``index_paths`` the indexes live in the engine's memory: each
    micro-batch is merged by :meth:`MapIndexEngine.apply_changes`, which
    commits, and ``checkpoint_state``, the engine-owned commit point, is
    called before the stream commits the offset. Restart-safe:
    rerunning with the same checkpoint and engine skips committed batches
    (rollback ≙ checkpoint recovery).

    With ``index_paths`` (index name → directory) every index lives ON
    STORAGE — the complete reference pipeline, DCP feed → projector →
    dataport sink persisting via index.go:173-214 (indexjs.go:129-188).
    Each micro-batch is merged with
    :meth:`MapIndexEngine.apply_changes_durable`, whose
    dynamic-partition-overwrite rewrite is IDEMPOTENT: a crash after some
    (or all) sinks wrote but before the offset committed replays the batch
    into identical bytes, and the offset only commits once every sink has
    applied. The parquet tables are the state, so the stream survives
    engine AND session death: resume with a fresh engine on the same
    paths and checkpoint. A first run creates each index empty and saves
    it with ``buckets`` buckets; later runs reopen it from its sidecar.
    """
    eng = engine or MapIndexEngine(spark)
    empty = spark.createDataFrame([], schema)
    for defn in defns:
        path = index_paths[defn.name] if index_paths else None
        if path and hadoopfs.HadoopFS(spark, path).exists(
            hadoopfs.join(path, MapIndexEngine.DURABLE_META)
        ):
            eng.load_index(path)
            continue
        if defn.name not in eng.catalog.list_indexes():
            eng.create_index(defn, empty, doc_id_col=doc_id_col)
        if path:
            eng.save_index(defn.name, path, buckets=buckets)

    args = {"doc_id_col": doc_id_col, "op_col": "op", "seq_col": seq_col}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        for defn in defns:
            if index_paths:
                eng.apply_changes_durable(defn.name, batch_df, **args)
            else:
                eng.apply_changes(defn.name, batch_df, **args)
                # the commit point: exactly-once requires the batch's
                # effect to be durable before the checkpoint commits the
                # offset (apply_changes has committed, so no job runs)
                eng.checkpoint_state(defn.name)

    _run_available_now(spark, cdc_dir, checkpoint_dir, schema, apply_batch)
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
    (operators/vector_index.py) — the ANN twin of the durable
    :func:`run_streaming_index_maintenance`: the quantizer stays frozen
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
    _run_available_now(
        spark,
        cdc_dir,
        checkpoint_dir,
        VECTOR_CDC_SCHEMA,
        lambda batch_df, batch_id: idx.apply_changes(batch_df),
    )
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
