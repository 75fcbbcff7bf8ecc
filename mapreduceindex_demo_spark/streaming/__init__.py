"""Streaming layer (SURVEY §2.5): Structured Streaming re-expression of the
reference's DCP mutation-stream semantics — micro-batch CDC ingestion,
checkpointed exactly-once index maintenance, event-time windows with
watermarks."""

from mapreduceindex_demo_spark.streaming.maintenance import (  # noqa: F401
    materialize_cdc_files,
    run_streaming_index_maintenance,
)
