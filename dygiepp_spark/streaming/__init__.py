"""Streaming surface.

The reference is strictly batch (SURVEY.md §2.10) — jsonl in, jsonl
out; there are no watermarks/event-time/session-window semantics to
replicate. The north_rule's "resumable, no recompute of completed
partitions" maps to the batch lineage commit-log (plans/pipeline.py),
not to Structured Streaming state.

For deployments that want a streaming *ingestion* surface anyway, the
batch pipeline is reused unchanged under an `availableNow` trigger via
foreachBatch — each micro-batch of pages runs the identical extraction
operator, so semantics (and decode parity) are inherited rather than
re-implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dygiepp_spark.operators.extract import TRIPLE_SCHEMA  # noqa: F401


def stream_pages_to_triples(spark: SparkSession, pages_dir: str,
                            out_dir: str, checkpoint_dir: str,
                            pages_schema: str = (
                                "url string, warc_ts timestamp, "
                                "html binary, text string, lang string")):
    """File-source streaming wrapper over the batch extractor.
    `availableNow` drains everything currently present then stops —
    the batch-equivalent trigger; Structured Streaming's file-source
    log provides exactly-once per input file, complementing the
    partition-level lineage of the batch path."""
    from dygiepp_spark.operators.extract import extract_triples

    stream = (spark.readStream.schema(pages_schema)
              .parquet(pages_dir))

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        (extract_triples(batch_df)[0]
         .write.mode("append").parquet(out_dir))

    return (stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
