"""Streaming incremental near-dup dedup — the steady-state crawl loop.

Each micro-batch of newly-crawled documents is deduped against the
running corpus via `operators/dedup.py::lsh_dedup_incremental`: the
ONLY corpus-scale state is the (band, sig) MinHash band-signature
table, touched by one left-semi join per batch; survivors' documents
and band rows are appended, so the state grows with the SURVIVING
corpus, never the raw crawl.

Exactly-once across restarts without transactions: foreachBatch is
at-least-once, so both writes are keyed by epoch
(`.../epoch=<id>/`, mode=overwrite) — a replayed epoch REWRITES its own
partition instead of double-appending, and the state read excludes the
current epoch so a partially-committed prior attempt of the same epoch
can never mark its own documents as duplicates. (On a real deployment
both sinks would be Iceberg tables and the epoch key an idempotent
overwrite-by-filter commit — same shape.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_dedup_incremental(spark: SparkSession, docs_dir: str,
                             out_dir: str, state_dir: str,
                             checkpoint_dir: str,
                             df_cap: int | None = 1000,
                             max_files_per_trigger: int | None = None):
    """File-source stream of (doc_id bigint, text string) batches ->
    surviving docs under out_dir/epoch=N, band-signature state under
    state_dir/epoch=N. `availableNow` drains what's present and stops;
    re-running against the same checkpoint resumes with the state
    accumulated by prior runs (restart-tested)."""
    from dygiepp_spark.operators.dedup import (lsh_band_table,
                                               lsh_dedup_incremental)

    reader = spark.readStream.schema("doc_id bigint, text string")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet(docs_dir)

    def _state_epochs_exist() -> bool:
        # Explicit missing-path pre-check instead of a catch-all around
        # the read: a bare `except Exception` would also swallow corrupt
        # state parquet / transient FS errors, silently dedup against an
        # EMPTY state, and permanently commit near-duplicates. Any real
        # read failure must propagate and fail the batch (foreachBatch
        # retries it).
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(state_dir)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return False
        return any(st.getPath().getName().startswith("epoch=")
                   for st in fs.listStatus(path))

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if _state_epochs_exist():
            state = (spark.read.option("basePath", state_dir)
                     .parquet(f"{state_dir}/epoch=*")
                     .filter(F.col("epoch") != F.lit(int(epoch_id)))
                     .select("band", "sig"))
        else:
            # first epoch: no state partitions exist yet
            state = spark.range(0).select(
                F.col("id").alias("band"), F.col("id").alias("sig"))
        surv_ids = lsh_dedup_incremental(batch_df, state, df_cap=df_cap)
        surv = (batch_df.join(surv_ids, "doc_id", "left_semi")
                .localCheckpoint(eager=True))
        surv.write.mode("overwrite").parquet(
            f"{out_dir}/epoch={int(epoch_id)}")
        (lsh_band_table(surv, df_cap=df_cap)
         .select("band", "sig")
         .write.mode("overwrite").parquet(
             f"{state_dir}/epoch={int(epoch_id)}"))

    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
