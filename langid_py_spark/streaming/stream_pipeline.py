"""Structured Streaming variant of the quality-filter pipeline.

The reference's only 'streaming' surface is a stateless WSGI server
(langid/langid.py::application ~L310-L360) — request in, (lang, conf)
out. The Spark-native analogue: the scoring stage is a stateless
per-row map, so the SAME score_turns() transformation graph (classify +
ppl + rules + scrub) applies unchanged to a streaming DataFrame; only
the conversation-level vote needs a group, and it runs within each
micro-batch (foreachBatch). A conversation whose turns span micro-batches
gets its final vote from the batch backfill (`run_pipeline`), which
shares all the scoring code.

Batch-over-Iceberg remains the v1 production path (SURVEY §2.8); this
module exists because the operator set genuinely supports streaming and
a user of the reference's HTTP mode would land here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from langid_py_spark.spark.pipeline import score_turns
from langid_py_spark.spark.vote import conversation_vote

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of transcript parquet drops."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def run_stream_to_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Score a stream and write per micro-batch with the conversation
    vote applied WITHIN each batch (foreachBatch — the micro-batch is
    the consistency unit; cross-batch conv votes belong to the batch
    backfill job, which shares all code)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        conv = conversation_vote(batch_df).select("conv_id", "conv_lang")
        (
            batch_df.join(conv, "conv_id", "left")
            .write.mode("append")
            .parquet(out_path)
        )

    scored = score_turns(read_transcript_stream(spark, in_path))
    writer = (
        scored.writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(handle)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

