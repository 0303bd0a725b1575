"""Structured Streaming variant of the quality-filter pipeline.

The reference's only 'streaming' surface is a stateless WSGI server
(langid/langid.py::application ~L310-L360) — request in, (lang, conf)
out. The Spark-native analogue: the scoring stage is a stateless
per-row map, so the SAME score_turns() transformation graph (classify +
ppl + rules + scrub) applies unchanged to a streaming DataFrame; only
the conversation-level vote is stateful and is handled per micro-batch
(foreachBatch) or by a watermarked window aggregation.

Batch-over-Iceberg remains the v1 production path (SURVEY §2.8); this
module exists because the operator set genuinely supports streaming and
a user of the reference's HTTP mode would land here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def windowed_lang_counts(stream: DataFrame, window: str = "10 minutes", watermark: str = "20 minutes") -> DataFrame:
    """Watermarked per-language turn counts (late data beyond the
    watermark is dropped deterministically)."""
    scored = score_turns(stream)
    return (
        scored.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("lang"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
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


# ------------------------------------------- custom stateful operator
STATEFUL_VOTE_OUT = (
    "conv_id string, conv_lang string, conv_lang_weight long, "
    "conv_total_weight long"
)
_STATEFUL_VOTE_STATE = "langs array<string>, weights array<long>"


def stateful_conversation_vote(
    scored: DataFrame, ttl_minutes: float = 30
) -> DataFrame:
    """Cross-micro-batch conversation vote via applyInPandasWithState.

    foreachBatch votes (run_stream_to_parquet) are consistent only WITHIN
    one micro-batch; this operator keeps a per-conv_id running tally of
    byte-weights per language in Spark's state store, so a conversation
    whose turns arrive across many micro-batches converges to the same
    length-weighted argmax as the batch vote (spark/vote.py semantics:
    weight = sum(nbytes), tie-break lang asc). Each update emits the
    conversation's CURRENT winner; idle conversations are evicted after
    `ttl_minutes` of processing time (bounded state at 10^12-turn scale —
    the checkpoint holds only live conversations).

    Trigger note (measured): with ProcessingTimeTimeout registered, a
    Trigger.AvailableNow query does NOT terminate after draining input —
    Spark keeps scheduling no-data micro-batches (~0.7 s each here,
    230+ observed) to advance the timeout clock, indefinitely; both
    processAllAvailable() and awaitTermination block on the same cycle
    even after every group's TTL has expired. For drain-and-stop usage,
    watch the sink for the expected data and stop() the query
    explicitly; use a processing-time trigger for continuous serving.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = max(1, int(ttl_minutes * 60 * 1000))

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            langs, weights = state.get
            tally = dict(zip(langs, weights))
        else:
            tally = {}
        for pdf in pdfs:
            for lang, w in zip(
                pdf["lang"].to_numpy(), pdf["nbytes"].to_numpy()
            ):
                tally[lang] = tally.get(lang, 0) + int(w)
        state.update((list(tally), [int(v) for v in tally.values()]))
        state.setTimeoutDuration(ttl_ms)
        best_lang, best_w = sorted(tally.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "conv_lang": [best_lang],
                "conv_lang_weight": [best_w],
                "conv_total_weight": [sum(tally.values())],
            }
        )

    return (
        scored.select("conv_id", "lang", "nbytes")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            STATEFUL_VOTE_OUT,
            _STATEFUL_VOTE_STATE,
            "update",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


# --------------------------------------- streaming exact dedup
STATEFUL_DEDUP_OUT = "doc_id long, text_hash string"
_STATEFUL_DEDUP_STATE = "seen boolean"


def stateful_exact_dedup(
    docs: DataFrame,
    ttl_minutes: float = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming exact dedup: emit each distinct text ONCE, on first
    arrival — the ingestion-side companion of batch exact_dedup_keep
    (a crawler re-fetching a page must not re-admit it).

    Keyed by md5(text); state is one boolean per live hash, TTL-evicted
    (bounded state: the window of protection is `ttl_minutes`, after
    which a re-arrival is admitted again — the batch dedup pass is the
    backstop, same code as ever). Within the micro-batch that first
    sees a hash, the survivor is the MIN doc_id of that batch's
    occurrences (deterministic regardless of arrival order inside the
    batch); across batches it is first-batch-wins — streaming semantics,
    documented as different from batch keep-lowest-id.

    Same AvailableNow/ProcessingTimeTimeout non-termination caveat as
    stateful_conversation_vote (see its docstring): poll the sink and
    stop() explicitly when draining.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = max(1, int(ttl_minutes * 60 * 1000))

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        first_time = not state.exists
        min_id = None
        for pdf in pdfs:
            if first_time and len(pdf):
                m = int(pdf[id_col].min())
                min_id = m if min_id is None else min(min_id, m)
        state.update((True,))
        state.setTimeoutDuration(ttl_ms)
        if first_time and min_id is not None:
            yield pd.DataFrame({"doc_id": [min_id], "text_hash": [key[0]]})

    keyed = docs.select(
        F.col(id_col),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_hash"),
    )
    return keyed.groupBy("text_hash").applyInPandasWithState(
        update,
        STATEFUL_DEDUP_OUT,
        _STATEFUL_DEDUP_STATE,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
