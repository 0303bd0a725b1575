"""The flagship quality-filter pipeline (BASELINE.json::north_rule).

One job, ONE semantic shuffle (plus an output-shaping exchange in the
write path, one task per core):

  scan(transcripts)                         # column-pruned parquet/Iceberg
   └─ classify_batch (Arrow UDF)            # shuffle-free map
   └─ perplexity (Arrow UDF)                # same stage
   └─ heuristic rule columns + keep         # Catalyst exprs, codegen'd
   └─ scrub chain (regexp_replace)          # Catalyst exprs
   └─ two-stage SALTED conv-language vote   # THE shuffle (skew-safe)
   └─ backjoin conv_lang to turns           # AQE picks broadcast at small
                                            # conv counts, sort-merge at scale
   └─ write partitioned by lang_bucket, sortWithinPartitions(conv_id,
      turn_idx), dynamic partition overwrite + completion manifest
      (resumable: completed buckets are never rewritten)

`full_pipeline` and `run_pipeline` share everything after scoring
(`with_conv_lang`); `run_pipeline` persists the scored, text-dropped
frame first so the UDFs run once for the vote and the backjoin.

Reference parity: the per-turn (lang, conf) reproduces
langid/langid.py::classify exactly (scorer.py); everything else is the
quality-filter shell the north rule mandates.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from langid_py_spark import config as C
from langid_py_spark.core.lm import DEFAULT_MULTI_LM_PATH
from langid_py_spark.core.model import DEFAULT_MODEL_PATH
from langid_py_spark.spark.manifest import artifact_id, read_manifest  # noqa: F401
from langid_py_spark.spark.manifest import resume_manifest, write_manifest
from langid_py_spark.spark.rules import with_rules
from langid_py_spark.spark.scrub import scrub_expr
from langid_py_spark.spark.vote import conversation_vote

OUTPUT_COLUMNS = [
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "ts",
    "lang",
    "conf_raw",
    "conf_norm",
    "nbytes",
    "ppl",
    *[r for r in C.RULE_NAMES],
    "keep_heuristic",
    "r_low_conf",
    "r_high_ppl",
    "keep",
    "scrubbed_text",
    "conv_lang",
    "lang_bucket",
]


def score_turns(
    turns: DataFrame,
    model_path: str = DEFAULT_MODEL_PATH,
    langs: list[str] | None = None,
) -> DataFrame:
    """Shuffle-free scoring stage: classify + ppl + rules + scrub + keep.

    classify and perplexity run FUSED in one Arrow UDF (one transfer of
    the text column per batch — scorer.score_udf)."""
    from langid_py_spark.spark.scorer import score_udf

    sc = score_udf(model_path=model_path, langs=langs, max_bytes=C.SCORE_MAX_BYTES)
    df = turns.withColumn("_sc", sc(F.col("text"))).select(
        "*", "_sc.lang", "_sc.conf_raw", "_sc.conf_norm", "_sc.nbytes", "_sc.ppl"
    ).drop("_sc")
    df = with_rules(df, "text")
    df = (
        df.withColumn("r_low_conf", F.col("conf_norm") < C.MIN_LANG_CONF)
        .withColumn("r_high_ppl", F.col("ppl") > C.MAX_PERPLEXITY)
        .withColumn(
            "keep",
            F.col("keep_heuristic") & ~F.col("r_low_conf") & ~F.col("r_high_ppl"),
        )
        .withColumn("scrubbed_text", scrub_expr(F.col("text")))
    )
    return df


def with_conv_lang(scored: DataFrame) -> DataFrame:
    """Post-score tail: salted vote → backjoin conv_lang → lang_bucket →
    OUTPUT_COLUMNS projection (unwritten)."""
    conv = conversation_vote(scored).select("conv_id", "conv_lang")
    return (
        scored.join(conv, "conv_id", "left")
        .withColumn("lang_bucket", F.pmod(F.hash(F.col("lang")), F.lit(C.LANG_BUCKETS)))
        .select(*OUTPUT_COLUMNS)
    )


def full_pipeline(
    turns: DataFrame,
    model_path: str = DEFAULT_MODEL_PATH,
    langs: list[str] | None = None,
) -> DataFrame:
    """score → salted vote → backjoin → final projection (unwritten).

    The scored subtree is evaluated by both the vote and the join branch;
    run_pipeline persists it so the UDFs run once per turn."""
    return with_conv_lang(score_turns(turns, model_path=model_path, langs=langs))


def run_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    model_path: str = DEFAULT_MODEL_PATH,
    langs: list[str] | None = None,
    resume: bool = True,
    sink_format: str = "parquet",
    sink_options: dict | None = None,
    sink_table: str | None = None,
) -> dict:
    """Execute + write, resumable per language bucket.

    The output is shaped by one exchange that partitions the final rows
    by (lang_bucket, pmod(hash(conv_id), sub)) into sub x LANG_BUCKETS
    tasks, so the write emits one conv-sorted file per non-empty
    combination instead of tasks x buckets files (the commit overhead of
    small files costs more than the exchange). `sub` =
    ceil(defaultParallelism / LANG_BUCKETS): at least one task per core
    and per bucket, 8 on a 4-core host and 32 at local[32] (the fixed
    width measured there at sf0.1: write stage 5.4-7.7 s -> 3.2-3.4 s,
    182 -> 27 files). It does not grow with the input: each file holds
    1/sub of its bucket, so file size grows with the input, and
    lang_bucket = pmod(hash(lang), 8) is skewed (the sf0.1 buckets hold
    5.3k-24.7k rows, the largest about twice the mean), so the largest
    bucket's files are about twice the mean size.
    The width shapes files, not rows: it is recorded in the manifest as
    `write_tasks` but is not part of the fingerprint, so a resume on
    another core count continues.

    On resume, already-completed buckets are excluded from the write
    (their files are never touched — FIXTURES.md invariant 3); dynamic
    partition overwrite means a re-run of a failed bucket replaces only
    that bucket's directory; a run with nothing completed (resume=False
    included) replaces the whole output. The manifest (spark/manifest.py)
    is fingerprinted by the input (its files and canonical plan), the
    model and LM artifacts (abspath, size, mtime_ns), `langs` in order,
    the sink and LANG_BUCKETS/SCORE_MAX_BYTES; a resume under any other
    fingerprint raises — pass resume=False to rebuild.

    Sink selection (north_rule: Iceberg tables at production scale):
    * sink_format="parquet" (default) / "orc" / any path-based source —
      DataFrameWriter.format(sink_format).save(out_path).
    * sink_format="iceberg" — DataFrameWriterV2: a fresh build creates
      or replaces the lang_bucket-partitioned table (writeTo(...)
      .using("iceberg").partitionedBy(lang_bucket).createOrReplace());
      a resume overwritePartitions() — dynamic overwrite of exactly the
      buckets present in this run. Requires the iceberg-spark-runtime
      jar + a configured catalog, which this sandbox doesn't ship; the
      branch is unit-tested up to the analysis error the missing catalog
      raises. `sink_options` passes through to the writer either way
      (compression, or iceberg table properties).
    """
    if sink_format == "iceberg" and not sink_table:
        raise ValueError("sink_format='iceberg' requires sink_table")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # Sink compression default (r07): snappy for the parquet hot path.
    # The session default stays zstd (best size at similar READ speed —
    # guide choice for tables read many times), but the flagship write
    # is producer-CPU-bound and snappy cut the cold sf1 end-to-end run
    # ~2 s for +40% file size. Overridable per call: pass
    # sink_options={"compression": "zstd"} to favor storage instead —
    # the right call when the output is long-lived and read often.
    if sink_format == "parquet":
        sink_options = {"compression": "snappy", **(sink_options or {})}
    turns = spark.read.parquet(in_path)
    # langs in the given order: it sets the class order and argmax ties
    shaping = [langs, sink_format, sink_table, C.LANG_BUCKETS, C.SCORE_MAX_BYTES]
    models = [artifact_id(p) for p in (model_path, DEFAULT_MULTI_LM_PATH)]
    manifest = resume_manifest(out_path, turns, [*models, *shaping], resume)
    done = set(manifest.get("completed_buckets", []))
    todo = [b for b in range(C.LANG_BUCKETS) if b not in done]
    if not todo:
        return manifest
    sub = -(-spark.sparkContext.defaultParallelism // C.LANG_BUCKETS)
    manifest["write_tasks"] = sub * C.LANG_BUCKETS

    import pyarrow as pa
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    # drop the raw text BEFORE the persist (r07): every downstream
    # consumer (vote, backjoin, write) reads OUTPUT_COLUMNS, which carry
    # scrubbed_text but never the original text — caching it doubled the
    # string payload held in memory/disk for nothing (measured sf1:
    # ~1 s off the cold pipeline run; at 10^12 turns it halves the
    # scored-checkpoint footprint).
    scored = (
        score_turns(turns, model_path=model_path, langs=langs)
        .drop("text")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    result = with_conv_lang(scored)
    if done:
        result = result.filter(F.col("lang_bucket").isin(todo))

    # Output-shaping exchange (see docstring): without it each of the N
    # upstream tasks emits up to LANG_BUCKETS files and file-commit
    # overhead dominates; with it the write emits one conv-sorted file
    # per (bucket, conv-subsplit). The vote agg remains the job's only
    # SEMANTIC shuffle; this one is IO shaping.
    result = result.repartition(
        sub * C.LANG_BUCKETS,
        F.col("lang_bucket"),
        F.pmod(F.hash(F.col("conv_id")), F.lit(sub)),
    )

    # ALL metrics (global + per-bucket lineage) ride the write job as
    # observe() aggregates — no second pass over the scored data. Per
    # bucket: n_turns / n_kept (conditional sums), n_convs
    # (approx_count_distinct over a bucket-masked key, HLL merges fine
    # inside observe), total_bytes. LANG_BUCKETS x 4 + 2 columns of
    # cheap conditional aggregation vs an entire extra job + shuffle.
    obs = Observation("pipeline_metrics")
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    ]
    for b in range(C.LANG_BUCKETS):
        cond = F.col("lang_bucket") == b
        aggs += [
            F.sum(cond.cast("long")).alias(f"b{b}_n_turns"),
            F.sum((cond & F.col("keep")).cast("long")).alias(f"b{b}_n_kept"),
            F.approx_count_distinct(F.when(cond, F.col("conv_id"))).alias(
                f"b{b}_n_convs"
            ),
            F.sum(F.when(cond, F.col("nbytes")).otherwise(F.lit(0))).alias(
                f"b{b}_total_bytes"
            ),
        ]
    to_write = result.observe(obs, *aggs).sortWithinPartitions("conv_id", "turn_idx")
    # a resume overwrites only the todo buckets; a fresh build replaces the
    # whole dir, so no bucket it leaves empty and no old manifest survives
    if not done and os.path.isdir(out_path):
        shutil.rmtree(out_path)
    try:
        if sink_format == "iceberg":
            w2 = to_write.writeTo(sink_table).using("iceberg")
            for k, v in (sink_options or {}).items():
                w2 = w2.tableProperty(k, str(v))
            if done:
                w2.overwritePartitions()
            else:
                w2.partitionedBy(F.col("lang_bucket")).createOrReplace()
        else:
            (
                to_write.write.mode("overwrite")
                .partitionBy("lang_bucket")
                .format(sink_format)
                .options(**(sink_options or {}))
                .save(out_path)
            )
        observed = dict(obs.get)
    finally:
        # release the cache entry even on the raising paths (absent
        # iceberg catalog) — a long-lived driver must not accumulate dead
        # cached plans across retries
        scored.unpersist()

    # per-partition lineage/metrics rows from the observed aggregates —
    # only `todo` buckets are updated (done buckets kept from the prior
    # manifest; rewriting them from this run's filtered plan would zero
    # them out)
    cols = ["n_turns", "n_kept", "n_convs", "total_bytes"]
    mrows = {str(b): {k: int(observed[f"b{b}_{k}"] or 0) for k in cols} for b in todo}
    manifest.setdefault("metrics", {}).update(mrows)
    # the _metrics table mirrors the FULL manifest map (all completed
    # buckets, incl. prior runs) — a tiny driver-built frame, no extra
    # pass over the data. An Arrow table becomes a LocalTableScan whatever
    # spark.sql.execution.arrow.pyspark.enabled says; a list of tuples
    # (or pandas with that conf off) plans a Scan ExistingRDD run by
    # Python tasks.
    ordered = sorted(manifest["metrics"].items(), key=lambda kv: int(kv[0]))
    metrics = spark.createDataFrame(
        pa.table(
            {
                "lang_bucket": [int(b) for b, _ in ordered],
                **{k: [int(m[k]) for _, m in ordered] for k in cols},
            }
        ),
        "lang_bucket int, n_turns long, n_kept long, n_convs long, total_bytes long",
    )
    if sink_format == "iceberg":
        metrics.writeTo(f"{sink_table}_metrics").using("iceberg").createOrReplace()
    else:
        metrics.write.mode("overwrite").format(sink_format).save(
            os.path.join(out_path, "_metrics")
        )
    # the write job covered every `todo` bucket — a bucket that produced no
    # rows is still complete (nothing to resume)
    manifest["completed_buckets"] = sorted(done | set(todo))
    # observe() sums are NULL on an empty relation; per-bucket entries
    # already live in manifest["metrics"], keep only the globals here
    manifest["observed"] = {
        k: int(observed[k] or 0) for k in ("n_turns", "n_kept")
    }
    write_manifest(out_path, manifest)
    return manifest
