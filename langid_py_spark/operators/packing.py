"""Sequence packing — the last hop from a filtered corpus to training
batches: concatenate documents in a deterministic order and chunk the
token stream into fixed-budget context windows (the GPT-style
concat-then-chunk packing every pretraining pipeline runs).

Semantics (engine-exact, integer arithmetic only):
* order    — md5(id || salt) ASC, id ASC (the repo's deterministic
  hash order: reproducible across engines/retries, and re-salting
  reshuffles the mix without touching the data).
* each doc occupies [start_offset, start_offset + n_tokens) in the
  global token stream; bin_id = start_offset div budget. A document
  whose tokens straddle a boundary belongs to the bin where it STARTS
  (concat-then-chunk cuts mid-document by design — that is what makes
  packing lossless; the trainer's loader slices bins, not documents).
* n_tokens — whitespace-run count (the engine's token_stats
  definition); callers with a real tokenizer pass their own count
  column.

Scale story: a GLOBAL running offset is a prefix sum — the naive
window (ORDER BY with no PARTITION) collapses to one task. This
implements the classic two-level scan instead: 256 hash-ordered
buckets (first byte of the md5) are each prefix-summed with an
ordinary partitioned window; the 256 bucket totals take one bounded
driver pull (the IVF-centroid / temperature-targets pattern), are
prefix-summed on the driver, and broadcast back as per-bucket base
offsets. Shuffle cost: ONE window shuffle on a uniform 1-byte key +
a 256-row broadcast — at any corpus size.

The DuckDB oracle uses the naive global window — an independent
formulation that only works at oracle scale, which is the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from langid_py_spark import config as C
from langid_py_spark.spark.caching import persist


def pack_sequences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "s42",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, start_offset, bin_id) — the packing map.

    `n_tokens_col`: use an existing token-count column instead of the
    whitespace-run default (e.g. a BPE count from a real tokenizer).
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_tokens = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else F.regexp_count(t, F.lit(C.WORD_RUN_PATTERN)).cast("long")
    )
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    base = persist(
        df.select(
            F.col(id_col),
            n_tokens.alias("n_tokens"),
            h.alias("_h"),
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("_bkt"),
        )
    )
    # persisted because the frame is evaluated TWICE — the bucket-totals
    # collect below and the returned windowed plan; without it the
    # per-row md5 + token count run over the corpus twice (review r05).
    # Released by the caller's caching.released() scope, else lives
    # until LRU eviction (at 10^12 rows checkpoint to a table instead).
    w = Window.partitionBy("_bkt").orderBy(F.asc("_h"), F.asc(id_col))
    in_bucket = base.withColumn(
        "_cum_excl",
        F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - F.col("n_tokens"),
    )
    # bounded driver pull: 256 bucket totals -> exclusive prefix -> broadcast
    totals = {
        r["_bkt"]: r["_tot"]
        for r in base.groupBy("_bkt").agg(F.sum("n_tokens").alias("_tot")).collect()
    }
    bases, acc = [], 0
    for b in range(256):
        bases.append((b, acc))
        acc += int(totals.get(b, 0))
    spark = df.sparkSession
    base_df = spark.createDataFrame(bases, "_bkt int, _base long")
    start = F.col("_base") + F.col("_cum_excl")
    return (
        in_bucket.join(F.broadcast(base_df), "_bkt")
        .select(id_col, "n_tokens", start.alias("start_offset"))
        # integer DIV, not floor(double /): double division loses
        # exactness once cumulative offsets pass 2^53 tokens — at odds
        # with the operator's integer-arithmetic claim (ADVICE r05).
        # start_offset >= 0 so trunc-div == floor-div.
        .withColumn(
            "bin_id", F.expr(f"start_offset DIV {int(budget)}").cast("long")
        )
    )


def pack_sequences_oracle_sql(
    budget: int,
    table: str = "documents",
    id_col: str = "doc_id",
    salt: str = "s42",
) -> str:
    """Naive global-window twin (independent formulation — collapses to
    one task at scale, fine at oracle scale)."""
    return f"""
    WITH base AS (
        SELECT {id_col},
               CAST(len(regexp_extract_all(coalesce(text, ''), '{C.WORD_RUN_PATTERN}')) AS BIGINT)
                   AS n_tokens,
               md5(CAST({id_col} AS VARCHAR) || '{salt}') AS h
        FROM {table}
    ),
    offs AS (
        SELECT {id_col}, n_tokens,
               -- DuckDB window sum() yields HUGEINT (pandas float) —
               -- pin to BIGINT for the dtype compare
               CAST(sum(n_tokens) OVER (ORDER BY h ASC, {id_col} ASC
                                        ROWS UNBOUNDED PRECEDING) - n_tokens
                    AS BIGINT) AS start_offset
        FROM base
    )
    SELECT {id_col}, n_tokens, start_offset,
           -- // is DuckDB integer division (exact at any offset, like
           -- Spark's DIV); start_offset >= 0 so trunc == floor
           CAST(start_offset // {int(budget)} AS BIGINT) AS bin_id
    FROM offs
    """
