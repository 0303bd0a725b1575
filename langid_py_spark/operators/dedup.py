"""Deduplication operators for large-scale training-data pipelines.

Five families, each with its scale story:

* exact_dedup       — hash-groupBy on md5(text). One shuffle on a
                      uniformly distributed 128-bit key; at 100 TB the
                      canonical first pass.
* jaccard_pairs     — EXACT word-set Jaccard over candidate pairs.
                      Brute-force O(n²) twin kept ONLY as the DuckDB-
                      checkable correctness oracle at tiny SF.
* minhash_lsh       — MinHash signatures + banded LSH bucketing: the
                      scale path. Candidates come from an equi-join on
                      (band, bucket-hash) — a shuffle join on a spread
                      key, never a cross join. Recall vs exact Jaccard
                      is property-tested (tests/test_dedup.py).
* simhash           — 64-bit SimHash fingerprints; near-dup candidates
                      share one of 4 16-bit bands (Hamming ≤ 3 within
                      band scheme); verification by popcount distance.
* winnowing         — rolling-hash document fingerprints (window-min of
                      k-gram hashes, Schleimer et al. 2003): candidates
                      share >= min_shared fingerprints via an equi-join
                      on the fingerprint value.

MinHash/SimHash signature computation is a vectorized Arrow UDF (hash
mixing in NumPy, no per-row Python); candidate generation and
verification are pure DataFrame joins/aggs so Catalyst handles
partitioning, AQE handles skew.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from langid_py_spark import config as C
from langid_py_spark.spark.caching import persist

# ---------------------------------------------------------------- exact
def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_dups, keep_id): groups with >1 identical docs."""
    return (
        df.groupBy(F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup_groups_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    return f"""
    SELECT md5(coalesce(text, '')) AS text_hash,
           count(*) AS n_dups,
           min({id_col}) AS keep_id
    FROM {table}
    GROUP BY 1 HAVING count(*) > 1
    """


def exact_dedup_keep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hot_threshold: int | None = 100_000,
    hot_sample: int = 64,
) -> DataFrame:
    """Survivors after exact dedup: lowest id per identical text.

    Hot-key guard (r06, same family as the line/span guards): a text
    duplicated ~10^8 times — the empty string and boilerplate pages are
    exactly this in real crawls — makes the row_number window one
    unsplittable sort partition. Texts above `hot_threshold` copies
    (sampled pre-count; bounded driver pull; short-circuit when none)
    instead take min(id) per hash — an unskewable hash agg — broadcast
    back, keeping only the matching row. Identical survivors either
    way. Unlike the line guard there is no persist: the per-row work
    re-done by the hot branches is one md5, cheaper than a cache pass
    (the sampled pre-count hashes only 1/hot_sample of the rows)."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))

    def _window_keep(d: DataFrame) -> DataFrame:
        w = Window.partitionBy(h).orderBy(F.asc(id_col))
        return (
            d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    if hot_threshold is None:
        return _window_keep(df)
    hot_list = collect_hot_keys(
        df.select(F.col(id_col), h.alias("_th")),
        "_th",
        hot_threshold,
        [id_col],
        hot_sample,
    )
    if not hot_list:
        return _window_keep(df)
    # broadcast-join routing like the sibling guards (an isin literal
    # list would embed up to 100k 32-char strings in the plan and every
    # task closure — review r06)
    spark = df.sparkSession
    hot = F.broadcast(
        spark.createDataFrame([(k,) for k in hot_list], "_th string")
    )
    hashed = df.withColumn("_th", h)
    tail = _window_keep(hashed.join(hot, "_th", "left_anti")).drop("_th")
    hot_rows = hashed.join(hot, "_th")
    firsts = hot_rows.groupBy("_th").agg(F.min(id_col).alias("_keep_id"))
    hot_keep = (
        hot_rows.join(F.broadcast(firsts), "_th")
        .filter(F.col(id_col) == F.col("_keep_id"))
        .drop("_th", "_keep_id")
    )
    return tail.unionByName(hot_keep)


# ----------------------------------------------- hot-key window guard
def hot_keys(
    rows: DataFrame,
    key_col: str,
    threshold: int,
    sample_cols: list[str],
    sample_denom: int = 1,
) -> DataFrame:
    """Keys occurring >= ~threshold times — the pre-count that routes
    mega-hot keys AROUND a window sort (the one skew Spark cannot split:
    AQE breaks up skewed JOINS but a window partition is one sort task,
    so a line/gram repeated 10^8 times makes one multi-GB straggler).

    The pre-count itself can never skew: groupBy+count has map-side
    partial aggregation, so the hot key contributes at most one row per
    input partition to this shuffle regardless of its total count.

    sample_denom > 1 thins rows FIRST by a deterministic positional
    hash (xxhash64 over sample_cols — per-OCCURRENCE, never the key
    itself, which would keep or drop all copies of a key wholesale) and
    scales the cutoff to threshold/denom/4 — recall-biased: a key at
    the threshold has expected threshold/denom sampled copies, 4x the
    cutoff, so missing it is a large-deviation event; a false positive
    merely reroutes a warm key through the skew-safe path, which is
    semantics-identical by construction in every caller here. The
    sampled branch skips the heavy per-row work (hashing/substring) on
    (denom-1)/denom of the rows — at 10^12 positions the pre-count is
    ~2% of one corpus pass at the default denom.

    The result is small by construction (<= n_rows/threshold keys, in
    practice the handful of mega-boilerplate lines/grams) — callers
    broadcast it; raise `threshold` if a corpus could exceed broadcast
    size at n/threshold.
    """
    if sample_denom > 1:
        rows = rows.filter(
            F.pmod(F.xxhash64(*sample_cols, F.lit("hotk")), F.lit(sample_denom))
            == 0
        )
        cutoff = max(2, threshold // sample_denom // 4)
    else:
        cutoff = max(2, threshold)
    return (
        rows.groupBy(key_col)
        .agg(F.count("*").alias("_hn"))
        .filter(F.col("_hn") >= cutoff)
        .select(key_col, "_hn")
    )


_MAX_HOT_KEYS = 100_000


def collect_hot_keys(
    rows: DataFrame,
    key_col: str,
    threshold: int,
    sample_cols: list[str],
    sample_denom: int,
):
    """hot_keys pulled to the driver — the repo's bounded-pull pattern:
    the set is <= 4·n/threshold keys by construction (the sampled
    cutoff is recall-biased to ~threshold/4 — mega-boilerplate is few
    by definition, so in practice a handful). Returning a Python list
    lets callers SHORT-CIRCUIT to the unguarded single-window plan
    when no key is hot — the common case then pays only the sampled
    pre-count, not the guarded plan's extra branches (measured 5x on
    the line-dedup bench row before this fast path).

    If a pathological corpus exceeds the 100k-key pull bound, the pull
    keeps the 100k HOTTEST keys and warns rather than raising (review
    r06): routing is semantics-preserving in every caller, so a
    truncated hot set only means the remaining merely-warm keys stay
    in the window path — strictly better than aborting hours of work,
    and the kept keys are exactly the worst stragglers."""
    import warnings

    ks = hot_keys(rows, key_col, threshold, sample_cols, sample_denom)
    rows_out = ks.orderBy(F.desc("_hn")).limit(_MAX_HOT_KEYS + 1).collect()
    if len(rows_out) > _MAX_HOT_KEYS:
        warnings.warn(
            f"hot-key pre-count found more than {_MAX_HOT_KEYS} keys over "
            f"~threshold/4={max(2, threshold // 4)} copies; guarding only the "
            f"{_MAX_HOT_KEYS} hottest (the rest stay on the window path). "
            "Raise hot_threshold if this warning is routine.",
            stacklevel=2,
        )
        rows_out = rows_out[:_MAX_HOT_KEYS]
    return [r[0] for r in rows_out]


# ------------------------------------------------- C4 line-level dedup
def line_dedup_drops(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hot_threshold: int | None = 100_000,
    hot_sample: int = 64,
) -> DataFrame:
    """C4's line-level dedup (Raffel 2020 §2.2: 'we removed any line
    that appeared more than once in the corpus' — navigation chrome,
    cookie banners, boilerplate): the drop list (doc_id, line_idx,
    line_hash) of every NON-FIRST occurrence of each duplicated
    non-empty line. First occurrence = lowest (doc_id, line_idx) —
    deterministic, engine-portable.

    The tier between doc-level dedup (whole-text hash) and
    sub-document span dedup (char k-grams): lines are natural units of
    web boilerplate, and the corpus-scale shuffle here is one row per
    LINE (vs per char for spans). Pure Catalyst: split → posexplode →
    ONE window over md5(line) (count + rank in the same window
    partition — one shuffle) → filter. Empty lines are structure, not
    content — never dropped.

    Formulation note (measured, r05): the groupBy(count, min-struct) +
    join alternative — attractive because AQE can split skewed JOINS
    but not skewed window sorts — was A/B'd on both a normal corpus
    and a 200k-copy hot-line corpus and LOST both (0.61 vs 0.65 s
    normal, 1.05 vs 0.84 s hot: its second line-table shuffle costs
    more than the window's per-partition sort). The window stays for
    the LONG TAIL; keys above `hot_threshold` are routed around it
    (r06, closing the one named scale-killer of VERDICT r05):

    * `hot_keys` pre-count (sampled, partial-agg, skew-proof) finds
      lines with >= ~hot_threshold copies — the 10^8-copy cookie
      banner whose window partition would otherwise be one multi-GB
      sort task.
    * hot lines take the min-struct formulation that lost the A/B for
      the tail but is exactly right for them: first occurrence =
      groupBy(line_hash).min(struct(id, idx)) — a hash agg the hot key
      cannot skew — broadcast back; every other occurrence drops.
      SAME semantics as the window path (count >= 2 is implied by the
      sampled cutoff >= 2; a singleton false positive simply produces
      zero drops), so guard routing decisions can never change output.
    * the tail window then has partitions bounded by ~hot_threshold.

    hot_threshold=None restores the unguarded single-window plan.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = (
        df.select(F.col(id_col), F.posexplode(F.split(t, "\n")).alias("line_idx", "line"))
        .filter(F.col("line") != "")
        .withColumn("line_hash", F.md5(F.col("line")))
    )

    def _window_drops(ls: DataFrame) -> DataFrame:
        w = Window.partitionBy("line_hash")
        w_rank = w.orderBy(F.asc(id_col), F.asc("line_idx"))
        return (
            ls.withColumn("_n", F.count("*").over(w))
            .withColumn("_rn", F.row_number().over(w_rank))
            .filter((F.col("_n") >= 2) & (F.col("_rn") >= 2))
            .select(
                id_col, F.col("line_idx").cast("long").alias("line_idx"), "line_hash"
            )
        )

    if hot_threshold is None:
        return _window_drops(lines)
    # persist: the guarded plan reads `lines` from several branches
    # (pre-count, hot, tail) — recomputing split+md5 per branch measured
    # 5x on the bench row. Released by the caller's caching.released()
    # scope (run_corpus_pipeline: after the tier's write); at 10^12
    # lines checkpoint the line table instead.
    lines = persist(lines)
    hot_list = collect_hot_keys(
        lines, "line_hash", hot_threshold, [id_col, "line_idx"], hot_sample
    )
    if not hot_list:
        return _window_drops(lines)
    spark = df.sparkSession
    hot = F.broadcast(
        spark.createDataFrame([(h,) for h in hot_list], "line_hash string")
    )
    hot_lines = lines.join(hot, "line_hash")
    first = hot_lines.groupBy("line_hash").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("line_idx").alias("x"))).alias(
            "_f"
        )
    )
    hot_drops = (
        hot_lines.join(F.broadcast(first), "line_hash")
        .filter(
            ~(
                (F.col(id_col) == F.col("_f.i"))
                & (F.col("line_idx") == F.col("_f.x"))
            )
        )
        .select(id_col, F.col("line_idx").cast("long").alias("line_idx"), "line_hash")
    )
    rest = lines.join(hot, "line_hash", "left_anti")
    return _window_drops(rest).unionByName(hot_drops)


def line_dedup_drops_oracle_sql(
    table: str = "documents", id_col: str = "doc_id"
) -> str:
    return f"""
    WITH lines AS (
        SELECT {id_col},
               CAST(idx - 1 AS BIGINT) AS line_idx,  -- unnest ordinality is 1-based; Spark posexplode 0-based
               md5(line) AS line_hash
        FROM (
            SELECT {id_col},
                   unnest(string_split(coalesce(text, ''), chr(10))) AS line,
                   generate_subscripts(string_split(coalesce(text, ''), chr(10)), 1) AS idx
            FROM {table}
        ) WHERE line <> ''
    )
    SELECT {id_col}, line_idx, line_hash FROM (
        SELECT {id_col}, line_idx, line_hash,
               count(*) OVER (PARTITION BY line_hash) AS _n,
               row_number() OVER (PARTITION BY line_hash
                                  ORDER BY {id_col} ASC, line_idx ASC) AS _rn
        FROM lines
    ) WHERE _n >= 2 AND _rn >= 2
    """


def line_dedup_keep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hot_threshold: int | None = 100_000,
    hot_sample: int = 64,
) -> DataFrame:
    """The applied form: each document's text with dropped lines
    spliced out (kept lines re-joined by newline in original order).
    Reconstruction is pure Catalyst — posexplode → anti-join the drop
    list (ids-only: (doc_id, line_idx)) → sort_array of (idx, line)
    structs → array_join. Docs whose every line is dropped (or that
    were empty) come back as '' rather than disappearing."""
    drops = line_dedup_drops(
        df, text_col, id_col, hot_threshold=hot_threshold, hot_sample=hot_sample
    ).select(id_col, "line_idx")
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(t, "\n")).alias("line_idx", "line")
    )
    kept = lines.join(drops, [id_col, "line_idx"], "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                # .getField over array<struct> (GetArrayStructFields)
                # instead of an F.transform lambda: HOFs are
                # CodegenFallback and would poison the per-doc rebuild
                # Project (the CLAUDE.md perf trap)
                F.sort_array(
                    F.collect_list(F.struct("line_idx", "line"))
                ).getField("line"),
                "\n",
            ).alias("text")
        )
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(id_col, F.coalesce(F.col("text"), F.lit("")).alias("text"))
    )


def line_dedup_keep_oracle_sql(
    table: str = "documents", id_col: str = "doc_id"
) -> str:
    return f"""
    WITH lines AS (
        SELECT {id_col},
               CAST(idx - 1 AS BIGINT) AS line_idx,
               line
        FROM (
            SELECT {id_col},
                   unnest(string_split(coalesce(text, ''), chr(10))) AS line,
                   generate_subscripts(string_split(coalesce(text, ''), chr(10)), 1) AS idx
            FROM {table}
        )
    ),
    drops AS (
        SELECT {id_col}, line_idx FROM (
            SELECT {id_col}, line_idx,
                   count(*) OVER (PARTITION BY line) AS _n,
                   row_number() OVER (PARTITION BY line
                                      ORDER BY {id_col} ASC, line_idx ASC) AS _rn
            FROM lines WHERE line <> ''
        ) WHERE _n >= 2 AND _rn >= 2
    ),
    kept AS (
        SELECT l.{id_col}, l.line_idx, l.line
        FROM lines l LEFT JOIN drops d
          ON l.{id_col} = d.{id_col} AND l.line_idx = d.line_idx
        WHERE d.{id_col} IS NULL
    ),
    rebuilt AS (
        SELECT {id_col}, string_agg(line, chr(10) ORDER BY line_idx) AS text
        FROM kept GROUP BY {id_col}
    )
    SELECT b.{id_col}, coalesce(r.text, '') AS text
    FROM {table} b LEFT JOIN rebuilt r USING ({id_col})
    """


# ------------------------------------------------------------- jaccard
def word_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(
        F.col(id_col),
        F.array_distinct(
            F.regexp_extract_all(F.col(text_col), F.lit(C.WORD_RUN_PATTERN), F.lit(0))
        ).alias("words"),
    )


def jaccard_pairs_exact(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int | None = 2000,
) -> DataFrame:
    """All id pairs (a < b) with word-set Jaccard >= threshold.

    Brute force (cross join) — the DuckDB-checkable ORACLE TWIN of
    minhash_lsh_pairs, for tiny SF only; the production path is the
    banded LSH join below. `max_docs` is a hard cap (lowest ids kept)
    so the cartesian can never be reached at scale: 2000 docs ≈ 2M pairs
    worst case, bounded regardless of input size. Truncation is NOT
    silent: when the input exceeds the cap a warning is raised (the
    check is one column-pruned count over the id column); pass
    max_docs=None to restore full cross-join semantics explicitly.
    """
    if max_docs is None:
        capped = df
    else:
        n_in = df.select(id_col).count()
        if n_in > max_docs:
            import warnings

            warnings.warn(
                f"jaccard_pairs_exact: input has {n_in} docs; pairs computed "
                f"only over the lowest {max_docs} ids (oracle-twin cap). "
                "Use minhash_lsh_pairs at scale or pass max_docs=None.",
                stacklevel=2,
            )
        capped = df.orderBy(F.asc(id_col)).limit(max_docs)
    ws = word_sets(capped, text_col, id_col)
    a = ws.select(F.col(id_col).alias("id_a"), F.col("words").alias("wa"))
    b = ws.select(F.col(id_col).alias("id_b"), F.col("words").alias("wb"))
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    union = F.size(F.array_union(F.col("wa"), F.col("wb")))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_oracle_sql(
    table: str = "documents",
    threshold: float = 0.8,
    id_col: str = "doc_id",
    max_docs: int = 2000,
) -> str:
    return f"""
    WITH ws AS (
        SELECT {id_col} AS id,
               list_distinct(regexp_extract_all(text, '{C.WORD_RUN_PATTERN}')) AS words
        FROM (SELECT * FROM {table} ORDER BY {id_col} ASC LIMIT {max_docs})
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(len(list_intersect(a.words, b.words))
                 / greatest(len(list_distinct(list_concat(a.words, b.words))), 1),
                 6) AS jaccard
    FROM ws a JOIN ws b ON a.id < b.id
    WHERE len(list_intersect(a.words, b.words))
          / greatest(len(list_distinct(list_concat(a.words, b.words))), 1)
          >= {threshold}
    """


def _drop_hot_buckets(df: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Stop-fingerprint guard for banded LSH / fingerprint joins: a bucket
    shared by more than `max_bucket` docs is boilerplate (quadratic pair
    blowup, near-zero information — the web-dedup 'stop shingle' rule);
    drop those keys before the self-join. The hot-key list is tiny by
    construction, so the anti-join broadcasts. Exact duplicates are not
    lost: the exact_dedup pass runs before near-dup at scale."""
    if max_bucket is None:
        return df
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_bucket)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")


# ------------------------------------------------------------- minhash
N_HASHES = 64
N_BANDS = 16  # 4 rows/band → s-curve threshold ~ (1/16)^(1/4) ≈ 0.5
_MERSENNE = (1 << 61) - 1


def _hash_params(n: int, seed: int = 1234) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    return a, b


_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(1099511628211)


def _rolling_hashes_batch(
    crcs: np.ndarray, lens: np.ndarray, k: int, prime: np.uint64, init: np.uint64
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc rolling polynomial hashes over a CONCATENATED token buffer
    (the core/lm.py pattern: one buffer for the whole Arrow batch, doc
    boundaries handled by position masks — zero per-token Python).

    crcs  — uint64 token values of every doc, concatenated (len = sum(lens))
    lens  — int64 token count per doc
    Returns (hashes, counts): for docs with >=k tokens one hash per full
    k-window (h = init; h = h*prime + tok, oldest first); docs with 1..k-1
    tokens one hash over all their tokens; empty docs the init sentinel.
    Hashes are emitted in doc order, `counts[i]` per doc.
    """
    B = len(lens)
    counts = np.where(lens >= k, lens - k + 1, 1).astype(np.int64)
    out = np.empty(int(counts.sum()), dtype=np.uint64)
    out_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    total = int(lens.sum())
    if total == 0:
        out[:] = init
        return out, counts
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    doc_id = np.repeat(np.arange(B), lens)
    pos = np.arange(total, dtype=np.int64) - starts[doc_id]

    with np.errstate(over="ignore"):
        # full k-windows: global lagged adds are safe at pos >= k-1 (the
        # whole window lies inside one doc)
        h = np.full(total, init, dtype=np.uint64)
        for m in range(k - 1, -1, -1):  # oldest token first
            lagged = np.zeros(total, dtype=np.uint64)
            if m:
                lagged[m:] = crcs[:-m]
            else:
                lagged = crcs
            h = h * prime + lagged
        full = pos >= k - 1
        dest = out_starts[doc_id[full]] + (pos[full] - (k - 1))
        out[dest] = h[full]

        # short docs (0 < len < k): one hash over all tokens — rare, tiny
        for i in np.flatnonzero((lens > 0) & (lens < k)):
            hh = init
            for c in crcs[starts[i] : starts[i] + lens[i]]:
                hh = hh * prime + c
            out[out_starts[i]] = hh
    out[out_starts[lens == 0]] = init
    return out, counts


def _word_crcs_batch(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """crc32 of every whitespace token across the batch, concatenated.
    crc32 (zlib, C-speed) is deterministic across workers — unlike builtin
    hash() under randomized PYTHONHASHSEED."""
    import zlib

    word_lists = [t.split() for t in texts.fillna("")]
    lens = np.fromiter((len(w) for w in word_lists), dtype=np.int64, count=len(word_lists))
    crcs = np.fromiter(
        (zlib.crc32(w.encode("utf-8")) for ws in word_lists for w in ws),
        dtype=np.uint64,
        count=int(lens.sum()),
    )
    return crcs, lens


def _shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Single-doc twin of the batched path (same values by construction —
    it IS the batch path on a batch of one). Kept for tests/doc purposes."""
    h, _ = _rolling_hashes_batch(
        *_word_crcs_batch(pd.Series([text])), k=k, prime=_FNV_PRIME, init=_FNV_OFFSET
    )
    return h


def minhash_signature_udf(n_hashes: int = N_HASHES, shingle_k: int = 5):
    a, b = _hash_params(n_hashes)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        B = len(texts)
        if B == 0:
            return pd.Series([], dtype=object)
        crcs, lens = _word_crcs_batch(texts)
        hashes, counts = _rolling_hashes_batch(
            crcs, lens, k=shingle_k, prime=_FNV_PRIME, init=_FNV_OFFSET
        )
        seg_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        # one vectorized pass per hash fn over the whole batch buffer;
        # per-doc mins via minimum.reduceat (every doc has >=1 hash)
        sig = np.empty((B, n_hashes), dtype=np.int64)
        M = np.uint64(_MERSENNE)
        with np.errstate(over="ignore"):
            for hi in range(n_hashes):
                hv = (hashes * a[hi] + b[hi]) % M
                sig[:, hi] = np.minimum.reduceat(hv, seg_starts).astype(np.int64)
        return pd.Series(list(sig))

    return _sig


def _sig_matches_udf():
    """(sig_a, sig_b) -> positional match count, one vstack compare per
    Arrow batch (the JVM-side alternative, zip_with+filter, is a
    HigherOrderFunction → CodegenFallback — the measured perf trap in
    CLAUDE.md)."""

    @pandas_udf(T.LongType())
    def _matches(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=np.int64)
        ma = np.vstack([np.asarray(x, dtype=np.int64) for x in a])
        mb = np.vstack([np.asarray(x, dtype=np.int64) for x in b])
        return pd.Series((ma == mb).sum(axis=1).astype(np.int64))

    return _matches


def _band_explode(
    sig_df: DataFrame, id_name: str, n_hashes: int, n_bands: int
) -> DataFrame:
    """(id, sig) -> slim (id, band, bhash) rows — THE banding arithmetic
    (slice indexing + xxhash64), shared by the self-join and bipartite
    operators so the golden-frozen banding can never drift between
    them."""
    rows_per_band = n_hashes // n_bands
    return sig_df.select(
        id_name,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band)
                        ).alias("bhash"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_name, "bb.band", "bb.bhash")


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    shingle_k: int = 5,
    max_bucket: int | None = 500,
    persist_sigs: bool = True,
    band_tasks: int | None = None,
) -> DataFrame:
    """Candidate pairs via banded LSH, verified by signature similarity.

    `band_tasks` (r07): rebalance the (persisted) SIGNATURE table to
    this many partitions before the band explode. When the source scan
    under-splits (single-row-group fixture parquet), the cached sig
    table inherits ONE partition and the band explode + its shuffle
    write serialize on one core; spreading the slim cached sigs (id +
    n_hashes longs) is one bounded hop — measured 2.19 -> 1.63 s at sf1
    cache-warm. Callers gate it on a scan-split estimate (see
    q_minhash_pairs) so it stays None — a no-op — at production split
    counts. (Rebalancing the raw TEXT before the sig UDF instead was
    measured WORSE, 2.84 -> 4.21 s: it re-keys the cache and adds a
    full-text hop.)

    Plan shape: map (signatures, persisted once) → explode to SLIM
    (id, band, band_hash) rows → self-equi-join on (band, band_hash) →
    distinct id pairs → join the two signatures back BY ID → verify.

    Shuffle-volume note (the 100 TB consideration): carrying the
    n_hashes-long signature through the band explode would shuffle
    2 x n_bands copies of every signature; the slim join shuffles only
    (id, band, bhash) rows and re-joins each signature twice by id —
    ~30x less band-shuffle volume at 64 hashes / 16 bands. The join key
    spreads uniformly (hash values) and hot boilerplate buckets are
    dropped (`max_bucket`), so no skew; AQE sizes the joins.
    `persist_sigs` materializes the signature UDF once instead of once
    per plan branch (at 10^12 docs use a checkpoint table instead).
    The cache entry is keyed by the analyzed plan, so repeated calls on
    the same input reuse one entry rather than accumulating; it is
    released by the caller's caching.released() scope, else lives until
    LRU eviction or session end — pass persist_sigs=False to trade
    recomputation for zero cache footprint.
    """
    sig = minhash_signature_udf(n_hashes, shingle_k=shingle_k)
    with_sig = df.select(F.col(id_col).alias("id"), sig(F.col(text_col)).alias("sig"))
    if persist_sigs:
        with_sig = persist(with_sig)
    band_base = with_sig.repartition(band_tasks) if band_tasks else with_sig
    bands = _band_explode(band_base, "id", n_hashes, n_bands)
    bands = _drop_hot_buckets(bands, ["band", "bhash"], max_bucket)
    left = bands.select("band", "bhash", F.col("id").alias("id_a"))
    right = bands.select("band", "bhash", F.col("id").alias("id_b"))
    pairs = (
        left.join(right, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = with_sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = with_sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    cand = pairs.join(sa, "id_a").join(sb, "id_b")
    matches = _sig_matches_udf()
    est = F.round(matches(F.col("sig_a"), F.col("sig_b")) / F.lit(float(n_hashes)), 6)
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_cross_pairs(
    df: DataFrame,
    ref_df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_id_col: str = "ref_id",
    ref_text_col: str = "text",
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    shingle_k: int = 5,
    max_bucket: int | None = 500,
    persist_sigs: bool = True,
) -> DataFrame:
    """(doc_id, ref_id, est_jaccard): near-duplicate pairs BETWEEN two
    corpora — the fuzzy tier of decontamination (PaLM/GPT-4 style:
    benchmark prompts leak paraphrased and re-wrapped; exact containment
    and n-gram overlap miss heavier rewrites that shingle-Jaccard
    catches). `ref_df` is the eval/reference set; `df` the training
    corpus.

    Same machinery as minhash_lsh_pairs but a BIPARTITE band join
    (banding arithmetic shared via _band_explode — the goldens freeze
    it once for both operators). The ref side is an eval suite —
    thousands of rows, so Catalyst broadcasts it and the band JOIN adds
    no corpus shuffle; the corpus-side exchanges that remain are the
    hot-bucket guard's groupBy over (band, bhash) — corpus-bands-scale,
    but map-side combine shrinks it to the distinct-bucket count — and
    the candidate-scale dedup + signature re-joins. Hot buckets are
    dropped from the CORPUS side only (dropping a ref bucket could hide
    a real contamination). `persist_sigs` as in minhash_lsh_pairs: the
    signature UDF feeds both the band explode and the candidate
    re-join; pass False to trade recomputation for zero cache
    footprint (at 10^12 docs use a checkpoint table)."""
    sig = minhash_signature_udf(n_hashes, shingle_k=shingle_k)

    def sigs_and_bands(
        frame: DataFrame, fid: str, ftext: str, out_id: str
    ) -> tuple[DataFrame, DataFrame]:
        base = frame.select(
            F.col(fid).alias(out_id), sig(F.col(ftext)).alias("sig")
        )
        if persist_sigs:
            base = persist(base)
        return base, _band_explode(base, out_id, n_hashes, n_bands)

    corpus_sigs, corpus_bands = sigs_and_bands(df, id_col, text_col, "id_a")
    ref_sigs, ref_bands = sigs_and_bands(ref_df, ref_id_col, ref_text_col, "id_b")
    corpus_bands = _drop_hot_buckets(corpus_bands, ["band", "bhash"], max_bucket)
    pairs = (
        corpus_bands.join(F.broadcast(ref_bands), ["band", "bhash"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = corpus_sigs.select(F.col("id_a"), F.col("sig").alias("sig_a"))
    sb = ref_sigs.select(F.col("id_b"), F.col("sig").alias("sig_b"))
    matches = _sig_matches_udf()
    est = F.round(
        matches(F.col("sig_a"), F.col("sig_b")) / F.lit(float(n_hashes)), 6
    )
    return (
        pairs.join(sa, "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias(ref_id_col),
            "est_jaccard",
        )
    )


# -------------------------------------------------------------- simhash
def simhash_udf(ngram: int = 3):
    """64-bit SimHash over byte n-grams, batch-vectorized with the same
    concat-buffer pattern as the minhash path / core/lm.py: one uint8
    buffer per Arrow batch, n-gram rolling values via global lagged adds
    masked to full in-doc windows, per-(doc,bit) votes via add.reduceat.
    Sub-n-gram docs hash with zlib.crc32 (deterministic across executors;
    builtin hash() is salted per process by PYTHONHASHSEED)."""
    a, b = _hash_params(64, seed=777)

    @pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(list(texts.fillna("")), ngram, a, b))

    return _simhash


def simhash_batch(texts: list[str], ngram: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Module-level kernel (testable across fresh processes for the
    PYTHONHASHSEED-independence guarantee)."""
    import zlib

    B = len(texts)
    if B == 0:
        return np.empty(0, dtype=np.int64)
    datas = [t.encode("utf-8") for t in texts]
    lens = np.fromiter((len(d) for d in datas), dtype=np.int64, count=B)
    buf = np.frombuffer(b"".join(datas), dtype=np.uint8).astype(np.uint64)
    grams, counts = _rolling_hashes_batch(
        buf, lens, k=ngram, prime=np.uint64(257), init=np.uint64(0)
    )
    seg_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # sub-n-gram docs (incl. empty): crc32 of the raw bytes
    for i in np.flatnonzero(lens < ngram):
        grams[seg_starts[i]] = np.uint64(zlib.crc32(datas[i]))
    out = np.zeros(B, dtype=np.uint64)
    M = np.uint64(_MERSENNE)
    with np.errstate(over="ignore"):
        for k in range(64):  # one vectorized pass per output bit
            mixed = (grams * a[k] + b[k]) % M
            bits = ((mixed >> np.uint64(13)) & np.uint64(1)).astype(np.int64)
            votes = np.add.reduceat(bits, seg_starts) * 2 > counts
            out |= votes.astype(np.uint64) << np.uint64(k)
    return out.astype(np.int64)


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Near-dup pairs by SimHash: band on 4×16-bit chunks (any pair with
    Hamming distance ≤ 3 over 64 bits must agree on ≥1 chunk), verify by
    popcount of XOR."""
    sh = simhash_udf()
    base = df.select(F.col(id_col).alias("id"), sh(F.col(text_col)).alias("sh"))
    chunks = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("cval"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "sh", "cc.chunk", "cc.cval")
    chunks = _drop_hot_buckets(chunks, ["chunk", "cval"], max_bucket)
    l = chunks.select("chunk", "cval", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    r = chunks.select("chunk", "cval", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        l.join(r, ["chunk", "cval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ----------------------------------------------- winnowing fingerprints
def _window_min_batch(
    hashes: np.ndarray, counts: np.ndarray, w: int
) -> list[np.ndarray]:
    """Per-doc DISTINCT window-min fingerprints (winnowing, Schleimer et
    al. 2003 family): the min k-gram hash of every w-window is selected;
    the distinct set retains the winnowing guarantee that any match of
    length >= w + k - 1 shares a fingerprint. Batch-vectorized: window
    mins via w-1 lagged np.minimum passes over the concat buffer, masked
    to full in-doc windows; docs with < w hashes contribute the min of
    what they have."""
    B = len(counts)
    total = int(counts.sum())
    seg = np.concatenate(([0], np.cumsum(counts)[:-1]))
    doc_id = np.repeat(np.arange(B), counts)
    pos = np.arange(total, dtype=np.int64) - seg[doc_id]
    m = hashes.copy()
    for lag in range(1, w):
        lagged = np.empty_like(hashes)
        lagged[:lag] = np.uint64(0xFFFFFFFFFFFFFFFF)
        lagged[lag:] = hashes[:-lag]
        m = np.minimum(m, lagged)
    valid = pos >= w - 1
    out: list[np.ndarray] = []
    for i in range(B):
        a, b = seg[i], seg[i] + counts[i]
        vm = m[a:b][valid[a:b]]
        if len(vm) == 0:  # fewer than w hashes: one fingerprint, the min
            # (every doc has >= 1 hash by _rolling_hashes_batch contract)
            vm = np.array([hashes[a:b].min()], dtype=np.uint64)
        out.append(np.unique(vm))
    return out


def winnow_fingerprints_udf(k: int = 8, window: int = 4):
    """text -> sorted distinct winnowing fingerprints (array<long>).
    k-gram rolling hashes come from the same _rolling_hashes_batch kernel
    as minhash/simhash (crc-free byte polynomial, deterministic across
    executors)."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _fp(texts: pd.Series) -> pd.Series:
        B = len(texts)
        if B == 0:
            return pd.Series([], dtype=object)
        datas = [t.encode("utf-8") for t in texts.fillna("")]
        lens = np.fromiter((len(d) for d in datas), dtype=np.int64, count=B)
        buf = np.frombuffer(b"".join(datas), dtype=np.uint8).astype(np.uint64)
        grams, counts = _rolling_hashes_batch(
            buf, lens, k=k, prime=_FNV_PRIME, init=_FNV_OFFSET
        )
        fps = _window_min_batch(grams, counts, window)
        return pd.Series([f.astype(np.int64) for f in fps])

    return _fp


def winnow_pairs(
    df: DataFrame,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    max_bucket: int | None = 200,
) -> DataFrame:
    """Near-dup candidate pairs sharing >= min_shared winnowing
    fingerprints, scored by fingerprint-set Jaccard. Plan shape: map
    (fingerprint UDF) -> explode -> self-equi-join on fingerprint (spread
    key) -> pair aggregation. Same no-cross-join scale story as LSH."""
    fp = winnow_fingerprints_udf(k=k, window=window)
    base = df.select(
        F.col(id_col).alias("id"), fp(F.col(text_col)).alias("fps")
    ).withColumn("n_fps", F.size("fps").cast("long"))
    ex = base.select("id", "n_fps", F.explode("fps").alias("fp"))
    ex = _drop_hot_buckets(ex, ["fp"], max_bucket)
    l = ex.select(F.col("fp"), F.col("id").alias("id_a"), F.col("n_fps").alias("n_a"))
    r = ex.select(F.col("fp"), F.col("id").alias("id_b"), F.col("n_fps").alias("n_b"))
    pairs = (
        l.join(r, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    score = F.round(
        F.col("n_shared")
        / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
        6,
    )
    return pairs.select("id_a", "id_b", "n_shared", score.alias("fp_jaccard"))
