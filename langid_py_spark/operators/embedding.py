"""Hashed TF-IDF document embeddings — text → vector, feeding the
similarity/ANN family.

The similarity operators (`operators/similarity.py`) consume an
`array<float>` embedding column; the fixtures provide one, but a real
training-data pipeline has to MAKE embeddings from text. This is the
classic hashing-trick TF-IDF (Weinberger 2009 feature hashing /
sklearn HashingVectorizer semantics, public knowledge): token → md5
bucket in a fixed dim, tf counts per (doc, bucket), idf from bucket
document frequency, L2-normalized dense vector. Upstream
saffsd/langid.py has no embedding surface — this is a driver-mandate
training-data extra.

Cross-engine discipline (CLAUDE.md):

* tokens = `C.WORD_RUN_PATTERN` runs — the repo's three-engine \\S+
  replacement, parity already pinned by textstats;
* tokens are CASE-SENSITIVE — Java `lower()` and DuckDB `lower()`
  disagree on unicode edge cases (Turkish İ grows a combining dot in
  Java), exactly the class of trap the dialect rules exist for, and
  the hashing trick does not need folding;
* bucket = first 8 md5 hex chars as int, mod dim — md5 is identical
  everywhere; Spark parses hex via conv(·,16,10), DuckDB via the
  '0x…'::BIGINT cast, Python via int(h[:8], 16). All values < 2^32 so
  the BIGINT parse is exact and the mod operand nonneg in every
  engine.
* The DRIVER-FACING query (`hashed_tf_vectors`) is integer-only
  (doc_id, bucket, tf, df_bucket): the idf/normalize float tail would
  put cross-engine ln()/sqrt ulp into the oracle compare (the
  quality-classifier sigmoid precedent), so floats stay in the
  pytest-pinned dense path.

Scale story:

* `hashed_tf` is pure Catalyst: regexp explode → groupBy(doc, bucket).
  The shuffle is token-scale PRE-combine but map-side partial
  aggregation caps emitted rows at |docs-per-partition| × dim — at
  dim=256 that is harmless at any corpus size.
* `bucket_doc_freq` aggregates the tf table to ≤ dim rows — broadcast.
* `doc_embeddings` (the ANN-facing dense path) is ONE Arrow map over
  the corpus with the ≤ dim-float idf vector riding the closure (the
  model-broadcast pattern): tokenize+hash+bincount per batch in NumPy,
  zero corpus shuffle. The sparse Catalyst path exists because it is
  independently checkable; the dense path exists because at 100 TB an
  embedding pass must not shuffle tokens.
"""

from __future__ import annotations

import functools
import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from langid_py_spark import config as C

DEFAULT_DIM = 64

_WORD_RE = re.compile(C.WORD_RUN_PATTERN)


def _bucket_col(tok, dim: int):
    return F.pmod(
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long"), F.lit(dim)
    )


def hashed_tf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Sparse hashed term-frequency table: (id, bucket, tf), pure
    Catalyst. tf sums every token occurrence landing in the bucket
    (hash collisions merge tokens — that is the hashing trick,
    deterministic and engine-identical)."""
    toks = df.select(
        id_col,
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(C.WORD_RUN_PATTERN), F.lit(0))
        ).alias("tok"),
    )
    return (
        toks.groupBy(id_col, _bucket_col(F.col("tok"), dim).alias("bucket"))
        .agg(F.count("*").alias("tf"))
    )


def bucket_doc_freq(tf_table: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(bucket, df_bucket): in how many docs does each bucket appear.
    The tf table is already distinct per (doc, bucket), so this is a
    count, and the result has ≤ dim rows."""
    return tf_table.groupBy("bucket").agg(F.count(id_col).alias("df_bucket"))


def hashed_tf_vectors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Driver-facing integer-exact query: (doc_id, bucket, tf,
    df_bucket). The idf weighting and L2 normalization live in
    `doc_embeddings` (floats, pytest-pinned) — see module docstring."""
    tf_tab = hashed_tf(df, text_col, id_col, dim)
    dfreq = bucket_doc_freq(tf_tab, id_col).withColumnRenamed("bucket", "f_bucket")
    return (
        tf_tab.join(F.broadcast(dfreq), F.col("bucket") == F.col("f_bucket"))
        .select(
            F.col(id_col),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df_bucket").cast("long").alias("df_bucket"),
        )
    )


def hashed_tf_vectors_oracle_sql(
    table: str = "documents", dim: int = DEFAULT_DIM
) -> str:
    """DuckDB twin — same regex dialect, same md5-prefix bucket, fully
    independent engine path (RE2 extract + '0x'::BIGINT hex parse)."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{C.WORD_RUN_PATTERN}')) AS tok
  FROM {table}
),
b AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % {dim} AS bucket
  FROM toks
),
tf AS (
  SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY doc_id, bucket
),
dfq AS (
  SELECT bucket, count(*) AS df_bucket FROM tf GROUP BY bucket
)
SELECT t.doc_id, t.bucket, t.tf, d.df_bucket
FROM tf t JOIN dfq d USING (bucket)
"""


def _py_bucket(tok: str, dim: int) -> int:
    return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16) % dim


def py_tf_vector(text: str, dim: int = DEFAULT_DIM) -> np.ndarray:
    """Python twin of one doc's hashed-tf vector (dense, int64) — the
    independent per-doc oracle for the dense path's scatter."""
    v = np.zeros(dim, dtype=np.int64)
    for tok in _WORD_RE.findall(text or ""):
        v[_py_bucket(tok, dim)] += 1
    return v


# (dim, token) -> bucket memo. md5-bucketing is a pure function, so the
# memo can only return what _py_bucket would; it persists across Arrow
# batches AND across the dfreq/embed passes in one reused Python worker
# (module-level, like the scorer's per-executor loader caches). Bounded:
# a web-scale vocabulary must not grow a worker without limit (2^18
# entries hold ~50 MB of keys and links); the LRU keeps the hot tokens
# that recur in every batch.
_BUCKET_MEMO_ENTRIES = 1 << 18


@functools.lru_cache(maxsize=_BUCKET_MEMO_ENTRIES)
def _memo_bucket(dim: int, tok: str) -> int:
    return _py_bucket(tok, dim)


def _batch_tf_matrix(texts: list, dim: int) -> np.ndarray:
    """(B, dim) int64 tf matrix for one Arrow batch, vectorized the
    repetition-stats way: tokens of all docs concatenate, md5 runs ONCE
    per UNIQUE token (pd.factorize + inverse — hash-based, measured ~10x
    the sort-based np.unique on object arrays at sf1; identical output
    because the unique/inverse mapping feeds the same bincount), per-doc
    scatter is a single bincount over doc_idx*dim+bucket.
    Batch-composition-independent: each doc's row depends only on its
    own tokens."""
    B = len(texts)
    mat = np.zeros((B, dim), dtype=np.int64)
    if B == 0:
        return mat
    toks_per_doc = [_WORD_RE.findall(t or "") for t in texts]
    lens = np.fromiter((len(x) for x in toks_per_doc), dtype=np.int64, count=B)
    total = int(lens.sum())
    if total == 0:
        return mat
    all_toks = np.concatenate(
        [np.array(x, dtype=object) for x in toks_per_doc if x]
    )
    doc_idx = np.repeat(np.arange(B), lens)
    inv, uniq = pd.factorize(all_toks, sort=False)
    buckets_uniq = np.fromiter(
        (_memo_bucket(dim, u) for u in uniq), dtype=np.int64, count=len(uniq)
    )
    flat = doc_idx * dim + buckets_uniq[inv]
    return np.bincount(flat, minlength=B * dim).reshape(B, dim)


def idf_vector(dfreq_rows, n_docs: int, dim: int) -> np.ndarray:
    """Smoothed idf per bucket (sklearn TfidfTransformer smooth_idf):
    ln((1+N)/(1+df)) + 1; buckets seen in no doc get the max idf."""
    dfv = np.zeros(dim, dtype=np.float64)
    for bucket, df_bucket in dfreq_rows:
        dfv[bucket] = df_bucket
    return np.log((1.0 + n_docs) / (1.0 + dfv)) + 1.0


def dense_doc_freq(
    df: DataFrame, text_col: str = "text", dim: int = DEFAULT_DIM
) -> tuple[list[tuple[int, int]], int]:
    """((bucket, df_bucket) rows, n_docs) in ONE corpus scan with a
    dim-bounded shuffle.

    The Catalyst path (`bucket_doc_freq(hashed_tf(...))`) shuffles one
    row per DISTINCT (doc, bucket) pair — ~docs × dim rows at corpus
    scale, purely to then collapse them to ≤ dim counts. Here each
    Arrow batch reduces to a dim-length presence histogram via the same
    `_batch_tf_matrix` kernel (so bucket identities are bit-identical
    to the Catalyst path — parity-tested), plus one sentinel row
    carrying the batch's doc count: the shuffle is dim+1 rows PER
    BATCH regardless of corpus size, and the doc count rides the same
    scan instead of a second one. Counts are integer sums in either
    plan, so the result — and every idf/golden downstream — is
    identical.
    """
    out_schema = T.StructType(
        [
            T.StructField("bucket", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    buckets = np.arange(-1, dim, dtype=np.int64)  # -1 = doc-count sentinel

    def presence(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            texts = b[text_col].tolist()
            counts = (_batch_tf_matrix(texts, dim) > 0).sum(axis=0)
            yield pd.DataFrame(
                {
                    "bucket": buckets,
                    "n": np.concatenate([[len(texts)], counts]).astype(np.int64),
                }
            )

    rows = (
        df.select(text_col)
        .mapInPandas(presence, schema=out_schema)
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    n_docs = 0
    dfreq: list[tuple[int, int]] = []
    for r in rows:
        if r["bucket"] < 0:
            n_docs = int(r["n"])
        elif r["n"] > 0:
            dfreq.append((int(r["bucket"]), int(r["n"])))
    return dfreq, n_docs


def doc_embeddings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """(id, embedding array<float>) — dense L2-normalized hashed
    TF-IDF, the input shape the ANN operators consume.

    Two passes: (1) `dense_doc_freq` — bucket document frequencies AND
    the doc count in one corpus scan whose shuffle is dim+1 rows per
    Arrow batch, pulled to the driver (bounded-dim pattern, like the
    IVF centroids) and baked into the idf closure; (2) ONE Arrow map
    over the corpus — tokenize (same compiled dialect regex), hash,
    bincount, idf-scale, L2-normalize per batch. No corpus-scale
    shuffle anywhere; an all-empty-doc corpus yields zero vectors
    (normalized only where the norm is positive).
    """
    dfreq_rows, n_docs = dense_doc_freq(df, text_col, dim)
    idf = idf_vector(dfreq_rows, n_docs, dim)
    return embed_with_idf(df, idf, text_col=text_col, id_col=id_col)


def embed_with_idf(
    df: DataFrame,
    idf: np.ndarray,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The embedding map alone, with a FROZEN idf vector riding the
    closure — a stateless Arrow map, so it runs under readStream
    unchanged (the production shape for continuous ingest: fit idf —
    and centroids — on the reference corpus once, embed arrivals
    forever; stream==batch parity-tested). `doc_embeddings` is this
    plus the idf fit."""
    dim = len(idf)
    idf = np.asarray(idf, dtype=np.float64)

    out_schema = T.StructType(
        [
            next(f for f in df.schema.fields if f.name == id_col),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            texts = b[text_col].tolist()
            mat = _batch_tf_matrix(texts, dim).astype(np.float64)
            mat *= idf
            norms = np.sqrt((mat * mat).sum(axis=1))
            nz = norms > 0
            mat[nz] /= norms[nz, None]
            yield pd.DataFrame(
                {
                    id_col: b[id_col],
                    "embedding": [row.astype(np.float32) for row in mat],
                }
            )

    return df.select(id_col, text_col).mapInPandas(emit, schema=out_schema)
