"""Perplexity scoring Arrow UDF (KenLM-style, byte-trigram LM).

Same executor-singleton pattern as scorer.py: the lm.npz artifact ships
with the package, each executor loads it once; per batch the UDF does a
handful of vectorized `np.searchsorted` lookups (core/lm.py) — no per-row
Python beyond a thin O(batch) loop around pure-NumPy ops.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from langid_py_spark import config as C
from langid_py_spark.core.lm import (
    DEFAULT_LM_PATH,
    DEFAULT_MULTI_LM_PATH,
    MultiTrigramLM,
    TrigramLM,
)


# per-executor singletons; module-level defs so cloudpickle ships the
# UDFs that call them by reference
@functools.cache
def _get_lm(path: str) -> TrigramLM:
    return TrigramLM.load(path)


@functools.cache
def _get_multi_lm(path: str) -> MultiTrigramLM:
    return MultiTrigramLM.load(path)


def perplexity_udf(lm_path: str = DEFAULT_LM_PATH, max_bytes: int = C.SCORE_MAX_BYTES):
    @pandas_udf(T.DoubleType())
    def _ppl(texts: pd.Series) -> pd.Series:
        lm = _get_lm(lm_path)
        return pd.Series(lm.perplexity_batch(texts.fillna("").tolist(), max_bytes=max_bytes))

    return _ppl


def perplexity_by_lang_udf(
    multi_lm_path: str = DEFAULT_MULTI_LM_PATH, max_bytes: int = C.SCORE_MAX_BYTES
):
    """(text, lang) -> perplexity under the doc's OWN language LM (global
    fallback for unknown langs) — the CCNet contract. Same executor-
    singleton + Arrow-batch pattern as the global UDF."""

    @pandas_udf(T.DoubleType())
    def _ppl(texts: pd.Series, langs: pd.Series) -> pd.Series:
        mlm = _get_multi_lm(multi_lm_path)
        return pd.Series(
            mlm.perplexity_batch_by_lang(
                texts.fillna("").tolist(),
                [None if l is None or (isinstance(l, float)) else str(l) for l in langs],
                max_bytes=max_bytes,
            )
        )

    return _ppl


def with_perplexity(df, text_col: str = "text", out_col: str = "ppl", lm_path: str = DEFAULT_LM_PATH):
    return df.withColumn(out_col, perplexity_udf(lm_path)(F.col(text_col)))
