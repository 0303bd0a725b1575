"""Language-ID scoring as a vectorized Arrow UDF — the single hot operator.

Spark realization of langid.py's inference chain (``classify`` →
``instance2fv`` → ``nb_classprobs`` → ``norm_probs``, langid/langid.py
~L230-L270): the whole chain runs ONCE per Arrow record batch inside a
scalar pandas UDF; per-executor the model is loaded exactly once from a
module-level cache (the scalable analogue of `sc.broadcast` — the .npz
artifact ships with the package via ``spark-submit --py-files``, so 1000
executors each read it locally instead of pulling a pickled broadcast
from the driver).

Shuffle-free by construction: `withColumn` over a scan is a pure map —
no exchange appears in the plan (asserted in tests/test_pipeline.py).
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from langid_py_spark.core.model import DEFAULT_MODEL_PATH, NBModel

CLASSIFY_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("conf_raw", T.DoubleType()),
        T.StructField("conf_norm", T.DoubleType()),
        T.StructField("nbytes", T.LongType()),
    ]
)


@functools.cache
def _get_model(path: str, langs: tuple[str, ...] | None) -> NBModel:
    """Per-executor singleton per (path, langs); a language slice reuses
    the cached full model. Module-level so cloudpickle ships UDFs that
    call it by reference."""
    if langs:
        return _get_model(path, None).set_languages(list(langs))
    return NBModel.load(path)


def classify_udf(
    model_path: str = DEFAULT_MODEL_PATH,
    langs: list[str] | None = None,
    max_bytes: int | None = 4096,
):
    """Build the scalar pandas UDF text -> struct(lang, conf_raw, conf_norm,
    nbytes). `langs` pre-slices the model (reference set_languages
    semantics); `max_bytes` bounds per-doc scoring cost at web scale."""
    langs_t = tuple(langs) if langs else None

    @pandas_udf(CLASSIFY_SCHEMA)
    def _classify(texts: pd.Series) -> pd.DataFrame:
        model = _get_model(model_path, langs_t)
        vals = texts.fillna("").tolist()
        lang, raw, norm, nbytes = model.classify_batch(vals, max_bytes=max_bytes)
        return pd.DataFrame(
            {"lang": lang, "conf_raw": raw, "conf_norm": norm, "nbytes": nbytes}
        )

    return _classify


SCORE_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("conf_raw", T.DoubleType()),
        T.StructField("conf_norm", T.DoubleType()),
        T.StructField("nbytes", T.LongType()),
        T.StructField("ppl", T.DoubleType()),
    ]
)


def score_udf(
    model_path: str = DEFAULT_MODEL_PATH,
    lm_path: str | None = None,
    langs: list[str] | None = None,
    max_bytes: int | None = 4096,
):
    """Fused classify + perplexity UDF: the hot pipeline ships the text
    column across the Arrow boundary ONCE and returns one struct.
    Separate classify_udf/perplexity_udf remain for standalone use.

    Perplexity is scored under the PREDICTED language's LM (CCNet
    semantics — fusion makes this free: the lang is already in hand when
    the LM lookup runs; unknown langs fall back to the artifact's global
    LM). `lm_path` is a per-language artifact (MultiTrigramLM)."""
    from langid_py_spark.core.lm import DEFAULT_MULTI_LM_PATH
    from langid_py_spark.spark.perplexity import _get_multi_lm

    lm_path_r = lm_path or DEFAULT_MULTI_LM_PATH
    langs_t = tuple(langs) if langs else None

    @pandas_udf(SCORE_SCHEMA)
    def _score(texts: pd.Series) -> pd.DataFrame:
        model = _get_model(model_path, langs_t)
        vals = texts.fillna("").tolist()
        lang, raw, norm, nbytes = model.classify_batch(vals, max_bytes=max_bytes)
        ppl = _get_multi_lm(lm_path_r).perplexity_batch_by_lang(
            vals, list(lang), max_bytes=max_bytes or 4096
        )
        return pd.DataFrame(
            {
                "lang": lang,
                "conf_raw": raw,
                "conf_norm": norm,
                "nbytes": nbytes,
                "ppl": ppl,
            }
        )

    return _score


def rank_udf(
    model_path: str = DEFAULT_MODEL_PATH,
    langs: list[str] | None = None,
    max_bytes: int | None = 4096,
    top_k: int | None = None,
):
    """W3 (reference ``rank`` ~L270): per-doc language ranking as
    array<struct<lang,prob>>, sorted desc. Debug/analysis path — the hot
    path returns only the argmax (classify_udf).

    `top_k` bounds the emitted array: scores and the sort stay fully
    vectorized in numpy; only the top-k (lang, prob) structs per row are
    materialized for Arrow. At 97 langs x 10^12 turns the full-ranking
    default would build |classes|-length Python lists per row — callers
    that read a prefix (like the registered rank_languages query) must
    pass top_k. None keeps the reference's full-rank semantics."""
    langs_t = tuple(langs) if langs else None
    schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("lang", T.StringType()),
                T.StructField("prob", T.DoubleType()),
            ]
        )
    )

    @pandas_udf(schema)
    def _rank(texts: pd.Series) -> pd.Series:
        import numpy as np

        model = _get_model(model_path, langs_t)
        fv = model.batch_fv(texts.fillna("").tolist(), max_bytes=max_bytes)
        pd_scores = model.nb_classprobs(fv)
        probs = model.norm_probs(pd_scores)
        order = np.argsort(-probs, axis=1)
        if top_k is not None:
            order = order[:, :top_k]
        # vectorized gathers; the only per-row Python is assembling the
        # k (<= |classes|) output structs Arrow requires as objects
        cls = np.array(model.nb_classes, dtype=object)
        langs_mat = cls[order]
        probs_mat = np.take_along_axis(probs, order, axis=1)
        out = [
            [
                {"lang": langs_mat[i, j], "prob": float(probs_mat[i, j])}
                for j in range(order.shape[1])
            ]
            for i in range(order.shape[0])
        ]
        return pd.Series(out)

    return _rank


def with_language(
    df,
    text_col: str = "text",
    out_col: str = "ld",
    model_path: str = DEFAULT_MODEL_PATH,
    langs: list[str] | None = None,
    max_bytes: int | None = 4096,
):
    """df + struct column out_col = classify(text_col); flatten with
    df.select("*", f"{out_col}.*")."""
    udf = classify_udf(model_path=model_path, langs=langs, max_bytes=max_bytes)
    return df.withColumn(out_col, udf(F.col(text_col)))
