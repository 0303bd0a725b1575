"""Quality-classifier tier: the CCNet / GPT-3 "reference corpus"
logistic regression (Wenzek 2020 §4.4; Brown 2020 Appendix A) — the
last standard tier of the public quality-pipeline recipe beside rules,
perplexity buckets, dedup and decontamination.

The production recipe trains a linear classifier to separate
reference-corpus-like text (Wikipedia/books) from raw crawl, then
filters or importance-samples by the score. Here:

* Features are PURE Catalyst column expressions (charset fractions,
  length/word-shape signals, an English-stopword rate) with exact
  3-engine twins (Java regex / RE2 / Python — the CLAUDE.md dialect
  rules), so scoring is a codegen'd dot product: zero UDF, zero
  shuffle, composes with pushdown. At 100 TB the classifier tier is
  ONE map over the scan, fused by whole-stage codegen into the same
  stage as the rules.
* Weights ship as a committed artifact (data/quality_clf.json),
  trained DETERMINISTICALLY offline by scripts/train_quality_clf.py
  (fixed-iteration full-batch NumPy gradient descent — bit-reproducible,
  engine-independent); the label is lang=='en' on the sf0.01 fixture —
  the fixture's stand-in for "is reference-corpus text".
* fit_quality_classifier is the DISTRIBUTED trainer for real corpora:
  per iteration one Catalyst aggregation over a persisted feature
  DataFrame computes the full-batch gradient (the feature dim is ~10,
  so the driver pull is 10 floats/iteration — the bounded-dim pattern
  of the IVF fit); the corpus is scanned once and iterations read the
  cache. Gradient sums are partition-order float sums — the trained
  weights are deterministic only up to float association, which is why
  the COMMITTED artifact comes from the NumPy twin (tests pin the two
  trainers to agree to ~1e-3 and to identical predictions).

The driver query emits the LINEAR score z (and its sign as the
predicted label) rather than sigmoid(z): z is multiply/add only, so
DuckDB reproduces it bit-for-bit; exp() differs between libm and
java.lang.Math in the last ulp, and monotone sigmoid adds no
information to a threshold decision anyway. `with_quality_probability`
adds the sigmoid column for consumers that want calibrated scores.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from langid_py_spark import config as C
from langid_py_spark.spark.rules import count_chars

DEFAULT_CLF_PATH = str(
    Path(__file__).resolve().parent.parent / "data" / "quality_clf.json"
)

# Deliberately free of \b, (?i), ^ AND $: Java's \b is unicode-aware
# (it matched nothing in Turkish 'için' where ASCII-\b engines see
# 'ç' as a boundary and count an 'in' hit — measured divergence);
# RE2's (?i) does full unicode case folding while Java's is ASCII;
# and Java's $ matches BEFORE a final line terminator while RE2's is
# end-of-text only (measured: 'buy the\n' counts 1 in Spark, 0 in
# DuckDB — review r05). So: the TEXT is padded with one space on each
# side and the delimiters are literal spaces — zero anchor/boundary/
# case-fold semantics anywhere. Non-overlapping scan means consecutive
# stopwords ('of the') count once, and newline-delimited stopwords
# don't count — a deterministic, engine-identical definition of the
# rate, which is all the classifier needs.
_EN_STOPWORD_PATTERN = (
    r" ([Tt]he|[Oo]f|[Aa]nd|[Tt]o|[Ii]n|[Ii]s|[Tt]hat|[Ff]or|[Ii]t|[Ww]ith) "
)

FEATURE_NAMES = [
    "len_norm",        # min(chars/1000, 1)
    "ascii_alpha_frac",
    "digit_frac",
    "cjk_frac",
    "word_density",    # non-ws runs per char (C.WORD_RUN_PATTERN)
    "mean_word_len",   # chars per non-ws run, capped at 20
    "en_stop_rate",    # English stopword hits per word
    "line_density",    # newlines per 100 chars, capped at 1
]


def feature_cols(text: Column) -> dict[str, Column]:
    """name -> double Column, one entry per FEATURE_NAMES (same order)."""
    t = F.coalesce(text, F.lit(""))
    n_chars = F.length(t)
    safe_chars = F.greatest(n_chars, F.lit(1))
    n_words = F.regexp_count(t, F.lit(C.WORD_RUN_PATTERN))
    safe_words = F.greatest(n_words, F.lit(1))
    # count_chars for the dense letter class only (see its docstring)
    return {
        "len_norm": F.least(n_chars / F.lit(1000.0), F.lit(1.0)),
        "ascii_alpha_frac": count_chars(t, "[^A-Za-z]+") / safe_chars,
        "digit_frac": F.regexp_count(t, F.lit("[0-9]")) / safe_chars,
        "cjk_frac": F.regexp_count(t, F.lit(C.CJK_CHAR_PATTERN)) / safe_chars,
        "word_density": n_words / safe_chars,
        "mean_word_len": F.least(n_chars / safe_words, F.lit(20.0)),
        "en_stop_rate": F.regexp_count(
            F.concat(F.lit(" "), t, F.lit(" ")), F.lit(_EN_STOPWORD_PATTERN)
        )
        / safe_words,
        "line_density": F.least(
            F.regexp_count(t, F.lit("\n")) * F.lit(100.0) / safe_chars,
            F.lit(1.0),
        ),
    }


def feature_sql(text_expr: str = "text") -> dict[str, str]:
    """The DuckDB/RE2 twins — byte-for-byte the same arithmetic order."""
    t = f"coalesce({text_expr}, '')"
    n_chars = f"length({t})"
    safe_chars = f"greatest({n_chars}, 1)"
    n_words = f"len(regexp_extract_all({t}, '{C.WORD_RUN_PATTERN}'))"
    safe_words = f"greatest({n_words}, 1)"
    cjk = C.CJK_CHAR_PATTERN
    return {
        "len_norm": f"least({n_chars} / 1000.0, 1.0)",
        "ascii_alpha_frac": f"(len(regexp_extract_all({t}, '[A-Za-z]')) / {safe_chars})",
        "digit_frac": f"(len(regexp_extract_all({t}, '[0-9]')) / {safe_chars})",
        "cjk_frac": f"(len(regexp_extract_all({t}, '{cjk}')) / {safe_chars})",
        "word_density": f"({n_words} / {safe_chars})",
        "mean_word_len": f"least({n_chars} / {safe_words}, 20.0)",
        "en_stop_rate": (
            f"(len(regexp_extract_all(' ' || {t} || ' ', "
            f"' ([Tt]he|[Oo]f|[Aa]nd|[Tt]o|[Ii]n|[Ii]s|[Tt]hat|[Ff]or|[Ii]t|[Ww]ith) '))"
            f" / {safe_words})"
        ),
        "line_density": f"least(len(regexp_extract_all({t}, chr(10))) * 100.0 / {safe_chars}, 1.0)",
    }


def feature_py(text: str | None) -> np.ndarray:
    """Python/NumPy twin (training script + tests): identical values."""
    import re

    t = text or ""
    n_chars = len(t)
    safe_chars = max(n_chars, 1)
    words = re.findall(C.WORD_RUN_PATTERN, t)  # explicit ASCII-ws class
    n_words = len(words)
    safe_words = max(n_words, 1)
    return np.array(
        [
            min(n_chars / 1000.0, 1.0),
            len(re.findall("[A-Za-z]", t)) / safe_chars,
            len(re.findall("[0-9]", t)) / safe_chars,
            len(re.findall(C.CJK_CHAR_PATTERN, t)) / safe_chars,
            n_words / safe_chars,
            min(n_chars / safe_words, 20.0),
            len(re.findall(_EN_STOPWORD_PATTERN, " " + t + " ")) / safe_words,
            min(t.count("\n") * 100.0 / safe_chars, 1.0),
        ],
        dtype=np.float64,
    )


def load_weights(path: str = DEFAULT_CLF_PATH) -> tuple[float, np.ndarray]:
    with open(path) as f:
        art = json.load(f)
    if art.get("features") != FEATURE_NAMES:
        raise ValueError(
            f"weight artifact features {art.get('features')} do not match "
            f"FEATURE_NAMES — retrain with scripts/train_quality_clf.py"
        )
    return float(art["bias"]), np.asarray(art["weights"], dtype=np.float64)


def score_expr(text: Column, bias: float, weights: np.ndarray) -> Column:
    """z = bias + Σ w_i · f_i as one left-associated codegen expression
    (the association order is the cross-engine contract)."""
    cols = feature_cols(text)
    z: Column = F.lit(float(bias))
    for name, w in zip(FEATURE_NAMES, weights):
        z = z + F.lit(float(w)) * cols[name]
    return z


def score_quality_classifier(
    df: DataFrame,
    clf_path: str = DEFAULT_CLF_PATH,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, clf_score, clf_keep): frozen-weight scoring — one fused
    map, no UDF, no shuffle."""
    bias, w = load_weights(clf_path)
    z = score_expr(F.col(text_col), bias, w)
    return df.select(
        F.col(id_col),
        F.round(z, 6).alias("clf_score"),
        (z > 0).alias("clf_keep"),
    )


def quality_classifier_oracle_sql(
    clf_path: str = DEFAULT_CLF_PATH, table: str = "documents"
) -> str:
    bias, w = load_weights(clf_path)
    fs = feature_sql("text")
    z = repr(float(bias))
    for name, wi in zip(FEATURE_NAMES, w):
        z = f"({z} + {float(wi)!r} * {fs[name]})"
    return f"""
    SELECT doc_id, round({z}, 6) AS clf_score, ({z} > 0) AS clf_keep
    FROM {table}
    """


def with_quality_probability(
    df: DataFrame, score_col: str = "clf_score", out_col: str = "clf_prob"
) -> DataFrame:
    """sigmoid(score) for calibrated consumers (NOT oracle-compared:
    exp() differs between libm and java.lang.Math in the last ulp)."""
    return df.withColumn(
        out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(score_col)))
    )


def classifier_importance_sample(
    df: DataFrame,
    clf_path: str = DEFAULT_CLF_PATH,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "s42",
    floor: float = 0.02,
    center: float = 0.5,
    scale: float = 8.0,
) -> DataFrame:
    """GPT-3-style importance sampling by classifier score (Brown 2020
    App. A: 'documents were sampled in proportion to their score'):
    keep a document iff its deterministic per-id uniform draw falls
    under an acceptance probability derived from the classifier score.

    Engine-exact by construction — no RNG, no exp():
    * acceptance p = clamp(center + z/scale, floor, 1) — a piecewise-
      LINEAR map of the linear score (multiply/add/clamp only; sigmoid
      would drag the cross-engine exp() ulp problem into a row-keep
      decision, where one ulp flips a row instead of a 6th decimal);
      `floor` keeps a small unbiased slice of low-score docs (the
      Pareto-tail trick in the GPT-3 recipe).
    * the uniform draw is the first 6 hex chars of md5(id||salt)
      (hash_sample's machinery); p becomes a 6-hex threshold via
      floor(p * 16^24-bit) + to_hex + lpad, and the keep test is ONE
      string compare — pure codegen, reproducible on every engine and
      retry, nested across salts like hash_sample.

    The whole operator is one fused map over the scan: classifier
    features + score + threshold + compare in a single codegen stage,
    no UDF, no shuffle.

    r07 plan note — the score is evaluated ONCE per row, behind a
    single-element explode. The naive `filter(pref <= thr_hex(p))
    .withColumn("accept_p", round(p))` puts the whole feature dot
    product inside a Filter predicate, where (a) codegen does no
    subexpression elimination (the shared n_words regexp evaluates once
    per feature that uses it) and (b) the optimizer pushes the
    predicate below any Project that aliases it, re-inlining the score
    into both the filter AND the output column — all the way into the
    parquet scan's DataFilters, off the vectorized path (measured sf1:
    3.5 s median; the two-step Project→Filter spelling was WORSE,
    7-21 s, because of that pushdown). explode(array(p)) computes p in
    a Generate node, which predicate pushdown cannot cross, so the
    filter and accept_p both derive from the already-computed `_qclf_p`
    (cheap integer/hex ops only). Measured sf1: 3.53 -> 0.49 s median,
    row-identical output. Still zero UDF, zero shuffle, one map.
    """
    bias, w = load_weights(clf_path)
    if "_qclf_p" in df.columns:
        raise ValueError("classifier_importance_sample: input already has _qclf_p")
    z = score_expr(F.col(text_col), bias, w)
    p_raw = F.least(
        F.greatest(F.lit(float(center)) + z / F.lit(float(scale)), F.lit(float(floor))),
        F.lit(1.0),
    )
    gen = df.select("*", F.explode(F.array(p_raw)).alias("_qclf_p"))
    p = F.col("_qclf_p")
    thr = F.least(
        F.floor(p * F.lit(16777216.0)).cast("long"), F.lit(16777215)
    )
    thr_hex = F.lpad(F.lower(F.hex(thr)), 6, "0")
    pref = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 6
    )
    return gen.filter(pref <= thr_hex).select(
        *df.columns, F.round(p, 6).alias("accept_p")
    )


def classifier_importance_sample_oracle_sql(
    clf_path: str = DEFAULT_CLF_PATH,
    table: str = "documents",
    cols: list[str] | None = None,
    id_col: str = "doc_id",
    salt: str = "s42",
    floor: float = 0.02,
    center: float = 0.5,
    scale: float = 8.0,
) -> str:
    bias, w = load_weights(clf_path)
    fs = feature_sql("text")
    z = repr(float(bias))
    for name, wi in zip(FEATURE_NAMES, w):
        z = f"({z} + {float(wi)!r} * {fs[name]})"
    p = f"least(greatest({float(center)!r} + {z} / {float(scale)!r}, {float(floor)!r}), 1.0)"
    thr = f"least(CAST(floor({p} * 16777216.0) AS BIGINT), 16777215)"
    thr_hex = f"lpad(lower(to_hex({thr})), 6, '0')"
    pref = f"substring(md5(CAST({id_col} AS VARCHAR) || '{salt}'), 1, 6)"
    collist = ", ".join(cols) if cols else "*"
    return f"""
    SELECT {collist}, round({p}, 6) AS accept_p
    FROM {table}
    WHERE {pref} <= {thr_hex}
    """


# ------------------------------------------------------------- training
def fit_numpy(
    X: np.ndarray, y: np.ndarray, lr: float = 0.5, iters: int = 400
) -> tuple[float, np.ndarray]:
    """Deterministic full-batch logistic GD (bit-reproducible: fixed
    iteration count, float64, one einsum per step). Features are
    standardized internally and the weights FOLDED BACK to raw-feature
    space, so the returned (bias, w) apply directly to feature_cols
    outputs."""
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd = np.where(sd < 1e-9, 1.0, sd)
    Xs = (X - mu) / sd
    n, d = Xs.shape
    w = np.zeros(d)
    b = 0.0
    for _ in range(iters):
        z = Xs @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (Xs.T @ g) / n
        b -= lr * float(g.mean())
    w_raw = w / sd
    b_raw = b - float((w * mu / sd).sum())
    return b_raw, w_raw


def fit_quality_classifier(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    lr: float = 0.5,
    iters: int = 60,
) -> tuple[float, np.ndarray]:
    """Distributed full-batch logistic regression over the Catalyst
    features: the feature projection is computed ONCE and persisted;
    each iteration is one aggregation job (sum of per-row gradient
    terms — partial aggregation map-side, ~d+1 doubles through the
    final combine) with the current weights inlined as literals. The
    driver holds only the d+1 weight vector. Standardization moments
    come from one extra aggregation up front."""
    from pyspark import StorageLevel

    cols = feature_cols(F.col(text_col))
    feat = df.select(
        label.cast("double").alias("_y"),
        *[cols[n].alias(n) for n in FEATURE_NAMES],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    d = len(FEATURE_NAMES)
    stats = feat.agg(
        F.count("*").alias("n"),
        *[F.avg(n).alias(f"mu_{n}") for n in FEATURE_NAMES],
        *[F.stddev_pop(n).alias(f"sd_{n}") for n in FEATURE_NAMES],
    ).collect()[0]
    n = stats["n"]
    mu = np.array([stats[f"mu_{f}"] for f in FEATURE_NAMES])
    sd = np.array([stats[f"sd_{f}"] for f in FEATURE_NAMES])
    sd = np.where(sd < 1e-9, 1.0, sd)

    w = np.zeros(d)
    b = 0.0
    for _ in range(iters):
        z: Column = F.lit(float(b))
        for j, fname in enumerate(FEATURE_NAMES):
            z = z + F.lit(float(w[j])) * (
                (F.col(fname) - F.lit(float(mu[j]))) / F.lit(float(sd[j]))
            )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        g = p - F.col("_y")
        row = feat.agg(
            F.sum(g).alias("g_b"),
            *[
                F.sum(
                    g * (F.col(fname) - F.lit(float(mu[j]))) / F.lit(float(sd[j]))
                ).alias(f"g_{j}")
                for j, fname in enumerate(FEATURE_NAMES)
            ],
        ).collect()[0]
        w -= lr * np.array([row[f"g_{j}"] for j in range(d)]) / n
        b -= lr * float(row["g_b"]) / n
    feat.unpersist()
    w_raw = w / sd
    b_raw = b - float((w * mu / sd).sum())
    return b_raw, w_raw
