"""Quality-classifier tier (operators/quality_classifier.py — the
CCNet/GPT-3 reference-corpus logistic regression)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from langid_py_spark.core.corpora import make_doc
from langid_py_spark.operators.quality_classifier import (
    FEATURE_NAMES,
    feature_cols,
    feature_py,
    feature_sql,
    load_weights,
    score_quality_classifier,
)

HOSTILE = [
    "The cat sat on the mat with the hat and the bat.",
    "nur ein kurzer deutscher satz ohne englische wörter",
    "数字 123 and 混合 text with 日本語 chars",
    "1234567890 0987654321",
    "",
    None,
    "a\nb\nc\nd\ne\nf\n" * 5,
    "supercalifragilisticexpialidocious " * 3,
    "the THE The tHe thé them theater",  # boundary + case + accent cases
    "buy the\n",   # Java $ matches before a final \n; RE2 does not (review r05)
    "end with\r\n",  # 1/0/0 across engines under any $-anchored pattern
    "of the and to",  # consecutive stopwords: non-overlapping scan counts 2
    # \x0B: Java \s includes it, RE2's does not — a bare \S+ silently
    # diverges between engine and oracle exactly here (ADVICE r05);
    # the explicit C.WORD_RUN_PATTERN class must agree 3-ways
    "vertical\x0btab splits\x0bnothing in re2",
    "\x0b\x0b\x0b",  # whitespace-only under Java/Python, 'words' under RE2 \S
    "mix \x0b\tof\fweird\rws\x0b chars",
]


def test_feature_parity_three_engines(spark):
    """Catalyst == DuckDB == NumPy twin on hostile docs — the same
    3-engine dialect contract as rules/scrub."""
    pdf = pd.DataFrame({"doc_id": range(len(HOSTILE)), "text": HOSTILE})
    docs = spark.createDataFrame(pdf)
    cols = feature_cols(F.col("text"))
    got = (
        docs.select("doc_id", *[cols[n].alias(n) for n in FEATURE_NAMES])
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    fs = feature_sql("text")
    duck = (
        con.execute(
            "SELECT doc_id, "
            + ", ".join(f"{fs[n]} AS {n}" for n in FEATURE_NAMES)
            + " FROM t ORDER BY doc_id"
        )
        .fetchdf()
        .reset_index(drop=True)
    )
    py = np.vstack([feature_py(t) for t in HOSTILE])
    for i, n in enumerate(FEATURE_NAMES):
        np.testing.assert_array_equal(got[n].values, duck[n].values, err_msg=n)
        np.testing.assert_array_equal(got[n].values, py[:, i], err_msg=n)


def test_committed_weights_separate_heldout_corpora(spark):
    """The committed artifact must actually CLASSIFY: >= 0.9 accuracy
    on a held-out reference-like vs crawl-like corpus (different seed
    than training — the de-circularized r06 contrast: clean prose in
    ALL languages vs crawl junk, not the langid model's own en label),
    and the Spark scoring path agrees with the NumPy dot product."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from train_quality_clf import build_corpus

    bias, w = load_weights()
    # the trainer's own corpus builder, held-out seed (train: 20260817)
    texts, y01 = build_corpus(n_per_lang=30, seed=99)
    y = y01 > 0.5
    X = np.vstack([feature_py(t) for t in texts])
    z = X @ w + bias
    acc = ((z > 0) == y).mean()
    assert acc >= 0.9, acc
    # balanced corpus: check BOTH error directions explicitly
    recall = ((z > 0) & y).sum() / y.sum()
    junk_reject = ((z <= 0) & ~y).sum() / (~y).sum()
    assert recall >= 0.85, recall
    assert junk_reject >= 0.85, junk_reject

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = (
        score_quality_classifier(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    np.testing.assert_array_equal(got["clf_keep"].values, z > 0)
    np.testing.assert_allclose(got["clf_score"].values, np.round(z, 6), atol=1e-9)


def test_numpy_fit_reproduces_committed_weights():
    """fit_numpy on the trainer's own corpus (scripts/train_quality_clf.py,
    training seed) reproduces the committed artifact: same bias and
    weights up to float rounding, same recorded rows and accuracy. A
    change to the trainer or the feature twin that would alter the
    weights shows here before anyone regenerates the artifact."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from train_quality_clf import build_corpus

    from langid_py_spark.operators.quality_classifier import (
        DEFAULT_CLF_PATH,
        fit_numpy,
    )

    texts, y = build_corpus()
    X = np.vstack([feature_py(t) for t in texts])
    bias, w = fit_numpy(X, y)
    want_bias, want_w = load_weights()
    np.testing.assert_allclose(bias, want_bias, rtol=1e-9)
    np.testing.assert_allclose(w, want_w, rtol=1e-9, atol=1e-12)
    art = json.load(open(DEFAULT_CLF_PATH))
    assert art["train_rows"] == len(texts)
    acc = float(((X @ w + bias > 0) == (y > 0.5)).mean())
    assert acc == pytest.approx(art["train_accuracy"], abs=1e-12)
    assert acc >= 0.9, acc


def test_weight_artifact_feature_list_guard(tmp_path):
    """A stale artifact (feature list drift) must refuse to load."""
    import json

    p = tmp_path / "clf.json"
    p.write_text(json.dumps({"features": ["old"], "bias": 0.0, "weights": [1.0]}))
    with pytest.raises(ValueError, match="do not match"):
        load_weights(str(p))


def test_classifier_plan_is_pure_codegen(spark):
    """Scoring must stay one fused map: no UDF eval, no exchange, one
    scan — the classifier tier rides the same stage as the rules at
    100 TB."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        score_quality_classifier(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


def test_classifier_importance_sample(spark):
    """Deterministic score-proportional sampling: acceptance rate per
    score tier tracks the linear p map; identical rows on re-run; high-p
    docs (p=1) are ALL kept; the whole operator is one codegen map."""
    from langid_py_spark.operators.quality_classifier import (
        classifier_importance_sample,
        feature_py,
        load_weights,
    )

    from langid_py_spark.core.corpora import make_crawl_doc

    rng = np.random.RandomState(21)
    texts, ids = [], []
    # tiers 0-4: clean prose; tier 5: crawl junk (the r06 de-circularized
    # contrast — the classifier no longer prefers one LANGUAGE, it
    # prefers reference-like text over junk)
    for lang in ("en", "de", "zh", "ru", "fr"):
        for _ in range(400):
            texts.append(make_doc(rng, lang, 3))
            ids.append(len(ids))
    for _ in range(400):
        texts.append(make_crawl_doc(rng))
        ids.append(len(ids))
    pdf = pd.DataFrame({"doc_id": ids, "text": texts})
    docs = spark.createDataFrame(pdf)
    kept = classifier_importance_sample(docs).toPandas()
    kept2 = classifier_importance_sample(docs).toPandas()
    assert set(kept.doc_id) == set(kept2.doc_id)  # no RNG anywhere

    bias, w = load_weights()
    X = np.vstack([feature_py(t) for t in texts])
    z = X @ w + bias
    p = np.clip(0.5 + z / 8.0, 0.02, 1.0)
    # p=1 docs must all survive (the lpad-truncation trap is guarded by
    # the 16777215 cap + <= compare)
    full = pdf.doc_id[p >= 1.0]
    assert len(full) > 0 and set(full) <= set(kept.doc_id)
    # aggregate acceptance tracks mean(p) (exact per-id hash, so the
    # rate over 2400 ids concentrates)
    assert abs(len(kept) / len(pdf) - p.mean()) < 0.05
    # per-tier acceptance tracks that tier's mean p — and clean prose
    # (high score) is kept at a far higher rate than crawl junk
    # (score-proportional sampling doing its job)
    clean_rate = kept.doc_id.lt(400).sum() / 400
    junk_rate = kept.doc_id.ge(2000).sum() / 400
    assert abs(clean_rate - p[:400].mean()) < 0.07, (clean_rate, p[:400].mean())
    assert abs(junk_rate - p[2000:].mean()) < 0.07, (junk_rate, p[2000:].mean())
    assert clean_rate > junk_rate + 0.5, (clean_rate, junk_rate)
    # accept_p column matches the numpy p map after rounding
    m = kept.sort_values("doc_id")
    np.testing.assert_allclose(
        m["accept_p"].values, np.round(p[m.doc_id.values], 6), atol=1e-9
    )
    # plan: one fused map, no exchange, no UDF eval
    plan = (
        classifier_importance_sample(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan
