"""Edge-input robustness: hostile unicode through the full pipeline,
empty inputs, null columns."""

import pandas as pd
import pytest

WEIRD = [
    "normal text here with words",
    "\x00 null byte and � replacement",
    "é combining ´ marks ​ zero-width",
    "🙂🚀🎉 emoji only",
    "ᚠᚢᚦᚨᚱᚲ runes ␀␁ controls \x1b[31mansi\x1b[0m",
    "ا مخلوط rtl and ltr مع english",
    "𠜎𠜱𠝹 supplementary-plane han",
    "a" * 5000,
    " \t \n \r ",
    "￿￾ noncharacters",
]


def test_pipeline_handles_hostile_unicode(spark):
    from langid_py_spark.spark.pipeline import full_pipeline

    pdf = pd.DataFrame(
        {
            "conv_id": ["w"] * len(WEIRD),
            "turn_idx": range(len(WEIRD)),
            "role": ["user"] * len(WEIRD),
            "text": WEIRD,
            "tool": [None] * len(WEIRD),
            "ts": [pd.Timestamp("2026-01-01")] * len(WEIRD),
        }
    )
    out = full_pipeline(spark.createDataFrame(pdf)).toPandas()
    assert len(out) == len(WEIRD)
    assert out["lang"].notna().all()
    assert out["scrubbed_text"].notna().all()
    assert out["conv_lang"].nunique() == 1

    # matches the single-process oracle on the same hostile input
    from tests.test_pipeline import golden_labels

    gold = golden_labels(pdf)
    got = out.sort_values("turn_idx").reset_index(drop=True)
    assert (got["lang"].values == gold["lang"].values).all()
    assert (got["scrubbed_text"].values == gold["scrubbed_text"].values).all()
    assert (got["keep"].values == gold["keep"].values).all()


def test_pipeline_empty_input(spark, tmp_path):
    from langid_py_spark.spark.pipeline import run_pipeline

    src = str(tmp_path / "empty_src")
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    spark.createDataFrame([], schema=schema).write.parquet(src)
    m = run_pipeline(spark, src, str(tmp_path / "empty_out"), resume=False)
    assert sorted(m["completed_buckets"]) == list(range(8))
    assert m["observed"]["n_turns"] == 0


def test_null_tool_and_text(spark):
    from langid_py_spark.spark.pipeline import score_turns

    pdf = pd.DataFrame(
        {
            "conv_id": ["n", "n"],
            "turn_idx": [0, 1],
            "role": ["user", "tool"],
            "text": pd.array([None, "ok fine yes"], dtype=object),
            "tool": pd.array([None, "search"], dtype=object),
            "ts": [pd.Timestamp("2026-01-01")] * 2,
        }
    )
    rows = score_turns(spark.createDataFrame(pdf)).collect()
    assert rows[0]["nbytes"] == 0 and rows[0]["r_empty"]
    assert not rows[0]["keep"]
