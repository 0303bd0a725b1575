"""THE BASELINE gate (BASELINE.json::metric): keep/drop F1 >= 0.99 and
byte-exact scrubbed text vs the reference oracle at SF=0.1 under stable
(conv_id, turn_idx) ordering, over the rows the production path
(run_pipeline) writes.

The oracle is the single-process NumPy implementation (core/), pinned to
the published langid.py semantics by the unit/property suite — per
SURVEY.md §5.1 it swaps for the vendored reference the moment
/root/reference is populated.

Set LANGID_SKIP_SF01=1 to skip in quick iterations (runs ~90s).
"""

import os

import numpy as np
import pandas as pd
import pytest

from tests.test_pipeline import golden_labels

pytestmark = pytest.mark.skipif(
    os.environ.get("LANGID_SKIP_SF01") == "1", reason="sf0.1 gate skipped by env"
)


@pytest.fixture(scope="module")
def sf01(spark) -> str:
    from langid_py_spark.fixtures.transcripts import ensure_transcripts

    return ensure_transcripts(spark, 0.1)


def test_f1_and_scrub_gate_sf01(spark, sf01, tmp_path):
    from langid_py_spark.spark.pipeline import run_pipeline

    out = str(tmp_path / "gate_out")
    run_pipeline(spark, sf01, out, resume=False)
    got = (
        spark.read.parquet(out)
        .select("conv_id", "turn_idx", "lang", "keep", "scrubbed_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    src = (
        spark.read.parquet(sf01)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    gold = golden_labels(src)

    assert len(got) == len(gold) > 90_000
    assert (got["conv_id"].values == gold["conv_id"].values).all()

    y, g = got["keep"].values, np.asarray(gold["keep"].values)
    tp = int((y & g).sum())
    fp = int((y & ~g).sum())
    fn = int((~y & g).sum())
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.6f} < 0.99 (fp={fp}, fn={fn})"

    scrub_mism = int((got["scrubbed_text"].values != gold["scrubbed_text"].values).sum())
    assert scrub_mism == 0, f"{scrub_mism} scrub mismatches"

    lang_mism = int((got["lang"].values != gold["lang"].values).sum())
    assert lang_mism == 0, f"{lang_mism} language mismatches"
