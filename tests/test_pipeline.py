"""End-to-end pipeline: golden-label F1, byte-exact scrub, determinism,
resume-from-manifest semantics (FIXTURES.md invariants 1-3)."""

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from langid_py_spark import config as C
from langid_py_spark.core.lm import TrigramLM
from langid_py_spark.core.model import DEFAULT_MODEL_PATH, NBModel
from langid_py_spark.spark.pipeline import full_pipeline, read_manifest, run_pipeline
from langid_py_spark.spark.rules import python_rule_oracle
from langid_py_spark.spark.scrub import python_scrub_oracle


def golden_labels(pdf: pd.DataFrame) -> pd.DataFrame:
    """Single-process oracle: same model + rules + scrub, no Spark."""
    from langid_py_spark.core.lm import MultiTrigramLM

    model = NBModel.load()
    mlm = MultiTrigramLM.load()
    texts = pdf["text"].fillna("").tolist()
    langs, raw, norm, nbytes = model.classify_batch(texts, max_bytes=C.SCORE_MAX_BYTES)
    # per-lang LM keyed by the PREDICTED lang — mirrors the fused scorer
    ppl = mlm.perplexity_batch_by_lang(texts, list(langs), max_bytes=C.SCORE_MAX_BYTES)
    rules = [python_rule_oracle(t) for t in texts]
    keep = [
        r["keep_heuristic"] and norm[i] >= C.MIN_LANG_CONF and ppl[i] <= C.MAX_PERPLEXITY
        for i, r in enumerate(rules)
    ]
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].values,
            "turn_idx": pdf["turn_idx"].values,
            "lang": langs,
            "conf_norm": norm,
            "keep": keep,
            "scrubbed_text": [python_scrub_oracle(t) for t in texts],
        }
    )


@pytest.fixture(scope="module")
def result(spark, fixture_path) -> pd.DataFrame:
    out = full_pipeline(spark.read.parquet(fixture_path))
    return out.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def golden(spark, fixture_path) -> pd.DataFrame:
    pdf = (
        spark.read.parquet(fixture_path)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    return golden_labels(pdf)


def test_keep_f1_vs_golden(result, golden):
    y, g = result["keep"].values, np.array(golden["keep"].values)
    tp = (y & g).sum()
    fp = (y & ~g).sum()
    fn = (~y & g).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep/drop F1 {f1} < 0.99"


def test_scrub_byte_exact_vs_golden(result, golden):
    mism = (result["scrubbed_text"].values != golden["scrubbed_text"].values).sum()
    assert mism == 0


def test_lang_exact_vs_golden(result, golden):
    assert (result["lang"].values == golden["lang"].values).all()
    np.testing.assert_allclose(
        result["conf_norm"].values, golden["conf_norm"].values, rtol=1e-12
    )


def test_conv_lang_consistency(result):
    # every turn of a conversation carries the same conv_lang
    n = result.groupby("conv_id")["conv_lang"].nunique()
    assert (n == 1).all()


def test_run_twice_identical(spark, fixture_path, tmp_path):
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    run_pipeline(spark, fixture_path, out1)
    run_pipeline(spark, fixture_path, out2)
    a = (
        spark.read.parquet(out1)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        spark.read.parquet(out2)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_run_pipeline_rows_equal_full_pipeline(result, spark, fixture_path, tmp_path):
    """Both callers of the post-score tail (with_conv_lang) produce the
    same rows: run_pipeline's persisted, text-dropped, written output
    reads back equal to full_pipeline's unwritten frame."""
    out = str(tmp_path / "tail")
    run_pipeline(spark, fixture_path, out)
    written = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(written[result.columns], result)


def test_resume_skips_completed_buckets(spark, fixture_path, tmp_path):
    out = str(tmp_path / "resume")
    m1 = run_pipeline(spark, fixture_path, out)
    assert sorted(m1["completed_buckets"]) == list(range(C.LANG_BUCKETS))

    # simulate a partial failure: mark two buckets incomplete, delete them
    full = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    manifest = read_manifest(out)
    manifest["completed_buckets"] = [b for b in manifest["completed_buckets"] if b not in (0, 1)]
    (Path(out) / "_manifest.json").write_text(json.dumps(manifest))
    for b in (0, 1):
        shutil.rmtree(Path(out) / f"lang_bucket={b}", ignore_errors=True)

    # record mtimes of untouched bucket files
    untouched = {
        p: p.stat().st_mtime_ns
        for p in Path(out).glob("lang_bucket=[2-7]/*.parquet")
    }
    m2 = run_pipeline(spark, fixture_path, out, resume=True)
    assert sorted(m2["completed_buckets"]) == list(range(C.LANG_BUCKETS))
    # untouched partitions were NOT recomputed/rewritten
    for p, t in untouched.items():
        assert p.stat().st_mtime_ns == t, f"{p} was rewritten"
    # final table identical to the clean run
    after = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(after, full)


@pytest.mark.parametrize("change", ["langs", "model", "input_rewritten", "input_path"])
def test_resume_refuses_other_inputs_or_model(spark, fixture_path, tmp_path, change):
    """A manifest resumes only the run that wrote it: another langs list,
    model artifact, rewritten input or input path raises, and
    resume=False then rebuilds every bucket."""
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    shutil.copytree(fixture_path, src)
    run_pipeline(spark, src, out)
    kw = {}
    if change == "langs":
        kw["langs"] = ["en", "de"]
    elif change == "model":
        kw["model_path"] = shutil.copy(DEFAULT_MODEL_PATH, tmp_path)
    elif change == "input_rewritten":
        # same rows, new part files
        spark.read.parquet(fixture_path).write.mode("overwrite").parquet(src)
    else:
        src = shutil.copytree(src, str(tmp_path / "other_in"))
    with pytest.raises(ValueError, match="resume=False"):
        run_pipeline(spark, src, out, resume=True, **kw)
    m = run_pipeline(spark, src, out, resume=False, **kw)
    assert m["completed_buckets"] == list(range(C.LANG_BUCKETS))
    written = spark.read.parquet(out)
    assert m["observed"]["n_turns"] == written.count()
    if change == "langs":
        assert {r.lang for r in written.select("lang").distinct().collect()} <= {"en", "de"}


def test_output_sorted_within_partitions(spark, fixture_path, tmp_path):
    out = str(tmp_path / "sorted")
    run_pipeline(spark, fixture_path, out)
    files = list(Path(out).glob("lang_bucket=*/*.parquet"))
    assert files
    for f in files[:4]:
        pdf = pd.read_parquet(f)[["conv_id", "turn_idx"]]
        assert pdf.equals(pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))


def test_sink_format_orc(spark, fixture_path, tmp_path):
    """The writer honors sink_format: an ORC run produces ORC files that
    read back identical to the parquet run (same rows, same manifest)."""
    out_p, out_o = str(tmp_path / "fmt_parquet"), str(tmp_path / "fmt_orc")
    mp = run_pipeline(spark, fixture_path, out_p)
    mo = run_pipeline(spark, fixture_path, out_o, sink_format="orc")
    assert mp["observed"] == mo["observed"]
    orc_files = list(Path(out_o).glob("lang_bucket=*/*.orc"))
    assert orc_files, "no ORC files written"
    assert not list(Path(out_o).glob("lang_bucket=*/*.parquet"))
    a = (
        spark.read.parquet(out_p)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        spark.read.orc(out_o)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=False)


def test_sink_format_iceberg_plumbing(spark, fixture_path, tmp_path):
    """sink_format='iceberg' routes through DataFrameWriterV2.writeTo(...)
    .using('iceberg'). The sandbox has no iceberg runtime/catalog, so the
    write must fail at Spark's CATALOG ANALYSIS step (proving the request
    reached the V2 writer) — not with a Python-side error. sink_table is
    required."""
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(ValueError, match="sink_table"):
        run_pipeline(
            spark, fixture_path, str(tmp_path / "ice"), sink_format="iceberg"
        )
    with pytest.raises(AnalysisException):
        run_pipeline(
            spark,
            fixture_path,
            str(tmp_path / "ice"),
            sink_format="iceberg",
            sink_table="lake.db.transcripts_clean",
        )


def test_metrics_ride_the_write_job(spark, fixture_path, tmp_path):
    """Per-bucket lineage metrics (now observe() columns on the write job,
    not a second pass) must match a direct aggregation of the output."""
    out = str(tmp_path / "metrics_out")
    m = run_pipeline(spark, fixture_path, out)
    got = (
        spark.read.parquet(f"{out}/_metrics")
        .toPandas()
        .set_index("lang_bucket")
        .sort_index()
    )
    outdf = spark.read.parquet(out).toPandas()
    for b, grp in outdf.groupby("lang_bucket"):
        assert got.loc[b, "n_turns"] == len(grp)
        assert got.loc[b, "n_kept"] == int(grp["keep"].sum())
        assert got.loc[b, "total_bytes"] == int(grp["nbytes"].sum())
        # HLL estimate (default rsd 0.05): allow a few counts of slack on
        # small buckets
        exact = grp["conv_id"].nunique()
        assert abs(got.loc[b, "n_convs"] - exact) <= max(5, 0.1 * exact)
    # manifest mirrors the table
    man = read_manifest(out)
    assert {int(k) for k in man["metrics"]} == set(got.index)
    assert man["observed"]["n_turns"] == len(outdf)


def test_entry_output_full_twin(result, golden, spark, fixture_path):
    """EVERY column of the flagship output vs a single-process twin —
    completes the per-column oracles (keep/scrub/lang/conf_norm above)
    with the ones previously only spot-checked: per-rule booleans,
    conf_raw, ppl, nbytes, and the conversation vote VALUES end-to-end
    (test_vote pins the operator in isolation; this pins it through the
    pipeline), plus lang_bucket well-formedness."""
    src = (
        spark.read.parquet(fixture_path)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    texts = src["text"].fillna("").tolist()
    from langid_py_spark.core.lm import MultiTrigramLM

    model = NBModel.load()
    mlm = MultiTrigramLM.load()
    langs, raw, norm, nbytes = model.classify_batch(texts, max_bytes=C.SCORE_MAX_BYTES)
    ppl = mlm.perplexity_batch_by_lang(texts, list(langs), max_bytes=C.SCORE_MAX_BYTES)

    # per-rule booleans (python oracle is the frozen-config twin)
    rules = [python_rule_oracle(t) for t in texts]
    for rname in C.RULE_NAMES:
        want = np.array([r[rname] for r in rules])
        got = result[rname].values
        assert (got == want).all(), rname

    np.testing.assert_allclose(result["conf_raw"].values, raw, rtol=1e-12)
    np.testing.assert_allclose(result["ppl"].values, ppl, rtol=1e-12)
    assert (result["nbytes"].values == nbytes).all()
    assert (
        result["r_low_conf"].values == (norm < C.MIN_LANG_CONF)
    ).all()
    assert (result["r_high_ppl"].values == (ppl > C.MAX_PERPLEXITY)).all()

    # conversation vote twin: per conv, nbytes-weighted lang sums (exact
    # integer arithmetic), argmax with (weight desc, lang asc) tie-break
    tw = pd.DataFrame(
        {"conv_id": src["conv_id"].values, "lang": langs, "w": nbytes}
    )
    sums = tw.groupby(["conv_id", "lang"], as_index=False)["w"].sum()
    sums = sums.sort_values(
        ["conv_id", "w", "lang"], ascending=[True, False, True]
    )
    want_vote = sums.groupby("conv_id").first()["lang"]
    got_vote = result.groupby("conv_id")["conv_lang"].first()
    assert (got_vote.sort_index() == want_vote.sort_index()).all()

    # lang_bucket: pure function of lang, in range
    assert result["lang_bucket"].between(0, C.LANG_BUCKETS - 1).all()
    assert (result.groupby("lang")["lang_bucket"].nunique() == 1).all()


def _cores(monkeypatch, spark, n):
    """Make the session report `n` cores (defaultParallelism), as on a
    host of that size, for the rest of the test."""
    monkeypatch.setattr(type(spark.sparkContext), "defaultParallelism", property(lambda sc: n))


def _bucket_files(out) -> dict:
    files = {}
    for f in Path(out).glob("lang_bucket=*/*.parquet"):
        files.setdefault(int(f.parent.name.split("=")[1]), []).append(f)
    return files


def _sorted_rows(spark, out) -> pd.DataFrame:
    return (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_write_width_is_one_task_per_core(spark, fixture_path, tmp_path, monkeypatch):
    """At local[8] the width is one task per core (8 = LANG_BUCKETS) and
    each bucket dir holds one data file. On 32 cores each bucket is split
    by conv hash into 4 tasks: some bucket gets several files, each
    sorted by conv, and the rows equal the 8-core run."""
    ref, out = str(tmp_path / "ref"), str(tmp_path / "wide")
    m = run_pipeline(spark, fixture_path, ref)
    assert m["write_tasks"] == C.LANG_BUCKETS
    assert all(len(fs) == 1 for fs in _bucket_files(ref).values())
    _cores(monkeypatch, spark, 32)
    m = run_pipeline(spark, fixture_path, out)
    assert m["write_tasks"] == 32
    files = _bucket_files(out)
    assert max(len(fs) for fs in files.values()) > 1
    for f in (f for fs in files.values() for f in fs):
        pdf = pd.read_parquet(f)[["conv_id", "turn_idx"]]
        assert pdf.equals(pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(_sorted_rows(spark, out), _sorted_rows(spark, ref))


def test_resume_under_another_write_width(spark, fixture_path, tmp_path, monkeypatch):
    """The write width shapes files, not rows, so it is not fingerprinted:
    a resume on another core count continues, writes the restored
    buckets at the new width and reads back equal to the clean run."""
    out = str(tmp_path / "resume_width")
    m1 = run_pipeline(spark, fixture_path, out)
    clean = _sorted_rows(spark, out)
    # the two largest buckets, so the new width splits them
    big = clean["lang_bucket"].value_counts().index[:2].tolist()
    manifest = read_manifest(out)
    manifest["completed_buckets"] = [b for b in manifest["completed_buckets"] if b not in big]
    (Path(out) / "_manifest.json").write_text(json.dumps(manifest))
    for b in big:
        shutil.rmtree(Path(out) / f"lang_bucket={b}")
    _cores(monkeypatch, spark, 32)
    m2 = run_pipeline(spark, fixture_path, out, resume=True)
    assert m2["write_tasks"] > m1["write_tasks"]
    files = _bucket_files(out)
    for b in big:
        assert len(files[b]) > 1, (b, files[b])
    pd.testing.assert_frame_equal(_sorted_rows(spark, out), clean)


def test_metrics_write_is_a_local_scan(spark, fixture_path, tmp_path, monkeypatch):
    """The 8-row _metrics table is built on the driver: its write plans a
    LocalTableScan, not a Scan ExistingRDD run by Python tasks, also in
    a session without Arrow conversion enabled."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans, save = {}, DataFrameWriter.save

    def spy(self, path=None, *a, **kw):
        plans[path] = self._df._jdf.queryExecution().executedPlan().toString()
        return save(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "save", spy)
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    was = spark.conf.get(arrow)
    for enabled in ("true", "false"):
        out = str(tmp_path / f"metrics_plan_{enabled}")
        spark.conf.set(arrow, enabled)
        try:
            run_pipeline(spark, fixture_path, out)
        finally:
            spark.conf.set(arrow, was)
        plan = plans[os.path.join(out, "_metrics")]
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (enabled, plan)


def test_input_id_is_stable_across_sessions(spark, fixture_path):
    """A fresh process fingerprints the same read equal (so a resume in a
    new session continues) and another filter of the same files apart.
    The plan text is untruncated: a session with another
    spark.sql.debug.maxToStringFields fingerprints a 30-column projection
    equal, and tells apart two that differ only in the last column."""
    import subprocess
    import sys

    from langid_py_spark.spark.manifest import input_id

    code = (
        "import json, sys; sys.path.insert(0, sys.argv[1])\n"
        "from langid_py_spark.spark.manifest import input_id\n"
        "from langid_py_spark.spark.session import get_spark\n"
        "s = get_spark(cores=1)\n"
        "s.conf.set('spark.sql.debug.maxToStringFields', '5')\n"
        "t = s.read.parquet(sys.argv[2])\n"
        "w = lambda last: t.selectExpr(*[f'turn_idx + {i} AS w{i}' for i in range(29)],"
        " f'turn_idx + {last} AS w29')\n"
        "frames = [t.filter('turn_idx % 2 = 0'), t.filter('turn_idx % 2 = 1'), w(29), w(99)]\n"
        "print(json.dumps([input_id(f) for f in frames]))\n"
    )
    root = str(Path(__file__).resolve().parent.parent)
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", code, root, fixture_path],
        capture_output=True, text=True, timeout=300, env=env, check=True,
    )
    even, odd, wide, wide_other = json.loads(proc.stdout.strip().splitlines()[-1])
    t = spark.read.parquet(fixture_path)
    here = input_id(t.filter("turn_idx % 2 = 0"))
    assert even == here
    assert odd != here
    max_fields = spark.conf.get("spark.sql.debug.maxToStringFields")
    cols = [f"turn_idx + {i} AS w{i}" for i in range(30)]
    assert wide == input_id(t.selectExpr(*cols))
    assert spark.conf.get("spark.sql.debug.maxToStringFields") == max_fields
    assert wide_other != wide
