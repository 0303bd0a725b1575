"""Composed corpus pipeline: the materialized (table-per-tier) form
must equal the in-session form, resume per tier without touching
completed tiers, and refuse stale-parameter resumes."""

from __future__ import annotations

import json
import os

import pytest

from langid_py_spark.operators.corpus_pipeline import (
    _TIER_NAMES,
    corpus_pipeline,
    run_corpus_pipeline,
)

SF_DIR = "/root/testdata/sf0.001"
NEEDLES = ["scan slow", "hash join", "customer query", "zzz-canary"]


@pytest.fixture(scope="module")
def line_docs(spark):
    import __spark_entry__ as e

    return e._line_corpus(spark, SF_DIR)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_materialized_equals_in_session(spark, line_docs, tmp_path):
    out = str(tmp_path / "cp")
    got = run_corpus_pipeline(
        spark, line_docs, out, NEEDLES, k_span=40, floor=0.3
    )
    want = corpus_pipeline(line_docs, NEEDLES, k_span=40, floor=0.3)
    assert _rows(got) == _rows(want)
    # all tiers written + recorded
    man = json.load(open(os.path.join(out, "_manifest.json")))
    assert man["completed_tiers"] == _TIER_NAMES
    for t in _TIER_NAMES:
        assert os.path.exists(os.path.join(out, t, "_SUCCESS")), t


def test_run_leaves_no_cached_frame(spark, line_docs, tmp_path):
    """Each tier's operator-internal persists (line dedup's lines, pack's
    bucket base) are released after the tier's write: a run adds no
    cached RDD to the session and leaves the session's cached frames
    exactly as they were, a caller's cache of the run's own tier-1 input
    among them.

    Cached frames are the CacheManager's entries, compared by identity:
    an unpersist of an equal plan removes an entry, and a rebuild of one
    that contains it replaces the entry. Cached RDDs are compared by id,
    not by count: RDD-level caches that nothing references any more
    (test_cluster's localCheckpoint rounds) are dropped by the context
    cleaner after any JVM GC, which may fall inside the run."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    jvm = spark.sparkContext._jvm

    def cached_rdds():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    def cached_frames():
        # the CacheManager has no public listing of its entries
        cm = spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        entries = field.get(cm).iterator()
        ids = []
        while entries.hasNext():
            ids.append(jvm.System.identityHashCode(entries.next()))
        return ids

    # the exact plan run_corpus_pipeline builds as its tier-1 input
    mine = line_docs.select(F.col("doc_id"), F.col("text").alias("text"))
    mine = mine.persist(StorageLevel.MEMORY_AND_DISK)
    mine.count()
    rdds_before, frames_before = cached_rdds(), cached_frames()
    out = run_corpus_pipeline(
        spark, line_docs, str(tmp_path / "cp"), NEEDLES, k_span=40, floor=0.3
    )
    assert out.count() > 0
    assert cached_rdds() <= rdds_before
    assert cached_frames() == frames_before
    assert mine.storageLevel == StorageLevel.MEMORY_AND_DISK
    mine.unpersist()


def test_resume_skips_completed_tiers(spark, line_docs, tmp_path):
    import shutil

    out = str(tmp_path / "cp")
    first = _rows(
        run_corpus_pipeline(spark, line_docs, out, NEEDLES, k_span=40, floor=0.3)
    )
    man_path = os.path.join(out, "_manifest.json")
    man = json.load(open(man_path))

    # knock out the last three tiers (decontam onwards), keep 1-4
    for t in _TIER_NAMES[4:]:
        shutil.rmtree(os.path.join(out, t))
        man["completed_tiers"].remove(t)
    json.dump(man, open(man_path, "w"))

    mtimes = {
        t: os.path.getmtime(os.path.join(out, t, "_SUCCESS"))
        for t in _TIER_NAMES[:4]
    }
    again = _rows(run_corpus_pipeline(spark, line_docs, out, NEEDLES, k_span=40, floor=0.3))
    assert again == first
    for t, m in mtimes.items():  # completed tiers untouched by the resume
        assert os.path.getmtime(os.path.join(out, t, "_SUCCESS")) == m, t
    man2 = json.load(open(man_path))
    assert man2["completed_tiers"] == _TIER_NAMES


def test_stale_parameter_resume_raises(spark, line_docs, tmp_path):
    out = str(tmp_path / "cp")
    run_corpus_pipeline(spark, line_docs, out, NEEDLES, k_span=40, floor=0.3)
    with pytest.raises(ValueError, match="different"):
        run_corpus_pipeline(spark, line_docs, out, NEEDLES, k_span=30, floor=0.3)
    # same parameters, a different input frame
    other = str(tmp_path / "other_docs")
    line_docs.limit(50).write.parquet(other)
    with pytest.raises(ValueError, match="different"):
        run_corpus_pipeline(
            spark, spark.read.parquet(other), out, NEEDLES, k_span=40, floor=0.3
        )
    # same parameters and files, a filtered frame: the plan tells it apart
    with pytest.raises(ValueError, match="different"):
        run_corpus_pipeline(
            spark, line_docs.filter("doc_id % 2 = 0"), out, NEEDLES, k_span=40, floor=0.3
        )
    # resume=False rebuilds instead
    got = run_corpus_pipeline(
        spark, line_docs, out, NEEDLES, k_span=30, floor=0.3, resume=False
    )
    assert len(_rows(got)) > 0


def test_cli_corpus_mode(spark, tmp_path):
    """--corpus IN OUT runs the materialized pipeline end to end; a
    second invocation resumes (all tiers complete -> no recompute)."""
    import pandas as pd

    from langid_py_spark.cli import main

    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [
                f"some words about topic {i % 7} in the document {i}\n"
                "shared boilerplate line across documents\n"
                f"tail {i}"
                for i in range(40)
            ],
        }
    )
    src = str(tmp_path / "in.parquet")
    pdf.to_parquet(src, index=False)
    ndl = tmp_path / "needles.txt"
    ndl.write_text("topic 3\nzzz-absent\n")
    out = str(tmp_path / "out")
    rc = main(
        ["--corpus", src, out, "--needles", str(ndl), "--k-span", "20", "--cores", "4"]
    )
    assert rc == 0
    packed = spark.read.parquet(f"{out}/t7_pack")
    assert packed.count() > 0
    assert set(packed.columns) == {
        "doc_id", "text_md5", "accept_p", "n_tokens", "start_offset", "bin_id"
    }
    # resume path: second run returns without rewriting
    import os

    m = os.path.getmtime(f"{out}/t7_pack/_SUCCESS")
    assert main(["--corpus", src, out, "--needles", str(ndl), "--k-span", "20"]) == 0
    assert os.path.getmtime(f"{out}/t7_pack/_SUCCESS") == m
