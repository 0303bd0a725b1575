"""Reference API parity (classify/rank/set_languages), CLI modes, and
the Structured Streaming pipeline variant."""

import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

REPO = str(Path(__file__).resolve().parent.parent)


# ------------------------------------------------------------------ api
def test_module_level_api():
    import langid_py_spark.api as langid

    langid.set_languages(None)
    lang, conf = langid.classify("the quick brown fox and the lazy dog")
    assert lang == "en" and 0 < conf <= 1
    r = langid.rank("der die und in den von zu das mit sich")
    assert r[0][0] == "de" and len(r) == 18
    langid.set_languages(["fr", "es"])
    lang2, _ = langid.classify("the quick brown fox and the lazy dog")
    assert lang2 in ("fr", "es")
    langid.set_languages(None)


# ------------------------------------------------------------------ cli
def _run_cli(args: list[str], stdin: str | None = None) -> str:
    out = subprocess.run(
        [sys.executable, "-m", "langid_py_spark.cli", *args],
        input=stdin,
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout


def test_cli_line_mode_stdin():
    out = _run_cli(
        ["--line"],
        stdin="the quick brown fox of the north\nder schnelle braune fuchs und\n",
    )
    lines = out.strip().splitlines()
    assert lines[0].startswith("en,")
    assert lines[1].startswith("de,")


def test_cli_batch_mode(tmp_path):
    p = tmp_path / "doc.txt"
    p.write_text("de la le et les des en un du une que est pour qui dans")
    out = _run_cli(["-b", str(p)])
    name, lang, conf = out.strip().split(",")
    assert name == str(p) and lang == "fr" and 0 < float(conf) <= 1


def test_cli_language_subset_and_raw_conf(tmp_path):
    p = tmp_path / "doc.txt"
    p.write_text("the of and to in is was for that it")
    out = _run_cli(["-b", "-l", "en,de", "-n", str(p)])
    _, lang, conf = out.strip().split(",")
    assert lang == "en" and float(conf) < 0  # raw log-prob is negative


# ------------------------------------------------------------ streaming
def test_stream_scores_match_batch(spark, fixture_path, tmp_path):
    from langid_py_spark.spark.pipeline import score_turns
    from langid_py_spark.streaming.stream_pipeline import run_stream_to_parquet

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = run_stream_to_parquet(spark, fixture_path, out, ckpt)
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out)
        .select("conv_id", "turn_idx", "lang", "keep", "scrubbed_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        score_turns(spark.read.parquet(fixture_path))
        .select("conv_id", "turn_idx", "lang", "keep", "scrubbed_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_stream_resume_from_checkpoint_no_dup(spark, fixture_path, tmp_path):
    from langid_py_spark.streaming.stream_pipeline import run_stream_to_parquet

    out = str(tmp_path / "o")
    ckpt = str(tmp_path / "c")
    q = run_stream_to_parquet(spark, fixture_path, out, ckpt)
    q.awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    # restart against the same checkpoint: nothing new to process
    q2 = run_stream_to_parquet(spark, fixture_path, out, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n1


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    """The decontamination scan is streaming-compatible AS-IS: the
    map + broadcast-join plan (no aggregation, no state) runs under
    readStream unchanged, and the streamed result set equals the batch
    result — the property a continuous-ingest pipeline needs to drop
    contaminated docs at arrival time."""
    import pandas as pd

    from langid_py_spark.operators.contamination import contamination_scan_join

    src = str(tmp_path / "in")
    docs_pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]
    ]
    spark.createDataFrame(docs_pdf).repartition(4).write.parquet(src)
    needles = ["scan", "hash join", "customer query", "zzz-absent-canary"]

    batch = {
        (r.doc_id, r.needle)
        for r in contamination_scan_join(
            spark.read.parquet(src), needles, k=4
        ).collect()
    }

    stream_in = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "out")
    q = (
        contamination_scan_join(stream_in, needles, k=4)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {
        (r.doc_id, r.needle) for r in spark.read.parquet(out).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_streaming_classifier_matches_batch(spark, tmp_path):
    """The quality-classifier tier (pure Catalyst dot product) and the
    importance sampler run under readStream unchanged — score-at-arrival
    for a continuous ingest, byte-identical to batch."""
    import pandas as pd

    from langid_py_spark.operators.quality_classifier import (
        classifier_importance_sample,
        score_quality_classifier,
    )

    src = str(tmp_path / "in")
    docs_pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]
    ]
    spark.createDataFrame(docs_pdf).repartition(4).write.parquet(src)

    batch_scores = {
        r.doc_id: (r.clf_score, r.clf_keep)
        for r in score_quality_classifier(spark.read.parquet(src)).collect()
    }
    batch_kept = {
        r.doc_id for r in classifier_importance_sample(
            spark.read.parquet(src)
        ).collect()
    }

    stream_in = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "out")
    q = (
        classifier_importance_sample(score_quality_classifier(stream_in).join(
            stream_in, "doc_id"
        ).select("doc_id", "text", "clf_score", "clf_keep"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).collect()
    assert {r.doc_id for r in got} == batch_kept
    for r in got:
        assert (r.clf_score, r.clf_keep) == batch_scores[r.doc_id], r.doc_id


def test_streaming_embedding_and_assignment_match_batch(spark, tmp_path):
    """The embedding tier's production streaming shape: fit idf and
    k-means centroids on the reference corpus ONCE (batch), then embed
    + cluster-assign arrivals as stateless Arrow maps under readStream
    — embeddings and assignments byte-identical to batch."""
    import numpy as np
    import pandas as pd

    from langid_py_spark.operators.embedding import (
        dense_doc_freq,
        embed_with_idf,
        idf_vector,
    )
    from langid_py_spark.operators.similarity import (
        fit_ivf_centroids,
        ivf_assign_udf,
    )
    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    docs_pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]
    ]
    spark.createDataFrame(docs_pdf).repartition(4).write.parquet(src)
    batch_docs = spark.read.parquet(src)

    dim = 64
    dfreq, n_docs = dense_doc_freq(batch_docs, dim=dim)
    idf = idf_vector(dfreq, n_docs, dim)
    batch_emb = embed_with_idf(batch_docs, idf)
    cents = fit_ivf_centroids(batch_emb, n_centroids=4, id_col="doc_id")
    assign = ivf_assign_udf(cents)
    batch = {
        r.doc_id: (tuple(r.embedding), r.cluster_id)
        for r in batch_emb.withColumn(
            "cluster_id", assign(F.col("embedding"))
        ).collect()
    }

    stream_in = spark.readStream.schema(batch_docs.schema).parquet(src)
    out = str(tmp_path / "out")
    q = (
        embed_with_idf(stream_in, idf)
        .withColumn("cluster_id", assign(F.col("embedding")))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).collect()
    assert len(got) == len(batch) > 0
    for r in got:
        exp_emb, exp_cid = batch[r.doc_id]
        assert r.cluster_id == exp_cid, r.doc_id
        assert tuple(r.embedding) == exp_emb, r.doc_id  # float32 bit-equal
