"""The traced section of a --trace 1 run: per-layer numbers for a workload.

Every layer is measured over the workload's own rows, so every run
reports every per-layer metric:

* the workload's own entry point, traced (job counts, stage time, the
  driver gap between stages, shuffle, spill, GC; the corpus chain split
  into one span per tier by its table writes);
* the single-process kernels (classify, perplexity) over the texts;
* the score UDF, the rule columns and the scrub projection, each alone
  over a cached scan into a noop sink;
* the conversation vote alone over cached (conv, lang, nbytes) rows;
* the other entry point over a view of the same rows (turns as
  documents, or documents as 8-turn conversations), so the corpus tiers
  and the transcript write are measured on every workload too.

The spans tile the section: their walls plus the unattributed glue
between them add up to the section's wall (README.md, "Trace").
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import workloads as W
from spans import Tracer, covered_s

# span name of each corpus tier, in W.TIERS order
TIER_SPANS = [
    "operators.dedup.exact", "operators.dedup.line", "operators.spandedup.cut",
    "operators.contamination.decontam", "spark.rules.keep",
    "operators.quality_classifier.sample", "operators.packing.pack",
]
TRANSCRIPT_ENTRY = "spark.pipeline"
CORPUS_ENTRY = "operators.corpus_pipeline"

# per-layer metrics reported by a --trace 1 run, with their units
PER_LAYER = {
    "core.model.classify_s": "s", "core.lm.ppl_s": "s",
    "spark.scorer.stage_s": "s", "spark.scorer.task_s": "s", "spark.scorer.overhead_ratio": "ratio",
    "spark.rules.stage_s": "s", "spark.scrub.stage_s": "s",
    "spark.vote.s": "s", "spark.vote.shuffle_bytes": "bytes", "spark.vote.task_skew": "ratio",
    "spark.pipeline.write_s": "s", "spark.pipeline.write_files": "count",
    "spark.pipeline.write_bytes": "bytes",
    **{k: v for t in TIER_SPANS
       for k, v in ((f"{t}_s", "s"), (f"{t}.rows_in", "count"), (f"{t}.rows_out", "count"))},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "driver.gap_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "trace.overhead_s": "s", "trace.unattributed_s": "s",
}


def _views(inp: Path, wl, n_files: int) -> tuple[Path, Path, pd.DataFrame]:
    """(turn-shaped path, document-shaped path, the input frame)."""
    df = pq.read_table(inp).to_pandas()
    base = inp.parent / "views"
    if wl.run_pass is W.corpus_pass:
        other = pd.DataFrame({
            "conv_id": "doc" + (df["doc_id"] // 8).astype(str),
            "turn_idx": (df["doc_id"] % 8).astype(np.int32),
            "role": "user",
            "text": df["text"],
            "tool": None,
            "ts": np.datetime64("2026-01-01T00:00:00") + df["doc_id"].to_numpy().astype("timedelta64[s]"),
        })
        path = base / "turns"
        if not path.exists():
            W.write_splits(other, path, n_files)
        return path, inp, df
    other = pd.DataFrame({"doc_id": np.arange(len(df), dtype=np.int64), "text": df["text"]})
    path = base / "docs"
    if not path.exists():
        W.write_splits(other, path, n_files)
    return inp, path, df


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_section(spark, wl, inp: Path, rows: int, plain_wall: float, out: Path,
                   artifact: Path, log) -> tuple[list[dict], dict]:
    """Run the traced section; return (checked entry passes, per-layer metrics)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from langid_py_spark import config as C
    from langid_py_spark.core.lm import MultiTrigramLM
    from langid_py_spark.core.model import NBModel
    from langid_py_spark.spark.rules import with_rules
    from langid_py_spark.spark.scorer import score_udf
    from langid_py_spark.spark.scrub import scrub_expr
    from langid_py_spark.spark.vote import conversation_vote

    cores = spark.sparkContext.defaultParallelism
    turns_path, docs_path, frame = _views(inp, wl, 2 * cores)
    texts = frame["text"].fillna("").tolist()
    own_is_corpus = wl.run_pass is W.corpus_pass
    own = CORPUS_ENTRY if own_is_corpus else TRANSCRIPT_ENTRY
    t = Tracer(spark)
    passes: list[dict] = []
    outs = {TRANSCRIPT_ENTRY: out.with_name(out.name + "-turns"),
            CORPUS_ENTRY: out.with_name(out.name + "-docs")}

    def entry(name: str) -> None:
        o = outs[name]
        shutil.rmtree(o, ignore_errors=True)
        if name == TRANSCRIPT_ENTRY:
            with t.span(name):
                manifest = W.transcript_pass(spark, str(turns_path), str(o))
            errors, digest = W.check_transcripts(rows, str(o), manifest)
        else:
            with t.span(name), t.writes_as_spans(TIER_SPANS, W.TIERS):
                W.corpus_pass(spark, str(docs_path), str(o))
            errors, digest = W.check_corpus(rows, str(o), {})
        s = t.get(name)
        rec = {"wall_s": s["end"] - s["start"], "errors": errors, "traced": True}
        if name == own:  # the view's digest is not the workload's pinned one
            rec["digest"] = digest
        passes.append(rec)
        log(f"traced {name}: {rec['wall_s']:.3f} s {errors or ''}")

    with t.span("trace"):
        entry(own)  # first, in the same warm state as the plain passes
        with t.span("core.load"):
            model = NBModel.load()
            mlm = MultiTrigramLM.load()
        batches = [texts[i:i + 4096] for i in range(0, len(texts), 4096)]
        with t.span("core.model.classify"):
            classified = [model.classify_batch(b, max_bytes=C.SCORE_MAX_BYTES) for b in batches]
        with t.span("core.lm.ppl"):
            for b, (lang, *_rest) in zip(batches, classified):
                mlm.perplexity_batch_by_lang(b, list(lang), max_bytes=C.SCORE_MAX_BYTES)
        with t.span("scan.cache"):
            cached = spark.read.parquet(str(turns_path)).select("text").persist(
                StorageLevel.MEMORY_AND_DISK)
            cached.count()
        with t.span("spark.scorer"):
            _noop(cached.select(score_udf(max_bytes=C.SCORE_MAX_BYTES)(F.col("text")).alias("s")))
        with t.span("spark.rules"):
            _noop(with_rules(cached, "text").drop("text"))
        with t.span("spark.scrub"):
            _noop(cached.select(scrub_expr(F.col("text")).alias("scrubbed_text")))
        cached.unpersist()
        with t.span("spark.vote.input"):
            turns = pq.read_table(turns_path, columns=["conv_id", "turn_idx"]).to_pandas()
            turns["lang"] = np.concatenate([c[0] for c in classified]).astype(str)
            turns["nbytes"] = np.concatenate([c[3] for c in classified])
            voters = spark.createDataFrame(turns).persist(StorageLevel.MEMORY_AND_DISK)
            voters.count()
        with t.span("spark.vote"):
            _noop(conversation_vote(voters))
        voters.unpersist()
        entry(CORPUS_ENTRY if not own_is_corpus else TRANSCRIPT_ENTRY)
    t.collect_stages()

    metrics = _metrics(t, own, outs, rows, plain_wall)
    root = t.get("trace")
    wall = root["end"] - root["start"]
    layers = {}
    for s in (s for s in t.spans if s["parent"] == "trace"):
        stages = t.tree_stages(s["name"])
        w, c = s["end"] - s["start"], covered_s(stages, s["start"], s["end"])
        layers[s["name"]] = {"wall_s": w, "stage_s": c, "driver_gap_s": w - c if stages else 0.0}
    accounting = {"wall_s": wall, "layers": layers,
                  "unattributed_s": metrics["trace.unattributed_s"]}
    artifact.parent.mkdir(parents=True, exist_ok=True)
    artifact.write_text(json.dumps({"accounting": accounting, "spans": t.artifact()}, indent=1))
    for o in outs.values():
        shutil.rmtree(o, ignore_errors=True)
    log(f"trace artifact: {artifact}")
    return passes, metrics


def _metrics(t: Tracer, own: str, outs: dict, rows: int, plain_wall: float) -> dict:
    def wall(name: str) -> float:
        s = t.get(name)
        return s["end"] - s["start"]

    m: dict = {
        "core.model.classify_s": wall("core.model.classify"),
        "core.lm.ppl_s": wall("core.lm.ppl"),
    }
    scorer = t.summary("spark.scorer")
    m["spark.scorer.stage_s"] = scorer["stage_s"]
    m["spark.scorer.task_s"] = scorer["task_s"]
    m["spark.scorer.overhead_ratio"] = scorer["task_s"] / (m["core.model.classify_s"] + m["core.lm.ppl_s"])
    m["spark.rules.stage_s"] = t.summary("spark.rules")["stage_s"]
    m["spark.scrub.stage_s"] = t.summary("spark.scrub")["stage_s"]

    vote = t.summary("spark.vote")
    heaviest = max(t.tree_stages("spark.vote"), key=lambda st: st["counts"]["task_s"])
    hc = heaviest["counts"]
    m["spark.vote.s"] = wall("spark.vote")
    m["spark.vote.shuffle_bytes"] = vote["shuffle_write_bytes"]
    m["spark.vote.task_skew"] = hc["task_max_s"] / max(hc["task_median_s"], 1e-3)

    p = t.get(TRANSCRIPT_ENTRY)
    writes = [st for st in t.tree_stages(TRANSCRIPT_ENTRY) if st["counts"]["output_bytes"] > 0]
    m["spark.pipeline.write_s"] = covered_s(writes, p["start"], p["end"])
    files = W.data_files(str(outs[TRANSCRIPT_ENTRY]))
    m["spark.pipeline.write_files"] = len(files)
    m["spark.pipeline.write_bytes"] = sum(f.stat().st_size for f in files)
    p["counts"]["write_files"] = len(files)

    tier_rows = [rows, *W.tier_rows(str(outs[CORPUS_ENTRY]))]
    for i, name in enumerate(TIER_SPANS):
        m[f"{name}_s"] = wall(name)
        m[f"{name}.rows_in"], m[f"{name}.rows_out"] = tier_rows[i], tier_rows[i + 1]
        t.get(name)["counts"].update(rows_in=tier_rows[i], rows_out=tier_rows[i + 1])

    s = t.summary(own)
    t.get(own)["counts"].update({k: v for k, v in s.items() if k != "wall_s"})
    m.update({
        "spark.jobs": s["jobs"], "spark.stages": s["stages"], "spark.tasks": s["tasks"],
        "driver.gap_s": s["gap_s"], "spark.shuffle_write_bytes": s["shuffle_write_bytes"],
        "spark.spill_bytes": s["spill_bytes"], "spark.gc_s": s["gc_s"],
        "trace.overhead_s": s["wall_s"] - plain_wall,
    })
    root = t.get("trace")
    kids = sum(wall(c["name"]) for c in t.spans if c["parent"] == "trace")
    m["trace.unattributed_s"] = (root["end"] - root["start"]) - kids
    return m
