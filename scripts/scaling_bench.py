#!/usr/bin/env python3
"""Two-cluster-size scaling evidence (BASELINE.json::north_rule).

Without a cluster, the N→4N criterion is evidenced by running the
SAME job on the SAME input at local[N] and local[4N] (separate JVMs,
sequential) and reporting throughput at both plus efficiency =
(tp@4N / tp@N) / 4. Each level reports the median of 3 warm runs (the
first run is discarded). The result is printed as JSON
and appended as one row to BENCH/BASELINE.md.

    python scripts/scaling_bench.py --op <name> [sf] [N]
    python scripts/scaling_bench.py --op semdedup [sf] [N] [K] [max_cluster]

--op picks the job (default `pipeline`, the flagship transcript
pipeline); each op has its own default sf and N (see OPS). For `cc` the
size argument is millions of graph nodes, not an sf. Inputs are built
once, outside the timed region, and cached under .cache/. Driver memory
and the shuffle dir come from the caller's SPARK_DRIVER_MEM and
SPARK_LOCAL_DIRS, as for every other entry point; the scan split size
is pinned to 2 MB so file count never caps parallelism at either level.
Run nothing else on the machine meanwhile.

N defaults to 4 (→ 4N=16) for the flagship, NOT 8→32: on the VM the
first rows were measured on (it ran local[32]), pure busy-loop processes
(no JVM, no Spark) scaled ~0.70 at 8→32 but ~0.88 at 4→16 — beyond ~16
workers the shared hypervisor/memory system, not the engine, capped
throughput. On a real cluster N→4N adds machines (memory bandwidth and
disks scale with executors), which local threads cannot emulate. The
hardware ceiling at the chosen pair is measured fresh and reported next
to the job's number so the engine's own scaling quality =
efficiency/ceiling is explicit.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
CACHE = REPO / ".cache"

DIM = 256  # embedding width for the embedding and semdedup ops
N_NEEDLES = 10_000  # decontam op's needle-list size


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ inputs
def _transcripts(spark, sf: float) -> str:
    from langid_py_spark.fixtures.transcripts import ensure_transcripts

    return ensure_transcripts(spark, sf)


def _docs(spark, sf: float) -> str:
    """The transcript fixture's text with a unique id per turn
    (xxhash64(conv_id, turn_idx)), as a 64-split parquet — a
    documents-shaped table at whatever sf is asked."""
    from pyspark.sql import functions as F

    src = CACHE / f"minhash_docs_sf{sf}"
    if not (src / "_SUCCESS").exists():
        t = spark.read.parquet(_transcripts(spark, sf))
        docs = t.select(F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text")
        docs.repartition(64).write.mode("overwrite").parquet(str(src))
    return str(src)


def _line_corpus(spark, sf: float) -> str:
    """2-line docs with real cross-doc line duplication: sequential ids
    via a one-off global row_number (the transcripts' hash ids make a
    doc_id+1 neighbor join vacuous), then neighbor concat, as a 64-split
    table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    src = CACHE / f"line_corpus_sf{sf}"
    if not (src / "_SUCCESS").exists():
        t = spark.read.parquet(_transcripts(spark, sf))
        docs = t.select(F.xxhash64("conv_id", "turn_idx").alias("hid"), "text").select(
            F.row_number().over(Window.orderBy("hid")).alias("doc_id"), "text"
        )
        a = docs.select("doc_id", F.col("text").alias("_ta"))
        b = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("_tb"))
        corpus = a.join(b, "doc_id").select(
            "doc_id", F.concat("_ta", F.lit("\n"), "_tb").alias("text")
        )
        corpus.repartition(64).write.mode("overwrite").parquet(str(src))
    return str(src)


def _pipeline_inputs(spark, sf: float, args: list[str]) -> dict:
    return {"src": _transcripts(spark, sf)}


def _docs_inputs(spark, sf: float, args: list[str]) -> dict:
    return {"src": _docs(spark, sf)}


def _line_inputs(spark, sf: float, args: list[str]) -> dict:
    return {"src": _line_corpus(spark, sf)}


def _cc_inputs(spark, nodes_m: float, args: list[str]) -> dict:
    """Chains of 8 nodes (path edges are the CC worst case: maximum
    rounds for label propagation, which large-star/small-star must close
    in O(log n)), linked by jump edges into 64-node components, plus
    reversed-duplicate edges to exercise canonicalization. ~1.06 x
    n_nodes edges, generated with spark.range (no Python row code)."""
    from pyspark.sql import functions as F

    n_nodes = int(nodes_m * 1_000_000)
    src = CACHE / f"cc_edges_{nodes_m}m"
    if not (src / "_SUCCESS").exists():
        base = spark.range(n_nodes - 1)
        path_e = base.filter((F.col("id") + 1) % 8 != 0).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        jump_e = base.filter((F.col("id") % 64 == 0) & (F.col("id") + 8 < n_nodes)).select(
            F.col("id").alias("id_a"), (F.col("id") + 8).alias("id_b")
        )
        rev_dup = base.filter(F.col("id") % 10 == 0).select(
            (F.col("id") + 1).alias("id_a"), F.col("id").alias("id_b")
        )
        edges = path_e.union(jump_e).union(rev_dup).repartition(64)
        edges.write.mode("overwrite").parquet(str(src))
    return {"src": str(src)}


def _decontam_inputs(spark, sf: float, args: list[str]) -> dict:
    """10k deterministic 30-80-char slices of corpus texts
    (RandomState(42) — guaranteed hits) + 50 absent canaries."""
    import numpy as np
    import pandas as pd

    src = _docs(spark, sf)
    path = CACHE / f"decontam_needles_sf{sf}.json"
    if not path.exists():
        files = sorted(Path(src).glob("*.parquet"))[:4]
        texts = pd.concat([pd.read_parquet(f, columns=["text"]) for f in files])
        texts = [t for t in texts["text"].fillna("") if len(t) >= 90]
        rng = np.random.RandomState(42)
        needles: list[str] = []
        seen: set[str] = set()
        while len(needles) < N_NEEDLES:
            t = texts[rng.randint(len(texts))]
            length = int(rng.randint(30, 80))
            s = int(rng.randint(max(1, len(t) - length)))
            nd = t[s : s + length]
            if nd and nd not in seen:
                seen.add(nd)
                needles.append(nd)
        needles += [f"zzz-canary-{i:05d}-held-out" for i in range(50)]
        path.write_text(json.dumps(needles))
    return {"src": src, "needles": str(path)}


def _corpus_inputs(spark, sf: float, args: list[str]) -> dict:
    """The line corpus plus 100 deterministic 20-40-char substrings of it
    (guaranteed hits) + 5 absent canaries."""
    import numpy as np
    import pandas as pd

    src = _line_corpus(spark, sf)
    path = CACHE / f"cp_needles_sf{sf}.json"
    if not path.exists():
        texts = pd.read_parquet(src, columns=["text"]).head(5000)["text"].fillna("")
        texts = texts.tolist()
        rng = np.random.RandomState(42)
        needles: list[str] = []
        for _ in range(200):
            t = texts[rng.randint(len(texts))]
            if len(t) < 40:
                continue
            ln = int(rng.randint(20, 40))
            s = int(rng.randint(max(1, len(t) - ln)))
            needles.append(t[s : s + ln])
        needles = list(dict.fromkeys(needles))[:100]
        needles += [f"zzz-canary-{i:02d}" for i in range(5)]
        path.write_text(json.dumps(needles))
    return {"src": src, "needles": str(path)}


def _semdedup_args(args: list[str]) -> tuple[int, int]:
    """(K, max_cluster): K must scale with the corpus (Abbas 2023; K=256
    at 1M docs is the measured negative); max_cluster < 65_536 switches
    on_oversized="salt", the modal-cluster straggler fix."""
    return (int(args[0]) if args else 256, int(args[1]) if len(args) > 1 else 65_536)


def _semdedup_inputs(spark, sf: float, args: list[str]) -> dict:
    """Dense hashed TF-IDF (dim 256) of the docs table, and centroids
    from the deterministic bounded-sample spherical-k-means fit — with
    K=256 clusters average ~docs/256 rows."""
    import numpy as np

    from langid_py_spark.operators.embedding import doc_embeddings
    from langid_py_spark.operators.similarity import fit_ivf_centroids

    k, _ = _semdedup_args(args)
    emb_src = CACHE / f"embeddings_sf{sf}_dim{DIM}"
    cents = CACHE / f"centroids_sf{sf}_k{k}.npy"
    if not (emb_src / "_SUCCESS").exists() or not cents.exists():
        emb = doc_embeddings(spark.read.parquet(_docs(spark, sf)), dim=DIM)
        emb.write.mode("overwrite").parquet(str(emb_src))
        fit = fit_ivf_centroids(
            spark.read.parquet(str(emb_src)), n_centroids=k, id_col="doc_id"
        )
        np.save(cents, fit)
    return {"src": str(emb_src), "cents": str(cents)}


# ------------------------------------------------------- timed bodies
def _pipeline(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.spark.pipeline import run_pipeline

    out = CACHE / f"scaling_out_{ctx['cores']}"
    shutil.rmtree(out, ignore_errors=True)
    run_pipeline(spark, ctx["src"], str(out), resume=False)


def _minhash(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.operators.dedup import minhash_lsh_pairs

    spark.catalog.clearCache()  # each rep pays the sig compute exactly ONCE
    _noop(
        minhash_lsh_pairs(
            ctx["df"], threshold=0.5, id_col="doc_id", text_col="text", persist_sigs=True
        )
    )


def _cc(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.operators.cluster import connected_components

    _noop(connected_components(ctx["df"]))


def _decontam(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.operators.contamination import contamination_scan_join

    _noop(contamination_scan_join(ctx["df"], ctx["needles"], k=16))


def _spans(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.operators.spandedup import substring_dup_spans

    _noop(substring_dup_spans(ctx["df"], k=30))


def _linededup(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.operators.dedup import line_dedup_drops

    _noop(line_dedup_drops(ctx["df"]))


def _lmtrain(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.operators import lm_train

    _noop(lm_train.lm_ngram_topk(ctx["df"], k=50))


def _lmtrain_probe(spark, ctx: dict) -> dict:
    """One-shot fixed-cost probe: train_lm_distributed is the timed
    count plan plus a driver pull bounded by the KEY SPACE (≤ 2^24 +
    2^16 + 256 rows at any corpus size) — reported beside the row, not
    folded into a ratio it would only dilute."""
    from langid_py_spark.operators import lm_train

    t0 = time.time()
    model = lm_train.train_lm_distributed(ctx["df"])
    return {"full_train_sec": round(time.time() - t0, 2), "tri_keys": len(model.tri_keys)}


def _embedding(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.operators import embedding

    _noop(embedding.doc_embeddings(ctx["df"], dim=DIM))


def _semdedup(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.operators import semdedup

    k, max_cluster = _semdedup_args(args)
    # shuffle at >=K partitions (cluster- or salt-bucket-granular tasks,
    # the production shape). Measured negatives kept in
    # BENCH/BASELINE.md: shuffle=cores packs skewed clusters per task
    # (0.48 eff at 2->8); and even with cluster-per-task scheduling the
    # unsalted greedy is Amdahl-bound by the biggest k-means cluster
    # (0.417 eff). on_oversized="salt" bounds the straggler.
    spark.conf.set("spark.sql.shuffle.partitions", str(max(k, 4 * ctx["cores"])))
    drops = semdedup.semdedup_drops(
        ctx["df"], ctx["cents"], eps=0.9, id_col="doc_id", max_cluster=max_cluster,
        on_oversized="salt" if max_cluster < 65_536 else "raise",
    )
    _noop(drops)


def _corpus_pipeline(spark, ctx: dict, args: list[str]) -> None:
    from langid_py_spark.operators.corpus_pipeline import corpus_pipeline

    spark.catalog.clearCache()  # fresh stage persists per run
    _noop(corpus_pipeline(ctx["df"], ctx["needles"]))


def _semdedup_label(sf: float, args: list[str]) -> str:
    k, max_cluster = _semdedup_args(args)
    salt = f" salt mc{max_cluster}" if max_cluster < 65_536 else ""
    return f"sf{sf} semdedup K{k} dim{DIM}{salt}"


@dataclass(frozen=True)
class Op:
    sf: float  # default size
    n: int  # default N
    unit: str  # what the throughput counts
    inputs: Callable[..., dict]  # (spark, sf, args) -> {"src": parquet, ...}
    body: Callable[..., None]  # (spark, ctx, args): one timed run
    label: Callable[[float, list[str]], str]  # first cell of the table row
    probe: Callable[..., dict] | None = None  # (spark, ctx): once, after timing


OPS: dict[str, Op] = {
    "pipeline": Op(0.1, 4, "turns", _pipeline_inputs, _pipeline, lambda sf, a: f"{sf}"),
    "minhash": Op(
        1.0, 4, "docs", _docs_inputs, _minhash, lambda sf, a: f"sf{sf} transcripts"
    ),
    "cc": Op(2.0, 2, "edges", _cc_inputs, _cc, lambda m, a: f"cc {m}M-node chain graph"),
    "decontam": Op(
        1.0, 4, "docs", _decontam_inputs, _decontam,
        lambda sf, a: f"sf{sf} decontam 10k needles",
    ),
    "spans": Op(
        0.3, 4, "docs", _docs_inputs, _spans, lambda sf, a: f"sf{sf} substring spans k30"
    ),
    "linededup": Op(
        1.0, 2, "docs", _line_inputs, _linededup,
        lambda sf, a: f"sf{sf} line dedup (2-line docs)",
    ),
    "lmtrain": Op(
        1.0, 2, "docs", _docs_inputs, _lmtrain,
        lambda sf, a: f"sf{sf} lm_ngram_topk (LM trainer)", _lmtrain_probe,
    ),
    "embedding": Op(
        1.0, 2, "docs", _docs_inputs, _embedding,
        lambda sf, a: f"sf{sf} doc_embeddings dim{DIM}",
    ),
    "semdedup": Op(1.0, 2, "docs", _semdedup_inputs, _semdedup, _semdedup_label),
    "corpus_pipeline": Op(
        1.0, 2, "docs", _corpus_inputs, _corpus_pipeline,
        lambda sf, a: f"sf{sf} corpus_pipeline (7-tier)",
    ),
}


# ------------------------------------------------------------ harness
def child(op: str, cores: int, inputs: dict, args: list[str]) -> None:
    """One parallelism level, in its own JVM: 4 runs, the first is the
    warm-up; prints one RESULT line."""
    from langid_py_spark.spark.session import get_spark

    spark = get_spark(
        cores=cores, shuffle_partitions=cores, app_name=f"scaling_{op}",
        extra_conf={"spark.sql.files.maxPartitionBytes": "2m"},
    )
    ctx = {**inputs, "cores": cores, "df": spark.read.parquet(inputs["src"])}
    if "needles" in inputs:
        ctx["needles"] = json.loads(Path(inputs["needles"]).read_text())
    if "cents" in inputs:
        import numpy as np

        ctx["cents"] = np.load(inputs["cents"])
    rows = ctx["df"].count()
    samples = []
    for _ in range(4):
        t0 = time.time()
        OPS[op].body(spark, ctx, args)
        samples.append(time.time() - t0)
    probe = OPS[op].probe(spark, ctx) if OPS[op].probe else {}
    sec = statistics.median(samples[1:])
    result = {"cores": cores, "sec": sec, "rows": rows, "probe": probe}
    print("RESULT " + json.dumps(result), flush=True)


CHILD = """
import sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, {scripts!r})
import scaling_bench
scaling_bench.child({op!r}, {cores}, {inputs!r}, {args!r})
"""


def run_at(op: str, cores: int, inputs: dict, args: list[str]) -> dict:
    code = CHILD.format(
        repo=str(REPO), scripts=str(REPO / "scripts"), op=op, cores=cores,
        inputs=inputs, args=args,
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=7200
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT ") :])
    raise RuntimeError(
        f"no RESULT from local[{cores}]:\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}"
    )


def _burn(_i):
    import time as _t

    x = 0
    t_end = _t.time() + 3
    while _t.time() < t_end:
        for _ in range(10000):
            x += 1
    return x


def hardware_ceiling(n: int) -> float:
    """Measured CPU-scaling ceiling of THIS machine for n vs 4n pure
    busy-loop processes — no JVM, no Spark. The job cannot scale
    better than the box."""
    import multiprocessing as mp

    out = {}
    for k in (n, 4 * n):
        with mp.get_context("fork").Pool(k) as p:
            out[k] = sum(p.map(_burn, range(k)))
    return (out[4 * n] / out[n]) / 4


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--op", choices=OPS, default="pipeline")
    ap.add_argument("args", nargs="*", help="[sf] [N]; semdedup adds [K] [max_cluster]")
    a = ap.parse_args()
    if len(a.args) > (4 if a.op == "semdedup" else 2):
        ap.error(f"too many arguments for --op {a.op}")
    op = OPS[a.op]
    sf = float(a.args[0]) if a.args else op.sf
    n = int(a.args[1]) if len(a.args) > 1 else op.n
    args = a.args[2:]

    sys.path.insert(0, str(REPO))
    from langid_py_spark.spark.session import get_spark

    spark = get_spark(cores=16, shuffle_partitions=16, app_name=f"scaling_{a.op}_gen")
    inputs = op.inputs(spark, sf, args)
    spark.stop()

    ceiling = hardware_ceiling(n)
    rn = run_at(a.op, n, inputs, args)
    r4n = run_at(a.op, 4 * n, inputs, args)
    tpn = rn["rows"] / rn["sec"]
    tp4n = r4n["rows"] / r4n["sec"]
    eff = (tp4n / tpn) / 4
    u = op.unit
    result = {
        "op": a.op,
        "input": op.label(sf, args),
        u: rn["rows"],
        "n_cores": n,
        "localN_sec": round(rn["sec"], 2),
        "local4N_sec": round(r4n["sec"], 2),
        f"localN_{u}_per_sec": round(tpn, 1),
        f"local4N_{u}_per_sec": round(tp4n, 1),
        "scaling_efficiency_n_to_4n": round(eff, 3),
        "hardware_cpu_ceiling": round(ceiling, 3),
        "efficiency_vs_ceiling": round(eff / ceiling, 3),
        **{f"{k}_at_4N": v for k, v in r4n["probe"].items()},
    }
    print(json.dumps(result))

    cells = [
        result["input"], rn["rows"], n, result["localN_sec"], result["local4N_sec"],
        result[f"localN_{u}_per_sec"], result[f"local4N_{u}_per_sec"],
        result["scaling_efficiency_n_to_4n"], result["hardware_cpu_ceiling"],
        result["efficiency_vs_ceiling"],
    ]
    with (REPO / "BENCH" / "BASELINE.md").open("a") as f:
        f.write("| " + " | ".join(str(c) for c in cells) + " |\n")


if __name__ == "__main__":
    main()
