"""Seeded inputs, entry-point passes and output checks for each workload.

Every input is generated in this process from ``(workload, seed, size)``
alone and cached as parquet under the benchmark's work directory, split
into several files so that the scan yields at least one task per core.
The program only ever sees the generated files.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from langid_py_spark.core.corpora import LANGS, make_crawl_doc, make_doc, make_sentence
from langid_py_spark.fixtures.transcripts import gen_conversation, is_mega
from langid_py_spark.operators.corpus_pipeline import _TIER_NAMES

# Corpus-chain parameters passed to run_corpus_pipeline.
K_SPAN = 40
CLF_FLOOR = 0.3
NEEDLES = [f"eval-item {i:03d} answer key" for i in range(24)]

# Rates the corpus generator sets explicitly (share of documents).
EXACT_DUP_RATE = 0.06
LINE_DUP_RATE = 0.10  # share of lines drawn from a shared boilerplate pool
SPAN_DUP_RATE = 0.10  # docs carrying a shared >= K_SPAN-byte mid-line span
NEEDLE_RATE = 0.02
JUNK_RATE = 0.08

# Conversation indices of seed s start at s * CONV_STRIDE, so seeds never
# share a conversation.
CONV_STRIDE = 1_000_000


def write_splits(df: pd.DataFrame, path: Path, n_files: int) -> None:
    """Write `df` as `n_files` parquet files with microsecond timestamps
    (Spark rejects pandas' default nanosecond parquet timestamps)."""
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            tmp / f"part-{i:03d}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def gen_transcripts(seed: int, n_turns: int) -> pd.DataFrame:
    """The fixture mix: `gen_conversation` over seed-offset indices, mega
    conversations (1%) included, until `n_turns` turns."""
    parts, total, i = [], 0, seed * CONV_STRIDE
    while total < n_turns:
        conv = gen_conversation(i, is_mega(i))
        parts.append(conv)
        total += len(conv)
        i += 1
    return pd.concat(parts, ignore_index=True).iloc[:n_turns]


def gen_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """Line-structured documents with set rates of exact duplicates,
    duplicated lines, shared spans, needle hits and crawl junk."""
    rng = np.random.RandomState(seed)
    boiler = [make_sentence(rng, "en", int(rng.randint(6, 12))) for _ in range(40)]
    spans = [
        " ".join(make_sentence(rng, "en", 10) for _ in range(2)) for _ in range(30)
    ]
    texts: list[str] = []
    for _ in range(n_docs):
        u = rng.rand()
        if texts and u < EXACT_DUP_RATE:
            texts.append(texts[rng.randint(len(texts))])
            continue
        if u < EXACT_DUP_RATE + JUNK_RATE:
            texts.append(make_crawl_doc(rng))
            continue
        lang = LANGS[rng.randint(len(LANGS))] if rng.rand() < 0.4 else "en"
        lines = []
        for _ in range(int(rng.randint(3, 9))):
            if rng.rand() < LINE_DUP_RATE:
                lines.append(boiler[rng.randint(len(boiler))])
            else:
                lines.append(make_doc(rng, lang, int(rng.randint(1, 4))))
        if rng.rand() < SPAN_DUP_RATE:
            j = rng.randint(len(lines))
            lines[j] = lines[j] + " " + spans[rng.randint(len(spans))] + " " + make_sentence(rng, lang, 5)
        if rng.rand() < NEEDLE_RATE:
            j = rng.randint(len(lines))
            lines[j] = lines[j] + " " + NEEDLES[rng.randint(len(NEEDLES) // 2)]
        texts.append("\n".join(lines))
    ids = seed * 10_000_000 + np.arange(n_docs, dtype=np.int64)
    return pd.DataFrame({"doc_id": ids, "text": texts})


# ------------------------------------------------------------- entry passes
def transcript_pass(spark, in_path: str, out_dir: str) -> dict:
    from langid_py_spark.spark.pipeline import run_pipeline

    return run_pipeline(spark, in_path, out_dir, resume=False)


def corpus_pass(spark, in_path: str, out_dir: str) -> dict:
    from langid_py_spark.operators.corpus_pipeline import run_corpus_pipeline

    df = spark.read.parquet(in_path)
    run_corpus_pipeline(
        spark, df, out_dir, NEEDLES, k_span=K_SPAN, floor=CLF_FLOOR, resume=False
    )
    return {}


# ----------------------------------------------------------------- checks
def data_files(root: str) -> list[Path]:
    """Committed data files under `root` (no markers, checksums, manifests)."""
    base = Path(root)
    return sorted(
        p for p in base.rglob("*")
        if p.is_file()
        and not any(part.startswith((".", "_")) for part in p.relative_to(base).parts)
    )


def parquet_rows(root: str) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in data_files(root))


def frame_digest(df: pd.DataFrame, keys: list[str]) -> str:
    """Digest of the rows sorted by `keys`, columns in name order. Floats
    keep 40 of their 53 mantissa bits, so that a change of summation order
    (batch sizes, vectorisation) does not change the digest."""
    df = df.sort_values(keys, kind="mergesort").reset_index(drop=True)
    df = df[sorted(df.columns)]
    for c in df.select_dtypes("floating").columns:
        m, e = np.frexp(df[c].to_numpy())
        df[c] = np.ldexp(np.round(m * 2.0**40) / 2.0**40, e)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()[:16]


def _read_dir(root: str) -> pd.DataFrame:
    return pd.concat([pq.read_table(p).to_pandas() for p in data_files(root)], ignore_index=True)


def check_transcripts(in_rows: int, out_dir: str, manifest: dict) -> tuple[list[str], str]:
    """Errors (empty if correct) and the output digest."""
    errors = []
    buckets = [d for d in Path(out_dir).iterdir() if d.name.startswith("lang_bucket=")]
    out = pd.concat(
        [_read_dir(str(d)).assign(lang_bucket=int(d.name.split("=")[1])) for d in buckets],
        ignore_index=True,
    )
    if len(out) != in_rows:
        errors.append(f"turns out {len(out)} != turns in {in_rows}")
    observed = manifest.get("observed", {})
    if observed.get("n_turns") != len(out):
        errors.append(f"manifest n_turns {observed.get('n_turns')} != written {len(out)}")
    if observed.get("n_kept") != int(out["keep"].sum()):
        errors.append(f"manifest n_kept {observed.get('n_kept')} != written {int(out['keep'].sum())}")
    return errors, frame_digest(out, ["conv_id", "turn_idx"])


TIERS = _TIER_NAMES  # the corpus chain's table names, in order


def tier_rows(out_dir: str) -> list[int]:
    return [parquet_rows(os.path.join(out_dir, t)) for t in TIERS]


def check_corpus(in_rows: int, out_dir: str, manifest: dict) -> tuple[list[str], str]:
    errors = []
    counts = [in_rows, *tier_rows(out_dir)]
    for name, a, b in zip(TIERS, counts, counts[1:]):
        if b > a:
            errors.append(f"{name}: rows grew {a} -> {b}")
    if counts[-1] == 0:
        errors.append("corpus chain emptied the corpus")
    out = _read_dir(os.path.join(out_dir, "t7_pack"))
    return errors, frame_digest(out, ["doc_id"])


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int  # input rows at the default size
    make: Callable[[int, int], pd.DataFrame]
    run_pass: Callable
    check: Callable


WORKLOADS = {
    "transcript_filter": Workload(
        "transcript_filter", 40_000, gen_transcripts, transcript_pass, check_transcripts
    ),
    "corpus_chain": Workload(
        "corpus_chain", 3_000, gen_corpus, corpus_pass, check_corpus
    ),
}


def ensure_input(work: Path, wl: Workload, seed: int, rows: int, cores: int) -> Path:
    """The cached input for (workload, seed, rows), written as 2 * cores
    files on a cache miss."""
    path = work / "inputs" / f"{wl.name}-s{seed}-n{rows}" / "full"
    if not path.exists():
        write_splits(wl.make(seed, rows), path, 2 * cores)
    return path

