"""The `_manifest.json` resume policy of `run_pipeline` (lang buckets) and
`run_corpus_pipeline` (tiers): `params_fp` hashes the input's identity and
every output-shaping parameter; a resume under another fingerprint raises,
as does a manifest with none (it cannot show what produced it)."""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame


def artifact_id(path: str) -> list:
    """(abspath, size, mtime_ns) of a model file: a copy elsewhere or a
    rewrite in place changes it without hashing the bytes."""
    st = os.stat(path)
    return [os.path.abspath(path), st.st_size, st.st_mtime_ns]


def read_manifest(out_dir: str) -> dict:
    """The manifest under out_dir, or {} when there is none."""
    path = os.path.join(out_dir, "_manifest.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def resume_manifest(out_dir: str, df: DataFrame, params: list, resume: bool) -> dict:
    """The manifest to continue from (resume) or a fresh one, stamped with
    the fingerprint of df's input (sorted file list of a file-backed frame,
    else its plan's semantic hash) and params."""
    input_id = sorted(df.inputFiles()) or df.semanticHash()
    fp = hashlib.md5(json.dumps([input_id, *params]).encode()).hexdigest()
    manifest = read_manifest(out_dir) if resume else {}
    if manifest and manifest.get("params_fp") != fp:
        raise ValueError(
            f"resume manifest at {out_dir} was written with different "
            "pipeline parameters or input data; pass resume=False to rebuild"
        )
    return {**manifest, "params_fp": fp}


def write_manifest(out_dir: str, manifest: dict) -> None:
    """Temp file + os.replace: a crash mid-write never leaves truncated
    JSON that breaks the next resume."""
    target = os.path.join(out_dir, "_manifest.json")
    with open(target + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(target + ".tmp", target)
