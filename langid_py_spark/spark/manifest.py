"""The `_manifest.json` resume policy of `run_pipeline` (lang buckets) and
`run_corpus_pipeline` (tiers): `params_fp` hashes the input's identity and
every output-shaping parameter; a resume under another fingerprint raises,
as does a manifest with none (it cannot show what produced it)."""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame

_MAX_FIELDS = "spark.sql.debug.maxToStringFields"


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


def input_id(df: DataFrame) -> list:
    """df's identity: the sorted file list of a file-backed frame (else
    its plan's semantic hash) plus the md5 of its canonicalized analyzed
    plan, which tells a filter or projection of the same files apart.
    The canonical text numbers expression ids from 0, so a fresh session
    reproduces it; semanticHash() of the same read does not. The text is
    rendered with spark.sql.debug.maxToStringFields lifted for the call:
    at the session's value a wide node or struct type would print
    "... N more fields", tying the md5 to a debug setting and hiding
    differences past the cut."""
    conf = df.sparkSession.conf
    was = conf.get(_MAX_FIELDS)
    conf.set(_MAX_FIELDS, str(2**31 - 1))
    try:
        plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
    finally:
        conf.set(_MAX_FIELDS, was)
    return [sorted(df.inputFiles()) or df.semanticHash(), hashlib.md5(plan.encode()).hexdigest()]


def resume_manifest(out_dir: str, df: DataFrame, params: list, resume: bool) -> dict:
    """The manifest to continue from (resume) or a fresh one, stamped with
    the fingerprint of df's input_id and params."""
    fp = hashlib.md5(json.dumps([input_id(df), *params]).encode()).hexdigest()
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
