"""Deterministic sampling operators (operators/sampling.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from langid_py_spark import config as C

from langid_py_spark.operators.sampling import (
    balanced_sample,
    hash_sample,
    temperature_sample,
    temperature_targets,
)

SF_DIR = "/root/testdata/sf0.001"


def test_hash_sample_fraction_determinism_and_nesting(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(20_000, dtype=np.int64)})
    )
    s20 = {r.doc_id for r in hash_sample(docs, 0.2).collect()}
    s20b = {r.doc_id for r in hash_sample(docs, 0.2).collect()}
    s50 = {r.doc_id for r in hash_sample(docs, 0.5).collect()}
    assert s20 == s20b  # deterministic, no RNG state
    # nested-by-construction: the threshold is a prefix compare, so a
    # smaller fraction is always a SUBSET of a larger one (same salt) —
    # exactly what scaling-ablation sampling needs
    assert s20 <= s50
    assert abs(len(s20) / 20_000 - 0.2) < 0.02
    assert abs(len(s50) / 20_000 - 0.5) < 0.02
    # different salt = independent sample
    other = {r.doc_id for r in hash_sample(docs, 0.2, salt="x").collect()}
    assert other != s20
    with pytest.raises(ValueError):
        hash_sample(docs, 1.5)
    # boundary fractions: 1.0 is the identity (the naive 7-hex-char
    # threshold would drop every hash prefix >= '1'); 0.0 is empty
    assert hash_sample(docs, 1.0).count() == 20_000
    assert hash_sample(docs, 0.0).count() == 0


def test_balanced_sample_exact_counts(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    group_sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    out = balanced_sample(docs, "lang", 5).toPandas()
    got = out.groupby("lang").size().to_dict()
    assert got == {g: min(5, n) for g, n in group_sizes.items()}
    # deterministic across invocations
    out2 = balanced_sample(docs, "lang", 5).toPandas()
    assert set(out["doc_id"]) == set(out2["doc_id"])


def test_temperature_targets_properties():
    counts = {"en": 8000, "de": 1000, "zh": 125}
    # alpha=1: proportional; alpha=0 with enough room: uniform
    t1 = temperature_targets(counts, 1.0, 912)
    assert sum(t1.values()) == 912
    assert t1["en"] > t1["de"] > t1["zh"]
    t0 = temperature_targets(counts, 0.0, 300)
    assert t0 == {"en": 100, "de": 100, "zh": 100}
    # alpha=0.5 upweights rare groups relative to proportional
    th = temperature_targets(counts, 0.5, 912)
    assert sum(th.values()) == 912
    assert th["zh"] > t1["zh"] and th["en"] < t1["en"]
    # capped by group size — freed budget must flow to uncapped groups
    # until the total is met (ADVICE r04: the single +1 pass lost it)
    tc = temperature_targets({"a": 10, "b": 10_000}, 0.5, 5000)
    assert tc["a"] <= 10
    assert sum(tc.values()) == 5000
    # alpha=0 forces heavy capping: equal weights but tiny groups
    t0c = temperature_targets({"a": 3, "b": 5, "c": 9000}, 0.0, 1000)
    assert t0c["a"] == 3 and t0c["b"] == 5
    assert sum(t0c.values()) == 1000
    # budget beyond the corpus: every group saturates, sum == sum(counts)
    tall = temperature_targets({"a": 10, "b": 20}, 0.5, 1_000)
    assert tall == {"a": 10, "b": 20}
    assert temperature_targets({}, 0.5, 100) == {}


def test_temperature_sample_matches_targets(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    total = 60
    want = temperature_targets(counts, 0.5, total)
    out = temperature_sample(docs, "lang", 0.5, total).toPandas()
    got = out.groupby("lang").size().to_dict()
    assert got == {g: t for g, t in want.items() if t > 0}
    assert len(out) == total
    out2 = temperature_sample(docs, "lang", 0.5, total).toPandas()
    assert set(out["doc_id"]) == set(out2["doc_id"])


def test_pack_sequences(spark):
    """Concat-then-chunk packing: the global token stream has no holes
    (each start = prev start + prev tokens in hash order), bins are
    start div budget, results match a naive pandas twin exactly, and a
    caller-provided token-count column is honored."""
    import hashlib

    import pytest

    from langid_py_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    B = 512
    got = pack_sequences(docs, budget=B).toPandas()

    pdf = docs.select("doc_id", "text").toPandas()
    pdf["n_tokens"] = (
        pdf["text"].fillna("").str.findall(C.WORD_RUN_PATTERN).str.len()
    )
    pdf["h"] = [
        hashlib.md5(f"{d}s42".encode()).hexdigest() for d in pdf["doc_id"]
    ]
    pdf = pdf.sort_values(["h", "doc_id"]).reset_index(drop=True)
    pdf["start"] = pdf["n_tokens"].cumsum() - pdf["n_tokens"]
    want = {
        r.doc_id: (r.n_tokens, r.start, r.start // B) for r in pdf.itertuples()
    }
    assert len(got) == len(pdf)
    for r in got.itertuples():
        assert want[r.doc_id] == (r.n_tokens, r.start_offset, r.bin_id), r.doc_id

    # contiguity: no holes in the stream
    g = got.sort_values("start_offset").reset_index(drop=True)
    ends = g["start_offset"] + g["n_tokens"]
    assert (g["start_offset"].iloc[1:].values == ends.iloc[:-1].values).all()
    assert g["start_offset"].iloc[0] == 0

    # custom token column must actually be USED (not the \S+ default)
    with_col = docs.withColumn("my_tok", F.length("text"))
    got2 = pack_sequences(with_col, budget=B, n_tokens_col="my_tok").toPandas()
    want_tok = dict(
        zip(pdf["doc_id"], pdf["text"].fillna("").str.len())
    )
    assert all(
        r.n_tokens == want_tok[r.doc_id] for r in got2.itertuples()
    )
    assert not got2.set_index("doc_id")["n_tokens"].equals(
        got.set_index("doc_id")["n_tokens"]
    )  # char counts != word counts on this corpus
    with pytest.raises(ValueError):
        pack_sequences(docs, budget=0)


def test_pack_sequences_randomized_matches_naive(spark):
    """Property check on random shapes: the two-level (256-bucket)
    prefix sum must equal the naive global cumsum for arbitrary ids and
    token counts — including empty texts, huge counts and sparse id
    spaces (bucket-boundary coverage)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from langid_py_spark.operators.packing import pack_sequences

    rng = np.random.RandomState(3)
    ids = rng.choice(10_000_000, size=400, replace=False).astype("int64")
    toks = rng.randint(0, 5000, size=400).astype("int64")
    toks[:5] = 0  # empty docs occupy zero width but still get offsets
    pdf = pd.DataFrame({"doc_id": ids, "my_tok": toks})
    docs = spark.createDataFrame(pdf)
    B = 777
    got = pack_sequences(
        docs.withColumn("text", F.lit("")), budget=B, n_tokens_col="my_tok"
    ).toPandas()

    pdf["h"] = [hashlib.md5(f"{d}s42".encode()).hexdigest() for d in pdf.doc_id]
    pdf = pdf.sort_values(["h", "doc_id"]).reset_index(drop=True)
    pdf["start"] = pdf["my_tok"].cumsum() - pdf["my_tok"]
    want = {r.doc_id: (r.my_tok, r.start, r.start // B) for r in pdf.itertuples()}
    assert len(got) == 400
    for r in got.itertuples():
        assert want[r.doc_id] == (r.n_tokens, r.start_offset, r.bin_id), r.doc_id


def test_token_budget_sample_matches_naive_twin(spark):
    """Per-source prefix-fill semantics vs a pandas twin, incl. the
    zero-budget, keeps-all, and excluded-source edges."""
    import hashlib

    from langid_py_spark.operators.sampling import token_budget_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    budgets = {"src0": 300, "src1": 10_000, "src2": 0, "src4": 150}
    got = token_budget_sample(docs, budgets).toPandas()

    pdf = docs.select("doc_id", "source", "text").toPandas()
    pdf = pdf[pdf["source"].isin(budgets)]
    pdf["n_tokens"] = (
        pdf["text"].fillna("").str.findall(C.WORD_RUN_PATTERN).str.len()
    )
    pdf["h"] = [
        hashlib.md5(f"{d}s42".encode()).hexdigest() for d in pdf["doc_id"]
    ]
    pdf = pdf.sort_values(["source", "h", "doc_id"]).reset_index(drop=True)
    pdf["cum"] = pdf.groupby("source")["n_tokens"].cumsum()
    want = pdf[pdf["cum"] <= pdf["source"].map(budgets)]
    assert sorted(got["doc_id"]) == sorted(want["doc_id"])
    w = {r.doc_id: (r.n_tokens, r.cum) for r in want.itertuples()}
    for r in got.itertuples():
        assert (r.n_tokens, r.cum_tokens) == w[r.doc_id]
    # non-vacuity: at least one source cut mid-way, one kept whole
    per_src = got.groupby("source").size()
    tot = pdf.groupby("source").size()
    assert (per_src.reindex(tot.index).fillna(0) < tot).any()
    assert (per_src.reindex(tot.index) == tot).any()
    # excluded sources never appear
    assert set(got["source"]) <= set(budgets)


def test_token_budget_sample_monotone_and_partition_invariant(spark):
    from langid_py_spark.operators.sampling import token_budget_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    small = {r.doc_id for r in token_budget_sample(docs, {"src0": 200}).collect()}
    big = {r.doc_id for r in token_budget_sample(docs, {"src0": 600}).collect()}
    assert small < big  # strict: budget 600 adds docs at this sf
    a = {
        tuple(r)
        for r in token_budget_sample(docs.repartition(1), {"src0": 600}).collect()
    }
    b = {
        tuple(r)
        for r in token_budget_sample(docs.repartition(7), {"src0": 600}).collect()
    }
    assert a == b


def test_token_budget_sample_guards(spark):
    from langid_py_spark.operators.sampling import token_budget_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError, match="non-empty"):
        token_budget_sample(docs, {})
    with pytest.raises(ValueError, match=">= 0"):
        token_budget_sample(docs, {"src0": -1})
    with pytest.raises(ValueError, match="max_sources"):
        token_budget_sample(docs, {"a": 1, "b": 2}, max_sources=1)


def test_token_budget_sample_zero_token_docs_are_free(spark):
    """Zero-token docs survive a zero budget; the first real doc does
    not — in both engines (dialect check rides the oracle test)."""
    from langid_py_spark.operators.sampling import token_budget_sample

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "source": ["s"] * 4,
            "text": ["", "   ", "one two three", None],
        }
    )
    df = spark.createDataFrame(pdf)
    got = token_budget_sample(df, {"s": 0}).toPandas()
    assert sorted(got["doc_id"]) == [1, 2, 4]
    assert (got["n_tokens"] == 0).all() and (got["cum_tokens"] == 0).all()


# --- leakage_safe_split (r06: cluster-aware train/val/test) ---


def _split_fixture(spark):
    from langid_py_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(200, dtype=np.int64)})
    )
    # clusters: docs 0-9 in cluster 0, 50-52 in cluster 50; rest singleton
    cl = pd.DataFrame(
        {
            "doc_id": list(range(10)) + [50, 51, 52],
            "cluster_id": [0] * 10 + [50] * 3,
        }
    ).astype(np.int64)
    clusters = spark.createDataFrame(cl)
    return leakage_safe_split, docs, clusters


def test_leakage_safe_split_no_cluster_straddles(spark):
    lss, docs, clusters = _split_fixture(spark)
    got = lss(
        docs, clusters, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).toPandas()
    assert len(got) == 200 and set(got.columns) == {"doc_id", "split"}
    by = got.set_index("doc_id")["split"]
    assert by.loc[list(range(10))].nunique() == 1  # cluster 0 together
    assert by.loc[[50, 51, 52]].nunique() == 1  # cluster 50 together
    assert set(got["split"]) <= {"train", "val", "test"}
    # weights roughly hold on the ~190 split units
    frac_train = (got["split"] == "train").mean()
    assert 0.6 < frac_train < 0.95


def test_leakage_safe_split_matches_pure_hash_for_singletons(spark):
    """A doc outside every cluster must get the same side as the
    clusters=None pure-hash split — the fallback key is its own id."""
    lss, docs, clusters = _split_fixture(spark)
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    with_cl = lss(docs, clusters, w).toPandas().set_index("doc_id")["split"]
    no_cl = lss(docs, None, w).toPandas().set_index("doc_id")["split"]
    singles = [i for i in range(200) if i not in set(range(10)) | {50, 51, 52}]
    assert (with_cl.loc[singles] == no_cl.loc[singles]).all()


def test_leakage_safe_split_oracle_parity_duckdb(spark):
    """clusters=None path vs the DuckDB SQL twin — pins the md5/string
    cast dialect on both engines. The second weights put the train
    threshold at 2^24, one past the largest 6-hex-char prefix: both
    engines must clamp it, or most keys compare below the 7-char string
    and land in the tiny last split."""
    import duckdb

    from langid_py_spark.operators.sampling import (
        leakage_safe_split,
        leakage_safe_split_oracle_sql,
    )

    pdf = pd.DataFrame({"doc_id": np.arange(500, dtype=np.int64)})
    con = duckdb.connect()
    con.register("t", pdf)
    for w in ({"train": 0.7, "val": 0.2, "test": 0.1}, {"train": 1.0, "test": 1e-10}):
        got = (
            leakage_safe_split(spark.createDataFrame(pdf), None, w)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        exp = (
            con.execute(leakage_safe_split_oracle_sql("t", w, ["doc_id"]))
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert got.equals(exp), w
    assert (got["split"] == "train").mean() >= 0.99


def test_leakage_safe_split_partitioning_invariant_and_deterministic(spark):
    lss, docs, clusters = _split_fixture(spark)
    w = {"train": 0.5, "val": 0.5}
    a = set(map(tuple, lss(docs.repartition(1), clusters, w).collect()))
    b = set(map(tuple, lss(docs.repartition(13), clusters, w).collect()))
    assert a == b


def test_leakage_safe_split_validation(spark):
    lss, docs, clusters = _split_fixture(spark)
    with pytest.raises(ValueError, match=">= 2"):
        lss(docs, clusters, {"train": 1.0})
    with pytest.raises(ValueError, match="positive"):
        lss(docs, clusters, {"train": 1.1, "val": -0.1})
    with pytest.raises(ValueError, match="sum to 1"):
        lss(docs, clusters, {"train": 0.5, "val": 0.4})
