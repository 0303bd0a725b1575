"""SemDeDup — semantic cluster-pruning dedup (operators/semdedup.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from langid_py_spark.operators import semdedup as S
from langid_py_spark.operators.similarity import (
    _l2_normalize,
    rowwise_gemm,
    spherical_kmeans,
)


def _planted(seed: int = 7, n_noise: int = 40, dim: int = 16):
    """Noise vectors plus two planted dup groups (3 copies of A with
    tiny jitter, 2 copies of B). Returns (ids, mat)."""
    rng = np.random.RandomState(seed)
    noise = rng.randn(n_noise, dim)
    a = rng.randn(dim)
    b = rng.randn(dim)
    group_a = np.vstack([a, a + 1e-4 * rng.randn(dim), a + 1e-4 * rng.randn(dim)])
    group_b = np.vstack([b, b + 1e-4 * rng.randn(dim)])
    mat = np.vstack([noise, group_a, group_b])
    ids = np.arange(len(mat), dtype=np.int64)
    return ids, mat


def test_kernel_drops_planted_dups_keeps_one_per_group():
    ids, mat = _planted()
    centroid = _l2_normalize(mat.mean(axis=0, keepdims=True))[0]
    d_ids, d_of, d_cos = S.semdedup_cluster(ids, mat, centroid, eps=0.99)
    # 3-group loses 2, 2-group loses 1; near-orthogonal noise survives
    assert len(d_ids) == 3
    assert set(d_ids).issubset({40, 41, 42, 43, 44})
    assert (d_cos >= 0.99).all()
    # keeper of each drop is in the same planted group and NOT dropped
    for di, ki in zip(d_ids, d_of):
        assert ki not in set(d_ids)
        same_group = (di < 43) == (ki < 43)
        assert same_group, (di, ki)


def test_kernel_input_order_invariant():
    ids, mat = _planted(seed=11)
    centroid = _l2_normalize(mat.mean(axis=0, keepdims=True))[0]
    ref = S.semdedup_cluster(ids, mat, centroid, eps=0.98)
    perm = np.random.RandomState(3).permutation(len(ids))
    got = S.semdedup_cluster(ids[perm], mat[perm], centroid, eps=0.98)
    for r, g in zip(ref, got):
        assert np.array_equal(r, g)


def test_kernel_chunk_boundary_independent():
    """Force the greedy loop across a chunk boundary and check the
    result equals a one-chunk run — the chunked GEMMs must not change
    decisions or recorded cosines."""
    ids, mat = _planted(seed=23, n_noise=30)
    centroid = _l2_normalize(mat.mean(axis=0, keepdims=True))[0]
    big = S.semdedup_cluster(ids, mat, centroid, eps=0.98)
    old = S._CHUNK
    try:
        S._CHUNK = 7
        small = S.semdedup_cluster(ids, mat, centroid, eps=0.98)
    finally:
        S._CHUNK = old
    for r, g in zip(big, small):
        assert np.array_equal(r, g)


def test_kernel_keeps_farthest_from_centroid():
    """The kept representative of a dup group is the (centroid-sim ASC,
    id ASC)-first member — the paper's low-similarity extreme."""
    dim = 8
    base = np.ones(dim)
    centroid = _l2_normalize(base.reshape(1, -1))[0]
    # three near-identical vectors; id 2 is nudged AWAY from the centroid
    far = base + np.array([0.05] * 4 + [-0.05] * 4) * 2
    mat = np.vstack([base, base * 1.001, far * 1.0005])
    ids = np.array([5, 9, 2], dtype=np.int64)
    d_ids, d_of, _ = S.semdedup_cluster(ids, mat, centroid, eps=0.99)
    assert set(d_ids) == {5, 9}
    assert set(d_of) == {2}


def test_kernel_edge_cases():
    empty_ids = np.array([], dtype=np.int64)
    out = S.semdedup_cluster(empty_ids, np.empty((0, 4)), np.ones(4) / 2.0, 0.9)
    assert all(len(x) == 0 for x in out)
    one = S.semdedup_cluster(
        np.array([1], dtype=np.int64), np.ones((1, 4)), np.ones(4) / 2.0, 0.9
    )
    assert all(len(x) == 0 for x in one)
    # all-zero vectors: cos ≡ 0 under the 1e-12 floor → everything kept
    zeros = S.semdedup_cluster(
        np.arange(3, dtype=np.int64), np.zeros((3, 4)), np.ones(4) / 2.0, 0.9
    )
    assert all(len(x) == 0 for x in zeros)


def test_eps_monotone():
    ids, mat = _planted(seed=5)
    centroid = _l2_normalize(mat.mean(axis=0, keepdims=True))[0]
    n_drops = [
        len(S.semdedup_cluster(ids, mat, centroid, eps=e)[0])
        for e in (0.999, 0.99, 0.9, 0.5)
    ]
    assert n_drops == sorted(n_drops)


@pytest.fixture(scope="module")
def vec_df(spark):
    ids, mat = _planted(seed=31, n_noise=60, dim=12)
    pdf = pd.DataFrame(
        {"vec_id": ids, "embedding": [r.astype(np.float32) for r in mat]}
    )
    return spark.createDataFrame(pdf), ids, mat


def _pandas_twin(ids, mat, cents, eps):
    full = np.asarray(mat, dtype=np.float64)
    assign = np.argmax(rowwise_gemm(_l2_normalize(full), cents.T), axis=1)
    rows = []
    for cid in range(len(cents)):
        m = assign == cid
        if not m.any():
            continue
        d_ids, d_of, d_cos = S.semdedup_cluster(ids[m], full[m], cents[cid], eps)
        rows += [
            (int(a), int(b), cid, float(c)) for a, b, c in zip(d_ids, d_of, d_cos)
        ]
    return sorted(rows)


def test_spark_matches_pandas_twin(spark, vec_df):
    df, ids, mat = vec_df
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 4, seed=99)
    got = S.semdedup_drops(df, cents, eps=0.98).toPandas()
    exp = _pandas_twin(ids, mat.astype(np.float32), cents, 0.98)
    got_rows = sorted(
        (int(r.vec_id), int(r.dup_of), int(r.cluster_id), float(r.cos_sim))
        for r in got.itertuples()
    )
    # twin floats are unrounded; compare after the same 6dp HALF_UP
    from decimal import ROUND_HALF_UP, Decimal

    exp_rounded = [
        (a, b, c, float(Decimal(repr(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP)))
        for a, b, c, v in exp
    ]
    assert got_rows == exp_rounded
    assert len(got_rows) > 0  # non-vacuous: planted dups were found


def test_spark_partitioning_invariant(spark, vec_df):
    df, ids, mat = vec_df
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 4, seed=99)
    a = set(
        map(tuple, S.semdedup_drops(df.repartition(1), cents, eps=0.98).collect())
    )
    b = set(
        map(tuple, S.semdedup_drops(df.repartition(7), cents, eps=0.98).collect())
    )
    assert a == b


def test_keep_partitions_ids(spark, vec_df):
    df, ids, mat = vec_df
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 4, seed=99)
    drops = S.semdedup_drops(df, cents, eps=0.98)
    keep = S.semdedup_keep(df, drops)
    kept_ids = {r.vec_id for r in keep.select("vec_id").collect()}
    drop_ids = {r.vec_id for r in drops.select("vec_id").collect()}
    assert kept_ids | drop_ids == set(ids.tolist())
    assert not (kept_ids & drop_ids)
    # every dropped row's keeper survived
    keepers = {r.dup_of for r in drops.select("dup_of").collect()}
    assert keepers <= kept_ids


def test_group_bins_follow_live_shuffle_partitions(spark, vec_df):
    """_grouped reads the session's live spark.sql.shuffle.partitions:
    K=4 clusters get their own 16*K = 64 bins only while the live
    setting is below that; at 64 the default shuffle is kept."""
    df, ids, mat = vec_df
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 4, seed=99)
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def plan_at(parts: int) -> str:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        drops = S.semdedup_drops(df, cents, eps=0.98)
        return drops._jdf.queryExecution().analyzed().toString()

    try:
        assert "RepartitionByExpression" in plan_at(8)
        assert "RepartitionByExpression" not in plan_at(64)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_max_cluster_guard_raises(spark, vec_df):
    df, ids, mat = vec_df
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 1, seed=99)
    with pytest.raises(Exception, match="max_cluster"):
        S.semdedup_drops(df, cents, eps=0.98, max_cluster=10).collect()


def test_string_ids_supported(spark):
    ids, mat = _planted(seed=41, n_noise=20, dim=8)
    sids = np.array([f"doc-{i:04d}" for i in ids], dtype=object)
    pdf = pd.DataFrame(
        {"vec_id": sids, "embedding": [r.astype(np.float32) for r in mat]}
    )
    df = spark.createDataFrame(pdf)
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 2, seed=7)
    got = S.semdedup_drops(df, cents, eps=0.98).toPandas()
    assert len(got) >= 3  # the planted groups collapse
    assert got.vec_id.str.startswith("doc-").all()
    assert got.dup_of.str.startswith("doc-").all()


# --- on_oversized="salt" (r06: modal clusters that "raise K" cannot bound) ---


def test_salt_mode_identical_when_nothing_oversized(spark, vec_df):
    """n_sub empty → the salt branch short-circuits to the plain
    single-window plan; results must equal raise-mode exactly."""
    df, ids, mat = vec_df
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 4, seed=99)
    a = set(map(tuple, S.semdedup_drops(df, cents, eps=0.98).collect()))
    b = set(
        map(
            tuple,
            S.semdedup_drops(
                df, cents, eps=0.98, on_oversized="salt", salt_sample_denom=1
            ).collect(),
        )
    )
    assert a == b


def _dense_blob_df(spark, n_blob: int = 60, n_noise: int = 10, dim: int = 8):
    """One near-identical blob (the modal cluster k-means cannot split)
    plus orthogonal-ish noise that lands in the other centroid."""
    rng = np.random.RandomState(17)
    base = rng.randn(dim)
    blob = base + 1e-5 * rng.randn(n_blob, dim)
    noise = rng.randn(n_noise, dim) * np.array([1, -1] * (dim // 2))
    mat = np.vstack([blob, noise])
    ids = np.arange(len(mat), dtype=np.int64)
    pdf = pd.DataFrame(
        {"vec_id": ids, "embedding": [r.astype(np.float32) for r in mat]}
    )
    return spark.createDataFrame(pdf), ids, mat, n_blob


def test_salt_mode_completes_oversized_bounded_overkeep(spark):
    df, ids, mat, n_blob = _dense_blob_df(spark)
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 2, seed=5)
    # raise mode refuses the 60-row blob at max_cluster=16
    with pytest.raises(Exception, match="max_cluster"):
        S.semdedup_drops(df, cents, eps=0.99, max_cluster=16).collect()
    drops = S.semdedup_drops(
        df,
        cents,
        eps=0.99,
        max_cluster=16,
        on_oversized="salt",
        salt_sample_denom=1,
    )
    got = drops.toPandas()
    # n_sub = ceil(60 * 1.25 / 16) = 5; over-keep bound: the blob keeps
    # at most one representative PER NON-EMPTY SALT BUCKET instead of 1
    n_sub = -(-(n_blob * 5) // (4 * 16))
    assert n_sub == 5
    n_salts = (
        df.filter(F.col("vec_id") < n_blob)
        .select(
            F.pmod(F.xxhash64("vec_id", F.lit("sdsub")), F.lit(n_sub)).alias("s")
        )
        .distinct()
        .count()
    )
    blob_drops = got[got.vec_id < n_blob]
    assert len(blob_drops) == n_blob - n_salts  # exactly one keeper per bucket
    assert n_salts <= n_sub
    # every sub-bucket's per-task size stayed under max_cluster by
    # construction AND every keeper survives (partition property)
    keep = S.semdedup_keep(df, drops)
    kept_ids = {r.vec_id for r in keep.select("vec_id").collect()}
    assert kept_ids | set(got.vec_id) == set(ids.tolist())
    assert not (kept_ids & set(got.vec_id))
    assert set(got.dup_of) <= kept_ids


def test_salt_mode_oversized_message_names_the_sample(spark):
    """A sample too sparse to see the blob leaves it unsalted; the raise
    then points at the sample, not at the mode the caller already set."""
    df, ids, mat, _ = _dense_blob_df(spark)
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 2, seed=5)
    drops = S.semdedup_drops(
        df, cents, eps=0.99, max_cluster=16, on_oversized="salt",
        salt_sample_denom=2**30,
    )
    with pytest.raises(Exception, match="max_cluster") as err:
        drops.collect()
    assert "salt_sample_denom" in str(err.value)
    assert "on_oversized='salt'" not in str(err.value)


def test_salt_mode_partitioning_invariant(spark):
    df, ids, mat, _ = _dense_blob_df(spark)
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 2, seed=5)
    kw = dict(eps=0.99, max_cluster=16, on_oversized="salt", salt_sample_denom=1)
    a = set(map(tuple, S.semdedup_drops(df.repartition(1), cents, **kw).collect()))
    b = set(map(tuple, S.semdedup_drops(df.repartition(7), cents, **kw).collect()))
    assert a == b


def test_salt_precount_filter_pushed_below_assignment_udf(spark, vec_df, tmp_path):
    """The sampled pre-count must not pay the assignment GEMM on
    unsampled rows: in the physical plan the id-hash Filter sits BELOW
    the ArrowEvalPython node (parents print first in toString). Needs a
    file scan — over a LocalRelation the optimizer folds the filter
    into the relation itself (ConvertToLocalRelation)."""
    df, ids, mat = vec_df
    src = str(tmp_path / "vecs")
    df.write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 4, seed=99)
    from langid_py_spark.operators.similarity import ivf_assign_udf

    assign = ivf_assign_udf(np.ascontiguousarray(cents, dtype=np.float64))
    assigned = df.select(
        F.col("vec_id"), F.col("embedding"), assign("embedding").alias("cluster_id")
    )
    plan = (
        S._sampled_cluster_counts(assigned, "vec_id", 16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan and "Filter" in plan
    assert plan.index("ArrowEvalPython") < plan.index("Filter")


def test_salt_mode_rejects_bad_flag(spark, vec_df):
    df, ids, mat = vec_df
    cents = spherical_kmeans(np.asarray(mat, dtype=np.float64), 2, seed=5)
    with pytest.raises(ValueError, match="on_oversized"):
        S.semdedup_drops(df, cents, on_oversized="split")


def test_rowwise_gemm_fused_matches_percolumn():
    """r07: rowwise_gemm's fused-einsum fast path (C-contiguous `a`,
    column-contiguous `w`) must be BIT-identical to the per-column
    einsum it replaces — per-element the two dispatch to the same
    contiguous sum-of-products inner loop. Covers every hot call-site
    shape class: transposed C-order w (nm[blk].T / cc.T), reshaped
    single column (centroid.reshape(-1, 1)), degenerate n/k=1, and the
    C-contiguous multi-column w (the SRP planes layout) that must STAY
    on the per-column path because fused einsum reorders its loops
    there."""

    def percolumn(a, w):
        out = np.empty((a.shape[0], w.shape[1]))
        for k in range(w.shape[1]):
            out[:, k] = np.einsum("ij,j->i", a, np.ascontiguousarray(w[:, k]))
        return out

    rng = np.random.RandomState(42)
    for trial in range(60):
        n = int(rng.randint(1, 800))
        d = int(rng.choice([3, 16, 64, 256]))
        k = int(rng.randint(1, 300))
        a = rng.randn(n, d)
        cases = [
            rng.randn(k, d).T,            # transposed view (F-contig cols)
            np.ascontiguousarray(rng.randn(d)).reshape(-1, 1),  # one column
            np.ascontiguousarray(rng.randn(d, k)),  # C-contig (slow path)
        ]
        for w in cases:
            assert np.array_equal(rowwise_gemm(a, w), percolumn(a, w)), (
                n, d, w.shape, w.strides,
            )
    # non-contiguous a must also stay exact (slow path)
    a = rng.randn(100, 64)[::2]
    w = rng.randn(7, 64).T
    assert np.array_equal(rowwise_gemm(a, w), percolumn(a, w))
