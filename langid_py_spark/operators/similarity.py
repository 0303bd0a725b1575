"""Similarity search over embedding columns (array<float>).

Three paths:

* brute-force cosine top-k — the correctness baseline. The query side is
  a tiny dim table by construction: its vectors ride the scoring UDF's
  closure (the pickled-closure analogue of an explicit broadcast), so the
  big side is scanned ONCE and each Arrow batch does a single
  (batch x dim) @ (dim x n_queries) matmul. No cross join, no per-row
  Python, no interpreted higher-order functions.
* LSH-bucketed (random hyperplane / signed random projection) — a scale
  path: each vector maps to a B-bit signature; candidates share a
  signature band, so the join is an equi-join on a spread key instead of
  a cross join. Recall vs brute force is property-tested.
* IVF (inverted-file, coarse spherical k-means quantizer) — the other
  standard scale path: centroids are trained driver-side on a BOUNDED,
  deterministic sample (`fit_ivf_centroids`; the classic FAISS recipe —
  at 100 TB you sample ~1M vectors, still driver-feasible), every
  vector is assigned to its nearest
  centroid by a vectorized Arrow UDF (one matmul per batch), and a
  query probes its `n_probe` nearest centroids: candidates come from an
  equi-join on cluster_id (bounded-cardinality key; AQE handles the
  residual skew of unbalanced clusters), then exact cosine re-rank.

Float parity: every exact re-rank computes the SAME formula
``dot(a,b) / max(norm(a)*norm(b), 1e-12)`` through `cos_pairwise` /
`cos_matrix` below; scripts/make_golden.py imports the same kernels, so
golden oracles agree bit-for-bit with the UDF path (no summation-order
drift between BLAS variants — ADVICE r02). Rounding to 6dp stays on the
Spark side (F.round), matching the DuckDB oracles' round().

Embeddings fixture: /root/testdata/sf*/embeddings.parquet
(vec_id bigint, embedding array<float>, label int).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# ------------------------------------------------------- shared kernels
def cos_pairwise(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two (n, d) float64 matrices.

    einsum('ij,ij->i') computes each row independently with a fixed
    within-row summation order, so results do not depend on Arrow batch
    boundaries — the golden generator calls this same function.
    """
    dots = np.einsum("ij,ij->i", a, b)
    na = np.sqrt(np.einsum("ij,ij->i", a, a))
    nb = np.sqrt(np.einsum("ij,ij->i", b, b))
    return dots / np.maximum(na * nb, 1e-12)


def rowwise_gemm(a: np.ndarray, w: np.ndarray) -> np.ndarray:
    """a (n, d) @ w (d, k) with BATCH-SIZE-INDEPENDENT per-row results.

    BLAS dgemm picks blocking/kernels by n, which shifts last-ulp bits
    when the same rows are computed in different batch sizes (property-
    tested: tests/test_operators.py::test_cos_kernels_batch_independent
    falsified `a @ w` directly). One einsum('ij,j->i') per output column
    computes every row with a fixed j-order regardless of n — so Arrow
    batch boundaries cannot change a value, and the full-matrix golden
    twins agree with the batched UDFs bit-for-bit. k is small at every
    call site (queries, <=64 planes, <=centroids); measured same speed
    as dgemm at (4096 x 64) x (64 x 64).

    r07 fast path: when BOTH operands give einsum contiguous inner axes
    — a C-contiguous and every w column contiguous in memory
    (w.strides[0] == itemsize, i.e. w is a transposed C-order matrix or
    a single reshaped column, which is every hot call site in the
    semdedup/assignment kernels) — the fused einsum('ij,jk->ik')
    dispatches to the SAME contiguous sum-of-products inner loop per
    (i, k) element as the per-column form, so the bits are identical
    (asserted per-shape-class in tests/test_semdedup.py::
    test_rowwise_gemm_fused_matches_percolumn, and the committed goldens
    re-verify it end to end) while one call replaces k Python-level
    einsum dispatches — measured 2.1x on the semdedup greedy kernel over
    the sf1 corpus. Any other layout (e.g. the C-contiguous SRP `planes`
    matrix, where fused einsum reorders its loops and DOES shift last-ulp
    bits — tested) keeps the per-column path."""
    if (
        a.ndim == 2
        and w.ndim == 2
        and a.flags["C_CONTIGUOUS"]
        and w.strides[0] == w.itemsize
    ):
        return np.einsum("ij,jk->ik", a, w)
    out = np.empty((a.shape[0], w.shape[1]))
    for k in range(w.shape[1]):
        out[:, k] = np.einsum("ij,j->i", a, np.ascontiguousarray(w[:, k]))
    return out


def cos_matrix(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(n, d) x (m, d) -> (n, m) cosine matrix, batch-independent."""
    dots = rowwise_gemm(mat, q.T)
    nm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    nq = np.sqrt(np.einsum("ij,ij->i", q, q))
    return dots / np.maximum(np.outer(nm, nq), 1e-12)


def _to_mat(vecs: pd.Series) -> np.ndarray:
    return np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])


def cos_pairwise_udf():
    """Exact cosine re-rank UDF: (vec_a, vec_b) -> double, one vectorized
    einsum per Arrow batch — replaces the round-1 zip_with/aggregate HOF
    expression, which fell back to interpreted eval and dragged the whole
    Project out of codegen (measured CodegenFallback trap, CLAUDE.md)."""

    @pandas_udf(T.DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=np.float64)
        return pd.Series(cos_pairwise(_to_mat(a), _to_mat(b)))

    return _cos


# Safety cap for driver-side query collection. Deliberately far below
# driver-memory limits: cosine_topk_bruteforce builds a CreateArray
# literal with one entry per query id for the pos->qid mapping, and
# Catalyst analysis/codegen over a ~100k-node expression degrades long
# before the driver OOMs (ADVICE r03). ~5k literals analyze fine; a
# larger probe set is batch scoring, not ANN — run it as a join.
MAX_DRIVER_QUERIES = 5_000


def _collect_queries(
    queries: DataFrame, qid_col: str, qvec_col: str, max_queries: int
) -> tuple[np.ndarray, np.ndarray]:
    """Pull the query dim table to the driver (qid-sorted, deterministic).

    Bounded by `max_queries` — queries are a tiny dim table by
    construction (an ANN index serves FEW probes against MANY vectors);
    a larger set should be run as a join-based batch scoring job instead,
    so exceeding the cap raises rather than silently OOMing the driver.
    """
    pdf = (
        queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qv"))
        .limit(max_queries + 1)
        .toPandas()
    )
    if len(pdf) > max_queries:
        raise ValueError(
            f"query side exceeds max_queries={max_queries}; "
            "run batch scoring via a join instead of the broadcast path"
        )
    pdf = pdf.sort_values("qid").reset_index(drop=True)
    qids = pdf["qid"].to_numpy(dtype=np.int64)
    qmat = _to_mat(pdf["qv"])
    return qids, qmat


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    max_queries: int = MAX_DRIVER_QUERIES,
) -> DataFrame:
    """Top-k most-cosine-similar vectors per query (excluding self-id).

    The query matrix rides the UDF closure → ONE pass over the big side,
    one (batch x dim) @ (dim x n_queries) GEMM per Arrow batch. Only
    (vid, qid, cos_sim) rows reach the per-query top-k window, whose key
    (qid) has cardinality |Q|.
    """
    qids, qmat = _collect_queries(queries, qid_col, qvec_col, max_queries)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def _sims(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(cos_matrix(_to_mat(vecs), qmat)))

    qid_arr = F.array(*[F.lit(int(q)) for q in qids])
    scored = (
        vectors.select(
            F.col(id_col).alias("vid"),
            F.posexplode(_sims(F.col(vec_col).cast("array<double>"))).alias(
                "pos", "cs"
            ),
        )
        .select(
            F.element_at(qid_arr, F.col("pos") + 1).cast("long").alias("qid"),
            "vid",
            F.round(F.col("cs"), 6).alias("cos_sim"),
        )
        .filter(F.col("vid") != F.col("qid"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("qid", F.col("vid").alias("vec_id"), "cos_sim", "rk")
    )


def cosine_topk_oracle_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 5
) -> str:
    """DuckDB twin: first n_queries vec_ids are the query set."""
    return f"""
    WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        FROM {table} WHERE vec_id < {n_queries}
    ), scored AS (
        SELECT q.qid, v.vec_id,
               round(list_dot_product(CAST(v.embedding AS DOUBLE[]), q.qv)
                     / greatest(sqrt(list_dot_product(CAST(v.embedding AS DOUBLE[]),
                                                      CAST(v.embedding AS DOUBLE[])))
                                * sqrt(list_dot_product(q.qv, q.qv)), 1e-12),
                     6) AS cos_sim
        FROM {table} v, q WHERE v.vec_id != q.qid
    )
    SELECT qid, vec_id, cos_sim, rk FROM (
        SELECT qid, vec_id, cos_sim,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, vec_id ASC) AS rk
        FROM scored
    ) WHERE rk <= {k}
    """


# ------------------------------------------------- LSH (scale path)
# 32 sign bits, banded as 8 x 4 bits: for a pair with per-bit agreement
# p = 1 - theta/pi, candidate probability = 1-(1-p^4)^8 — ~0.87 at
# p=0.69 (cos~0.55), ~0.998 at p=0.86 (cos~0.9). Exact cosine re-rank
# downstream removes false positives; the knob trades shuffle volume
# for recall and should widen (more bands) as embedding similarity of
# true neighbors drops.
N_PLANES = 32
BAND_BITS = 4
N_BANDS = N_PLANES // BAND_BITS


def _planes(dim: int, n_planes: int = N_PLANES, seed: int = 4242) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(dim, n_planes)


def srp_signature_udf(dim: int, n_planes: int = N_PLANES):
    """Signed-random-projection signature: n_planes (<= 64) sign bits
    packed into one long (uint64 math, int64 wraparound view — Java's
    arithmetic shiftright + mask reads the bands back correctly)."""
    if n_planes > 64:
        raise ValueError("n_planes > 64 does not fit one long signature")
    planes = _planes(dim, n_planes)

    @pandas_udf(T.LongType())
    def _sig(vecs: pd.Series) -> pd.Series:
        mat = _to_mat(vecs)
        if mat.size and mat.shape[1] != planes.shape[0]:
            raise ValueError(
                f"embedding dim {mat.shape[1]} does not match the "
                f"configured SRP dim {planes.shape[0]}"
            )
        # rowwise_gemm: a projection within 1 ulp of 0 must not flip its
        # sign bit with the Arrow batch size (goldens compute full-matrix)
        bits = rowwise_gemm(mat, planes) > 0  # (B, n_planes)
        weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))
        return pd.Series((bits.astype(np.uint64) @ weights).astype(np.int64))

    return _sig


def srp_bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """ANN: candidates = vectors whose SRP signature matches the query's
    in ≥1 band; exact cosine re-rank on candidates only.

    Plan shape (the 100 TB consideration): the banded equi-join and the
    candidate dedup carry ONLY (qid, vid) — the slim-join pattern; the
    deduped candidate set (small: |Q| x bucket sizes) is then broadcast
    back against the vectors scan to re-fetch embeddings, and the exact
    re-rank is one vectorized einsum per Arrow batch (cos_pairwise_udf),
    never an interpreted HOF expression. No cross join anywhere.
    """
    sig = srp_signature_udf(dim)
    v_sig = vectors.select(
        F.col(id_col).alias("vid"), sig(F.col(vec_col)).alias("sig")
    )
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).cast("array<double>").alias("qv"),
        sig(F.col(qvec_col)).alias("qsig"),
    )

    def bandize(df, sig_col, keep_cols):
        mask = (1 << BAND_BITS) - 1
        return df.select(
            *keep_cols,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright(F.col(sig_col), BAND_BITS * b)
                            .bitwiseAND(F.lit(mask))
                            .alias("bbits"),
                        )
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("bb"),
        ).select(*keep_cols, "bb.band", "bb.bbits")

    vb = bandize(v_sig, "sig", ["vid"])
    qb = bandize(q.select("qid", "qsig"), "qsig", ["qid"])
    cand = (
        vb.join(F.broadcast(qb), ["band", "bbits"])
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", "vid")
        .dropDuplicates(["qid", "vid"])
    )
    # re-fetch embeddings for the (small) candidate set: broadcast the ids
    # against one pass of the vectors scan, queries re-attach by qid
    vv = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cand_v = vv.join(F.broadcast(cand), "vid")
    pairs = cand_v.join(F.broadcast(q.select("qid", "qv")), "qid")
    cos = cos_pairwise_udf()
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vid"))
    return (
        pairs.select(
            "qid", "vid", F.round(cos(F.col("v"), F.col("qv")), 6).alias("cos_sim")
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("qid", F.col("vid").alias("vec_id"), "cos_sim", "rk")
    )


def srp_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 500,
    n_planes: int = 64,
    band_bits: int = 8,
    broadcast_pairs: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS at scale — the SRP path that
    the brute-force twin (q_embedding_dup_pairs) is the oracle for.

    Plan shape: signature UDF (one matmul/batch) → banded explode to SLIM
    (vid, band, bbits) rows → hot-bucket guard (stop-fingerprint rule:
    buckets larger than `max_bucket` are boilerplate, quadratic blowup,
    near-zero information) → self-equi-join on (band, bbits) with ids
    only through the shuffle → distinct pairs → re-fetch both embeddings
    by id (the deduped pair set is candidate-bounded and broadcast) →
    exact einsum re-rank, keep cos >= threshold.

    Banding is the capacity/recall knob, and a SELF-join needs much finer
    buckets than query-top-k: a random-vector pair still collides in a
    b-bit band with probability ~(1/2)^b, so candidate volume has an
    n²·bands/2^b floor. The default (8 bands x 8 bits from 64 planes)
    targets real near-dup thresholds: recall 1-(1-p^8)^8 ≈ 0.98 at cos
    0.95, 0.87 at cos 0.9, with a 1/256-per-band random floor. The
    4-bit/8-band config of the top-k path is only appropriate when the
    corpus is small or the threshold is unusually low (the sf fixture's
    0.45 oracle regime — measured 9 s vs 0.9 s on 5000 vectors).

    `broadcast_pairs=True` assumes the deduped candidate set fits a
    broadcast build (fine bands + hot-bucket guard keep it near-linear);
    a boilerplate-heavy corpus where pairs may reach billions should
    pass False and let AQE pick the re-fetch join strategy.
    """
    if n_planes % band_bits:
        raise ValueError("n_planes must be a multiple of band_bits")
    n_bands = n_planes // band_bits
    sig = srp_signature_udf(dim, n_planes=n_planes)
    mask = (1 << band_bits) - 1
    bands = (
        vectors.select(F.col(id_col).alias("vid"), sig(F.col(vec_col)).alias("sig"))
        .select(
            "vid",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright(F.col("sig"), band_bits * b)
                            .bitwiseAND(F.lit(mask))
                            .alias("bbits"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        )
        .select("vid", "bb.band", "bb.bbits")
    )
    from langid_py_spark.operators.dedup import _drop_hot_buckets

    bands = _drop_hot_buckets(bands, ["band", "bbits"], max_bucket)
    left = bands.select("band", "bbits", F.col("vid").alias("id_a"))
    right = bands.select("band", "bbits", F.col("vid").alias("id_b"))
    pairs = (
        left.join(right, ["band", "bbits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vv = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    maybe_bc = F.broadcast if broadcast_pairs else (lambda df: df)
    with_a = vv.join(
        maybe_bc(pairs), vv.vid == pairs.id_a
    ).select("id_a", "id_b", F.col("v").alias("va"))
    with_b = vv.join(
        maybe_bc(with_a), vv.vid == with_a.id_b
    ).select("id_a", "id_b", "va", F.col("v").alias("vb"))
    cos = cos_pairwise_udf()
    return (
        with_b.select(
            "id_a", "id_b", F.round(cos(F.col("va"), F.col("vb")), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ------------------------------------------------- IVF (scale path #2)
def _l2_normalize(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.maximum(n, 1e-12)


def spherical_kmeans(
    mat: np.ndarray, n_centroids: int, seed: int = 123, n_iter: int = 15
) -> np.ndarray:
    """Deterministic spherical k-means (cosine Lloyd's): seeded init from
    sample rows, fixed iteration count, empty clusters keep their previous
    centroid. Returns L2-normalized (n_centroids, dim) float64."""
    x = _l2_normalize(np.asarray(mat, dtype=np.float64))
    rng = np.random.RandomState(seed)
    init = rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)
    c = x[np.sort(init)].copy()
    for _ in range(n_iter):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
        c = _l2_normalize(c)
    return c


def fit_ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 123,
) -> np.ndarray:
    """Train the coarse quantizer on a bounded, DETERMINISTIC sample (first
    `sample_rows` by id — not rand(), so goldens/retries agree). This is
    the only driver-side step; assignment and search stay distributed."""
    pdf = (
        vectors.orderBy(F.asc(id_col))
        .limit(sample_rows)
        .select(vec_col)
        .toPandas()
    )
    mat = _to_mat(pdf[vec_col])
    return spherical_kmeans(mat, n_centroids, seed=seed)


def ivf_assign_udf(centroids: np.ndarray):
    """cluster_id = argmax(normalized_vec @ centroids.T) — one matmul per
    Arrow batch. Centroids ride the UDF closure (tiny: K x dim floats),
    the pickled-closure analogue of an explicit broadcast."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf(T.LongType())
    def _assign(vecs: pd.Series) -> pd.Series:
        mat = _l2_normalize(_to_mat(vecs))
        return pd.Series(np.argmax(rowwise_gemm(mat, c.T), axis=1).astype(np.int64))

    return _assign


def ivf_probe_udf(centroids: np.ndarray, n_probe: int):
    """Array of the query's n_probe nearest centroid ids (dot desc,
    centroid id asc tie-break — deterministic)."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _probe(vecs: pd.Series) -> pd.Series:
        mat = _l2_normalize(_to_mat(vecs))
        sims = rowwise_gemm(mat, c.T)  # (B, K)
        # stable argsort on -sims == (dot desc, centroid id asc) tie-break
        order = np.argsort(-sims, axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe].astype(np.int64)))

    return _probe


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF ANN: candidates = vectors in the query's n_probe nearest
    clusters; exact cosine re-rank (vectorized einsum UDF). Every vector
    lives in EXACTLY one cluster and a query's probe list is distinct, so
    (qid, vid) candidates are already unique — no dropDuplicates shuffle.
    Plan: two maps (assign/probe UDFs) -> explode (n_probe rows/query) ->
    equi-join on cluster_id -> window top-k per qid.

    `broadcast_queries=True` assumes the query side is a tiny dim table
    (the ANN contract — few probes against many vectors); the exploded
    query side is n_queries x n_probe rows WITH full vectors, so a large
    query set must pass broadcast_queries=False and let AQE pick the
    join strategy instead of forcing a driver-side broadcast build.
    """
    assign = ivf_assign_udf(centroids)
    probe = ivf_probe_udf(centroids, n_probe)
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
        assign(F.col(vec_col)).alias("cluster_id"),
    )
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).cast("array<double>").alias("qv"),
        F.explode(probe(F.col(qvec_col))).alias("cluster_id"),
    )
    if broadcast_queries:
        q = F.broadcast(q)
    cos = cos_pairwise_udf()
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vid"))
    return (
        v.join(q, "cluster_id")
        .filter(F.col("vid") != F.col("qid"))
        .select(
            "qid", "vid", F.round(cos(F.col("v"), F.col("qv")), 6).alias("cos_sim")
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("qid", F.col("vid").alias("vec_id"), "cos_sim", "rk")
    )
