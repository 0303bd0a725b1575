"""SemDeDup — semantic deduplication via k-means cluster pruning
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication" — public method description).

Completes the dedup ladder's semantic rung: exact (hash) → line/span →
MinHash/SimHash/winnowing (lexical near-dup) → SRP pair join
(embedding-cosine near-dup) → THIS (embedding near-dup resolved
per-semantic-cluster, the way the paper prunes LAION/C4). Upstream
saffsd/langid.py has no dedup surface — this is a driver-mandate
training-data extra.

Method: vectors are assigned to spherical k-means centroids (the IVF
coarse quantizer the ANN family already trains —
`similarity.fit_ivf_centroids`); within each cluster, any vector whose
cosine to an already-kept vector reaches `eps` is a duplicate. Kept
representatives are chosen in (centroid-similarity ASC, id ASC) order —
the paper's "keep the example farthest from the centroid" choice (§3.1:
low-similarity extremes generalize better), made deterministic with the
id tie-break.

Scale story (100 TB):

* assignment is the zero-shuffle IVF pattern: centroids ride the Arrow
  UDF closure, one GEMM per batch;
* the ONLY corpus-scale shuffle is the groupBy(cluster_id) feeding
  applyInPandas — fixed-width key, bounded cardinality K;
* per-cluster work is O(n_c · kept · dim) greedy with chunked GEMMs —
  the paper's recipe scales K with the corpus (they use 50k clusters
  for LAION-440M) so n_c stays ~10^4; a cluster above `max_cluster`
  RAISES with that instruction rather than silently degrading recall
  or building an unbounded sim matrix (the bounded-pull precedent:
  similarity.MAX_DRIVER_QUERIES);
* **"raise K" does not bound the max cluster on modal data** —
  measured on 1.03M sf1 transcript embeddings: the largest k-means
  cluster held 46,363 rows (17.8% of all quadratic greedy work) at
  K=256 and was STILL 46,363 rows at K=1024 (k-means splits the tail,
  not the dense mode; top-1 work share rose to 30%), capping N→4N
  scaling at 0.42 (BENCH/BASELINE.md round-6 semdedup rows). The
  scale-safe route is `on_oversized="salt"`: a deterministic sampled
  pre-count (the `dedup.hot_keys` pattern) estimates per-cluster
  sizes, oversized clusters are split into ceil(n·1.25/max_cluster)
  salt buckets by a doc-id hash (uniform by construction — unlike any
  direction-based split, which a blob of near-identical vectors
  defeats), and the greedy runs per (cluster, salt). Semantics are
  disclosed, not silent: every salt bucket is deduped exactly; a
  dup-group straddling buckets keeps ≤ n_sub representatives instead
  of 1 (only in clusters that exceeded max_cluster, i.e. exactly
  where unsalted SemDeDup would not finish). Still ONE corpus-scale
  shuffle — the pre-count shuffles only map-side-combined partials
  over a key of bounded cardinality K;
* both the kernel's chunked GEMMs and the assignment run through
  `rowwise_gemm`, so per-row bits are independent of chunk/batch shape
  and the golden twin (scripts/make_golden.py imports THIS kernel)
  agrees bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from langid_py_spark.operators.similarity import (
    _l2_normalize,
    _to_mat,
    ivf_assign_udf,
    rowwise_gemm,
)

# Greedy chunk size: each step is a (chunk x kept) + (chunk x chunk)
# GEMM — big enough to amortize the einsum loop, small enough that the
# in-block matrix stays L2-resident.
_CHUNK = 512


def semdedup_cluster(
    ids: np.ndarray, mat: np.ndarray, centroid: np.ndarray, eps: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Greedy semantic dedup of ONE cluster. Deterministic in the input
    ROW ORDER (rows are id-sorted internally) and in chunking
    (rowwise_gemm). Returns (dropped_ids, dup_of_ids, cos) where `cos`
    is the dropped row's max cosine to any kept row (ties on cos break
    to the smallest keeper id).

    ids: (n,) array (int or str); mat: (n, dim) float64 raw vectors;
    centroid: (dim,) L2-normalized.
    """
    n = len(ids)
    if n == 0:
        return ids[:0], ids[:0], np.empty(0, dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    mat = np.asarray(mat, dtype=np.float64)[order]
    nm = _l2_normalize(mat)
    csim = rowwise_gemm(nm, centroid.reshape(-1, 1))[:, 0]
    # processing order = (centroid similarity ASC, id ASC): rows are
    # id-sorted, so a stable argsort on csim alone gives the tie-break.
    proc = np.argsort(csim, kind="stable")

    kept: list[int] = []
    drop_rows: list[int] = []
    drop_of: list[int] = []
    drop_cos: list[float] = []
    for start in range(0, n, _CHUNK):
        blk = proc[start : start + _CHUNK]
        kept_arr = np.asarray(kept, dtype=np.int64)
        if kept:
            # (b, |kept|). rowwise_gemm's per-element value is the
            # j-ordered dot of one a-row with one w-column, independent
            # of how many rows/columns ride the call — so the cheaper
            # orientation (fewer einsum column loops) gives identical
            # bits; the chunk-boundary test varies _CHUNK and would
            # catch any divergence.
            if len(kept) > len(blk):
                base = rowwise_gemm(nm[kept], nm[blk].T).T
            else:
                base = rowwise_gemm(nm[blk], nm[kept].T)
            base_max = base.max(axis=1)  # vectorized: max is exact
        else:
            base = np.empty((len(blk), 0), dtype=np.float64)
            base_max = np.full(len(blk), -np.inf)
        inblk = rowwise_gemm(nm[blk], nm[blk].T)  # (b, b)
        newly: list[int] = []  # positions within blk kept so far
        for bi, row in enumerate(blk):
            # best = max over (all kept, kept-so-far-in-block) — same
            # value as the concatenated max (max is exact), without
            # building a |kept|-wide array per row
            best = base_max[bi]
            if newly:
                sb = inblk[bi, newly]
                sbm = sb.max()
                if sbm > best:
                    best = sbm
            if best >= eps:
                # tie set: every candidate whose cos equals best;
                # keeper = smallest id among them (ids are unique)
                parts = []
                if len(kept_arr):
                    m = base[bi] == best
                    if m.any():
                        parts.append(kept_arr[m])
                if newly:
                    m = sb == best
                    if m.any():
                        parts.append(blk[np.asarray(newly)][m])
                tied = np.concatenate(parts)
                keeper = tied[np.argsort(ids[tied], kind="stable")[0]]
                drop_rows.append(int(row))
                drop_of.append(int(keeper))
                drop_cos.append(float(best))
            else:
                newly.append(bi)
        kept.extend(int(r) for r in blk[newly])
    dr = np.asarray(drop_rows, dtype=np.int64)
    do = np.asarray(drop_of, dtype=np.int64)
    return ids[dr], ids[do], np.asarray(drop_cos, dtype=np.float64)


def _sampled_cluster_counts(assigned: DataFrame, id_col: str, denom: int) -> DataFrame:
    """(cluster_id, _hn) over a deterministic 1/denom id-hash sample.
    The filter references only id_col, so Catalyst pushes it below the
    assignment UDF — the pre-count GEMM touches sampled rows only
    (plan-asserted in tests/test_semdedup.py)."""
    sampled = assigned.filter(
        F.pmod(F.xxhash64(F.col(id_col), F.lit("sdsalt")), F.lit(denom)) == 0
    )
    return sampled.groupBy("cluster_id").agg(F.count("*").alias("_hn"))


def semdedup_drops(
    vectors: DataFrame,
    centroids: np.ndarray,
    eps: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 65_536,
    on_oversized: str = "raise",
    salt_sample_denom: int = 16,
) -> DataFrame:
    """(id, dup_of, cluster_id, cos_sim) — rows SemDeDup would remove.

    Plan: one Arrow assignment map (centroids in the closure, zero
    shuffle) → ONE groupBy(cluster_id) shuffle → per-cluster greedy
    kernel. cos_sim is rounded to 6dp Spark-side (F.round HALF_UP; the
    golden twin replicates via Decimal — CLAUDE.md rounding rule).

    on_oversized: what to do with clusters above `max_cluster` —
    the straggler/OOM hazard "raise K" cannot fix on modal data (see
    module docstring; measured: the largest cluster of 1.03M sf1
    embeddings stays 46k rows from K=256 to K=1024).

    * "raise" (default, the golden-pinned path): fail-stop with the
      K-scaling instruction.
    * "salt": split each oversized cluster into
      n_sub = ceil(n̂·1.25/max_cluster) buckets by
      pmod(xxhash64(id), n_sub) and dedup per (cluster, salt) — the
      salted-vote pattern. n̂ comes from a deterministic hash-sampled
      pre-count (1/salt_sample_denom of rows; the filter references
      only id_col, so Catalyst pushes it below the assignment UDF and
      the pre-count GEMM runs on sampled rows only — plan-asserted in
      tests/test_semdedup.py). An id-hash salt is uniform, so it
      bounds BOTH the sub-group's memory and its quadratic compute —
      a direction-based (SRP) split would put a blob of near-identical
      vectors in ONE bucket and split nothing. Disclosed semantics:
      each salt bucket is deduped exactly; a dup-group straddling
      buckets keeps up to n_sub representatives instead of 1, and
      only in clusters where the unsalted kernel would have raised.
      The pre-count's driver pull is bounded by construction at
      min(K, 2n/max_cluster) rows — the key space is the K centroid
      ids, and only clusters estimated ≥ max_cluster/2 pass the
      cutoff.
    """
    if on_oversized not in ("raise", "salt"):
        raise ValueError(f"on_oversized must be 'raise' or 'salt', got {on_oversized!r}")
    id_field = next(f for f in vectors.schema.fields if f.name == id_col)
    cc = np.ascontiguousarray(centroids, dtype=np.float64)
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("dup_of", id_field.dataType),
            T.StructField("cluster_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    sampled: dict[int, int] | None = None  # salt mode: the pre-count's hot rows

    def _one_cluster(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(key[0])
        if len(pdf) > max_cluster:
            hint = (
                "raise n_centroids so clusters stay bounded "
                "(SemDeDup scales K with the corpus), use "
                "on_oversized='salt' for modal data where raising K cannot "
                "bound the densest cluster, or raise max_cluster explicitly "
                "if the quadratic per-cluster cost is acceptable"
                if sampled is None
                else f"in salt mode the sampled pre-count (1 row in {denom}) "
                f"counted {sampled.get(cid, f'< {cutoff}')} of its rows, so it "
                f"was split into {n_sub.get(cid, 1)} group(s); lower "
                "salt_sample_denom so the sample sees the cluster, or raise "
                "max_cluster"
            )
            raise ValueError(
                f"semdedup cluster {cid} has {len(pdf)} rows > max_cluster="
                f"{max_cluster}: {hint}"
            )
        ids = pdf[id_col].to_numpy()
        mat = _to_mat(pdf[vec_col])
        d_ids, d_of, d_cos = semdedup_cluster(ids, mat, cc[cid], eps)
        return pd.DataFrame(
            {
                id_col: d_ids,
                "dup_of": d_of,
                "cluster_id": np.full(len(d_ids), cid, dtype=np.int64),
                "cos_sim": d_cos,
            }
        )

    assign = ivf_assign_udf(cc)
    assigned = vectors.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("cluster_id")
    )

    def _grouped(df: DataFrame, *keys: str):
        """groupBy for the greedy kernel with a collision-free bin count
        when K is SMALL (r07, guide §2.5): with K=16 heavy groups hashed
        into 32 default partitions, two big clusters regularly land on
        one task and serialize (birthday collisions). Giving each group
        its own bin (16x K bins, AQE respects REPARTITION_BY_NUM) makes
        expected collisions ~K/32 ≈ 0 — measured 2.83 -> 2.56 s on the
        sf1 drops stage. With large K (the production recipe scales K
        with the corpus) many clusters per partition average out and the
        default shuffle partitioning is already right, so this is a
        no-op there. Grouping keys are unchanged — routing only."""
        spark = df.sparkSession
        default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_bins = 16 * len(cc)
        if default_parts < n_bins <= 4096:
            df = df.repartition(n_bins, *[F.col(k) for k in keys])
        return df.groupBy(*keys)
    if on_oversized == "salt":
        denom = max(1, int(salt_sample_denom))
        # exact count over the deterministic sample; key cardinality is
        # bounded by K, map-side partials make this shuffle tiny. The
        # recall-bias slack (1.25 on top of the unbiased n̂ = cnt·denom)
        # covers sampling noise: at n = max_cluster = 65k and denom 16,
        # the relative sd of n̂ is ~2%.
        cutoff = max(1, max_cluster // denom // 2)
        sampled = {
            int(r["cluster_id"]): int(r["_hn"])
            for r in _sampled_cluster_counts(assigned, id_col, denom)
            .filter(F.col("_hn") >= cutoff)
            .collect()
        }
        n_sub = {
            cid: -(-(hn * denom * 5) // (4 * max_cluster))
            for cid, hn in sampled.items()
            if hn * denom * 5 > 4 * max_cluster
        }
        if not n_sub:
            # common case: nothing oversized — identical single-window
            # plan, the pre-count was the only extra work
            drops = _grouped(assigned, "cluster_id").applyInPandas(
                _one_cluster, out_schema
            )
        else:
            spark = vectors.sparkSession
            sub_df = F.broadcast(
                spark.createDataFrame(
                    [(k, v) for k, v in sorted(n_sub.items())],
                    "cluster_id long, _nsub int",
                )
            )
            salted = (
                assigned.join(sub_df, "cluster_id", "left")
                .withColumn(
                    "_salt",
                    F.when(
                        F.col("_nsub").isNotNull(),
                        F.pmod(
                            F.xxhash64(F.col(id_col), F.lit("sdsub")),
                            F.col("_nsub"),
                        ).cast("int"),
                    ).otherwise(F.lit(0)),
                )
                .drop("_nsub")
            )
            drops = _grouped(salted, "cluster_id", "_salt").applyInPandas(
                _one_cluster, out_schema
            )
    else:
        drops = _grouped(assigned, "cluster_id").applyInPandas(_one_cluster, out_schema)
    return drops.select(
        id_col, "dup_of", "cluster_id", F.round("cos_sim", 6).alias("cos_sim")
    )


def semdedup_keep(
    vectors: DataFrame, drops: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Survivor view: vectors minus the dropped ids (left_anti on the
    fixed-width id key — the exact-dedup survivors pattern)."""
    return vectors.join(
        drops.select(F.col(id_col)), on=id_col, how="left_anti"
    )
