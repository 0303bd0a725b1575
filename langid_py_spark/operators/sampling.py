"""Deterministic corpus sampling / mixing — the operators between a
filtered corpus and a training mix.

Training-data pipelines never use rand(): a sample must be REPRODUCIBLE
across retries, resumable jobs and engines (lineage: "which docs was
the model trained on" has to have one answer). Every operator here
derives its randomness from a content hash of the row id + an explicit
salt, so the same input always yields the same sample — and the driver
oracle can replay it in DuckDB exactly.

* hash_sample          — Bernoulli-style p-fraction sample: keep rows
  whose md5(id || salt) hex string compares below a threshold prefix.
  An EXACT string comparison (no float rounding anywhere), pure
  codegen'd filter that composes with predicate pushdown. md5 rather
  than xxhash64 because the oracle engine must compute the identical
  value (DuckDB's hash() is not xxhash64); md5 is still a cheap
  per-row expression, and at 10^12 rows this stays a pure map.
* balanced_sample      — exactly n docs per group (lang/source/...):
  row_number over (group, hash order) <= n. The standard "equal
  per-language eval slice" op; one window shuffle on the group key.
* temperature_sample   — multilingual temperature resampling (Conneau &
  Lample; alpha < 1 upweights low-resource groups): per-group target
  counts proportional to n_g^alpha, rescaled to a total budget, then
  the first target_g docs per group in hash order. Group cardinality is
  tiny by construction (languages/domains), so targets are computed on
  a |groups|-row driver pull — the same bounded-dim-side pattern as the
  IVF centroid fit; everything row-scale stays distributed.

Ordering note: all hash orders tie-break on the id itself, so the
sample is total-order deterministic even under (astronomically
unlikely) hash collisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hash_col(id_col: str, salt: str) -> "F.Column":
    return F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))


def hash_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id", salt: str = "s42"
) -> DataFrame:
    """Deterministic ~fraction sample. The threshold is the hex prefix
    of fraction * 16^6 over the first 6 hex chars — md5 is uniform, so
    the kept share converges to `fraction` with no float comparison at
    row scope (pure string <)."""
    if not 0 <= fraction <= 1:
        raise ValueError("fraction must be in [0, 1]")
    if fraction >= 1.0:
        # 16^6 formats to SEVEN hex chars ('1000000'), and a 6-char hash
        # prefix compares LOW against it for prefixes >= '1' — fraction
        # 1.0 would silently drop ~15/16 of the rows. Identity instead.
        return df
    threshold = format(int(fraction * (1 << 24)), "06x")
    return df.filter(F.substring(_hash_col(id_col, salt), 1, 6) < F.lit(threshold))


def hash_sample_oracle_sql(
    table: str,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "s42",
    cols: list[str] | None = None,
) -> str:
    threshold = format(int(fraction * (1 << 24)), "06x")
    collist = ", ".join(cols) if cols else "*"
    return f"""
    SELECT {collist} FROM {table}
    WHERE substring(md5(CAST({id_col} AS VARCHAR) || '{salt}'), 1, 6)
          < '{threshold}'
    """


def balanced_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    id_col: str = "doc_id",
    salt: str = "s42",
) -> DataFrame:
    """Exactly min(n_per_group, |group|) rows per group, hash-ordered —
    a deterministic stratified sample. One window shuffle keyed on the
    group column; skewed groups cost only their own partition sort."""
    w = Window.partitionBy(group_col).orderBy(
        _hash_col(id_col, salt).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_group)
        .drop("_rk")
    )


def balanced_sample_oracle_sql(
    table: str,
    group_col: str,
    n_per_group: int,
    cols: list[str],
    id_col: str = "doc_id",
    salt: str = "s42",
) -> str:
    collist = ", ".join(cols)
    return f"""
    SELECT {collist} FROM (
        SELECT {collist}, row_number() OVER (
            PARTITION BY {group_col}
            ORDER BY md5(CAST({id_col} AS VARCHAR) || '{salt}') ASC,
                     {id_col} ASC
        ) AS _rk FROM {table}
    ) WHERE _rk <= {n_per_group}
    """


def temperature_targets(
    counts: dict[str, int], alpha: float, total: int
) -> dict[str, int]:
    """Per-group target sizes ∝ count^alpha, scaled to `total`, floored;
    leftover budget goes to the largest groups first (deterministic).
    Pure-Python on the tiny group dim — shared by the operator and its
    test oracle."""
    if not counts:
        return {}
    weights = {g: c**alpha for g, c in counts.items()}
    z = sum(weights.values())
    raw = {g: total * w / z for g, w in weights.items()}
    out = {g: min(int(raw[g]), counts[g]) for g in counts}
    # Deterministic leftover assignment: largest fractional part, then
    # name; LOOP until the budget is spent or every group is full —
    # capped groups (quota == group size) free budget that must flow to
    # the uncapped ones, so a single +1 pass under-fills `total`
    # (ADVICE r04). Each full sweep assigns >= 1 row or breaks, so the
    # loop is bounded by total iterations overall.
    # None-safe tie-break (a NULL group is a legal category — hostile-
    # corpus find r05: None < str raises in the bare sort)
    leftovers = sorted(
        counts,
        key=lambda g: (-(raw[g] - int(raw[g])), g is None, g if g is not None else ""),
    )
    budget = total - sum(out.values())
    while budget > 0:
        assigned = 0
        for g in leftovers:
            if budget <= 0:
                break
            if counts[g] - out[g] > 0:
                out[g] += 1
                budget -= 1
                assigned += 1
        if assigned == 0:  # every group full: total > sum(counts)
            break
    return out


def temperature_sample_oracle_sql(
    table: str,
    group_col: str,
    targets: dict[str, int],
    cols: list[str],
    id_col: str = "doc_id",
    salt: str = "s42",
) -> str:
    """DuckDB twin of temperature_sample given the PRECOMPUTED per-group
    quotas (they are deterministic — the caller replays
    temperature_targets on the group histogram, exactly what the Spark
    operator's bounded driver pull does): the balanced-sample window
    pattern parameterized by a VALUES quota table."""
    collist = ", ".join(f"t.{c}" for c in cols)
    outlist = ", ".join(cols)
    # NULL is a legal group (the operator keeps it via eqNullSafe) —
    # None-safe sort, a NULL VALUES row, and IS NOT DISTINCT FROM so
    # the twin matches the operator's null semantics exactly
    vals = ", ".join(
        ("(NULL, " if g is None else "('" + g.replace("'", "''") + "', ")
        + f"{int(t)})"
        for g, t in sorted(
            targets.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
        )
    )
    return f"""
    SELECT {outlist} FROM (
        SELECT {collist}, q._target, row_number() OVER (
            PARTITION BY t.{group_col}
            ORDER BY md5(CAST(t.{id_col} AS VARCHAR) || '{salt}') ASC,
                     t.{id_col} ASC
        ) AS _rk
        FROM {table} t JOIN (VALUES {vals}) AS q({group_col}, _target)
          ON t.{group_col} IS NOT DISTINCT FROM q.{group_col}
    ) WHERE _rk <= _target
    """


def temperature_sample(
    df: DataFrame,
    group_col: str,
    alpha: float,
    total: int,
    id_col: str = "doc_id",
    salt: str = "s42",
) -> DataFrame:
    """Temperature-resampled corpus: per-group quota from
    temperature_targets over the (tiny) group histogram, rows chosen in
    deterministic hash order. The histogram collect is |groups| rows —
    the bounded dim-side pull pattern; the selection itself is one
    window over the data."""
    MAX_GROUPS = 100_000  # languages/domains — never document ids
    hist = df.groupBy(group_col).agg(F.count("*").alias("n")).limit(MAX_GROUPS + 1).collect()
    if len(hist) > MAX_GROUPS:
        raise ValueError(
            f"temperature_sample: >{MAX_GROUPS} distinct {group_col} values — "
            "the group column must be a small categorical (lang/domain), "
            "not a row-scale key; the target computation is a driver-side "
            "pull of the group histogram by design."
        )
    counts = {r[group_col]: r["n"] for r in hist}
    targets = temperature_targets(counts, alpha, total)
    spark = df.sparkSession
    tdf = spark.createDataFrame(
        [(g, int(t)) for g, t in targets.items()], f"{group_col} string, _target int"
    )
    w = Window.partitionBy(group_col).orderBy(
        _hash_col(id_col, salt).asc(), F.col(id_col).asc()
    )
    # eqNullSafe: a NULL group must join its own quota row, not be
    # silently dropped (standard equi-join null semantics would)
    tdf = tdf.withColumnRenamed(group_col, "_tg")
    return (
        df.join(F.broadcast(tdf), F.col(group_col).eqNullSafe(F.col("_tg")))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_target"))
        .drop("_rk", "_target", "_tg")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "s42",
    n_tokens_col: str | None = None,
    max_sources: int = 1024,
) -> DataFrame:
    """Budgeted mixture sampling — fill each source's TOKEN budget (not
    row count) in deterministic hash order: the operator a trainer runs
    to build "300B tokens: 60% web, 30% code, 10% books" from a
    filtered corpus. Sources absent from `budgets` are excluded (a
    mixture spec lists exactly what it wants); a NULL source never
    matches a spec key and is likewise excluded.

    Semantics (integer-exact, engine-identical): per source, order docs
    by (md5(id||salt) ASC, id ASC) and keep the prefix whose INCLUSIVE
    cumulative token count stays <= budget — after the first overshoot
    the cumsum only grows, so the kept set is a contiguous prefix.
    Zero-token docs are free and survive any budget. Output columns
    (doc_id, source, n_tokens, cum_tokens) are all integers, so the
    DuckDB oracle is exact — no float anywhere.

    Scale story (the packing.py two-level prefix sum, keyed per
    source): the per-source running total is computed inside 256
    hash-prefix buckets — the bucket IS the first md5 byte, so
    ordering by (bucket, hash) equals ordering by hash and the naive
    single-window oracle describes the same total order. One window
    shuffle on the uniform (source, bucket) key, one bounded driver
    pull (<= |sources| x 256 rows, guarded by `max_sources`), one
    broadcast back. No single-task global sort at any corpus size.
    """
    if not budgets:
        raise ValueError("token_budget_sample: budgets must be non-empty")
    if len(budgets) > max_sources:
        raise ValueError(
            f"token_budget_sample: {len(budgets)} sources > max_sources="
            f"{max_sources} — the per-(source, bucket) totals are a driver "
            "pull of |sources| x 256 rows by design; raise max_sources only "
            "if that stays driver-feasible"
        )
    if any(int(b) < 0 for b in budgets.values()):
        raise ValueError("token_budget_sample: budgets must be >= 0")

    from langid_py_spark import config as C
    from langid_py_spark.spark.caching import persist

    t = F.coalesce(F.col(text_col), F.lit(""))
    n_tokens = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else F.regexp_count(t, F.lit(C.WORD_RUN_PATTERN)).cast("long")
    )
    h = _hash_col(id_col, salt)
    spark = df.sparkSession
    bdf = spark.createDataFrame(
        sorted((s, int(b)) for s, b in budgets.items()),
        f"{source_col} string, _budget long",
    )
    # evaluated twice (totals pull + final windowed plan) — the
    # packing.py persist convention
    base = persist(
        df.join(F.broadcast(bdf), source_col)  # inner join = the source filter
        .select(
            F.col(id_col),
            F.col(source_col),
            F.col("_budget"),
            n_tokens.alias("n_tokens"),
            h.alias("_h"),
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("_bkt"),
        )
    )
    w = Window.partitionBy(source_col, "_bkt").orderBy(F.asc("_h"), F.asc(id_col))
    in_bucket = base.withColumn(
        "_cum_in",
        F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    totals: dict[tuple[str, int], int] = {
        (r[source_col], r["_bkt"]): r["_tot"]
        for r in base.groupBy(source_col, "_bkt")
        .agg(F.sum("n_tokens").alias("_tot"))
        .collect()
    }
    rows = []
    for s in sorted({src for src, _ in totals}):
        acc = 0
        for b in range(256):
            if (s, b) in totals:
                rows.append((s, b, acc))
                acc += int(totals[(s, b)])
    base_cols = f"{source_col} string, _bkt int, _base long"
    base_df = spark.createDataFrame(rows, base_cols)
    cum = F.col("_base") + F.col("_cum_in")
    return (
        in_bucket.join(F.broadcast(base_df), [source_col, "_bkt"])
        .filter(cum <= F.col("_budget"))
        .select(
            id_col,
            source_col,
            "n_tokens",
            cum.alias("cum_tokens"),
        )
    )


def token_budget_sample_oracle_sql(
    budgets: dict[str, int],
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "s42",
) -> str:
    """Naive per-source global-window twin (independent formulation —
    single window per source, fine at oracle scale). Integer-exact."""
    from langid_py_spark import config as C

    srcs = ", ".join(f"'{s}'" for s in sorted(budgets))
    case = " ".join(
        f"WHEN '{s}' THEN {int(b)}" for s, b in sorted(budgets.items())
    )
    return f"""
    WITH base AS (
        SELECT {id_col}, {source_col},
               CAST(len(regexp_extract_all(coalesce(text, ''), '{C.WORD_RUN_PATTERN}')) AS BIGINT)
                   AS n_tokens,
               md5(CAST({id_col} AS VARCHAR) || '{salt}') AS h
        FROM {table}
        WHERE {source_col} IN ({srcs})
    ),
    offs AS (
        SELECT {id_col}, {source_col}, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY {source_col}
                                        ORDER BY h ASC, {id_col} ASC
                                        ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_tokens
        FROM base
    )
    SELECT {id_col}, {source_col}, n_tokens, cum_tokens
    FROM offs
    WHERE cum_tokens <= CASE {source_col} {case} END
    """


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame | None,
    weights: dict[str, float],
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    salt: str = "split42",
) -> DataFrame:
    """Train/val/test split that near-duplicates cannot straddle — the
    step between dedup-cluster resolution and a trainer that must not
    see its own eval set (the within-corpus complement of benchmark
    decontamination: a val doc whose near-dup sits in train leaks).

    The split unit is the CLUSTER, not the doc: every row hashes
    coalesce(cluster_id, own id) — so all members of a near-dup
    cluster (operators/cluster.dedup_clusters: cluster_id = component
    min id; a doc in any pair is never absent from its cluster table)
    land on the same side, and singletons (null after the left join)
    fall back to their own id. A singleton's id can never equal some
    cluster's min-id key (the min is a member, members aren't
    singletons), so the key space stays collision-consistent.

    Assignment is the repo's deterministic md5 hex-prefix idiom
    (hash_sample): cumulative weight thresholds on the first 6 hex
    chars of md5(key || salt) — exact string compares, no float at row
    scope, engine-reproducible. The LAST split name is the CASE ELSE,
    absorbing both hex-grid dust and the tail of the hash space.

    Disclosed semantics: weights apportion CLUSTER KEYS uniformly; the
    doc-level split mass deviates by cluster-size variance (a 10k-doc
    cluster moves 10k docs together — that is the leakage-safety, not
    a bug). Scale: ONE equi-join on the fixed-width id (AQE/broadcast
    eligible) + a codegen'd projection; no window, no UDF, no driver
    pull. clusters=None skips the join (pure doc-hash split, weights
    then apply to docs exactly).
    """
    if not weights or len(weights) < 2:
        raise ValueError("weights needs >= 2 named splits")
    vals = list(weights.values())
    if any(v <= 0 for v in vals):
        raise ValueError(f"split weights must be positive, got {weights}")
    if abs(sum(vals) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {sum(vals)}")
    if clusters is not None:
        key = F.coalesce(
            F.col("_lss_cid").cast("string"), F.col(id_col).cast("string")
        )
        joined = docs.join(
            clusters.select(
                F.col(id_col), F.col(cluster_col).alias("_lss_cid")
            ),
            on=id_col,
            how="left",
        )
    else:
        key = F.col(id_col).cast("string")
        joined = docs
    prefix = F.substring(F.md5(F.concat(key, F.lit(salt))), 1, 6)
    names = list(weights)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += weights[name]
        # a cumulative weight within 1e-9 of 1 reaches 2^24, which would
        # format as 7 hex chars and sort below most 6-char prefixes
        th = format(min(int(cum * (1 << 24)), 0xFFFFFF), "06x")
        branch = F.when(prefix < F.lit(th), F.lit(name))
        expr = branch if expr is None else expr.when(prefix < F.lit(th), F.lit(name))
    expr = expr.otherwise(F.lit(names[-1]))
    out = joined.withColumn("split", expr)
    return out.drop("_lss_cid") if clusters is not None else out


def leakage_safe_split_oracle_sql(
    table: str,
    weights: dict[str, float],
    cols: list[str],
    id_col: str = "doc_id",
    salt: str = "split42",
) -> str:
    """DuckDB twin of the clusters=None path (the clustered path's
    oracle is the golden union-find twin in scripts/make_golden.py)."""
    names = list(weights)
    cum = 0.0
    whens = []
    for name in names[:-1]:
        cum += weights[name]
        th = format(min(int(cum * (1 << 24)), 0xFFFFFF), "06x")
        whens.append(
            f"WHEN substring(md5(CAST({id_col} AS VARCHAR) || '{salt}'), 1, 6)"
            f" < '{th}' THEN '{name}'"
        )
    case = "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"
    collist = ", ".join(cols)
    return f"SELECT {collist}, {case} AS split FROM {table}"
