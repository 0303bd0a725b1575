"""Physical-plan audits: the properties the 100 TB story depends on.

These tests read .explain() output and fail if a plan regression would
silently cost us at scale: lost predicate pushdown, lost column pruning,
a broadcast join degrading to sort-merge on a small dim, or Python eval
appearing in Catalyst-only stages.
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_extendedprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan, plan


def test_column_pruning_on_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_scorer_scan_prunes_to_needed_columns(spark, fixture_path):
    """Scoring only needs keys+text: the parquet scan must not read
    role/tool/ts when downstream doesn't."""
    from langid_py_spark.spark.scorer import with_language

    df = (
        with_language(spark.read.parquet(fixture_path))
        .select("conv_id", "turn_idx", "ld.lang")
    )
    plan = _plan(df)
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    schema = read.split("ReadSchema:")[1]
    assert "text:string" in schema and "conv_id:string" in schema, read
    assert "role" not in schema and "ts:timestamp" not in schema, read


def test_top_customers_uses_broadcast_join(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["top_customers"](spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan, plan


def test_vote_has_partial_aggregation(spark, fixture_path):
    """Salted vote stage 1 must partial-aggregate map-side (HashAggregate
    appears before the exchange)."""
    from langid_py_spark.spark.pipeline import score_turns
    from langid_py_spark.spark.vote import conversation_vote

    df = conversation_vote(score_turns(spark.read.parquet(fixture_path)))
    plan = _plan(df)
    # partial then final: two HashAggregates around one Exchange
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:], plan
    assert "HashAggregate" in plan[:first_exchange] or "HashAggregate" in plan, plan
    assert plan.count("HashAggregate") >= 2


def test_pipeline_has_single_wide_shuffle(spark, fixture_path):
    """Full pipeline: every Exchange is either the vote agg shuffle (by
    conv_id[, lang, salt]) or a broadcast/AQE artifact — there must be NO
    exchange between the scan and the scoring UDFs (shuffle-free map)."""
    from langid_py_spark.spark.pipeline import full_pipeline

    plan = _optimized(full_pipeline(spark.read.parquet(fixture_path)))
    # optimized logical plan: the UDF projections sit directly on the scan
    # side; count RepartitionByExpression/Join nodes instead of physical
    # exchanges (AQE hides them until execution)
    assert plan.count("Join") <= 1, plan


def test_minhash_join_is_equi_join_not_cartesian(spark):
    from langid_py_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        plan
    )


def test_rules_scrub_stage_whole_stage_codegen(spark, fixture_path):
    from langid_py_spark.spark.rules import with_rules
    from langid_py_spark.spark.scrub import with_scrubbed

    df = with_scrubbed(with_rules(spark.read.parquet(fixture_path)))
    plan = _plan(df)
    # codegen'd operators render with a "*(stageId)" prefix
    assert plan.lstrip().startswith("*(") or "WholeStageCodegen" in plan, plan
    assert "EvalPython" not in plan


def test_score_stage_methods_stay_jit_compilable(spark, fixture_path):
    """HotSpot does not JIT a method above 8,000 bytes of bytecode
    (DontCompileHugeMethods), so a generated method that big runs
    interpreted. The rules/scrub guards are grouped to keep every
    WholeStageCodegen subtree of the score stage below it."""
    from langid_py_spark.spark.pipeline import score_turns
    from langid_py_spark.spark.rules import with_rules
    from langid_py_spark.spark.scrub import scrub_expr

    turns = spark.read.parquet(fixture_path)
    for name, df in [
        ("score_turns", score_turns(turns)),
        ("with_rules", with_rules(turns)),
        ("scrub_expr", turns.select(scrub_expr(F.col("text")).alias("s"))),
    ]:
        seq = df._jdf.queryExecution().debug().codegenToSeq()
        sizes = [seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())]
        assert sizes, name
        assert max(sizes) < 8000, (name, sizes)


def test_cosine_bruteforce_plan_is_single_pass_no_join(spark):
    """The brute-force ANN baseline carries the query matrix in the UDF
    closure: the plan must contain NO join of any kind (the round-1 shape
    was a BroadcastNestedLoopJoin cross join) and no interpreted HOF
    (zip_with/aggregate) — one scan, one Arrow GEMM stage, one window."""
    from langid_py_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    plan = _plan(cosine_topk_bruteforce(emb, q, k=3))
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert "zip_with" not in plan and "aggregate(" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_srp_plan_broadcast_joins_only(spark):
    """SRP candidates: banded broadcast equi-joins + ids-only dedup; the
    re-rank is an Arrow UDF, never a HOF; no cartesian anywhere."""
    from langid_py_spark.operators.similarity import srp_bucketed_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    plan = _plan(srp_bucketed_topk(emb, q, dim=64, k=3))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "zip_with" not in plan, plan


def test_srp_dup_pairs_plan_no_cartesian(spark):
    """The self-join near-dup path: banded equi-join + ids-only dedup +
    broadcast re-fetch; never a cartesian/nested-loop, never a HOF."""
    from langid_py_spark.operators.similarity import srp_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(srp_dup_pairs(emb, dim=64, threshold=0.45, n_planes=32, band_bits=4))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "zip_with" not in plan, plan


def test_spread_rebalances_only_narrow_scans(spark):
    """_spread: a single-split scan is repartitioned to defaultParallelism;
    an input already at/above it is returned untouched (the 100 TB no-op)."""
    import __spark_entry__ as entry_mod

    narrow = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = spark.sparkContext.defaultParallelism
    assert narrow.rdd.getNumPartitions() < p
    spread = entry_mod._spread(spark, narrow)
    assert spread.rdd.getNumPartitions() == p
    wide = narrow.repartition(p * 2)
    assert entry_mod._spread(spark, wide) is wide


def test_spread_reads_plan_nodes_not_column_names(spark, tmp_path):
    """A column named like a plan node (`Joined`) does not make a
    single-row-group scan look already spread."""
    import pandas as pd

    from langid_py_spark.spark.partitioning import spread

    src = str(tmp_path / "one_group.parquet")
    pd.DataFrame({"doc_id": range(100), "Joined": ["x"] * 100}).to_parquet(src)
    narrow = spark.read.parquet(src)
    p = spark.sparkContext.defaultParallelism
    assert spread(spark, narrow).rdd.getNumPartitions() == p


def test_ivf_join_is_broadcast_equi_join(spark):
    """IVF candidates come from an equi-join on cluster_id with the tiny
    probe side broadcast — never a cartesian/nested-loop."""
    from pyspark.sql import functions as F

    from langid_py_spark.operators.similarity import fit_ivf_centroids, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = fit_ivf_centroids(emb, n_centroids=8, sample_rows=500)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    plan = _plan(ivf_topk(emb, q, cents, k=5, n_probe=2))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivf_distributed_fit_iteration_reads_cache_not_files(spark):
    """The distributed Lloyd's fit normalizes + persists the vectors ONCE;
    every iteration's stats job must read the InMemoryTableScan, not
    re-scan the parquet source n_iter times (VERDICT r03 — at 100 TB the
    repeated corpus scan, not the K x dim shuffle, dominates the fit)."""
    import numpy as np

    from langid_py_spark.operators.similarity import (
        _lloyd_stats,
        _normalized_vectors,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    nv = _normalized_vectors(emb).persist()
    try:
        nv.count()  # materialize the cache, as the fit loop's first job does
        c = np.eye(4, 64)
        plan = _plan(_lloyd_stats(nv, c))
        assert "InMemoryTableScan" in plan, plan
        # a FileScan may appear INSIDE the InMemoryRelation subtree (it
        # describes how the cache was built); the live part of the plan —
        # everything before that marker — must not touch files
        live = plan[: plan.index("InMemoryRelation")]
        assert "FileScan" not in live, plan
        # and the reduction is partial+final (map-side combine)
        assert plan.count("HashAggregate") >= 2, plan
    finally:
        nv.unpersist()


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables co-bucketed on doc_id must equi-join with ZERO
    Exchange (the persisted-co-location story for repeated big-big
    joins at 100 TB); results must equal the plain join's."""
    from langid_py_spark.spark.bucketed import bucketed_join, write_bucketed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scores = docs.selectExpr("doc_id", "n_chars * 2 AS score")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            docs.select("doc_id", "lang"), "b_docs", "doc_id", 8,
            path=str(tmp_path / "b_docs"),
        )
        write_bucketed(
            scores, "b_scores", "doc_id", 8, path=str(tmp_path / "b_scores")
        )
        joined = bucketed_join(spark, "b_docs", "b_scores", "doc_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # same rows as the un-bucketed join
        want = docs.select("doc_id", "lang").join(scores, "doc_id").count()
        assert joined.count() == want > 0
        # bucket pruning: an equality filter on the bucket key reads a
        # subset of buckets. autoBucketedScan drops the bucketed layout
        # for join-less scans (it sees no exchange to save), so pin it
        # off for this probe to surface SelectedBucketsCount.
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        pruned = _plan(spark.table("b_docs").filter(F.col("doc_id") == 7))
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
        assert "SelectedBucketsCount: 1 out of 8" in pruned, pruned
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_scores")


def test_decontamination_scan_plans(spark):
    """Both large-list decontamination paths: corpus-scale work must be
    map + BROADCAST hash join only — no cartesian, no nested loop, no
    sort-merge (which would shuffle the corpus side)."""
    from langid_py_spark.operators.contamination import (
        contamination_scan_join,
        ngram_overlap_scan,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p1 = _plan(contamination_scan_join(docs, ["the quick brown", "vector scan"], k=4))
    n1 = _plan(
        ngram_overlap_scan(docs, ["one two three four five six seven eight"], n=4)
    )
    for plan in (p1, n1):
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
    # the containment path has NO shuffle (its only Exchange is the
    # BroadcastExchange of the tiny needle dim); the overlap path's only
    # shuffle is the candidate-scale dedup
    assert "Exchange hashpartitioning" not in p1, p1
    assert p1.count("SortMergeJoin") == 0 and n1.count("SortMergeJoin") == 0


def test_cube_expands_in_one_pass(spark):
    """The grouping-sets query must plan as ONE scan + Expand — not one
    job per margin."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["lang_source_cube"](spark, "/root/testdata/sf0.001"))
    assert "Expand" in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_ngram_overlap_candidate_dedup_is_ids_only(spark):
    """VERDICT r04: the closure-path candidate dedup must shuffle only
    (doc_id, needle) — the document text joins back BY ID after the
    dedup, never riding the exchange."""
    from langid_py_spark.operators.contamination import ngram_overlap_scan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(
        ngram_overlap_scan(docs, ["one two three four five six seven eight"], n=4)
    )
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "_text" not in m.group(1), m.group(0)


def test_substring_dup_spans_plans(spark):
    """Span dedup plan shape. Exact path: pure Catalyst (NO Python
    eval), corpus-scale shuffle carries the 8-byte ghash (never the
    gram string or text); since r07 the candidate-scale VERIFY window
    partitions by (ghash, gram) so it reuses the ghash exchange with a
    partition-local sort — NO gram-keyed exchange exists anywhere
    (equal grams imply equal ghash, so the count is unchanged); merge
    reuses doc_id partitioning. Winnowed path: one scan, one anchor
    UDF, gram-keyed exchange only (anchors are pre-thinned so the gram
    string IS the join key)."""
    import re

    from langid_py_spark.operators.spandedup import (
        substring_dup_spans,
        substring_dup_spans_winnowed,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(substring_dup_spans(docs, k=30))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    ex_keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", p)
    assert sorted(k.split("#")[0] for k in ex_keys) == ["doc_id", "ghash"], ex_keys
    # the verify window itself must still exist, on the composite key
    assert re.search(r"windowspecdefinition\(ghash#\d+L?, gram#\d+", p), p
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "_t#" not in m.group(1), m.group(0)  # text never shuffles
    assert "CartesianProduct" not in p

    pw = _plan(substring_dup_spans_winnowed(docs, k=30, window=8))
    assert pw.count("ArrowEvalPython") == 1, pw
    assert pw.count("FileScan") == 1, pw
    exw = re.findall(r"Exchange hashpartitioning\(([^,)]+)", pw)
    assert sorted(k.split("#")[0] for k in exw) == ["doc_id", "gram"], exw


def test_shipping_priority_plan(spark):
    """Q3 star join: customer dim broadcast, date filters pushed to the
    parquet scans, no cartesian."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["shipping_priority"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_line_dedup_and_packing_plans(spark):
    """Line dedup: ONE corpus-scale exchange on the line hash (count +
    rank share the window partition) — the line text never rides that
    shuffle twice via a groupBy+join. Packing: the only exchange is the
    256-bucket window (plus the broadcast of the 256-row base table) —
    no global single-partition window anywhere."""
    import re

    from langid_py_spark.operators.dedup import line_dedup_drops
    from langid_py_spark.operators.packing import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(line_dedup_drops(docs))
    keys = [m.split("#")[0] for m in re.findall(
        r"Exchange hashpartitioning\(([^,)]+)", p)]
    assert keys == ["line_hash"], keys

    pk = _plan(pack_sequences(docs, budget=2048))
    pkeys = [m.split("#")[0] for m in re.findall(
        r"Exchange hashpartitioning\(([^,)]+)", pk)]
    assert pkeys == ["_bkt"], pkeys
    assert "SinglePartition" not in pk, pk
    assert "BroadcastExchange" in pk


def test_corpus_pipeline_composed_plan(spark, monkeypatch):
    """The composed seven-stage corpus pipeline (query 57): bounded
    shuffle budget end-to-end. The plan STRING re-prints nested
    InMemoryRelation subtrees at every reference, so exchanges are
    counted by unique expression id — the set that actually executes:
    one window exchange per dedup tier (doc-hash, line_hash, ghash —
    since r07 the gram VERIFY window rides the ghash exchange with a
    local sort instead of re-shuffling gram strings), the 1-byte _bkt
    pack window, and a handful of doc_id joins/rebuilds that share one
    partitioning. No cartesian, no per-row Python (the one Python
    stage is cut_spans' Arrow UDF), no single-partition collapse."""
    import re

    import __spark_entry__ as e

    persisted = []
    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    persist = frame_cls.persist
    monkeypatch.setattr(
        frame_cls,
        "persist",
        lambda d, *a: persisted.append(d.columns) or persist(d, *a),
    )
    df = e.q_corpus_pipeline(spark, "/root/testdata/sf0.001")
    p = _plan(df)
    # in-session persists: exactly the four tiers the next tier reads
    # twice (t1, t2, t3, t6); operator-internal persists carry other
    # columns. Persisting every tier measured 40-70% slower.
    tiers = [c for c in persisted if set(c) <= {"doc_id", "text", "accept_p"}]
    assert len(tiers) == 4, persisted
    uniq = {
        m for m in re.findall(r"Exchange hashpartitioning\(([^,)]+#\d+)", p)
    }
    by_key = {}
    for u in uniq:
        by_key[u.split("#")[0]] = by_key.get(u.split("#")[0], 0) + 1
    assert len(uniq) <= 10, (len(uniq), by_key)
    assert by_key.get("line_hash") == 1, by_key
    assert by_key.get("ghash") == 1, by_key
    assert "gram" not in by_key, by_key  # verify reuses the ghash exchange
    assert by_key.get("_bkt") == 1, by_key
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "SinglePartition" not in p


def test_semdedup_plan_single_cluster_shuffle(spark):
    """SemDeDup: the only corpus-scale exchange is the groupBy on
    cluster_id feeding the per-cluster kernel — assignment is a
    zero-shuffle Arrow map (centroids in the closure, no join)."""
    import re

    import numpy as np

    from langid_py_spark.operators.semdedup import semdedup_drops

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = np.eye(4, 64, dtype=np.float64)
    p = _plan(semdedup_drops(emb, cents, eps=0.9))
    keys = [m.split("#")[0] for m in re.findall(
        r"Exchange hashpartitioning\(([^,)]+)", p)]
    assert keys == ["cluster_id"], keys
    assert "BroadcastExchange" not in p, p  # no join anywhere
    assert "SinglePartition" not in p, p


def test_token_budget_sample_plan(spark):
    """Mixture builder: ONE window exchange on the uniform
    (source, md5-byte bucket) key; budgets and bucket bases arrive as
    broadcasts; no per-source single-partition window."""
    import re

    from langid_py_spark.operators.sampling import token_budget_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(token_budget_sample(docs, {"src0": 100, "src1": 200}))
    ex = [m for m in re.findall(
        r"Exchange hashpartitioning\(([^)]*)\)", p)]
    # window exchange on (source, _bkt); the totals-agg side is not part
    # of the returned plan (bounded driver pull happens at build time)
    win = [e for e in ex if "_bkt" in e]
    assert len(ex) == len(win) == 1, ex
    assert "source" in win[0] and "_bkt" in win[0], win
    assert "BroadcastExchange" in p
    assert "SinglePartition" not in p, p


def test_semdedup_salted_plan_one_corpus_shuffle_plus_broadcast(spark):
    """Salt mode keeps the shuffle budget: the sampled pre-count is a
    separate tiny job (bounded-cardinality agg), and the MAIN plan adds
    only a BroadcastExchange for the (cluster_id, n_sub) map — the one
    corpus-scale hash exchange is now keyed (cluster_id, _salt)."""
    import re

    import numpy as np

    from langid_py_spark.operators.semdedup import semdedup_drops

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = np.eye(4, 64, dtype=np.float64)
    drops = semdedup_drops(
        emb,
        cents,
        eps=0.9,
        id_col="vec_id",
        max_cluster=100,
        on_oversized="salt",
        salt_sample_denom=1,
    )
    p = _plan(drops)
    keys = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", p)
    corpus_keys = [k for k in keys if "cluster_id" in k]
    assert len(corpus_keys) == 1, keys
    assert "_salt" in corpus_keys[0], corpus_keys
    assert p.count("BroadcastExchange") == 1, p
    assert "CartesianProduct" not in p
