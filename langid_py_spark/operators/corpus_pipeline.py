"""Composed end-to-end corpus pipeline — the full training-data DAG a
real user runs between raw documents and the trainer, chained from the
engine's verified tiers (VERDICT r05 'What's missing' #2: every tier
was green in isolation; nothing pinned the cross-tier column contracts
end-to-end):

    documents
      → exact doc dedup           (survivors: lowest id per md5(text))
      → C4 line-level dedup       (non-first duplicated lines spliced out)
      → exact substring span cut  (Lee 2021 duplicated-span removal, k=30)
      → decontamination           (drop docs containing any needle)
      → heuristic keep/drop rules (Gopher/C4 tier)
      → classifier importance sampling (GPT-3 App. A)
      → sequence packing          (concat-then-chunk into budget-token bins)

The output row (doc_id, text_md5, accept_p, n_tokens, start_offset,
bin_id) deliberately pins EVERYTHING: text_md5 pins the byte-exact
composition of the three text-rewriting tiers; accept_p pins the
classifier features on the rewritten text; the pack offsets pin the
token counts AND the survivor set — one row dropped or one byte changed
anywhere upstream shifts every downstream offset.

The perplexity tier is part of the flagship transcripts pipeline
(spark/pipeline.py, golden-pinned); it is left out of THIS composition
so the oracle stays a single chained-CTE DuckDB statement with zero
golden dependence — every stage below is the composition of the
existing independently-verified SQL twins.

Scale story: the chain inherits each tier's plan — hash-window exact
dedup, guarded line/span windows (hot keys routed around the sorts),
broadcast needle join (no shuffle), codegen rules + classifier (fused
into one map), two-level prefix-sum pack (one uniform 1-byte-key window
+ a 256-row driver pull). Total corpus-scale shuffles are bounded and
asserted in tests/test_plans.py; there is no cartesian and no per-row
Python anywhere (cut_spans' Arrow UDF is the one Python stage, bounded
per doc).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from langid_py_spark import config as C
from langid_py_spark.operators import contamination, dedup, packing, spandedup
from langid_py_spark.operators import quality_classifier as qclf
from langid_py_spark.spark import rules as rules_mod
from langid_py_spark.spark.caching import released
from langid_py_spark.spark.manifest import resume_manifest, write_manifest

Tier = tuple[str, Callable[[DataFrame], DataFrame]]


def _tiers(
    needles: list[str], k_span: int, budget: int, salt: str, floor: float, id_col: str
) -> list[Tier]:
    """The seven-tier chain, in order: (table name, tier body). Every
    body maps the previous tier's (doc_id, text) frame to its own output;
    t6 adds accept_p and t7 is the packed result. Bodies are only called
    when their tier is built, so a skipped (resumed) tier never runs its
    plan-time jobs (the line/span guards' pre-counts)."""

    def spancut(d: DataFrame) -> DataFrame:
        spans = spandedup.substring_dup_spans(d, k=k_span, id_col=id_col)
        return spandedup.cut_spans(d, spans, "text", id_col)

    def decontam(d: DataFrame) -> DataFrame:
        hits = (
            contamination.contamination_scan_join(d, needles, id_col=id_col)
            .select(id_col)
            .distinct()
        )
        # broadcast the hit list (r07): contaminated-doc ids are few by
        # construction (decontam drop rate), and a shuffled anti-join here
        # re-partitions the WHOLE corpus by id — worse, AQE coalesces that
        # small-looking shuffle to ~1 partition, serializing the rules +
        # classifier regex tiers downstream (measured sf1: the t4-6 block
        # went 5.0 s -> see OPTIMIZATION_r07.md). The broadcast keeps the
        # input's partitioning flowing straight through t5/t6 — the
        # "corpus never shuffles for decontamination" story now holds for
        # the anti-join too, matching contamination_scan_join itself.
        return d.join(F.broadcast(hits), id_col, "left_anti")

    def keep_rules(d: DataFrame) -> DataFrame:
        return rules_mod.with_rules(d, "text").filter("keep_heuristic").select(
            id_col, "text"
        )

    def clf_sample(d: DataFrame) -> DataFrame:
        return qclf.classifier_importance_sample(
            d, id_col=id_col, salt=salt, floor=floor
        )

    def pack(d: DataFrame) -> DataFrame:
        packed = packing.pack_sequences(
            d, budget=budget, text_col="text", id_col=id_col, salt=salt
        )
        meta = d.select(
            F.col(id_col),
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_md5"),
            "accept_p",
        )
        return packed.join(meta, id_col).select(
            id_col, "text_md5", "accept_p", "n_tokens", "start_offset", "bin_id"
        )

    return [
        ("t1_exact", lambda d: dedup.exact_dedup_keep(d, "text", id_col)),
        ("t2_linededup", lambda d: dedup.line_dedup_keep(d, "text", id_col)),
        ("t3_spancut", spancut),
        ("t4_decontam", decontam),
        ("t5_rules", keep_rules),
        ("t6_clfsample", clf_sample),
        ("t7_pack", pack),
    ]


_TIER_NAMES = [name for name, _ in _tiers([], 30, 512, "s42", 0.02, "doc_id")]

# Tiers whose output the NEXT tier reads twice: line dedup's drops +
# rebuild (t1), span detect + cut (t2), decontam hits + anti-join (t3),
# pack + text_md5/accept_p meta (t6). Without a materialization point
# Catalyst re-expands the ENTIRE upstream lineage per consumer —
# measured 185 exchanges (~8 copies of the line-dedup window subtree)
# vs 31 with these persists. Persisting the other tiers as well made
# the in-session chain 40-70% slower (sf0.1, 4 cores).
_PERSISTED = {"t1_exact", "t2_linededup", "t3_spancut", "t6_clfsample"}


def corpus_pipeline(
    df: DataFrame,
    needles: list[str],
    k_span: int = 30,
    budget: int = 512,
    salt: str = "s42",
    floor: float = 0.02,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, text_md5, accept_p, n_tokens, start_offset, bin_id) —
    the packed training-ready corpus after all filter tiers, built
    in-session. The re-read tier boundaries (_PERSISTED) are persisted:
    a real 100 TB run writes a table per tier (run_corpus_pipeline,
    the bronze/silver/gold layout run_pipeline uses for transcripts);
    persist is the in-session equivalent, LRU-evicted."""
    from pyspark import StorageLevel

    d = df.select(F.col(id_col), F.col(text_col).alias("text"))
    for name, body in _tiers(needles, k_span, budget, salt, floor, id_col):
        d = body(d)
        if name in _PERSISTED:
            d = d.persist(StorageLevel.MEMORY_AND_DISK)
    return d


def run_corpus_pipeline(
    spark,
    df: DataFrame,
    out_dir: str,
    needles: list[str],
    k_span: int = 30,
    budget: int = 512,
    salt: str = "s42",
    floor: float = 0.02,
    text_col: str = "text",
    id_col: str = "doc_id",
    resume: bool = True,
) -> DataFrame:
    """The production form of corpus_pipeline: each tier WRITES A TABLE
    (parquet dir under out_dir) and the next tier reads it back — the
    bronze/silver/gold layout the in-session persists stand in for.
    This buys three things the persists cannot:

    * per-tier RESUME — a manifest (_manifest.json, spark/manifest.py)
      records completed tiers + a parameter fingerprint; a re-run skips
      completed tiers entirely (their files are never touched) and
      recomputes only from the first missing tier;
    * lineage truncation — every tier plan starts from a fresh scan,
      so no nested-InMemoryRelation growth and no recompute-on-evict;
      the frames a tier's operators persist internally (line dedup's
      lines, pack's bucket base) are released after its write, so a
      run leaves no cached frame behind;
    * inspectable intermediates — each tier's output is a real table
      (row counts, sampling, debugging between tiers).

    The fingerprint guards stale resumes: resuming with different
    needles/k/budget/salt/floor — or against a different INPUT (the
    input identity is the sorted file list plus the canonical plan's
    md5; review r06: a params-only fingerprint would happily resume
    v2.parquet against v1's tiers) — raises with instructions, and so
    does resuming a frame that reads no files; pass resume=False to
    rebuild. Returns the final packed DataFrame read from t7_pack.
    """
    import os

    params = [sorted(needles), k_span, budget, salt, floor, text_col, id_col]
    manifest = resume_manifest(out_dir, df, params, resume)
    completed = manifest.setdefault("completed_tiers", [])

    d = df.select(F.col(id_col), F.col(text_col).alias("text"))
    for name, body in _tiers(needles, k_span, budget, salt, floor, id_col):
        path = os.path.join(out_dir, name)
        if name not in completed:
            with released():  # the tier's operator-internal persists
                body(d).write.mode("overwrite").parquet(path)
            completed.append(name)
            write_manifest(out_dir, manifest)
        d = spark.read.parquet(path)
    return d


def corpus_pipeline_oracle_sql(
    needles: list[str],
    table: str = "documents",
    k_span: int = 30,
    budget: int = 512,
    salt: str = "s42",
    floor: float = 0.02,
    id_col: str = "doc_id",
) -> str:
    """The chained-CTE DuckDB twin: each stage is the existing
    independently-formulated oracle of that tier, nested as a derived
    table of the next — a fully SQL-expressible end-to-end check."""
    surv = f"""(
        SELECT {id_col}, text FROM (
            SELECT {id_col}, text, row_number() OVER (
                PARTITION BY md5(coalesce(text, '')) ORDER BY {id_col} ASC
            ) AS rn FROM {table}
        ) WHERE rn = 1
    )"""
    l2 = "(" + dedup.line_dedup_keep_oracle_sql(table=surv, id_col=id_col) + ")"
    l3 = "(" + spandedup.cut_spans_oracle_sql(k=k_span, table=l2, id_col=id_col) + ")"
    vals = ", ".join("('" + n.replace("'", "''") + "')" for n in needles)
    dec = f"""(
        SELECT {id_col}, text FROM {l3} t
        WHERE NOT EXISTS (
            SELECT 1 FROM (VALUES {vals}) AS n(needle)
            WHERE instr(t.text, n.needle) > 0
        )
    )"""
    rules = rules_mod.duckdb_rule_sql("text")
    keep = " AND ".join(f"NOT {rules[n]}" for n in C.RULE_NAMES)
    kept = f"(SELECT {id_col}, text FROM {dec} WHERE {keep})"
    samp = (
        "("
        + qclf.classifier_importance_sample_oracle_sql(
            table=kept, cols=[id_col, "text"], id_col=id_col, salt=salt, floor=floor
        )
        + ")"
    )
    pack = (
        "("
        + packing.pack_sequences_oracle_sql(
            budget=budget, table=samp, id_col=id_col, salt=salt
        )
        + ")"
    )
    return f"""
    SELECT p.{id_col}, s.text_md5, s.accept_p,
           p.n_tokens, p.start_offset, p.bin_id
    FROM {pack} p
    JOIN (
        SELECT {id_col}, md5(coalesce(text, '')) AS text_md5, accept_p
        FROM {samp}
    ) s USING ({id_col})
    """
