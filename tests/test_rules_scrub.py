"""Three-engine parity: Spark Catalyst exprs == DuckDB oracle SQL ==
Python golden oracle, for heuristic rules and the scrub chain, over the
full fixture plus adversarial strings (SURVEY.md §7 hard part #3)."""

import duckdb
import pandas as pd
import pytest

from langid_py_spark import config as C
from langid_py_spark.spark.rules import (
    _NON_ALPHA_RUN,
    count_chars,
    duckdb_rule_sql,
    python_rule_oracle,
    with_rules,
)
from langid_py_spark.spark.scrub import (
    duckdb_scrub_sql,
    python_scrub_oracle,
    with_scrubbed,
)

ADVERSARIAL = [
    "",
    "   ",
    "\t\n",
    "a@b.co and c.d@e-f.org!",
    "ip 1.2.3.4 and 255.255.255.255 and 999.1.1.1",
    "4111 1111 1111 1234 or 4111111111111111",
    "+1 (555) 123-4567, +49 30 901820",
    "123-45-6789 ssn",
    "x" * 25000,
    "word " + "Q" * 70,
    "line\nline\nline\nline\nline\nline",
    "FRICK you darnIt heckface!",
    "混合 mixed 中文 and english 文本 here",
    "日本語のテキストです。これはテストです。",
    "1 2 3 4 5 6 7 8 9 10 11 12",
    "<EMAIL> already scrubbed a@b.com",
    # \x0B probes (ADVICE r05): bare \S/\s diverge between Java (ws)
    # and RE2 (non-ws) exactly on vertical tab — these pin the explicit
    # C.NON_WS_CLASS spelling in r_empty / n_words / long-word
    "\x0b",
    "\x0b \x0b \x0b",
    "one\x0btwo three",
    "q" * 40 + "\x0b" + "q" * 40,  # \x0b must BREAK the long-word run 3-ways
    # one branch each of scrub_expr's trigger guards and the rules'
    # letter count / long-word precheck
    "write a1@b2.co now",  # the only digits sit inside the email
    "a1@b2.co 1.2.3.4",
    "mail me @ home or x@y, 5 pm",  # an @ with no valid email
    "c++ and a+b or +x",  # a + with no digit
    "𝒜𝒷𝒸 abc",  # supplementary-plane letters
    "e\u0301te caf\u0065\u0301",  # combining marks are not \p{L}
    "q" * 40 + "中文" + "q" * 40,  # 82 non-ws chars, split by CJK
    "q" * 61 + "中" + "q" * 3,  # a single CJK char; a 61-char run remains
    "two words",  # r_too_short's three-run precheck fails: exact count
    " \t three short words ",  # leading whitespace before the three runs
    "中 文",  # two runs, but four words with the CJK chars
]


@pytest.fixture(scope="module")
def scored(spark, fixture_path) -> pd.DataFrame:
    df = spark.read.parquet(fixture_path)
    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["zz"] * len(ADVERSARIAL),
                "turn_idx": range(len(ADVERSARIAL)),
                "role": ["user"] * len(ADVERSARIAL),
                "text": ADVERSARIAL,
                "tool": [None] * len(ADVERSARIAL),
                "ts": [pd.Timestamp("2026-01-01")] * len(ADVERSARIAL),
            }
        )
    )
    df = df.select(*extra.columns).unionByName(extra)
    return (
        with_scrubbed(with_rules(df), "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_spark_equals_duckdb(scored):
    con = duckdb.connect()
    con.register("t", scored[["conv_id", "turn_idx", "text"]])
    rs = duckdb_rule_sql("text")
    sql = (
        "SELECT conv_id, turn_idx, "
        + ", ".join(f"{v} AS {k}" for k, v in rs.items())
        + f", {duckdb_scrub_sql('text')} AS scrubbed_text FROM t "
        "ORDER BY conv_id, turn_idx"
    )
    ddf = con.execute(sql).fetchdf().reset_index(drop=True)
    for col in [*rs.keys(), "scrubbed_text"]:
        mism = (scored[col].values != ddf[col].values).sum()
        assert mism == 0, f"{col}: {mism} spark-vs-duckdb mismatches"


def test_spark_equals_python_oracle(scored):
    for _, row in scored.iterrows():
        po = python_rule_oracle(row["text"])
        for k in C.RULE_NAMES + ["keep_heuristic"]:
            assert bool(row[k]) == po[k], (k, row["text"][:100])
        assert python_scrub_oracle(row["text"]) == row["scrubbed_text"], row["text"][:100]


def test_scrub_behavior():
    assert python_scrub_oracle("mail a.b@c.de now") == "mail <EMAIL> now"
    assert python_scrub_oracle("at 10.1.2.3.") == "at <IP>."
    assert python_scrub_oracle("4111 1111 1111 1111") == "<CARD>"
    assert python_scrub_oracle("call +49 30 901820") == "call <PHONE>"
    assert python_scrub_oracle("ssn 123-45-6789") == "ssn <SSN>"
    assert python_scrub_oracle("oh FRICK") == "oh <TOX>"
    # idempotence on already-scrubbed output
    for s in ADVERSARIAL:
        once = python_scrub_oracle(s)
        assert python_scrub_oracle(once) == once


def test_scrub_never_increases_pii_hits():
    import re

    pats = [re.compile(p) for _n, p, _r in C.SCRUB_RULES]
    for s in ADVERSARIAL:
        out = python_scrub_oracle(s)
        for rx in pats:
            assert len(rx.findall(out)) <= len(rx.findall(s))


def test_rules_and_scrub_are_codegen_only(spark, fixture_path):
    """No BatchEvalPython / ArrowEvalPython in the rules+scrub plan."""
    df = with_scrubbed(with_rules(spark.read.parquet(fixture_path)), "text")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_letter_count_equals_regexp_count(spark):
    """The rules count letters as length(regexp_replace(t, \\P{L}+, ''));
    it must equal regexp_count(t, \\p{L}) on every row, NULL and invalid
    UTF-8 included (both decode the same way)."""
    from pyspark.sql import functions as F

    rows = [(bytearray(s.encode()),) for s in ADVERSARIAL]
    rows += [(None,), (bytearray(b"ab\xe2\x82cd \xff\xfe\xc3\xa9x"),)]
    df = spark.createDataFrame(rows, "b binary").selectExpr("cast(b as string) t")
    got = df.select(
        count_chars(F.col("t"), _NON_ALPHA_RUN).alias("new"),
        F.regexp_count(F.col("t"), F.lit(C.ALPHA_PATTERN)).alias("old"),
    ).collect()
    assert len(got) == len(rows)
    assert [r.new for r in got] == [r.old for r in got]
    assert got[-2].new is None and got[-1].new > 0
