"""Deterministic PII/toxicity scrubbing as a Catalyst regexp_replace chain.

Ordered rule list frozen in ``config.SCRUB_RULES`` — rule i's output feeds
rule i+1, so the transformation is a pure function of the input string and
byte-exact reproducible (BASELINE.json::north_star). All patterns live in
the Java-regex ∩ RE2 ∩ Python-re common dialect (config.py docstring), so
the Spark column expression, the DuckDB oracle SQL, and the Python golden
oracle are the SAME function — verified on the full fixture in
tests/test_rules_scrub.py.

Catalyst-native (`regexp_replace`), zero UDFs: the whole chain runs inside
WholeStageCodegen. A rule only runs on text that holds its trigger
character: `email` needs an `@` and the digit rules (ipv4, card, phone,
ssn) a `[0-9]`; a text without it is returned as is, which is what the
rule would return. The digit test reads the ORIGINAL text, which is
exact because `<EMAIL>` adds no digit. One guard for the whole digit
run, not a CASE WHEN per rule: nested guards grew the generated method
past HotSpot's 8,000-byte JIT limit (ROADMAP D5).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from langid_py_spark import config as C

_ALL_RULES: list[tuple[str, str, str]] = list(C.SCRUB_RULES) + [
    ("tox", C.TOX_PATTERN, C.TOX_REPLACEMENT)
]


# The rules that need an ASCII digit; scrub_expr's guards rely on this order.
_DIGIT_RULES = ("ipv4", "card", "phone", "ssn")
_BY_NAME = {name: (pat, repl) for name, pat, repl in _ALL_RULES}
assert list(_BY_NAME) == ["email", *_DIGIT_RULES, "tox"], list(_BY_NAME)


def scrub_expr(text: Column) -> Column:
    """text -> scrubbed text (chained regexp_replace, frozen order)."""
    t = F.coalesce(text, F.lit(""))

    def apply(out: Column, name: str) -> Column:
        return F.regexp_replace(out, *_BY_NAME[name])

    out = F.when(F.instr(t, "@") > 0, apply(t, "email")).otherwise(t)
    digits = out
    for name in _DIGIT_RULES:
        digits = apply(digits, name)
    out = F.when(t.rlike(C.DIGIT_PATTERN), digits).otherwise(out)
    return apply(out, "tox")


def with_scrubbed(df: DataFrame, text_col: str = "text", out_col: str = "scrubbed_text") -> DataFrame:
    return df.withColumn(out_col, scrub_expr(F.col(text_col)))


def duckdb_scrub_sql(text_expr: str = "text") -> str:
    """Equivalent DuckDB expression (regexp_replace with 'g' = replace-all,
    matching Spark's replace-all default)."""
    out = f"coalesce({text_expr}, '')"
    for _name, pat, repl in _ALL_RULES:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    return out


_COMPILED = [(re.compile(pat), repl) for _n, pat, repl in _ALL_RULES]


def python_scrub_oracle(text: str | None) -> str:
    """Single-process golden oracle — same ordered chain via Python re."""
    out = text or ""
    for rx, repl in _COMPILED:
        out = rx.sub(repl, out)
    return out
