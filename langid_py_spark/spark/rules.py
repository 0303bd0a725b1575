"""Gopher/C4-style heuristic keep/drop rules as PURE Catalyst expressions.

No UDFs anywhere in this module (SURVEY.md §2.2 P3): every rule is a
`pyspark.sql.functions` column expression, so the whole rule block stays
inside WholeStageCodegen and costs one pass over the text column. Each
rule emits its own boolean column (explainability / lineage) plus the
combined `keep_heuristic`.

`duckdb_rule_sql()` emits the EXACT same semantics as ANSI SQL for the
DuckDB oracle (driver correctness gate), built from the same constants in
``langid_py_spark.config``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from langid_py_spark import config as C

# A run of non-letters: the complement of C.ALPHA_PATTERN (Java's \P{L}).
_NON_ALPHA_RUN = r"\P{L}+"
# At least MIN_WORDS non-ws runs, matched from the start of the text:
# anchored, so a failed match costs one linear scan.
_MIN_WORD_RUNS = (
    f"^({C.WS_RUN_PATTERN})?"
    f"({C.WORD_RUN_PATTERN}{C.WS_RUN_PATTERN}){{{C.MIN_WORDS - 1}}}{C.NON_WS_CLASS}"
)


def count_chars(text: Column, other_run: str) -> Column:
    """Chars of `text` left after deleting every match of `other_run`, a
    run of the complement of the class to count.

    Same value as regexp_count(text, <class>): both count code points of
    the decoded string, and the replace result is re-encoded as valid
    UTF-8, so they agree on invalid input too. regexp_count is rewritten
    to size(regexp_extract_all(...)), one UTF8String per matched char;
    this builds one string per row. It pays off for a class most chars
    fall in: letters over 40k transcript turns, 0.34 s -> 0.15 s. For a
    sparse class (digits, newlines) it measured 2-25% slower.
    """
    return F.length(F.regexp_replace(text, other_run, ""))


def n_words_expr(text: Column) -> Column:
    """Non-whitespace runs + CJK chars (each CJK char counts as one word).

    Non-ws runs instead of trim+split: trim/strip whitespace sets differ
    between Spark, DuckDB and Python; the explicit ``C.WORD_RUN_PATTERN``
    class does not (\\S would — RE2's \\s excludes \\x0B, ADVICE r05).
    """
    return F.regexp_count(text, F.lit(C.WORD_RUN_PATTERN)) + F.regexp_count(
        text, F.lit(C.CJK_CHAR_PATTERN)
    )


def rule_columns(text: Column) -> dict[str, Column]:
    """name -> boolean Column; True means the rule TRIPS (drop signal)."""
    t = F.coalesce(text, F.lit(""))
    n_chars = F.length(t)
    n_alpha = count_chars(t, _NON_ALPHA_RUN)
    n_digit = F.regexp_count(t, F.lit(C.DIGIT_PATTERN))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_distinct_lines = F.size(F.array_distinct(lines))
    return {
        # rlike short-circuits at the first non-ws; regexp_count scans all
        "r_empty": ~t.rlike(C.NON_WS_CLASS),
        # MIN_WORDS non-ws runs already make enough words: the exact
        # count (which collects every word) runs only on shorter texts
        "r_too_short": ~t.rlike(_MIN_WORD_RUNS) & (n_words_expr(t) < C.MIN_WORDS),
        "r_too_long": n_chars > C.MAX_CHARS,
        # CJK→space (positive class, fast) then fixed non-ws window
        # (codegen, no HOF, no negated-unicode class — see config.py).
        # The same window on the raw text comes first: turning CJK into
        # spaces only splits runs, so it is a necessary condition, and
        # it spares the replace on nearly every row.
        "r_long_word": t.rlike(C.LONG_WORD_RUN_PATTERN)
        & F.regexp_replace(t, C.CJK_CHAR_PATTERN, " ").rlike(
            C.LONG_WORD_RUN_PATTERN
        ),
        "r_non_alpha": (n_chars > 0)
        & (n_alpha < C.MIN_ALPHA_RATIO * n_chars.cast("double")),
        "r_digit_heavy": (n_chars > 0)
        & (n_digit > C.MAX_DIGIT_RATIO * n_chars.cast("double")),
        "r_dup_lines": (n_lines >= C.MIN_LINES)
        & (
            n_distinct_lines.cast("double")
            < C.MIN_DISTINCT_LINE_RATIO * n_lines.cast("double")
        ),
    }


def with_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach all rule columns + keep_heuristic."""
    cols = rule_columns(F.col(text_col))
    for name, c in cols.items():
        df = df.withColumn(name, c)
    keep = F.lit(True)
    for name in C.RULE_NAMES:
        keep = keep & ~F.col(name)
    return df.withColumn("keep_heuristic", keep)


# ----------------------------------------------------------------- oracle
def duckdb_rule_sql(text_expr: str = "text") -> dict[str, str]:
    """Same rules as DuckDB SQL snippets (RE2 dialect — patterns chosen to
    mean the same thing there; see config.py docstring)."""
    t = f"coalesce({text_expr}, '')"
    n_chars = f"length({t})"
    n_alpha = f"len(regexp_extract_all({t}, '\\p{{L}}'))"
    n_digit = f"len(regexp_extract_all({t}, '[0-9]'))"
    n_ws_words = f"len(regexp_extract_all({t}, '{C.WORD_RUN_PATTERN}'))"
    n_cjk = f"len(regexp_extract_all({t}, '{C.CJK_CHAR_PATTERN}'))"
    n_words = f"({n_ws_words} + {n_cjk})"
    lines = f"string_split({t}, chr(10))"
    n_lines = f"len({lines})"
    n_dlines = f"len(list_distinct({lines}))"
    return {
        "r_empty": f"(NOT regexp_matches({t}, '{C.NON_WS_CLASS}'))",
        "r_too_short": f"({n_words} < {C.MIN_WORDS})",
        "r_too_long": f"({n_chars} > {C.MAX_CHARS})",
        "r_long_word": (
            f"regexp_matches(regexp_replace({t}, '{C.CJK_CHAR_PATTERN}', ' ', 'g'), "
            f"'{C.LONG_WORD_RUN_PATTERN}')"
        ),
        "r_non_alpha": f"({n_chars} > 0 AND {n_alpha} < {C.MIN_ALPHA_RATIO} * {n_chars})",
        "r_digit_heavy": f"({n_chars} > 0 AND {n_digit} > {C.MAX_DIGIT_RATIO} * {n_chars})",
        "r_dup_lines": (
            f"({n_lines} >= {C.MIN_LINES} AND "
            f"{n_dlines} < {C.MIN_DISTINCT_LINE_RATIO} * {n_lines})"
        ),
    }


def python_rule_oracle(text: str | None) -> dict[str, bool]:
    """Single-process oracle with identical semantics (golden-label path)."""
    import re

    t = text or ""
    n_chars = len(t)
    n_alpha = sum(ch.isalpha() for ch in t)  # == \p{L} (categories Lu..Lo)
    n_digit = sum("0" <= ch <= "9" for ch in t)
    ws_words = len(re.findall(C.WORD_RUN_PATTERN, t))
    n_cjk = len(re.findall(C.CJK_CHAR_PATTERN, t))
    n_words = ws_words + n_cjk
    lines = t.split("\n")
    out = {
        "r_empty": ws_words == 0,
        "r_too_short": n_words < C.MIN_WORDS,
        "r_too_long": n_chars > C.MAX_CHARS,
        "r_long_word": re.search(
            C.LONG_WORD_RUN_PATTERN, re.sub(C.CJK_CHAR_PATTERN, " ", t)
        )
        is not None,
        "r_non_alpha": n_chars > 0 and n_alpha < C.MIN_ALPHA_RATIO * n_chars,
        "r_digit_heavy": n_chars > 0 and n_digit > C.MAX_DIGIT_RATIO * n_chars,
        "r_dup_lines": len(lines) >= C.MIN_LINES
        and len(set(lines)) < C.MIN_DISTINCT_LINE_RATIO * len(lines),
    }
    out["keep_heuristic"] = not any(out[n] for n in C.RULE_NAMES)
    return out
