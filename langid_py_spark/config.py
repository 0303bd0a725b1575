"""Frozen pipeline configuration — single source of truth for thresholds
and regex patterns shared by the Spark operators (Catalyst expressions),
the DuckDB oracle SQL, and the single-process Python oracle.

Patterns are restricted to the common dialect subset of Java regex
(Spark), RE2 (DuckDB), and Python ``re`` — no lookaround, no backrefs,
``[0-9]`` instead of ``\\d`` (Python's ``\\d`` is Unicode), real Unicode
chars instead of ``\\x{...}`` — so one string means one semantics in all
three engines (SURVEY.md §7 "Hard parts" #3).
"""

from __future__ import annotations

# ------------------------------------------------------------------ rules
MIN_WORDS = 3  # r_too_short
MAX_CHARS = 20000  # r_too_long
MAX_WORD_LEN = 60  # r_long_word (non-CJK runs)
MIN_ALPHA_RATIO = 0.5  # r_non_alpha
MAX_DIGIT_RATIO = 0.30  # r_digit_heavy
MIN_DISTINCT_LINE_RATIO = 0.5  # r_dup_lines (only when >= MIN_LINES lines)
MIN_LINES = 5
MIN_LANG_CONF = 0.30  # r_low_conf (on softmax-normalized confidence)
MAX_PERPLEXITY = 5000.0  # r_high_ppl (byte-trigram LM)

# CJK chars count as words (whitespace tokenization undercounts zh/ja/ko)
CJK_RANGE = "一-鿿぀-ヿ가-힯"
CJK_CHAR_PATTERN = f"[{CJK_RANGE}]"
# Explicit ASCII whitespace class instead of \s / \S: Java's \s is
# [ \t\n\x0B\f\r]; RE2's \s is [\t\n\f\r ] (EXCLUDES \x0B — so RE2's \S
# counts a vertical tab as a word char where Java's doesn't); Python's
# unicode \s additionally swallows \xa0/ /…. The explicit class
# below is the ONE spelling that means the same character set in all
# three engines (\xhh two-digit escapes are interpreted identically by
# Java regex, RE2, and Python re — unlike \x{...}, which Python rejects).
# For Spark the class is semantically IDENTICAL to Java's \S (same five
# chars), so swapping it in changes no Spark-side value — it only fixes
# the RE2 side of each oracle pair (ADVICE r05).
NON_WS_CLASS = r"[^ \t\n\f\r\x0b]"
WORD_RUN_PATTERN = NON_WS_CLASS + "+"  # the \S+ replacement, all engines
WS_RUN_PATTERN = r"[ \t\n\f\r\x0b]+"  # the \s+ replacement, all engines
# Long-word rule: "a run of >MAX_WORD_LEN consecutive non-space non-CJK
# chars exists". Evaluated as: replace CJK chars with a space (POSITIVE
# unicode class — fast in Java regex), then search a fixed-width non-ws
# window. Measured: a NEGATED class containing CJK ranges
# ([^\s一-...]{61}) is ~40x slower in Java regex than a short ASCII-only
# class (loses the class fast path), and the split+transform alternative
# is a HigherOrderFunction → CodegenFallback → drags the whole fused
# Project into interpreted, GC-bound evaluation that stops scaling past
# ~8 threads. The explicit five-char negated class keeps the fast path
# (re-benched r06: rules row unchanged vs \S{61}).
LONG_WORD_RUN_PATTERN = f"{NON_WS_CLASS}{{{MAX_WORD_LEN + 1}}}"
ALPHA_PATTERN = r"\p{L}"  # Java + RE2; Python oracle uses str.isalpha()
DIGIT_PATTERN = "[0-9]"

RULE_NAMES = [
    "r_empty",
    "r_too_short",
    "r_too_long",
    "r_long_word",
    "r_non_alpha",
    "r_digit_heavy",
    "r_dup_lines",
]

# ------------------------------------------------------------------ scrub
# Ordered, frozen. Applied sequentially; output of rule i feeds rule i+1.
# Deterministic and byte-exact across engines by construction.
SCRUB_RULES: list[tuple[str, str, str]] = [
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ipv4",
        r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
        r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}",
        "<IP>",
    ),
    (
        "card",
        r"[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}|[0-9]{16}",
        "<CARD>",
    ),
    (
        "phone",
        r"\+[0-9]{1,3}[ -]?\(?[0-9]{2,4}\)?([ -]?[0-9]{2,4}){2,3}",
        "<PHONE>",
    ),
    (
        "ssn",
        r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
        "<SSN>",
    ),
]

# tiny demo toxicity list (placeholder lexicon; the operator is the point)
TOX_WORDS = ["frick", "darnit", "heckface"]
TOX_PATTERN = "(?i)(" + "|".join(TOX_WORDS) + ")"
TOX_REPLACEMENT = "<TOX>"

# ------------------------------------------------------------ vote / output
VOTE_SALT_BUCKETS = 16  # two-stage salted conversation-language vote
LANG_BUCKETS = 8  # output partitioning: pmod(hash(lang), LANG_BUCKETS)
SCORE_MAX_BYTES = 4096  # per-turn scoring byte cap (cost bound at 100 TB)
