"""Deterministic synthetic transcript fixture (FIXTURES.md F1).

Schema = BASELINE.json::input_hint (authoritative):
  (conv_id string, turn_idx int32, role string, text string,
   tool string, ts timestamp)

Content mixture per FIXTURES.md F1: clean prose in model-covered
languages; quality-rule trip cases (empty / stubs / non-alpha /
digit-heavy / repeated lines / giant words); PII-bearing turns (email,
+phone, IPv4, 16-digit card, SSN); JSON/stack-trace tool outputs; mixed-
language turns. ~1% mega-conversations with 100x the median turn count
exercise the salted vote. Everything derives from numpy RandomState
seeded by (42, conv index), so any sf regenerates byte-identically —
including on executors.

Generation itself is DISTRIBUTED for large sf: conv ids are a range
DataFrame, a mapInPandas batch-generates turns per conv (each conv's rng
is seeded by its id alone — order-independent, partition-count-
independent). Cached as parquet under .cache/transcripts/sf{X}/.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd

from langid_py_spark.core.corpora import LANGS, WORDS, make_doc, make_sentence

# languages present in transcripts (weighted toward en)
_FIX_LANGS = ["en", "en", "en", "de", "fr", "es", "it", "pt", "ru", "zh", "ja", "nl"]
_TOOLS = ["search", "python", "browser", "calculator"]

_SEED = 42
TURNS_PER_SF = 1_000_000  # sf0.001 → ~1000 turns (TESTDATA.md scale points)
MEGA_FRACTION = 0.01
MEDIAN_TURNS = 8
MEGA_TURNS = 800  # 100x median

_PII_SNIPPETS = [
    "contact me at {w}.{w2}@example-{w3}.com please",
    "call +1 (555) 123-4567 or +49 30 901820 now",
    "server at 192.168.{a}.{b} and 10.0.{a}.{c} rebooted",
    "card 4111 1111 1111 {d4} expires soon",
    "card number 41111111111111{d2} leaked",
    "ssn is {d3}-{d2}-{d4} on file",
]

_BOILER = "Please see the attached document for details."


def _conv_rng(conv_i: int) -> np.random.RandomState:
    return np.random.RandomState((_SEED * 1_000_003 + conv_i) % (2**31 - 1))


def _gen_turn_text(rng: np.random.RandomState, lang: str, role: str) -> str:
    kind = rng.rand()
    if role == "tool":
        if rng.rand() < 0.5:
            payload = {
                "status": "ok",
                "results": int(rng.randint(0, 50)),
                "query": make_sentence(rng, "en", 3),
            }
            return json.dumps(payload)
        return (
            'Traceback (most recent call last):\n  File "main.py", line '
            f"{rng.randint(1, 500)}, in <module>\n    run()\nValueError: "
            f"bad value {rng.randint(0, 9999)}"
        )
    if kind < 0.62:  # clean prose
        return make_doc(rng, lang, int(rng.randint(1, 4)))
    if kind < 0.70:  # PII embedded mid-sentence
        words = WORDS["en"]
        tpl = _PII_SNIPPETS[rng.randint(0, len(_PII_SNIPPETS))]
        pii = tpl.format(
            w=words[rng.randint(0, len(words))],
            w2=words[rng.randint(0, len(words))],
            w3=words[rng.randint(0, len(words))],
            a=rng.randint(0, 256),
            b=rng.randint(0, 256),
            c=rng.randint(0, 256),
            d2=f"{rng.randint(0, 100):02d}",
            d3=f"{rng.randint(0, 1000):03d}",
            d4=f"{rng.randint(0, 10000):04d}",
        )
        return make_sentence(rng, lang, 5) + " " + pii
    if kind < 0.76:  # too-short stub
        return ["ok", "yes!", "+1", "k", "", "   ", "??"][rng.randint(0, 7)]
    if kind < 0.81:  # digit/symbol heavy
        return " ".join(str(rng.randint(0, 10**9)) for _ in range(rng.randint(3, 9)))
    if kind < 0.86:  # repeated-line boilerplate
        return "\n".join([_BOILER] * int(rng.randint(5, 12)))
    if kind < 0.90:  # giant token (base64-ish)
        return "payload: " + "QmFzZTY0" * 12
    if kind < 0.95:  # mixed-language code-switching
        l2 = _FIX_LANGS[rng.randint(0, len(_FIX_LANGS))]
        return make_sentence(rng, lang, 8) + " " + make_sentence(rng, l2, 8)
    # long clean doc
    return make_doc(rng, lang, int(rng.randint(6, 12)))


def gen_conversation(conv_i: int, mega: bool) -> pd.DataFrame:
    rng = _conv_rng(conv_i)
    n_turns = int(rng.randint(MEGA_TURNS, MEGA_TURNS * 2)) if mega else int(
        rng.randint(2, MEDIAN_TURNS * 2)
    )
    lang = _FIX_LANGS[rng.randint(0, len(_FIX_LANGS))]
    conv_id = f"conv{conv_i:08d}"
    base_ts = np.datetime64("2026-01-01T00:00:00") + np.timedelta64(
        int(conv_i) * 61, "s"
    )
    rows = []
    for t in range(n_turns):
        if t == 0 and rng.rand() < 0.15:
            role = "system"
        else:
            role = ["user", "assistant", "tool"][
                rng.randint(0, 3) if rng.rand() < 0.3 else t % 2
            ]
        tool = _TOOLS[rng.randint(0, len(_TOOLS))] if role == "tool" else None
        rows.append(
            (
                conv_id,
                np.int32(t),
                role,
                _gen_turn_text(rng, lang, role),
                tool,
                base_ts + np.timedelta64(t, "s"),
            )
        )
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )


def n_convs_for_sf(sf: float) -> int:
    # ~sf * 1e6 turns total; mega convs contribute ~MEGA_TURNS*1.5 each
    target = sf * TURNS_PER_SF
    per_conv = (1 - MEGA_FRACTION) * MEDIAN_TURNS + MEGA_FRACTION * MEGA_TURNS * 1.5
    return max(int(target / per_conv), 4)


def is_mega(conv_i: int) -> bool:
    return conv_i % int(1 / MEGA_FRACTION) == 7


def transcripts_path(sf: float, cache_root: str | None = None) -> str:
    root = cache_root or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".cache",
        "transcripts",
    )
    return os.path.join(root, f"sf{sf}")


def ensure_transcripts(spark, sf: float, cache_root: str | None = None) -> str:
    """Generate (distributed) + cache the fixture; return parquet path."""
    path = transcripts_path(sf, cache_root)
    marker = Path(path) / "_SUCCESS"
    if marker.exists():
        return path
    n = n_convs_for_sf(sf)
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for conv_i in b["id"]:
                yield gen_conversation(int(conv_i), is_mega(int(conv_i)))

    df = (
        spark.range(0, n, 1, numPartitions=min(max(n // 64, 1), 256))
        .mapInPandas(gen, schema=schema)
    )
    df.write.mode("overwrite").parquet(path)
    return path
