"""Sub-document exact substring dedup (operators/spandedup.py — the
Lee et al. 2021 ExactSubstr pass)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from langid_py_spark.operators.spandedup import (
    _winnow_anchor_positions,
    cut_spans,
    substring_dup_spans,
    substring_dup_spans_oracle_sql,
    substring_dup_spans_winnowed,
)

LICENSE = (
    "This work is licensed under the Creative Commons Attribution 4.0 "
    "International License; to view a copy visit the license page now."
)  # 131 chars of planted boilerplate


def _corpus() -> pd.DataFrame:
    rng = np.random.RandomState(5)
    vocab = ["alpha", "beta", "gamma", "delta", "omega", "zeta", "kappa"]

    def fresh(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    rows = [
        (0, fresh(30) + " " + LICENSE + " " + fresh(25)),   # boilerplate mid
        (1, LICENSE + " " + fresh(40)),                      # boilerplate head
        (2, fresh(35) + " " + LICENSE),                      # boilerplate tail
        (3, fresh(60)),                                      # clean
        (4, "tiny"),                                         # < k chars
        (5, None),                                           # null text
        (6, "Z" * 120),                                      # self-repetition
        # astral-plane chars BEFORE a duplicated block: offsets are code
        # points in Spark, DuckDB AND Python (probed: length/substring
        # agree on non-BMP in all three) — this doc breaks if any side
        # ever counts UTF-16 units
        (7, "\U0001F600\U0001F680 " + LICENSE + " \U0001F600 tail"),
    ]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _exact_spans(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("documents", pdf)
    return (
        con.execute(substring_dup_spans_oracle_sql(k=k))
        .fetchdf()
        .sort_values(["doc_id", "span_start"])
        .reset_index(drop=True)
    )


def test_null_ids_match_duckdb(spark):
    """NULL-id rows get no span, and a gram shared only with a NULL-id
    row is not a duplicate: the operator's verify drops NULL ids, and the
    DuckDB twin leaves them out the same way."""
    g = "the same shared span of text twenty+"
    h = "another gram seen once more by a null"
    rows = [
        (None, "aa " + g), (None, "bb " + g), (1, "cc " + g + " tail"),
        (2, "xéy " + g), (3, "zz " + h), (None, "yy " + h),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in substring_dup_spans(docs, k=20).collect())
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"]).astype({"doc_id": "Int64"})
    want = [tuple(int(v) for v in r) for r in _exact_spans(pdf, 20).itertuples(index=False)]
    assert got == want == [(1, 2, 39, 18), (2, 3, 40, 18)]


def test_exact_spans_match_duckdb_and_cover_boilerplate(spark):
    """Spark exact path == DuckDB string-ops oracle on hostile docs, and
    the planted license block is covered by one span in EVERY copy."""
    pdf = _corpus()
    docs = spark.createDataFrame(pdf)
    k = 30
    got = (
        substring_dup_spans(docs, k=k)
        .toPandas()
        .sort_values(["doc_id", "span_start"])
        .reset_index(drop=True)
    )
    want = _exact_spans(pdf, k)
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))

    # every license copy is inside one reported span (incl. the
    # astral-prefixed doc 7 — code-point offsets)
    for did in (0, 1, 2, 7):
        t = pdf.loc[pdf.doc_id == did, "text"].iloc[0]
        s = t.index(LICENSE)
        spans = got[got.doc_id == did]
        assert any(
            (r.span_start <= s) and (r.span_end >= s + len(LICENSE))
            for r in spans.itertuples()
        ), (did, spans)
    # the clean doc and the sub-k docs report nothing
    assert not set(got.doc_id) & {3, 4, 5}
    # self-repetition inside ONE doc is also flagged (corpus-level >= 2)
    assert (got.doc_id == 6).any()
    zspan = got[got.doc_id == 6].iloc[0]
    assert zspan.span_start == 0 and zspan.span_end == 120

    with pytest.raises(ValueError):
        substring_dup_spans(docs, k=1)


def test_winnow_anchor_guarantee():
    """Winnowing positions: every window of `w` consecutive k-gram
    hashes contains at least one selected anchor (the Schleimer 2003
    guarantee that makes content-defined sampling detection-complete
    for spans >= k + w - 1)."""
    rng = np.random.RandomState(11)
    for _ in range(20):
        counts = rng.randint(1, 60, size=rng.randint(1, 6)).astype(np.int64)
        hashes = rng.randint(0, 1 << 62, size=int(counts.sum())).astype(np.uint64)
        w = int(rng.randint(2, 9))
        sel = _winnow_anchor_positions(hashes, counts, w)
        seg = np.concatenate(([0], np.cumsum(counts)[:-1]))
        for i, s in enumerate(sel):
            n = counts[i]
            assert len(s) >= 1
            assert (s >= 0).all() and (s < n).all()
            if n >= w:
                # coverage: each window [j, j+w) holds >= 1 anchor
                for j in range(n - w + 1):
                    assert ((s >= j) & (s < j + w)).any(), (i, j, s, w)
            # soundness: each selected position is the min of at least
            # ONE w-window containing it (the winnowing selection rule)
            h = hashes[seg[i] : seg[i] + n]
            for p in s:
                if n < w:
                    assert h[p] == h.min()
                    continue
                assert any(
                    h[p] == h[e - w + 1 : e + 1].min()
                    for e in range(max(p, w - 1), min(n, p + w))
                ), (p, w, h)


def test_winnowed_spans_detect_and_stay_inside_exact(spark):
    """Scale path: (a) every planted boilerplate copy (>= k + w - 1
    chars) is detected; (b) every winnowed span lies inside an exact
    span dilated by the merge slack — anchors are exact-flagged
    positions, so the winnowed report can never flag clean text."""
    pdf = _corpus()
    docs = spark.createDataFrame(pdf)
    k, w = 30, 8
    exact = _exact_spans(pdf, k)
    got = (
        substring_dup_spans_winnowed(docs, k=k, window=w)
        .toPandas()
        .sort_values(["doc_id", "span_start"])
        .reset_index(drop=True)
    )
    for did in (0, 1, 2, 7):
        t = pdf.loc[pdf.doc_id == did, "text"].iloc[0]
        s = t.index(LICENSE)
        spans = got[got.doc_id == did]
        # detection with conservative-inner bounds (<= w-1 per side)
        assert any(
            (r.span_start >= s - (k + w)) and (r.span_end <= s + len(LICENSE) + (k + w))
            and (r.span_end - r.span_start >= len(LICENSE) - 2 * (w - 1) - k)
            for r in spans.itertuples()
        ), (did, s, spans)
    assert not set(got.doc_id) & {3, 4, 5}
    # containment: each winnowed span must be covered by the UNION of
    # the doc's exact spans dilated by the winnowed path's merge slack
    # (k + w) — the dilation is what lets winnowing bridge exact spans
    # separated by a small gap, and the union (not any-single-span)
    # check keeps the property meaningful for multi-span docs (the old
    # `or len(ex) > 1` escape hatch passed vacuously there — ADVICE r05)
    slack = k + w
    for r in got.itertuples():
        ex = exact[exact.doc_id == r.doc_id]
        assert len(ex) > 0, r
        dilated = sorted(
            (max(0, e.span_start - slack), e.span_end + slack)
            for e in ex.itertuples()
        )
        merged = [list(dilated[0])]
        for s0, e0 in dilated[1:]:
            if s0 <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e0)
            else:
                merged.append([s0, e0])
        assert any(
            s0 <= r.span_start and r.span_end <= e0 for s0, e0 in merged
        ), (r, merged)


def test_cut_spans_splices_exactly(spark):
    """cut_spans removes precisely the reported [start, end) slices;
    docs without spans pass through untouched (left join)."""
    pdf = _corpus()
    docs = spark.createDataFrame(pdf)
    k = 30
    spans = substring_dup_spans(docs, k=k)
    cut = {
        r["doc_id"]: r["text"]
        for r in cut_spans(docs, spans).select("doc_id", "text").collect()
    }
    span_pdf = spans.toPandas()
    for did, txt in zip(pdf.doc_id, pdf.text):
        t = txt or ""
        sl = span_pdf[span_pdf.doc_id == did].sort_values("span_start")
        pieces, prev = [], 0
        for r in sl.itertuples():
            pieces.append(t[prev : r.span_start])
            prev = r.span_end
        pieces.append(t[prev:])
        assert cut[did] == "".join(pieces), did
    assert cut[3] == pdf.loc[pdf.doc_id == 3, "text"].iloc[0]
    assert cut[6] == ""  # fully-duplicated doc is cut to nothing


def test_exact_spans_fixture_nonvacuous(spark):
    """sf0.001 fixture: the shared-prefix boilerplate groups produce
    real spans, and Spark == DuckDB on the real table too."""
    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]
    ]
    docs = spark.createDataFrame(pdf)
    got = (
        substring_dup_spans(docs, k=30)
        .toPandas()
        .sort_values(["doc_id", "span_start"])
        .reset_index(drop=True)
    )
    assert len(got) > 0
    want = _exact_spans(pdf, 30)
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))


def _byte_docs(spark, rows):
    """(doc_id, bytes) rows cast binary -> string, so a doc can hold
    invalid UTF-8 exactly as a parquet scan would deliver it."""
    return spark.createDataFrame(
        [(i, bytearray(b)) for i, b in rows], "doc_id long, b binary"
    ).selectExpr("doc_id", "cast(b as string) AS text")


@pytest.mark.parametrize(
    "guard",
    [{"hot_threshold": None}, {}, {"hot_threshold": 2, "hot_sample": 1}],
    ids=["unguarded", "default", "all-hot"],
)
def test_exact_spans_utf32_hash_parity(spark, guard):
    """The per-position hash slices one UTF-32 encoding per doc; spans
    must equal the string-hash formulation's on every guard route:
    NULL ids (their grams count toward the hash window, never toward
    the verify), a non-ASCII char before the shared span, and invalid
    UTF-8 (Spark counts b"\\xe2\\x82a" as 1 char, Java's decoder as 2).
    In the second frame, doc 5's invalid prefix is 6 chars to both
    Spark and Java, but split differently, so a length check alone
    passes it; its chars 3..5 are doc 6's first three."""
    g = b"the same shared span of text twenty+"
    docs = _byte_docs(
        spark,
        [
            (None, b"aa " + g),
            (None, b"bb " + g),
            (1, b"cc " + g + b" tail"),
            (2, "xéy ".encode() + g),
            (3, b"x\xe2\x82ayz " + g + b" q"),
            (4, b"k\xe2\x82ayz " + g + b" r"),
        ],
    )
    got = sorted(tuple(r) for r in substring_dup_spans(docs, k=20, **guard).collect())
    assert got == [(1, 2, 40, 19), (2, 3, 40, 18), (3, 1, 42, 22), (4, 1, 42, 22)]

    skew = b"\xe2\x82a\xe2\x82a\xe2\x82\xf0\x9f\x98\x80"
    docs = _byte_docs(
        spark,
        [(1, b"cc " + g + b" tail"), (5, skew + b" " + g), (6, b"\x9f\x98\x80 " + g)],
    )
    got = sorted(tuple(r) for r in substring_dup_spans(docs, k=20, **guard).collect())
    assert got == [(1, 2, 39, 18), (5, 3, 43, 21), (6, 0, 40, 21)]
