"""File/corpus-tree sources (S1/S2/S6) and reference model wire format."""

import numpy as np
import pandas as pd
import pytest

from langid_py_spark.core.corpora import make_doc
from langid_py_spark.core.model import NBModel


# ----------------------------------------------------------- modelstring
def test_modelstring_roundtrip():
    m = NBModel.load()
    s = m.to_modelstring()
    m2 = NBModel.from_modelstring(s)
    assert m2.nb_classes == m.nb_classes
    np.testing.assert_array_equal(m2.nb_ptc, m.nb_ptc)
    np.testing.assert_array_equal(m2.nb_pc, m.nb_pc)
    np.testing.assert_array_equal(m2.nextmove, m.nextmove)
    np.testing.assert_array_equal(m2.out_indptr, m.out_indptr)
    np.testing.assert_array_equal(m2.out_feats, m.out_feats)
    rng = np.random.RandomState(1)
    docs = [make_doc(rng, l, 3) for l in ("en", "ru", "zh")]
    a = m.classify_batch(docs)
    b = m2.classify_batch(docs)
    assert list(a[0]) == list(b[0])
    np.testing.assert_array_equal(a[1], b[1])


# -------------------------------------------------------------- sources
@pytest.fixture(scope="module")
def corpus_tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("corpus")
    rng = np.random.RandomState(7)
    for domain in ("wiki", "news"):
        for lang in ("en", "de"):
            d = root / domain / lang
            d.mkdir(parents=True)
            for i in range(3):
                (d / f"doc{i}.txt").write_text(make_doc(rng, lang, 2))
    return str(root)


def test_read_corpus_tree(spark, corpus_tree):
    from langid_py_spark.sources.files import read_corpus_tree

    df = read_corpus_tree(spark, corpus_tree)
    rows = df.collect()
    assert len(rows) == 12
    assert {r["domain"] for r in rows} == {"wiki", "news"}
    assert {r["lang"] for r in rows} == {"en", "de"}
    assert len({r["doc_id"] for r in rows}) == 12
    assert all(r["text"] for r in rows)


def test_read_file_and_line_docs(spark, tmp_path):
    from langid_py_spark.sources.files import read_file_docs, read_line_docs

    p = tmp_path / "a.txt"
    p.write_text("line one\nline two\nline three")
    whole = read_file_docs(spark, str(p)).collect()
    assert len(whole) == 1 and whole[0]["text"].count("\n") == 2
    lines = read_line_docs(spark, str(p)).orderBy("line_no").collect()
    assert [r["text"] for r in lines] == ["line one", "line two", "line three"]
    assert [r["line_no"] for r in lines] == [0, 1, 2]


def test_corpus_tree_feeds_training(spark, corpus_tree):
    """S6 output plugs straight into the Spark training pipeline."""
    from langid_py_spark.operators.train_pipeline import (
        df_feature_select,
        explode_byte_ngrams,
    )
    from langid_py_spark.sources.files import read_corpus_tree

    docs = read_corpus_tree(spark, corpus_tree).withColumnRenamed("domain", "source")
    tokens = explode_byte_ngrams(docs, max_order=2)
    cand = df_feature_select(tokens, candidates_per_order=20)
    assert cand.count() == 40  # 20 per order x 2 orders


# --- S4 URL-fetch source (r06: read_url_docs) ---


def _make_fake_fetcher():
    """Deterministic fake built as a LOCAL (pickled by value — the tests
    dir is not on executor PYTHONPATH): /ok* succeed, /bin returns
    non-UTF-8 bytes, /bad always raises, /flaky raises on attempt 0."""

    def fake_fetcher(url: str, attempt: int):
        if url.endswith("/bad"):
            raise ConnectionError("refused")
        if url.endswith("/flaky") and attempt == 0:
            raise TimeoutError("slow")
        if url.endswith("/bin"):
            return 200, b"\xff\xfe raw \x00 bytes"
        return 200, f"page body of {url}".encode()

    return fake_fetcher


def test_read_url_docs_success_and_quarantine(spark):
    from langid_py_spark.sources.files import read_url_docs

    urls = ["http://x/ok1", "http://x/ok2", "http://x/bad", "http://x/flaky"]
    got = (
        read_url_docs(spark, urls, fetcher=_make_fake_fetcher(), backoff_s=0)
        .toPandas()
        .set_index("url")
    )
    assert len(got) == 4
    ok = got.loc["http://x/ok1"]
    assert ok["status"] == 200 and ok["text"] == "page body of http://x/ok1"
    assert ok["error"] is None and ok["payload"] is not None
    # retry path: flaky fails attempt 0, succeeds attempt 1
    fl = got.loc["http://x/flaky"]
    assert fl["status"] == 200 and fl["error"] is None
    # quarantine: bad row SURVIVES with error set, nulls elsewhere
    bad = got.loc["http://x/bad"]
    assert bad["error"].startswith("ConnectionError")
    assert bad["status"] is None or pd.isna(bad["status"])
    assert bad["payload"] is None and bad["text"] is None


def test_read_url_docs_binary_payload_and_ids(spark):
    from langid_py_spark.sources.files import read_url_docs

    got = read_url_docs(
        spark, ["http://x/bin"], fetcher=_make_fake_fetcher(), backoff_s=0
    ).toPandas()
    assert bytes(got["payload"][0]) == b"\xff\xfe raw \x00 bytes"
    assert "�" in got["text"][0]  # errors=replace decode
    # doc_id = xxhash64(url), engine-computable and deterministic
    expected = spark.sql(
        "SELECT xxhash64('http://x/bin') AS h"
    ).collect()[0]["h"]
    assert int(got["doc_id"][0]) == expected


def test_read_url_docs_dataframe_input_partitioning_invariant(spark):
    from langid_py_spark.sources.files import read_url_docs

    urls = [f"http://x/ok{i}" for i in range(40)]
    udf_ = spark.createDataFrame([(u,) for u in urls], "url string")
    a = set(
        map(
            tuple,
            read_url_docs(spark, udf_.repartition(1), fetcher=_make_fake_fetcher(),
                          backoff_s=0).select("url", "doc_id", "text").collect(),
        )
    )
    b = set(
        map(
            tuple,
            read_url_docs(spark, udf_.repartition(9), fetcher=_make_fake_fetcher(),
                          backoff_s=0).select("url", "doc_id", "text").collect(),
        )
    )
    assert a == b and len(a) == 40


def test_read_url_docs_default_fetcher_quarantines_without_network(spark):
    """The stdlib fetcher against an instantly-refused local port: the
    row quarantines (error set) instead of failing the job — the exact
    semantics a dead URL gets on a real crawl."""
    from langid_py_spark.sources.files import read_url_docs

    got = read_url_docs(
        spark,
        ["http://127.0.0.1:1/none"],
        max_attempts=1,
        timeout_s=2.0,
    ).toPandas()
    assert len(got) == 1
    assert got["error"][0] and got["payload"][0] is None


def test_read_url_docs_feeds_the_scorer(spark):
    """Reference -u mode parity: fetched text flows into classify_udf
    unchanged — the source returns the documents text column shape."""
    from langid_py_spark.sources.files import read_url_docs
    from langid_py_spark.spark.scorer import classify_udf

    def page_fetcher(url, attempt):
        return 200, ("the quick brown fox jumps over the lazy dog " * 5).encode()

    df = read_url_docs(spark, ["http://x/en"], fetcher=page_fetcher, backoff_s=0)
    out = df.select("url", classify_udf()("text").alias("r")).collect()[0]
    assert out["r"]["lang"] == "en"


def test_read_url_docs_default_fetcher_rejects_non_http_schemes(spark, tmp_path):
    """ADVICE r06: the DEFAULT fetcher must never read non-http(s)
    URLs — a file:// row in an untrusted crawl frontier would
    otherwise pull local executor files into the corpus. The row
    quarantines (ValueError in `error`, no payload) without touching
    the file; pluggable fetchers remain unrestricted."""
    from langid_py_spark.sources.files import read_url_docs

    secret = tmp_path / "secret.txt"
    secret.write_text("s3kr3t-bytes")
    got = read_url_docs(
        spark,
        [f"file://{secret}", "ftp://host/x"],
        max_attempts=1,
        backoff_s=0,
    ).toPandas().sort_values("url").reset_index(drop=True)
    assert len(got) == 2
    for _, row in got.iterrows():
        assert row["payload"] is None and row["text"] is None
        assert "disallowed URL scheme" in row["error"]
