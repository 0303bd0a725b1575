"""Document sources mirroring the reference's scan modes (SURVEY §2.1).

S1  whole-file docs    (langid.py CLI batch mode: each file = one doc)
S2  line docs          (--line mode: each line = one doc)
S4  URL fetch          (-u URL mode: fetch a page, classify its text)
S6  corpus-tree scan   (train/index.py CorpusIndexer: corpus/domain/lang/
                        doc — labels inferred from the path)

The file readers (S1/S2/S6) are Spark-native: `spark.read.text`
with/without wholetext + `input_file_name()` label extraction. No
driver-side directory walking — file listing and reading are
distributed, so a corpus of 10^8 files scales with the cluster (the
reference walks the tree single-process).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_file_docs(spark: SparkSession, path: str) -> DataFrame:
    """S1: one row per FILE: (path, text)."""
    return (
        spark.read.text(path, wholetext=True)
        .select(
            F.input_file_name().alias("path"),
            F.col("value").alias("text"),
        )
    )


def read_line_docs(spark: SparkSession, path: str) -> DataFrame:
    """S2: one row per LINE: (path, line_no, text). line_no is per-file,
    assigned with a window — only needed when line identity matters."""
    from pyspark.sql import Window

    df = spark.read.text(path).select(
        F.input_file_name().alias("path"), F.col("value").alias("text")
    )
    w = Window.partitionBy("path").orderBy(F.monotonically_increasing_id())
    return df.withColumn("line_no", F.row_number().over(w) - 1)


def read_corpus_tree(spark: SparkSession, root: str) -> DataFrame:
    """S6: corpus/<domain>/<lang>/<doc> -> (domain, lang, doc_id, path,
    text). Reference: langid/train/index.py::CorpusIndexer (~L50-150),
    which walks directories on one machine; here the glob is pushed to
    the distributed file index and labels come from regexp on
    input_file_name — pure Catalyst."""
    df = spark.read.text(f"{root}/*/*/*", wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value").alias("text")
    )
    return df.select(
        F.regexp_extract("path", r".*/([^/]+)/([^/]+)/([^/]+)$", 1).alias("domain"),
        F.regexp_extract("path", r".*/([^/]+)/([^/]+)/([^/]+)$", 2).alias("lang"),
        F.xxhash64("path").alias("doc_id"),
        "path",
        "text",
    )


def read_url_docs(
    spark: SparkSession,
    urls,
    fetcher=None,
    max_attempts: int = 3,
    backoff_s: float = 1.0,
    timeout_s: float = 10.0,
    tasks: int | None = None,
) -> DataFrame:
    """S4: URL-fetch source (reference `langid.py -u URL` mode,
    `main()` ~L380 upstream — fetch a page, classify its text),
    re-expressed as a distributed source: (url, doc_id, status,
    payload, text, error).

    `urls` is a list (the reference's single-URL shape) or a DataFrame
    with a `url` column (a 10^9-row crawl frontier). Fetching is
    LATENCY-bound, not CPU-bound, so the url table is repartitioned to
    `tasks` (default 4× parallelism for a list) — many more tasks than
    cores is correct here; at real scale you bound per-host concurrency
    upstream by partitioning the frontier on host, which equi-joins and
    window ops on `host` support (the column is one parse_url away).

    `fetcher(url, attempt) -> (status, bytes)` is pluggable; the
    default is stdlib urllib with `timeout_s`. A fetch that raises is
    retried up to `max_attempts` with linear backoff, then QUARANTINED:
    the row survives with error set and payload/text/status null; a bad
    URL must never kill a million-URL job. The tests point the default
    fetcher at an instantly refused 127.0.0.1 port, so its rows all
    quarantine; the deterministic fake fetchers in
    tests/test_sources_modelstring.py exercise the success paths.

    `text` is the UTF-8 decode (errors=replace) of the payload — what
    the downstream scorer consumes; binary payloads stay in `payload`
    for the multimodal operators. doc_id = xxhash64(url): byte-equal
    URLs are true duplicates; by the 64-bit birthday bound 10^12 urls
    expect ~3e4 colliding pairs (10^24/2^65) — pass your own key column
    via a join when that matters.
    """
    import time
    from typing import Iterator

    import pandas as pd

    if fetcher is None:

        def fetcher(url: str, attempt: int):
            # Scheme allowlist (ADVICE r06): a crawl frontier is
            # untrusted input — without this, a file:// or ftp:// row
            # makes urlopen read local executor files into the corpus
            # (SSRF / local-file disclosure). Rejecting here routes the
            # row through the standard quarantine path; PLUGGABLE
            # fetchers stay unrestricted (callers own their policy).
            from urllib.parse import urlparse

            scheme = urlparse(url).scheme.lower()
            if scheme not in ("http", "https"):
                raise ValueError(f"disallowed URL scheme {scheme!r}")
            import urllib.request  # pragma: no cover - net

            with urllib.request.urlopen(url, timeout=timeout_s) as r:
                return int(getattr(r, "status", 200) or 200), r.read()

    if isinstance(urls, DataFrame):
        df = urls.select(F.col("url").cast("string"))
    else:
        df = spark.createDataFrame([(u,) for u in urls], "url string")
    n_tasks = tasks
    if n_tasks is None:
        par = spark.sparkContext.defaultParallelism
        n_tasks = 4 * par if not isinstance(urls, DataFrame) else None
    if n_tasks:
        df = df.repartition(n_tasks)

    def _fetch(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for url in pdf["url"]:
                status, payload, err = None, None, None
                for attempt in range(max_attempts):
                    try:
                        status, payload = fetcher(url, attempt)
                        err = None
                        break
                    except Exception as e:  # noqa: BLE001 - quarantine
                        err = f"{type(e).__name__}: {e}"[:500]
                        if attempt + 1 < max_attempts and backoff_s:
                            time.sleep(backoff_s * (attempt + 1))
                text = (
                    payload.decode("utf-8", errors="replace")
                    if payload is not None
                    else None
                )
                rows.append((url, status, payload, text, err))
            yield pd.DataFrame(
                rows, columns=["url", "status", "payload", "text", "error"]
            )

    fetched = df.mapInPandas(
        _fetch,
        "url string, status int, payload binary, text string, error string",
    )
    return fetched.select(
        "url",
        F.xxhash64("url").alias("doc_id"),
        "status",
        "payload",
        "text",
        "error",
    )
