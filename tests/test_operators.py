"""Similarity search, multimodal plumbing, Spark training pipeline."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------- similarity
def test_srp_ann_recall_vs_bruteforce(spark):
    from langid_py_spark.operators.similarity import (
        cosine_topk_bruteforce,
        srp_bucketed_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    brute = cosine_topk_bruteforce(emb, q, k=5).toPandas()
    ann = srp_bucketed_topk(emb, q, dim=64, k=5).toPandas()
    # recall@5 of the bucketed path vs brute force
    hits = 0
    for qid in brute["qid"].unique():
        t = set(brute[brute.qid == qid]["vec_id"])
        a = set(ann[ann.qid == qid]["vec_id"])
        hits += len(t & a) / len(t)
    recall = hits / brute["qid"].nunique()
    assert recall >= 0.5, f"ANN recall@5 {recall}"  # 8x4-bit SRP bands


def test_srp_dup_pairs_subset_of_brute_with_recall(spark):
    """srp_dup_pairs must (a) only emit pairs the brute-force cross join
    also emits at the same threshold, with identical 6dp cos values, and
    (b) recover a reasonable share of them (SRP s-curve ~0.79 at cos
    0.45 → assert >= 0.5 to stay flake-free)."""
    from langid_py_spark.operators.similarity import cos_pairwise, srp_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in srp_dup_pairs(
            emb, dim=64, threshold=0.45, n_planes=32, band_bits=4
        ).collect()
    }
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    mat = np.vstack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    ids = pdf["vec_id"].to_numpy()
    ia, ib = np.triu_indices(len(ids), k=1)
    cos = np.round(cos_pairwise(np.ascontiguousarray(mat[ia]),
                                np.ascontiguousarray(mat[ib])), 6)
    brute = {
        (int(ids[a]), int(ids[b])): float(c)
        for a, b, c in zip(ia, ib, cos)
        if c >= 0.45
    }
    assert set(got) <= set(brute), set(got) - set(brute)
    for pair, cs in got.items():
        assert abs(cs - brute[pair]) <= 1e-6, (pair, cs, brute[pair])
    if brute:
        assert len(got) / len(brute) >= 0.5, (len(got), len(brute))


def test_bruteforce_topk_matches_numpy(spark):
    from langid_py_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = cosine_topk_bruteforce(emb, q, k=3).toPandas()
    pdf = emb.toPandas()
    mat = np.vstack(pdf["embedding"].map(np.asarray))
    norms = np.linalg.norm(mat, axis=1)
    ids = pdf["vec_id"].to_numpy()
    for qid in range(3):
        qi = int(np.where(ids == qid)[0][0])
        sims = (mat @ mat[qi]) / np.maximum(norms * norms[qi], 1e-12)
        order = [
            i for i in np.lexsort((ids, -np.round(sims, 6))) if ids[i] != qid
        ][:3]
        want = ids[order].tolist()
        have = got[got.qid == qid].sort_values("rk")["vec_id"].tolist()
        assert have == want, (qid, have, want)


# ---------------------------------------------------------- multimodal
def test_media_pipeline_shapes(spark):
    from langid_py_spark.operators.multimodal import decode_features, synth_media

    media = synth_media(spark, n=32)
    feats = decode_features(media).toPandas()
    assert len(feats) == 32
    assert all(len(f) == 8 for f in feats["feat"])
    # real header-parsed dimensions: images are 4..32 px; wav rows have
    # width = frame count (64..1023) and height = channel count (1)
    img = feats[feats.mime.str.startswith("image/")]
    wav = feats[feats.mime == "audio/wav"]
    assert img["width"].between(4, 32).all() and img["height"].between(4, 32).all()
    assert (wav["height"] == 1).all() and wav["width"].between(64, 1023).all()
    # deterministic across runs
    feats2 = decode_features(synth_media(spark, n=32)).toPandas()
    pd.testing.assert_frame_equal(
        feats.sort_values("media_id").reset_index(drop=True),
        feats2.sort_values("media_id").reset_index(drop=True),
    )


def test_media_codecs_round_trip():
    """The bundled pure-NumPy codecs: encode -> decode is identity for
    pixels/samples and header dimensions, across awkward widths (BMP
    row padding) and odd sample counts (RIFF word alignment)."""
    import numpy as np

    from langid_py_spark.operators.multimodal import (
        decode_bmp,
        decode_media,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_ppm,
        encode_wav,
    )

    rng = np.random.RandomState(7)
    for w, h in [(1, 1), (2, 3), (5, 4), (16, 16), (33, 7)]:  # w=5,33: padding
        rgb = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        for enc, dec in [(encode_bmp, decode_bmp), (encode_ppm, decode_ppm)]:
            w2, h2, rgb2 = dec(enc(rgb))
            assert (w2, h2) == (w, h), (enc.__name__, w, h)
            np.testing.assert_array_equal(rgb2, rgb)
    for n in (1, 2, 63, 64, 501):  # odd n: word-aligned data chunk
        s = rng.randint(-(2**15), 2**15, size=n).astype(np.int16)
        frames, ch, s2 = decode_wav(encode_wav(s))
        assert (frames, ch) == (n, 1)
        np.testing.assert_array_equal(s2, s)
    # PPM header comments are legal and must parse
    w2, h2, rgb2 = decode_ppm(b"P6\n# a comment\n2 2\n255\n" + bytes(12))
    assert (w2, h2) == (2, 2)
    # unknown mime falls through to the documented stub
    w3, h3, f3 = decode_media(b"\x89PNG fake", "image/png")
    assert len(f3) == 8 and w3 >= 16 and h3 >= 16


# ------------------------------------------------------ training stages
def test_spark_ig_matches_local_oracle(spark):
    """Spark ig_weights == core.trainer.ig_binarized on a toy corpus."""
    from langid_py_spark.core.trainer import ig_binarized
    from langid_py_spark.operators.train_pipeline import (
        df_feature_select,
        explode_byte_ngrams,
        ig_weights,
    )

    rows = [
        (0, "en", "s0", "aab"),
        (1, "en", "s1", "abb"),
        (2, "de", "s0", "bbc"),
        (3, "de", "s1", "ccc"),
        (4, "fr", "s0", "cab"),
        (5, "fr", "s1", "bca"),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang", "source", "text"])
    )
    tokens = explode_byte_ngrams(docs, max_order=2)
    cand = df_feature_select(tokens, candidates_per_order=50)
    got = {r["feature"]: r["ig"] for r in ig_weights(tokens, docs, "lang", cand).collect()}

    labels = np.array([0, 0, 1, 1, 2, 2])
    texts = [t for _, _, _, t in rows]
    for feat_hex, ig_spark in got.items():
        feat = bytes.fromhex(feat_hex)
        present = np.array([feat in t.encode() for t in texts])
        ig_local = ig_binarized(present, labels, 3)
        assert abs(ig_spark - ig_local) < 1e-9, (feat, ig_spark, ig_local)


def test_train_nb_on_spark_runs(spark):
    from langid_py_spark.operators.train_pipeline import train_nb_on_spark

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    m = train_nb_on_spark(docs, candidates_per_order=80, feats_per_lang=30, max_order=2)
    assert m.nb_numfeats > 0 and len(m.nb_classes) == 5
    langs, _, norm, _ = m.classify_batch(["table scan fast", ""])
    assert all(l in m.nb_classes for l in langs)


def test_explode_byte_ngrams_matches_naive(spark):
    """The batch-vectorized n-gram explosion must reproduce the naive
    per-byte Counter semantics exactly (every order 1..4, per-doc counts),
    including multi-byte UTF-8, empty docs and docs shorter than max_order."""
    from collections import Counter

    from langid_py_spark.operators.train_pipeline import explode_byte_ngrams

    rows = [
        (0, "en", "s0", "hello world"),
        (1, "zh", "s1", "你好世界"),  # multi-byte UTF-8
        (2, "en", "s0", ""),
        (3, "de", "s1", "ab"),  # shorter than max_order
        (4, "fr", "s0", "aaaa aaaa"),  # repeats → counts > 1
        (5, "en", "s1", None),  # null text
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang", "source", "text"])
    )
    got = {
        (r["doc_id"], r["lang"], r["source"], r["feature"]): r["count"]
        for r in explode_byte_ngrams(docs, max_order=4).collect()
    }
    want = {}
    for did, lang, src, text in rows:
        data = (text or "").encode("utf-8")
        c = Counter()
        for i in range(len(data)):
            for order in range(1, min(4, len(data) - i) + 1):
                c[data[i : i + order]] += 1
        for feat, cnt in c.items():
            want[(did, lang, src, feat.hex())] = cnt
    assert got == want


def test_ivf_recall_on_clustered_data(spark):
    """On data with real cluster structure (where IVF's assumption holds),
    IVF@n_probe=2 must recover most of the brute-force top-5; with
    n_probe = n_centroids (probe everything) it must equal brute force
    exactly (same re-rank, superset candidates)."""
    from langid_py_spark.operators.similarity import (
        cosine_topk_bruteforce,
        fit_ivf_centroids,
        ivf_topk,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(8, 32) * 4
    vecs = np.vstack(
        [centers[i % 8] + rng.randn(32) * 0.5 for i in range(400)]
    ).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(400, dtype=np.int64), "embedding": list(map(list, vecs))}
    )
    emb = spark.createDataFrame(pdf)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cents = fit_ivf_centroids(emb, n_centroids=8, sample_rows=400)
    brute = {
        (r["qid"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    ivf2 = {
        (r["qid"], r["vec_id"])
        for r in ivf_topk(emb, q, cents, k=5, n_probe=2).collect()
    }
    assert len(ivf2 & brute) / len(brute) >= 0.8, "IVF recall@5 too low"
    ivf_all = sorted(
        map(tuple, ivf_topk(emb, q, cents, k=5, n_probe=8).collect())
    )
    assert ivf_all == sorted(map(tuple, cosine_topk_bruteforce(emb, q, k=5).collect()))


def test_srp_dup_pairs_production_banding_on_near_dups(spark):
    """Default 64-plane/8-bit banding at a real near-dup threshold: on a
    corpus with planted near-duplicates (cos ~0.97) it must find >= 80%
    of the true pairs while examining a candidate set orders of magnitude
    smaller than n^2 (the whole point of fine bands for a self-join)."""
    from langid_py_spark.operators.similarity import cos_pairwise, srp_dup_pairs

    rng = np.random.RandomState(11)
    base = rng.randn(200, 32)
    # plant a near-dup for every 4th vector: tiny perturbation
    dups = base[::4] + rng.randn(50, 32) * 0.05
    vecs = np.vstack([base, dups]).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(250, dtype=np.int64), "embedding": list(map(list, vecs))}
    )
    emb = spark.createDataFrame(pdf)
    got = {
        (r.id_a, r.id_b)
        for r in srp_dup_pairs(emb, dim=32, threshold=0.9).collect()
    }
    mat = vecs.astype(np.float64)
    ia, ib = np.triu_indices(250, k=1)
    cos = cos_pairwise(np.ascontiguousarray(mat[ia]), np.ascontiguousarray(mat[ib]))
    true = {(int(a), int(b)) for a, b, c in zip(ia, ib, cos) if c >= 0.9}
    assert len(true) >= 40  # the planted dups are the signal
    assert got <= true
    assert len(got & true) / len(true) >= 0.8, (len(got), len(true))


def test_lang_heuristic_branches(spark):
    """Every branch of the charset/stopword heuristic fires on a doc that
    should trigger it (the sf fixture is English-only, so the multilingual
    branches need explicit coverage)."""
    from langid_py_spark.operators.textstats import lang_heuristic

    # one trigger doc per language of the 18-class fallback model
    cases = [
        ("en", "the cat and the dog of the house is here"),
        ("de", "der hund und die katze ist das haus"),
        ("fr", "le chat et la maison est les arbres"),
        ("es", "el perro y los gatos es las casas"),
        ("it", "il gatto che di per non mangia"),
        ("pt", "uma para mais como dos outros"),
        ("nl", "het een van niet zijn huis"),
        ("pl", "nie jest czy tylko bardzo dobrze"),
        ("sv", "och att det som inte huset"),
        ("tr", "bir ve bu olarak ama evet"),
        ("zh", "这是一个中文句子需要被正确识别出来"),
        ("ja", "これは日本語のテストです"),
        ("ko", "이것은 한국어 테스트 문장입니다"),
        ("ru", "Это русское предложение для проверки"),
        ("uk", "Це українське речення для перевірки"),
        ("ar", "هذه جملة عربية للاختبار هنا"),
        ("he", "זהו משפט בעברית לבדיקה"),
        ("hi", "यह एक हिंदी वाक्य है"),
        ("und", "zzz qqq xxx"),
        ("und", None),
    ]
    rows = [(i, text) for i, (_, text) in enumerate(cases)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r["lang_guess"] for r in lang_heuristic(docs).collect()}
    want = {i: lang for i, (lang, _) in enumerate(cases)}
    assert got == want

    # Java-regex / RE2 dialect parity on the SAME multilingual docs (the
    # sf fixture is English-only, so the driver oracle never exercises
    # the non-latin branches — this does)
    import duckdb

    from langid_py_spark.operators.textstats import lang_heuristic_oracle_sql

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = {
        int(r[0]): r[1]
        for r in con.execute(lang_heuristic_oracle_sql("documents")).fetchall()
    }
    assert duck == want


def test_cos_kernels_batch_independent():
    """The golden-parity argument rests on this: cos_pairwise/cos_matrix
    compute each row independently, so Arrow batch boundaries cannot
    change a value. Assert BITWISE equality between full-batch and
    per-row/split computation on adversarial float inputs (hypothesis)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    from langid_py_spark.operators.similarity import cos_matrix, cos_pairwise

    floats = st.floats(
        min_value=-1e3, max_value=1e3, allow_nan=False, allow_subnormal=False
    )

    @settings(max_examples=50, deadline=None)
    @given(
        arrays(np.float64, (7, 16), elements=floats),
        arrays(np.float64, (7, 16), elements=floats),
    )
    def check(a, b):
        full = cos_pairwise(a, b)
        for i in range(len(a)):
            row = cos_pairwise(
                np.ascontiguousarray(a[i : i + 1]), np.ascontiguousarray(b[i : i + 1])
            )[0]
            assert row == full[i] or (np.isnan(row) and np.isnan(full[i]))
        # cos_matrix: split the big side anywhere, same bits
        q = np.ascontiguousarray(b[:3])
        whole = cos_matrix(a, q)
        for cut in (1, 3, 6):
            parts = np.vstack(
                [cos_matrix(np.ascontiguousarray(a[:cut]), q),
                 cos_matrix(np.ascontiguousarray(a[cut:]), q)]
            )
            assert np.array_equal(parts, whole, equal_nan=True)

    check()


def test_ccnet_ppl_buckets(spark):
    """Per-language tercile split: each language's buckets are ~1/3 each,
    head ppl strictly below tail ppl, and the percentile_approx scale
    path produces the same schema with near-identical buckets."""
    from langid_py_spark.operators.quality import ccnet_ppl_buckets

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = ccnet_ppl_buckets(docs).toPandas()
    assert set(got["bucket"]) <= {"head", "middle", "tail"}
    for lang, grp in got.groupby("lang"):
        n = len(grp)
        if n < 9:
            continue
        counts = grp["bucket"].value_counts()
        assert counts.get("head", 0) >= n // 4, (lang, dict(counts))
        assert counts.get("tail", 0) >= n // 4, (lang, dict(counts))
        assert grp[grp.bucket == "head"]["ppl"].max() <= grp[
            grp.bucket == "tail"
        ]["ppl"].min(), lang
    approx = ccnet_ppl_buckets(docs, exact=False).toPandas()
    assert list(approx.columns) == list(got.columns)
    merged = got.merge(approx, on="doc_id", suffixes=("_e", "_a"))
    agree = (merged["bucket_e"] == merged["bucket_a"]).mean()
    assert agree >= 0.95, agree


def test_ccnet_ppl_buckets_null_lang(spark):
    """NULL lang coalesces to 'und' and still gets a bucket — an inner
    join on a raw NULL key would silently drop unlabeled rows (ADVICE
    r03). Every input row must appear exactly once in the output."""
    import pandas as pd

    from langid_py_spark.operators.quality import ccnet_ppl_buckets

    rows = [(i, "some text " * (i + 1), None if i % 3 == 0 else "en") for i in range(12)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    )
    got = ccnet_ppl_buckets(docs).toPandas()
    assert len(got) == 12
    assert sorted(got["doc_id"]) == list(range(12))
    und = got[got["lang"] == "und"]
    assert len(und) == 4 and set(und["bucket"]) <= {"head", "middle", "tail"}


def test_contamination_scan_matches_naive(spark):
    """AC-DFA multi-pattern scan == naive per-needle overlapping count on
    adversarial cases: shared prefixes (AC fail chain), needle inside
    needle, overlapping self-matches ('aa' in 'aaaa' -> 3), unicode,
    null text, absent needle."""
    from langid_py_spark.operators.contamination import contamination_scan

    needles = ["aa", "aab", "scan", "scan slow", "日本", "zzz-absent"]
    rows = [
        (0, "aaaa"),                      # 'aa' overlaps x3
        (1, "aab aabaab"),                # prefix chain aa/aab
        (2, "scan slow scan fast scan"),  # needle-in-needle
        (3, "これは日本語です 日本"),        # multi-byte UTF-8
        (4, None),
        (5, "nothing here"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        (r.doc_id, r.needle): r.n_hits
        for r in contamination_scan(docs, needles).collect()
    }

    def naive(text, needle):
        if not text:
            return 0
        t, n, c, i = text.encode(), needle.encode(), 0, 0
        while True:
            i = t.find(n, i)
            if i < 0:
                return c
            c += 1
            i += 1  # overlapping

    want = {
        (did, nd): naive(text, nd)
        for did, text in rows
        for nd in needles
        if naive(text, nd) > 0
    }
    assert got == want
    assert got[(0, "aa")] == 3
    assert got[(2, "scan")] == 3 and got[(2, "scan slow")] == 1
    assert not any(nd == "zzz-absent" for _, nd in got)


def test_contamination_join_path_matches_dense(spark):
    """contamination_scan_join (rolling-hash fingerprint join + exact
    verify) must emit EXACTLY the dense AC-DFA path's rows — same
    overlapping-count semantics — on the adversarial cases, including
    needles shorter than k (routed to the small-DFA branch)."""
    from langid_py_spark.operators.contamination import (
        contamination_scan,
        contamination_scan_join,
    )

    needles = ["aa", "aab", "scan", "scan slow", "日本", "zzz-absent"]
    rows = [
        (0, "aaaa"),
        (1, "aab aabaab"),
        (2, "scan slow scan fast scan"),
        (3, "これは日本語です 日本"),
        (4, None),
        (5, "nothing here"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    dense = {
        (r.doc_id, r.needle): r.n_hits
        for r in contamination_scan(docs, needles).collect()
    }
    for k in (2, 4, 8):  # k=4/8 force the short-needle AC branch for 'aa'
        joined = {
            (r.doc_id, r.needle): r.n_hits
            for r in contamination_scan_join(docs, needles, k=k).collect()
        }
        assert joined == dense, (k, joined, dense)


def test_contamination_dense_guard_and_10k_needle_join(spark):
    """The dense AC-DFA costs ~2 KB of worker memory PER NEEDLE BYTE
    (measured r04: 533 KB of needles -> 429k states -> 878 MB int64 and
    a 21.7 s build), so contamination_scan REFUSES large lists; the join
    path handles a real 10k-needle decontamination list with an
    8-byte/needle closure, verified against naive containment on a
    sampled subset."""
    import time

    from langid_py_spark.operators.contamination import (
        contamination_scan,
        contamination_scan_join,
    )

    docs_pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]
    ]
    rng = np.random.RandomState(42)
    texts = docs_pdf["text"].fillna("").tolist()
    needles = []
    for _ in range(10_500):
        t = texts[rng.randint(len(texts))]
        length = rng.randint(30, 80)
        s = rng.randint(max(1, len(t) - length))
        needles.append(t[s : s + length])
    needles = list(dict.fromkeys(needles))[:10_000]
    needles += [f"zzz-canary-{i:05d}-held-out" for i in range(50)]  # absent
    assert len(needles) >= 10_000

    docs = spark.createDataFrame(docs_pdf)
    with pytest.raises(ValueError, match="dense AC-DFA"):
        contamination_scan(docs, needles)

    t0 = time.perf_counter()
    got = contamination_scan_join(docs, needles, k=16).collect()
    wall = time.perf_counter() - t0
    assert wall < 120, wall  # needle fingerprinting is ms, scan is one pass
    got_pairs = {(r.doc_id, r.needle) for r in got}
    assert len(got_pairs) >= 10_000  # every sampled needle hits its source doc
    assert not any("zzz-canary" in n for _, n in got_pairs)
    # byte-exact correctness on a sampled needle subset vs naive python
    by_doc = dict(zip(docs_pdf["doc_id"], texts))
    sample_idx = rng.choice(len(needles) - 50, size=200, replace=False)
    for i in sample_idx:
        nd = needles[int(i)]
        want = {(did, nd) for did, t in by_doc.items() if nd in t}
        have = {(d, n) for d, n in got_pairs if n == nd}
        assert have == want, nd


def test_contamination_rejects_empty_needles(spark):
    """A zero-length needle must raise loudly in BOTH paths (ADVICE r04:
    in the join path it would make k=0 and degenerate the rolling-hash
    window into an every-position candidate explosion)."""
    from langid_py_spark.operators.contamination import (
        contamination_scan,
        contamination_scan_join,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["some text"]})
    )
    for fn in (contamination_scan, contamination_scan_join):
        with pytest.raises(ValueError, match="zero-length"):
            fn(docs, ["ok", ""])


def test_repetition_stats_matches_naive_and_duckdb(spark):
    """Gopher repetition stats: the map-only UDF == a naive Python
    counter == the DuckDB explode+aggregate oracle on hostile docs —
    duplicate lines, degenerate word loops, empty/null text, unicode,
    no-newline docs, single word."""
    import duckdb

    from langid_py_spark.operators.repetition import (
        repetition_stats,
        repetition_stats_oracle_sql,
    )

    rows = [
        (0, "nav bar\ncontent here\nnav bar\nnav bar\nfooter"),   # dup lines
        (1, "spam spam spam spam spam"),                          # word loop
        (2, "a b a b a b a b"),                                   # bigram loop
        (3, None),
        (4, ""),
        (5, "\n\n\n"),                                            # only empties
        (6, "日本語 テスト 日本語\n日本語 テスト 日本語"),              # unicode dup
        (7, "word"),                                              # single word
        (8, "one two three four five six"),                       # no repetition
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(pdf)
    got = (
        repetition_stats(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    )

    # naive twin
    def naive(t):
        from collections import Counter

        t = t or ""
        lines = [l for l in t.split("\n") if l]
        lc = Counter(lines)
        n_lines = len(lines)
        total = sum(len(l) * c for l, c in lc.items())
        dupc = sum(len(l) * (c - 1) for l, c in lc.items())
        import re as _re

        words = _re.findall(r"[^\t\n\f\r ]+", t)
        wc = Counter(words)
        bg = Counter(
            words[i] + " " + words[i + 1] for i in range(len(words) - 1)
        )
        return (
            n_lines,
            round((n_lines - len(lc)) / n_lines, 6) if n_lines else 0.0,
            round(dupc / total, 6) if total else 0.0,
            len(words),
            round(max(wc.values()) / len(words), 6) if words else 0.0,
            round(max(bg.values()) / (len(words) - 1), 6) if len(words) >= 2 else 0.0,
        )

    for _, r in got.iterrows():
        want = naive(pdf.loc[pdf.doc_id == r.doc_id, "text"].iloc[0])
        have = (
            r.n_lines, r.dup_line_frac, r.dup_line_char_frac,
            r.n_words, r.top_word_frac, r.top_bigram_frac,
        )
        assert tuple(have) == want, (r.doc_id, have, want)

    # spot-check the interesting rows
    assert got.loc[0, "dup_line_frac"] == 0.4          # 2 of 5 lines repeats
    assert got.loc[1, "top_word_frac"] == 1.0
    assert got.loc[2, "top_bigram_frac"] == round(4 / 7, 6)
    assert got.loc[5, "n_lines"] == 0

    # RE2/DuckDB dialect parity on the SAME hostile docs
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = (
        con.execute(repetition_stats_oracle_sql("documents"))
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    for col in got.columns:
        assert (got[col].values == duck[col].values).all(), col

    # non-vacuity on the fixture: the small-vocab corpus repeats words
    fix = repetition_stats(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ).toPandas()
    assert (fix["top_word_frac"] > 0).mean() > 0.9


def test_repetition_batch_kernel_bit_identical():
    """The batched Arrow kernel (_batch_stats) must be BIT-identical to
    the per-doc reference (_doc_stats) — same integer counts, same
    single IEEE division — at every batch slicing (goldens depend on
    batch-size independence). Hostile docs + randomized corpora."""
    import random

    from langid_py_spark.operators.repetition import _batch_stats, _doc_stats

    hostile = [
        "nav bar\ncontent here\nnav bar\nnav bar\nfooter",
        "spam spam spam spam spam",
        "a b a b a b a b",
        "",
        "\n\n\n",
        "日本語 テスト 日本語\n日本語 テスト 日本語",
        "word",
        "one two three four five six",
        "x\vy z\ttab",  # \v is NOT a separator in the 5-char class
        "line\n" * 50,
    ]
    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "x", "1,2", "日本", "--"]
    randoms = [
        "\n".join(
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
            for _ in range(rng.randint(0, 8))
        )
        for _ in range(60)
    ]
    texts = hostile + randoms
    want = [_doc_stats(t) for t in texts]
    cols = [
        "n_lines", "dup_line_frac", "dup_line_char_frac",
        "n_words", "top_word_frac", "top_bigram_frac",
    ]
    for size in (1, 3, len(texts)):
        for start in range(0, len(texts), size):
            chunk = texts[start : start + size]
            got = _batch_stats(chunk)
            for i, t in enumerate(chunk):
                w = want[start + i]
                for j, c in enumerate(cols):
                    # exact equality: integers AND raw IEEE doubles
                    assert got[c].iloc[i] == w[j], (t[:40], c, got[c].iloc[i], w[j])


def test_ngram_overlap_scan(spark):
    """GPT-3-style n-gram overlap decontamination: catches PARTIAL
    quotes that substring containment misses; counts DISTINCT shared
    grams exactly (verify step, not the hash); short needles raise."""
    from langid_py_spark.operators.contamination import ngram_overlap_scan

    needle = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, "prefix text the quick brown fox jumps elsewhere"),  # partial quote
        (1, "the quick brown fox jumps over the lazy dog and more"),  # full
        (2, "fox jumps over nothing shared here"),                # < n shared run
        (3, None),
        (4, "quick brown fox the quick brown fox jumps"),         # repeated grams
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r.doc_id: r.n_shared
        for r in ngram_overlap_scan(docs, [needle], n=4).collect()
    }
    # doc0 shares 'the quick brown fox' + 'quick brown fox jumps' = 2
    # doc1 contains the needle: all 6 of its 4-grams
    # doc2 shares only a 3-word run -> no 4-gram -> absent
    # doc4 shares the same 2 grams as doc0 (dup occurrences counted once)
    assert got == {0: 2, 1: 6, 4: 2}, got

    with pytest.raises(ValueError, match="shorter than 13"):
        ngram_overlap_scan(docs, ["too short"], n=13)


def test_ngram_overlap_scan_10k_needles(spark):
    """The overlap scan must carry a real decontamination list: 10k
    needles (8-word sequences sampled from the corpus + absent
    canaries), one pass, correct on a sampled needle subset vs exact
    python n-gram sets."""
    import re as _re
    import time

    from langid_py_spark.operators.contamination import ngram_overlap_scan

    docs_pdf = pd.read_parquet("/root/testdata/sf0.01/documents.parquet")[
        ["doc_id", "text"]
    ]
    word_re = _re.compile(r"[^\t\n\f\r ]+")
    rng = np.random.RandomState(7)
    texts = docs_pdf["text"].fillna("").tolist()
    needles = []
    for _ in range(16_000):
        words = word_re.findall(texts[rng.randint(len(texts))])
        if len(words) < 8:
            continue
        s = rng.randint(len(words) - 7)
        needles.append(" ".join(words[s : s + 8]))
    needles = list(dict.fromkeys(needles))[:10_000]
    needles += [f"z{i:04d} " * 8 for i in range(20)]  # absent 8-word canaries
    assert len(needles) >= 10_000

    n = 5
    docs = spark.createDataFrame(docs_pdf)
    t0 = time.time()
    got = ngram_overlap_scan(docs, needles, n=n).collect()
    wall = time.time() - t0
    assert wall < 180, wall
    got_map = {(r.doc_id, r.needle): r.n_shared for r in got}
    assert len(got_map) >= 10_000  # each sampled needle hits its source doc
    assert not any(nd.startswith("z0") for _, nd in got_map)

    def grams(t):
        w = word_re.findall(t)
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    doc_grams = {d: grams(t) for d, t in zip(docs_pdf["doc_id"], texts)}
    for i in rng.choice(len(needles) - 20, size=100, replace=False):
        nd = needles[int(i)]
        ng = grams(nd)
        want = {
            (d, nd): len(doc_grams[d] & ng)
            for d in doc_grams
            if doc_grams[d] & ng
        }
        have = {k: v for k, v in got_map.items() if k[1] == nd}
        assert have == want, nd


def test_ngram_overlap_distributed_matches_closure(spark):
    """The distributed needle path (needles as a DataFrame, gram table
    computed distributed, ids-only equi-join) must emit exactly the
    closure path's rows on the adversarial cases — and the short-needle
    guard runs distributed too."""
    from langid_py_spark.operators.contamination import (
        ngram_overlap_scan,
        ngram_overlap_scan_distributed,
    )

    needle = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, "prefix text the quick brown fox jumps elsewhere"),
        (1, "the quick brown fox jumps over the lazy dog and more"),
        (2, "fox jumps over nothing shared here"),
        (3, None),
        (4, "quick brown fox the quick brown fox jumps"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    ndf = spark.createDataFrame(
        pd.DataFrame({"needle_id": [0], "needle": [needle]})
    )
    closure = {
        (r.doc_id, r.needle, r.n_shared)
        for r in ngram_overlap_scan(docs, [needle], n=4).collect()
    }
    dist = {
        (r.doc_id, r.needle, r.n_shared)
        for r in ngram_overlap_scan_distributed(docs, ndf, n=4).collect()
    }
    assert dist == closure and len(dist) == 3

    short = spark.createDataFrame(
        pd.DataFrame({"needle_id": [0], "needle": ["too short"]})
    )
    with pytest.raises(ValueError, match="shorter than 13"):
        ngram_overlap_scan_distributed(docs, short, n=13)
