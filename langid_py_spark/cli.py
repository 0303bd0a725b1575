"""CLI mirroring langid.py's batch / line modes (langid/langid.py main()
~L370-L520), Spark-first where it matters:

  python -m langid_py_spark.cli -b FILE [FILE...]   # one doc per file
  python -m langid_py_spark.cli --line FILE          # one doc per line
  cat text | python -m langid_py_spark.cli --line    # stdin lines
  python -m langid_py_spark.cli --spark PARQUET OUT  # distributed:
        score a parquet of (.., text) rows, write parquet + lang column
  python -m langid_py_spark.cli --corpus PARQUET OUT # distributed:
        run the seven-tier training-data pipeline (dedup -> line dedup
        -> span cut -> decontam -> rules -> clf sample -> pack) with
        table-per-tier resume under OUT; --needles FILE = one needle
        per line (decontamination list)
  python -m langid_py_spark.cli --train-lm PARQUET OUT.npz
        estimate the interpolated byte-trigram LM from a corpus
        parquet (distributed counts, key-space-bounded pull) and write
        the npz artifact the perplexity scorers load; --per-lang
        writes a MultiTrigramLM (per-language LMs + global fallback,
        the lm_by_lang.npz shape) from the corpus' lang column
  -l en,de,fr    restrict languages (model slicing, not post-filter)
  -n             suppress confidence normalization (raw log-probs)

The reference's multiprocessing Pool batch mode is replaced by the
NumPy batch scorer locally and by executor parallelism under --spark.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="langid_py_spark")
    ap.add_argument("-b", "--batch", action="store_true", help="one doc per file")
    ap.add_argument("--line", action="store_true", help="one doc per line")
    ap.add_argument("-l", "--langs", default=None, help="comma-separated subset")
    ap.add_argument(
        "-n", "--no-norm", action="store_true", help="raw log-prob confidence"
    )
    ap.add_argument("--spark", action="store_true", help="distributed parquet mode")
    ap.add_argument(
        "--corpus", action="store_true", help="seven-tier corpus pipeline mode"
    )
    ap.add_argument(
        "--needles", default=None, help="decontamination needle file (one per line)"
    )
    ap.add_argument(
        "--train-lm", action="store_true", help="train LM artifact from parquet"
    )
    ap.add_argument(
        "--per-lang", action="store_true", help="train-lm: per-language LMs"
    )
    ap.add_argument("--min-count", type=int, default=2)
    ap.add_argument("--k-span", type=int, default=30)
    ap.add_argument("--budget", type=int, default=512)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("paths", nargs="*")
    args = ap.parse_args(argv)

    langs = args.langs.split(",") if args.langs else None

    if args.corpus:
        if len(args.paths) != 2:
            ap.error("--corpus needs IN_PARQUET OUT_DIR")
        from langid_py_spark.operators.corpus_pipeline import run_corpus_pipeline
        from langid_py_spark.spark.session import get_spark

        needles = ["zzz-default-canary"]
        if args.needles:
            with open(args.needles) as f:
                # strip() not rstrip('\n'): CRLF files would otherwise
                # leave '\r' on every needle and byte-exact containment
                # would silently match nothing (review r06); dedupe
                # order-preserving — contamination_scan_join rejects
                # duplicate needles, better caught here than in tier 4
                needles = list(
                    dict.fromkeys(ln.strip() for ln in f if ln.strip())
                )
        spark = get_spark(cores=args.cores, app_name="corpus_cli")
        out = run_corpus_pipeline(
            spark,
            spark.read.parquet(args.paths[0]),
            args.paths[1],
            needles,
            k_span=args.k_span,
            budget=args.budget,
            resume=not args.no_resume,
        )
        print(f"packed {out.count()} docs -> {args.paths[1]}/t7_pack")
        return 0

    if args.train_lm:
        if len(args.paths) != 2:
            ap.error("--train-lm needs IN_PARQUET OUT_NPZ")
        from langid_py_spark.operators import lm_train
        from langid_py_spark.spark.session import get_spark

        spark = get_spark(cores=args.cores, app_name="lm_train_cli")
        df = spark.read.parquet(args.paths[0])
        if args.per_lang:
            multi = lm_train.train_multi_lm_distributed(
                df, min_count=args.min_count
            )
            multi.save(args.paths[1])
            print(
                f"wrote MultiTrigramLM ({len(multi.lms)} langs + fallback) "
                f"-> {args.paths[1]}"
            )
        else:
            lm = lm_train.train_lm_distributed(df, min_count=args.min_count)
            lm.save(args.paths[1])
            print(
                f"wrote TrigramLM ({len(lm.tri_keys)} trigrams, "
                f"{len(lm.bi_keys)} bigrams) -> {args.paths[1]}"
            )
        return 0

    if args.spark:
        if len(args.paths) != 2:
            ap.error("--spark needs IN_PARQUET OUT_PARQUET")
        from langid_py_spark.spark.scorer import with_language
        from langid_py_spark.spark.session import get_spark

        spark = get_spark(cores=args.cores, app_name="langid_cli")
        df = spark.read.parquet(args.paths[0])
        out = with_language(df, langs=langs).select("*", "ld.*").drop("ld")
        out.write.mode("overwrite").parquet(args.paths[1])
        print(f"wrote {args.paths[1]}")
        return 0

    from langid_py_spark.core.model import NBModel

    model = NBModel.load()
    if langs:
        model = model.set_languages(langs)

    if args.batch:
        for p in args.paths:
            with open(p, "rb") as f:
                data = f.read()
            ls, raw, norm, _ = model.classify_batch([data])
            conf = raw[0] if args.no_norm else norm[0]
            print(f"{p},{ls[0]},{conf:.6f}")
    elif args.line:
        src = open(args.paths[0]) if args.paths else sys.stdin
        texts = [line.rstrip("\n") for line in src]
        ls, raw, norm, _ = model.classify_batch(texts)
        conf = raw if args.no_norm else norm
        for i, t in enumerate(texts):
            print(f"{ls[i]},{conf[i]:.6f}")
        if args.paths:
            src.close()
    else:
        # interactive REPL (reference ~L470)
        try:
            while True:
                line = input(">>> ")
                ls, raw, norm, _ = model.classify_batch([line])
                print((ls[0], float(raw[0] if args.no_norm else norm[0])))
        except (EOFError, KeyboardInterrupt):
            pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
