#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize the spread.

    python3 perfbench/sweep.py --workload corpus_chain --seeds 1-10 --out perfbench/.work/sweep-a
    python3 perfbench/sweep.py --summarize perfbench/.work/sweep-a [perfbench/.work/sweep-b]

Each run's stdout goes to <out>/<workload>-s<seed>.out. The summary is a
markdown table per workload and run set: median, first and third quartile
(statistics.quantiles(n=4)), the quartile spread as a share of the median,
and the sample count; with two run sets, also the shift of the second
median against the first. It also prints the per-run warm-up trend (last
over first timed pass; "-" for a run that timed one pass).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def parse_seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(workload: str, seeds: list[int], out: Path, seconds: int, trace: int) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for seed in seeds:
        path = out / f"{workload}-s{seed}.out"
        t0 = time.perf_counter()
        with open(path, "w") as f:
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(trace)],
                stdout=f, stderr=subprocess.DEVNULL, cwd=HERE.parent, timeout=900,
            )
        print(f"{workload} seed {seed}: exit {proc.returncode} after {time.perf_counter() - t0:.1f} s",
              file=sys.stderr)


def load(run_dir: Path) -> dict[str, list[tuple[dict, dict]]]:
    """{workload: [(diagnostics, result), ...]} for the good runs in a dir."""
    runs: dict[str, list] = {}
    for p in sorted(run_dir.glob("*.out")):
        lines = p.read_text().strip().splitlines()
        if len(lines) < 2:
            print(f"{p}: no result", file=sys.stderr)
            continue
        diag, result = json.loads(lines[-2])["diagnostics"], json.loads(lines[-1])
        runs.setdefault(diag["workload"], []).append((diag, result))
    return runs


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "n": len(values)}


def summarize(run_dirs: list[Path]) -> None:
    sets = [load(d) for d in run_dirs]
    bounds = {m["name"]: m.get("bound") for m in
              json.loads((HERE.parent / "BENCHMARK.json").read_text())["end_to_end"]}
    for workload in sorted({w for s in sets for w in s}):
        print(f"\n### {workload}\n")
        print("| metric | set | median | q1 | q3 | spread | n | bound | shift |")
        print("|---|---|---|---|---|---|---|---|---|")
        for name in next(iter(sets[0].get(workload, [])))[1]["metrics"]:
            first = None
            for i, s in enumerate(sets):
                vals = [r["metrics"][name]["value"] for _, r in s.get(workload, [])]
                if not vals:
                    continue
                st = stats(vals)
                first = first or st
                shift = st["median"] / first["median"] - 1 if first["median"] else 0.0
                print(f"| {name} | {i + 1} | {st['median']:.4g} | {st['q1']:.4g} | {st['q3']:.4g} "
                      f"| {st['spread']:.3f} | {st['n']} | {bounds.get(name)} | {shift:+.3f} |")
        for i, s in enumerate(sets):
            runs = s.get(workload, [])
            trends = [d["trend"] for d, _ in runs]
            steal = [d["host_steal_pct"] for d, _ in runs]
            bad = sum(r["failed"] for _, r in runs)
            print(f"\nset {i + 1}: failed passes {bad} of {sum(r['attempted'] for _, r in runs)}; "
                  f"trend last/first-1 per run: {', '.join('-' if t is None else f'{t:+.3f}' for t in trends)}; "
                  f"host steal %: {', '.join(f'{x:.1f}' for x in steal)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", type=Path)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--summarize", type=Path, nargs="+")
    args = ap.parse_args()
    if args.workload:
        run(args.workload, parse_seeds(args.seeds), args.out, args.seconds, args.trace)
    summarize(args.summarize or [args.out])
    return 0


if __name__ == "__main__":
    sys.exit(main())
