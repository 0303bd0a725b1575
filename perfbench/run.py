#!/usr/bin/env python3
"""Steady-state benchmark of the two pipeline entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process per run: it generates the workload's inputs from the seed
(cached under perfbench/.work/inputs), starts a local[nproc] session,
warms up with one entry-point pass over the input, then times passes
until `--seconds` of pass time have elapsed. Every pass writes to a fresh
directory, created and removed outside the timed region, and its output
is checked. The last stdout line is one JSON object: {"correct",
"attempted", "failed", "metrics"}; the line before it holds diagnostics
(per-pass times, trend, host steal, calibration probes). Each pass's
output digest must equal the one pinned in pins.json for its (workload,
seed, rows, nproc); see pin.py.

--trace 0 reports the end-to-end metrics. --trace 1 additionally runs a
traced section (see layers.py) and reports the per-layer metrics; the
span list is written to perfbench/.work/trace/<workload>-s<seed>.json.

Pinned environment (see pin_environment): local[nproc], shuffle and temp
files under perfbench/.work, driver heap DRIVER_MEM, the JVM's C1 compiler
only (JIT_OPTS), no console progress bars. The benchmark reads and writes
only inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
PINS = HERE / "pins.json"
DRIVER_MEM = "3g"

# The JVM runs with the C1 compiler only. With the default tiered C2 a
# fresh JVM keeps getting faster for seven or more passes while C2
# compiles the hot paths, longer than a run can afford to warm up; with C1
# the passes after one warm-up pass are flat. The warm-up is that one
# entry-point pass over the timed input, a fixed amount of work counted in
# setup_s. README.md ("Warm-up") has the measured slopes.
JIT_OPTS = "-XX:TieredStopAtLevel=1"

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "cpu_s": "s",
    "peak_rss_mb": "MB", "out_bytes_per_in_byte": "ratio", "out_files": "count",
}


def pin_environment() -> dict[str, str]:
    """Set the process environment and return the extra Spark conf."""
    for d in ("spark-local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData {JIT_OPTS}"
    return {
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }


def start_spark(cores: int):
    from langid_py_spark.spark.session import get_spark

    return get_spark(cores=cores, shuffle_partitions=cores, app_name="perfbench",
                     extra_conf=pin_environment())


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    from procstat import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in tree_pids()[1:]:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.parent.mkdir(parents=True, exist_ok=True)
    return path


def dir_bytes(files) -> int:
    return sum(p.stat().st_size for p in files)


def run_passes(spark, wl, inp: Path, in_rows: int, seconds: float, out: Path, log) -> list[dict]:
    """Timed passes until `seconds` of pass time; each checked afterwards."""
    from procstat import tree_cpu_s
    from workloads import data_files

    passes: list[dict] = []
    while not passes or sum(p["wall_s"] for p in passes) < seconds:
        fresh_dir(out)
        rec: dict = {"errors": []}
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            manifest = wl.run_pass(spark, str(inp), str(out))
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            files = data_files(str(out))
            rec["out_files"], rec["out_bytes"] = len(files), dir_bytes(files)
            rec["errors"], rec["digest"] = wl.check(in_rows, str(out), manifest)
        except Exception:  # a failed pass is counted, and the run goes on
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["errors"].append(traceback.format_exc(limit=3))
        passes.append(rec)
        log(f"pass {len(passes)}: {rec['wall_s']:.3f} s {rec['errors'] or ''}")
    shutil.rmtree(out, ignore_errors=True)
    return passes


def pin_key(workload: str, seed: int, rows: int, cores: int) -> str:
    return f"{workload}/{seed}/{rows}/{cores}"


def judge(passes: list[dict], pin: str | None) -> int:
    """Mark passes whose digest differs from the pin; return the number of
    failed passes. A seed without a pin (one outside pin.py's range, or a
    non-default --rows) can only be checked for passes agreeing with the
    first one, which is no check when one pass was timed."""
    want = pin or next((p.get("digest") for p in passes if p.get("digest")), None)
    for p in passes:
        if p.get("digest") is not None and p["digest"] != want:
            p["errors"].append(f"digest {p['digest']} != {want}")
    return sum(bool(p["errors"]) for p in passes)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, help="input rows (default: the workload's size)")
    args = ap.parse_args(argv)

    def log(msg: str) -> None:
        print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)

    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import procstat
    import workloads
    from bench import _calibrate, _cpu_jiffies

    wl = workloads.WORKLOADS[args.workload]
    rows = args.rows or wl.rows
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    inp = workloads.ensure_input(WORK, wl, args.seed, rows, cores)
    gen_s = time.perf_counter() - t0
    in_bytes = dir_bytes(workloads.data_files(str(inp)))
    log(f"inputs ready in {gen_s:.1f} s: {inp}")

    spark = start_spark(cores)
    try:
        out = WORK / "out" / f"{wl.name}-{os.getpid()}"
        w0 = time.perf_counter()
        wl.run_pass(spark, str(inp), str(fresh_dir(out)))
        shutil.rmtree(out, ignore_errors=True)
        log(f"warm-up pass: {time.perf_counter() - w0:.3f} s")
        setup_s = procstat.process_age_s() - gen_s

        jif0, steal0 = _cpu_jiffies()
        with procstat.RssSampler() as rss:
            rss.reset()
            passes = run_passes(spark, wl, inp, rows, args.seconds, out, log)
            peak_rss = rss.peak_mb
        jif1, steal1 = _cpu_jiffies()
        steal = 100.0 * (steal1 - steal0) / max(jif1 - jif0, 1)
        calib = dict(zip(("calib_gflops", "calib_membw_gbs", "calib_mt_gflops"), _calibrate()))

        pin = json.loads(PINS.read_text()).get(pin_key(wl.name, args.seed, rows, cores))
        layer_metrics: dict = {}
        if args.trace:
            import layers

            good = [p["wall_s"] for p in passes if not p["errors"]]
            plain = statistics.median(good) if good else passes[0]["wall_s"]
            trace_passes, layer_metrics = layers.traced_section(
                spark, wl, inp, rows, plain, out, WORK / "trace" / f"{wl.name}-s{args.seed}.json", log
            )
            passes += trace_passes
    finally:
        stop_spark(spark)

    failed = judge(passes, pin)
    timed = [p for p in passes if "cpu_s" in p and not p.get("traced")]
    walls = [p["wall_s"] for p in timed]
    wall = statistics.median(walls)
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "peak_rss_mb": peak_rss,
        "out_bytes_per_in_byte": statistics.median(p["out_bytes"] for p in timed) / in_bytes,
        "out_files": statistics.median(p["out_files"] for p in timed),
    }
    diagnostics = {
        "workload": wl.name, "seed": args.seed, "rows": rows, "in_bytes": in_bytes,
        "cores": cores, "jit_opts": JIT_OPTS, "gen_s": gen_s,
        "pass_wall_s": walls, "pass_cpu_s": [p["cpu_s"] for p in timed],
        # with one timed pass there is no trend to report
        "trend": walls[-1] / walls[0] - 1 if len(walls) > 1 else None,
        "digests": sorted({p.get("digest") for p in passes if p.get("digest")}),
        "pinned_digest": pin, "host_steal_pct": steal,
        **calib,
        "errors": [e for p in passes for e in p["errors"]],
    }
    print(json.dumps({"diagnostics": diagnostics}))
    names = layers.PER_LAYER if args.trace else END_TO_END
    source = layer_metrics if args.trace else metrics
    result = {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": source[k], "unit": u} for k, u in names.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
