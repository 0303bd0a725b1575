#!/usr/bin/env python3
"""Pin the output digest of each workload for the seeds the benchmark ships.

    python3 perfbench/pin.py        (about eleven minutes on 4 cores)

For every workload and each of SEEDS it generates (or reuses) the input
exactly as run.py does, runs one pass of the entry point in one shared
session, checks the pass, and records its output digest in pins.json under
"<workload>/<seed>/<rows>/<nproc>". run.py then requires every pass of a
pinned seed to produce that digest. A digest that differs from one
already pinned is reported and not overwritten; the exit code is 1.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from run import HERE, PINS, ROOT, WORK, fresh_dir, pin_key, start_spark, stop_spark

# The seeds the benchmark ships: a ten-seed spread check fits four times
# over. A run on any other seed has no pin (see README.md, "Checks").
SEEDS = range(41)


def main() -> int:
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import workloads

    cores = len(os.sched_getaffinity(0))
    pins = json.loads(PINS.read_text())
    bad = 0
    spark = start_spark(cores)
    try:
        for name, wl in workloads.WORKLOADS.items():
            for seed in SEEDS:
                inp = workloads.ensure_input(WORK, wl, seed, wl.rows, cores)
                out = fresh_dir(WORK / "out" / f"pin-{name}-{os.getpid()}")
                manifest = wl.run_pass(spark, str(inp), str(out))
                errors, digest = wl.check(wl.rows, str(out), manifest)
                shutil.rmtree(out, ignore_errors=True)
                key = pin_key(name, seed, wl.rows, cores)
                if errors or pins.get(key, digest) != digest:
                    bad += 1
                    print(f"{key}: {digest} (pinned {pins.get(key)}) {errors}", file=sys.stderr)
                    continue
                pins[key] = digest
                print(f"{key}: {digest}", file=sys.stderr, flush=True)
                PINS.write_text(json.dumps(dict(sorted(pins.items())), indent=1) + "\n")
    finally:
        stop_spark(spark)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
