"""Run one workload of the store benchmark at one seed.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from this checkout if needed
(see build.py), runs the workload in one JVM against Spark local[nproc],
relays its report, and exits 0 only when the run finished and printed
its result object as the last line. Everything it writes stays under
.bench_build/ in the checkout; the run's store is deleted afterwards,
the run record and spans are kept under .bench_build/out/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing outside .bench_build/
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest", "query", "curate")
RUN_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        built = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    bench = build.ROOT / ".bench_build"
    work = bench / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out = bench / "out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = built.java("perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--out", str(out)], work / "tmp")
    start = time.monotonic()
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S, cwd=build.ROOT)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = proc.stdout.rstrip("\n").splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    valid = (proc.returncode == 0 and isinstance(result, dict)
             and set(result) == {"correct", "attempted", "failed", "metrics"})
    body = lines[:-1] if result is not None else lines
    for line in body:
        print(line)
    print(f"perfbench: jvm wall {time.monotonic() - start:.1f} s", file=sys.stderr)
    if not valid:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
