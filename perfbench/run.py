"""Benchmark entry point: one workload at one seed.

    python3 perfbench/run.py --workload {recrawl,analytics} \
        --seed N --seconds S --trace {0,1} [--pinned-seed N] [--pin]

Run from the repository root. Builds the program and the harness if
their sources changed (see build.py), runs the harness in one
`local[cores]` Spark process, checks its outputs, writes a side file
under `.bench_out/`, and prints one JSON line as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics of a traced run. For the pinned seed the
input fingerprint and every output digest must match
`perfbench/expected.json`; --pin rewrites that seed's entry from this
run instead (only for a change that alters outputs on purpose).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("recrawl", "analytics")
DEADLINE_S = 170  # the harness is stopped after this many seconds


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_harness(cmd, budget_s):
    """Runs the harness, forwarding its output to stderr; stops it (and
    waits for it) when the budget runs out. Returns the exit code."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, budget_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"harness exceeded {budget_s:.0f} s and was stopped", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pinned-seed", type=int, default=None)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        classpath = build.build(root, out_dir)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    built = time.monotonic()

    work = os.path.join(out_dir, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    cmd = build.harness_command(classpath, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(len(os.sched_getaffinity(0))),
        "--data", os.path.join(HERE, "data", "sf0.01"), "--raw", raw_path])
    # the build gets its own allowance; the run keeps DEADLINE_S
    budget = DEADLINE_S - (time.monotonic() - t0) + (built - t0)
    try:
        rc = run_harness(cmd, budget)
        if rc != 0 or not os.path.exists(raw_path):
            fail(f"harness exited with code {rc}", rc or 1)
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected_path = os.path.join(HERE, "expected.json")
    expected = {}
    if os.path.exists(expected_path):
        with open(expected_path) as fh:
            expected = json.load(fh)
    pinned = args.pinned_seed is not None and args.seed == args.pinned_seed
    pins = None
    if pinned and args.pin:
        expected.setdefault(str(args.seed), {})[args.workload] = report.pins_of(raw)
        with open(expected_path, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
    elif pinned:
        pins = expected.get(str(args.seed), {}).get(args.workload, {})

    result, side = report.summarize(raw, pins, raw.get("query_mix", ()))
    side_dir = os.path.join(root, ".bench_out")
    os.makedirs(side_dir, exist_ok=True)
    side_path = os.path.join(side_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(side_path, "w") as fh:
        json.dump(side, fh, indent=1)
    for line in side["problems"] + side["errors"][:20]:
        print(f"perfbench: check failed: {line}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
