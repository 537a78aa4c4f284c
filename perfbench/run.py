"""Runs one benchmark workload against the engine and prints its result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine and
the benchmark (see build.py); later runs reuse the build. The last
line of standard output is the result object
`{"correct", "attempted", "failed", "metrics"}`; `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. A run record with
host stamps and per-op fingerprints goes to `.bench_build/out/`, and
the spans of a traced run next to it. The exit code is 0 only when
every op's answer check passed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("medallion_refresh", "dml_commits", "lake_reads", "corpus_curate")
SENTINEL = "PERFBENCH_RESULT "


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    # stopped while building: subprocess.run kills its child on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(4))
    t0 = time.monotonic()
    try:
        build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    # set-up and checks take a fixed allowance; timed windows take up to
    # three times --seconds (an untraced run may measure a second window);
    # a run that had to compile may take longer than a warm one
    allowance = 840 if time.monotonic() - t0 > 5 else 140
    deadline = t0 + allowance + 3 * args.seconds

    out_dir = build.ROOT / ".bench_build" / "out"
    work = build.ROOT / ".bench_build" / "work" / f"{args.workload}-{os.getpid()}"
    out_dir.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    out = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    cmd = build.java(work, build.share_flags(), [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--out", str(out)])
    result = []
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def pump():
        for line in proc.stdout:
            if line.startswith(SENTINEL):
                result.append(line[len(SENTINEL):].strip())
            else:
                sys.stderr.write(line)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(4)

    # a stopped run takes its JVM (in its own process group) with it
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit; stopping it", file=sys.stderr)
        stop()
    reader.join(timeout=10)
    shutil.rmtree(work, ignore_errors=True)
    if not result:
        return code or 5
    print(result[-1], flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
