"""Run one workload of the benchmark and print its result as the last line.

    python3 perfbench/run.py --workload census_report --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (see build.py), then runs the
harness `graft.perfbench.Main` in one JVM: one closed-loop client thread
against a local[n] Spark session. With --trace 0 the result carries the
end-to-end metrics, with --trace 1 the per-layer metrics. Details of the run
(environment stamp, every sample, spans of a traced run) land under
.bench_build/perfbench/results/. The exit code is non-zero when the build
fails, the harness fails, or an output check failed.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("census_report", "pretrain_batch", "pretrain_stream")
DEADLINE_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    t0 = time.time()
    # the JVM's own start counts into setup_s: hand it our start instant
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", build.ROOT, "--launched-ms", str(int(time.time() * 1000))]
    cmd = build.java_cmd(classes, "graft.perfbench.Main", args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=build.ROOT, text=True)

    def stop(signum, _frame):
        # never leave the JVM behind: stop it, wait for it, then exit
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: harness timed out", file=sys.stderr)
        return 3
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"perfbench: harness exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
