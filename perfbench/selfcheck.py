"""Self-checks of the benchmark: seeded generators, metric names, tail rule.

    python3 perfbench/selfcheck.py

Builds like run.py does, then runs graft.perfbench.SelfCheck (perfbench/tests)
in a small local Spark session. Exits non-zero if any check fails.
"""
import subprocess
import sys
import os

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402


def main():
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    cmd = build.java_cmd(classes, "graft.perfbench.SelfCheck", [build.ROOT], heap="1g")
    return subprocess.call(cmd, cwd=build.ROOT, timeout=170)


if __name__ == "__main__":
    sys.exit(main())
