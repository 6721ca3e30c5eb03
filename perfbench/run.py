"""graft benchmark: three closed-loop workloads against the public API.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload diff --seed 1 --seconds 20 --trace 0

Builds graft from source on first use (see build.py), runs one JVM with
Spark in local mode on every core, and prints the result as the last
stdout line. ``--self-test`` runs the benchmark's own tests instead.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no cache files in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("diff", "lifecycle", "neardup")
JVM_DEADLINE_S = 170


def run_jvm(cmd, work: Path):
    """Run a JVM with stderr to a log; return (exit code, stdout lines)."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            print(f"# benchmark JVM killed after {JVM_DEADLINE_S} s", file=sys.stderr)
            return 124, out.splitlines()
    return proc.returncode, out.splitlines()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    opts = ap.parse_args()
    if not opts.self_test and not opts.workload:
        ap.error("--workload is required")

    root = Path.cwd().resolve()
    try:
        app = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    bench_work = root / ".bench_work"
    name = "selftest" if opts.self_test else f"{opts.workload}-{opts.seed}-{opts.trace}"
    work = bench_work / f"{name}-{os.getpid()}"
    if opts.self_test:
        cmd = build.java_cmd(app, work, "perfbench.SelfTest", ["--work", str(work)])
    else:
        args = ["--workload", opts.workload, "--seed", str(opts.seed),
                "--seconds", str(opts.seconds), "--trace", str(opts.trace), "--work", str(work),
                "--trace-out", str(bench_work / "traces" / f"{opts.workload}-seed{opts.seed}.jsonl"),
                "--expect-dir", str(bench_work / "expect")]
        cmd = build.java_cmd(app, work, "perfbench.Main", args)
    try:
        code, lines = run_jvm(cmd, work)
        for line in lines:
            print(line)
        if code != 0:
            print(f"perfbench: JVM exited with {code}; log tail:", file=sys.stderr)
            print((work / "jvm.log").read_text()[-3000:], file=sys.stderr)
            return code or 1
        if opts.self_test:
            return 0
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            result = None
        if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
            print("perfbench: no result line", file=sys.stderr)
            return 1
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
