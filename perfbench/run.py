#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload trace_interactive --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles graft's sources and
the benchmark's own (see build.py); later runs reuse the build. The last
line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. The exit code is 0 only when every
op's result passed its check.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("trace_interactive", "corpus_dedup")
HEAP = "2g"  # fixed JVM heap of every run
RUN_TIMEOUT_S = 170


def result_line(stdout):
    """The JSON object on the last non-empty line of `stdout`, or None."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    if not isinstance(res, dict) or set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return res


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt the first timed result; the run must fail")
    ap.add_argument("--generate-only", action="store_true",
                    help="generate the inputs and print their digest")
    a = ap.parse_args(argv)

    root = os.getcwd()
    try:
        classes = build.ensure_built(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.build_dir(root), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_command(classes, HEAP, os.path.join(work, "tmp")) + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    if a.trace:
        spans = os.path.join(build.build_dir(root), "spans", f"{a.workload}-{a.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        cmd += ["--spans", spans]
    if a.inject_wrong:
        cmd.append("--inject-wrong")
    if a.generate_only:
        cmd.append("--generate-only")
    # Spark's scratch space stays in the run directory even when the caller's
    # environment points it elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=root, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.generate_only:
        sys.stdout.write(out)
        return proc.returncode
    res = result_line(out)
    body = out.rstrip("\n").splitlines()
    sys.stdout.write("\n".join(body[:-1] if res else body) + "\n")
    if res is None:
        print(f"perfbench: no result line (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(json.dumps(res))
    if proc.returncode != 0 or not res["correct"] or res["failed"]:
        return proc.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
