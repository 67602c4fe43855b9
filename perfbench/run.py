"""Runs the benchmark. From the repository root:

    python3 perfbench/run.py --workload extract_commit --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --all          # every workload, seeds 1 and 2, both modes
    python3 perfbench/run.py --self-test    # the benchmark's own tests

One run builds what is out of date (perfbench/build.py), starts one JVM with
a Spark local[n] master, n = the CPUs this process may use, and forwards its
standard output: the last line is the result object
{"correct", "attempted", "failed", "metrics"}. Exits non-zero, without a
result, when the program cannot be built.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["extract_commit", "curate_corpus", "event_joins"]
RUN_TIMEOUT_S = 170

def cores():
    return len(os.sched_getaffinity(0))


def run_once(workload, seed, seconds, trace, classpath):
    """Runs one workload in its own JVM; returns (exit code, stdout lines)."""
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores()), "--out", build.OUT]
    try:
        p = subprocess.run(build.java(classpath, "perfbench.Main", args),
                           cwd=build.ROOT,
                           stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        print(f"[perfbench] {workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3, []
    return p.returncode, p.stdout.splitlines()


def run_all(classpath, seconds):
    """Every workload at seeds 1 and 2, untraced then traced; prints each
    metric by name with its unit. Returns non-zero if any run failed."""
    bad = 0
    for seed in (1, 2):
        for w in WORKLOADS:
            for trace in (0, 1):
                code, lines = run_once(w, seed, seconds, trace, classpath)
                if code != 0 or not lines:
                    print(f"{w} seed={seed} trace={trace}: exit {code}")
                    bad += 1
                    continue
                res = json.loads(lines[-1])
                ok = res["correct"] and res["failed"] == 0
                bad += 0 if ok else 1
                print(f"{w} seed={seed} trace={trace} correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']} "
                      f"failed_ratio={res['failed'] / res['attempted']:.3f}")
                details = {}
                if trace and len(lines) > 1 and lines[-2].startswith('{"detail"'):
                    details = json.loads(lines[-2])["detail"]
                for name, m in list(res["metrics"].items()) + list(details.items()):
                    print(f"  {name:42s} {m['value']!s:>24} {m['unit']}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description="perfbench runner")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    try:
        classpath = build.build(tests=a.self_test)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    if a.self_test:
        return subprocess.run(build.java(classpath, "perfbench.SelfTest", []),
                              cwd=build.ROOT, timeout=600).returncode
    if a.all:
        return run_all(classpath, a.seconds)
    if not a.workload:
        ap.error("--workload, --all or --self-test is required")
    code, lines = run_once(a.workload, a.seed, a.seconds, a.trace, classpath)
    for line in lines:
        print(line)
    return code


if __name__ == "__main__":
    sys.exit(main())
