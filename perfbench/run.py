#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source (see build.py), runs one
workload in a fresh JVM, and prints one JSON object as the last line of
standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of the workload;
with --trace 1 they are the per-layer metrics taken from the traced
run's spans and Spark counters. Every file the run writes stays inside
the checkout: scratch inputs under .bench_work/ (removed at exit) and
one artifact per run under .bench_out/ (fabric record, metrics, spans).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("egraph_serve", "analytics_batch", "corpus_ingest")
# hard ceiling for one run (the contract allows 180 s)
RUN_LIMIT_S = 170
# the self-test runs every workload twice, on tiny inputs
SELFTEST_LIMIT_S = 900


def git_commit() -> str:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def jvm(cp: str, work: str, main_args: list, deadline: float) -> tuple:
    """Run the benchmark JVM; return (exit code, result line or None)."""
    cmd = build.jvm_command(cp, work)
    if os.path.isfile(build.cds_archive()):
        cmd += [f"-XX:SharedArchiveFile={build.cds_archive()}", "-Xlog:cds=off",
                "-Xlog:cds+dynamic=off"]
    cmd += ["graftbench.Main"] + main_args
    env = dict(os.environ, GRAFTBENCH_COMMIT=git_commit())
    # the session is graft's default one on this machine: no inherited
    # overrides, and no local dirs outside the checkout
    for k in [k for k in env if k.startswith("SPARK_GRAFT_")] + ["SPARK_LOCAL_DIRS"]:
        env.pop(k, None)
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, env=env, cwd=work)
    try:
        for line in proc.stdout:
            if line.startswith("@@RESULT "):
                result = line[len("@@RESULT "):].strip()
            else:
                sys.stderr.write(line)
            if time.time() > deadline:
                break
        remaining = max(1.0, deadline - time.time())
        proc.wait(timeout=remaining)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
            print("[run] benchmark JVM stopped before it finished",
                  file=sys.stderr)
            return 124, None
    return proc.returncode, result


def on_term(signum, _frame):
    # unwind through the finally blocks, which stop the JVM or the
    # compiler and remove the scratch directory
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="tiny run that checks the benchmark itself")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[run] build failed: {e}", file=sys.stderr)
        return 2
    # the build may take long on a fresh checkout; the run itself
    # gets the per-run ceiling from here on
    deadline = time.time() + (SELFTEST_LIMIT_S if a.selftest else
                              RUN_LIMIT_S - min(10.0, time.time() - t0))
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    if a.selftest:
        main_args = ["--selftest", "--work", work]
    else:
        artifact = os.path.join(
            out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        main_args = ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--work", work, "--artifact", artifact]
    t1 = time.time()
    try:
        code, result = jvm(cp, work, main_args, deadline)
    finally:
        t2 = time.time()
        shutil.rmtree(work, ignore_errors=True)
        print(f"[run] build {t1 - t0:.1f}s, benchmark {t2 - t1:.1f}s, "
              f"clean-up {time.time() - t2:.1f}s", file=sys.stderr)
    if code != 0 or result is None:
        print(f"[run] benchmark failed (exit {code})", file=sys.stderr)
        return code or 1
    json.loads(result)  # refuse to print anything that is not one JSON object
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
