"""Runs one benchmark workload and prints its result.

Usage:
  python3 perfbench/run.py --workload <dblp_etl|curate|search> --seed <n>
      --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source on first
use (see build.py), generates the workload's inputs from the seed under
.bench_build/, runs it in one JVM with Spark local[nproc], and prints the
`perfbench ...` report lines followed by one JSON result line. With
--trace 0 the result carries the end-to-end metrics, with --trace 1 the
per-layer ledger. Exits non-zero, without a result line, when the
program cannot be built or run; exits 1 after the result line when an
output check failed.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # the checkout gets nothing but .bench_build/
import build  # noqa: E402

WORKLOADS = ("dblp_etl", "curate", "search")
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        jars = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = build.BUILD.parent / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    flags = [f"-XX:SharedArchiveFile={build.ARCHIVE}"] if build.ARCHIVE.is_file() else []
    cmd = build.jvm(jars, work, *flags) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            env=build.jvm_env(work))
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    for l in lines:
        if l is not result:
            print(l, file=sys.stdout if l.startswith("perfbench ") else sys.stderr)
    if result is None:
        print(f"no result line (JVM exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(result, flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
