#!/usr/bin/env python3
"""Alternating A/B runs of perfbench: a base revision against this checkout.

Usage:
  python3 dev/perfbench_ab.py --base REV [--workload curate ...]
      [--seeds 301-310] [--work DIR]

The base side is the committed tree of REV, unpacked with `git archive`
into DIR/base-<rev> (kept between invocations, so its build is reused);
the change side is this checkout as it stands. Each side builds into its
own .bench_build/ before any timed run. Then, per workload and seed, one
pair of runs of

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0

is made (S is BENCHMARK.json's run_seconds), alternating which side runs
first. A run that fails or reports `correct: false` counts as a failure
of its side. Per workload it prints each side's failures, and per
end-to-end metric (as declared in BENCHMARK.json) both sides' median and
Q1-Q3 over the complete pairs, the change's wins out of the seeds run
(ties and incomplete pairs count for neither), the gain verdict and the
bound check. A gain needs wins on at least 9/10 of the seeds, a median
gap larger than the base's Q3 - Q1, and no more change failures than
base failures. The bound check prints `WORSE` when the change's median
is worse than the base's by more than the metric's bound, `unresolved`
when the base's Q3 - Q1 relative to its median exceeds the bound and the
change does not win every seed, and `ok` otherwise.

Nothing under perfbench/ or BENCHMARK.json is written. Runs are
sequential: never run other Spark work on the host while it measures.
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_TIMEOUT_S = 600


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def checkout(rev, work):
    sha = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--short", rev],
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = work / f"base-{sha}"
    if not (dest / "perfbench" / "run.py").is_file():
        dest.mkdir(parents=True, exist_ok=True)
        archive = subprocess.Popen(["git", "-C", str(ROOT), "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
    return sha, dest


def build(tree):
    r = subprocess.run([sys.executable, "perfbench/build.py"], cwd=tree,
                       stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"build failed in {tree}:\n{r.stderr[-2000:]}")


def run(tree, workload, seed, seconds):
    """The result line's metric values by name, or None when the run failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    try:
        r = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None
    line = next((l for l in reversed(r.stdout.splitlines()) if l.startswith("{")), None)
    if line is None:
        return None
    res = json.loads(line)
    if not res.get("correct") or res.get("failed"):
        return None
    return {name: m["value"] for name, m in res["metrics"].items()}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, runs, metrics):
    pairs = [(b, c) for b, c in runs if b and c]
    fails = {side: sum(r[i] is None for r in runs) for i, side in enumerate(("base", "change"))}
    n = len(runs)
    print(f"\n{workload}: {n} seeds, {len(pairs)} complete pairs, "
          f"failed runs: base {fails['base']}, change {fails['change']}")
    print(f"  {'metric':<13} {'base median [Q1-Q3]':>30} {'change median [Q1-Q3]':>30} "
          f"{'wins':>6}  gain  bound")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        b = [p[0][name] for p in pairs]
        c = [p[1][name] for p in pairs]
        if not b:
            continue
        bq1, bmed, bq3 = quartiles(b)
        cq1, cmed, cq3 = quartiles(c)
        wins = sum((cv < bv) if lower else (cv > bv) for bv, cv in zip(b, c))
        gap = (bmed - cmed) if lower else (cmed - bmed)
        gain = wins >= 0.9 * n and gap > bq3 - bq1 and fails["change"] <= fails["base"]
        worse = -gap / abs(bmed) if bmed else 0.0
        spread = (bq3 - bq1) / abs(bmed) if bmed else 0.0
        if worse > m["bound"]:
            bound = f"WORSE by {worse:.0%} > {m['bound']:.0%}"
        elif spread > m["bound"] and wins < n:
            bound = f"unresolved: base spread {spread:.0%} > {m['bound']:.0%}"
        else:
            bound = "ok"
        side = lambda med, q1, q3: f"{med:.5g} [{q1:.5g}-{q3:.5g}]"
        print(f"  {name:<13} {side(bmed, bq1, bq3):>30} {side(cmed, cq1, cq3):>30} "
              f"{wins:>3}/{n:<2}  {'yes' if gain else 'no':<4}  {bound}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--workload", action="append", help="repeatable; default: all in BENCHMARK.json")
    ap.add_argument("--seeds", default="301-310", help="e.g. 301-310 or 5,9,12 (one pair each)")
    ap.add_argument("--work", type=Path, default=Path(tempfile.gettempdir()) / "perfbench_ab",
                    help="where the base checkout is unpacked")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    sha, base = checkout(a.base, a.work)
    print(f"base {sha} at {base}; change {ROOT}", flush=True)
    for tree in (base, ROOT):
        build(tree)

    for w in workloads:
        runs = []
        for i, seed in enumerate(seeds(a.seeds)):
            order = [("base", base), ("change", ROOT)]
            if i % 2:
                order.reverse()
            got = {side: run(tree, w, seed, seconds) for side, tree in order}
            print(f"  {w} seed {seed} ({order[0][0]} first): base "
                  f"{got['base'] and got['base'].get('p50_ms')} p50_ms, change "
                  f"{got['change'] and got['change'].get('p50_ms')} p50_ms"
                  + ("" if got["base"] and got["change"] else "  FAILED RUN"),
                  flush=True)
            runs.append((got["base"], got["change"]))
        report(w, runs, bench["end_to_end"])


if __name__ == "__main__":
    main()
