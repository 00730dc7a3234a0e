#!/usr/bin/env python3
"""A/B the benchmark: alternate runs of a base commit and the working tree.

    python3 scripts/perf_ab.py --base HEAD~1 --workload etl_batch --pairs 10 --seeds 4 5 6 7

Exports both sides into a temporary directory, so each builds from a clean
tree: `--base` with `git archive` (the repository gains no worktree entry,
even when the run is killed), and the change as a copy of this working
tree's tracked and untracked-but-not-ignored files (`git ls-files --cached
--others --exclude-standard`), which leaves out this checkout's build
outputs. Then runs `python3 perfbench/run.py` (untraced, for
BENCHMARK.json's run_seconds) in the two exports, one pair per seed, cycling
through `--seeds`. Pairs alternate which side runs first. Every run prints one line
as it finishes. At the end, for each end-to-end metric of BENCHMARK.json, it
prints each side's quartiles, the base's spread (IQR / median), the
change/base ratio of the medians, and the pairs the change won (ties count
for neither side), and applies the gain rule: the change wins at least nine
tenths of the pairs and the medians differ by more than the base's IQR. A
metric whose base spread is wider than its bound reads `unresolved`, not
`within bound`, unless every change run beats every base run: such a run
set could not have shown a regression of the bound's size.
It also prints each side's `peak_heap_mb` quartiles: run.py prints that
value, but BENCHMARK.json does not bound it. Each run's line shows its
`cpu_s` next to `wall_s`: the user plus system CPU seconds of the run's
processes (this script's `RUSAGE_CHILDREN` delta around it, so the first
run in each export includes its build), and the end prints each side's
quartiles of it. A wall jump with flat CPU points at a co-tenant on a
shared box, not at the change. Neither figure enters a verdict.

Exits non-zero when any run fails or reports failed > 0. Nothing under
perfbench/ is touched; each export builds into its own .bench_build/, and
both are deleted at the end.
"""
import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def child_cpu_s():
    """User plus system CPU seconds of this process's finished children."""
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ru.ru_utime + ru.ru_stime


def run_bench(tree, workload, seed, seconds):
    """One untraced benchmark run in `tree`; its result line, or None when it crashed."""
    cpu0 = child_cpu_s()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    cpu_s = child_cpu_s() - cpu0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        return None
    res = json.loads(lines[-1])
    # printed by run.py but not a BENCHMARK.json metric: read from its line
    res["peak_heap_mb"] = next((float(l.split()[1]) for l in lines if l.startswith("peak_heap_mb ")), None)
    res["cpu_s"] = cpu_s
    return res


def export_worktree(dest):
    """Copy this working tree's tracked and untracked-but-not-ignored files to `dest`."""
    names = subprocess.run(["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
                           cwd=ROOT, check=True, stdout=subprocess.PIPE).stdout.decode().split("\0")
    for name in names:
        src = os.path.join(ROOT, name)
        if name and os.path.isfile(src):  # a tracked file deleted in the tree stays out
            os.makedirs(os.path.dirname(os.path.join(dest, name)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, name))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", required=True, help="git ref of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]

    tmp = tempfile.mkdtemp(prefix="perf_ab-")
    base_tree, change_tree = os.path.join(tmp, "base"), os.path.join(tmp, "change")
    runs = {"base": [], "change": []}
    heaps = {"base": [], "change": []}
    cpus = {"base": [], "change": []}
    failed = 0
    try:
        os.makedirs(base_tree)
        archive = subprocess.run(["git", "archive", a.base], cwd=ROOT, check=True, stdout=subprocess.PIPE).stdout
        subprocess.run(["tar", "-x", "-C", base_tree], input=archive, check=True)
        export_worktree(change_tree)
        for i in range(a.pairs):
            seed = a.seeds[i % len(a.seeds)]
            order = [("base", base_tree), ("change", change_tree)]
            if i % 2:
                order.reverse()
            for side, tree in order:
                res = run_bench(tree, a.workload, seed, spec["run_seconds"])
                if res is None or res["failed"] > 0:
                    failed += 1
                values = {m["name"]: res["metrics"][m["name"]]["value"] for m in metrics} if res else {}
                runs[side].append(values)
                if res and res["peak_heap_mb"] is not None:
                    heaps[side].append(res["peak_heap_mb"])
                if res:
                    cpus[side].append(res["cpu_s"])
                shown = [f"{k} {v:.4f}" + (f"  cpu_s {res['cpu_s']:.2f}" if k == "wall_s" else "")
                         for k, v in values.items()]
                print(f"pair {i + 1} seed {seed} {side:6s} "
                      + ("CRASHED" if res is None else f"failed {res['failed']}/{res['attempted']}  ")
                      + "  ".join(shown)
                      + (f"  peak_heap_mb {res['peak_heap_mb']:.1f}" if res and res["peak_heap_mb"] else ""),
                      flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    pairs = [(b, c) for b, c in zip(runs["base"], runs["change"]) if b and c]
    print(f"\n{a.workload}: {len(pairs)} complete pairs, base {a.base}, change = working tree")
    print(f"{'metric':14s} {'base q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          f"{'base IQR/med':>12s} {'chg/base':>9s} {'won':>7s}  verdict")
    for m in metrics if pairs else []:
        name, lower = m["name"], m["better"] == "lower"
        b = [p[0][name] for p in pairs]
        c = [p[1][name] for p in pairs]
        bq, cq = quartiles(b), quartiles(c)
        iqr = bq[2] - bq[0]
        won = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
        ratio = cq[1] / bq[1] if bq[1] else float("nan")
        worse = (ratio - 1) if lower else (1 - ratio)
        spread = iqr / bq[1] if bq[1] else (float("inf") if iqr else 0.0)
        dominates = max(c) < min(b) if lower else min(c) > max(b)
        if won >= 0.9 * len(pairs) and abs(cq[1] - bq[1]) > iqr:
            verdict = "gain"
        elif worse > m["bound"]:
            verdict = f"worse than bound {m['bound']}"
        elif spread > m["bound"] and not dominates:
            verdict = f"unresolved: base spread {spread:.4f} > bound {m['bound']}"
        else:
            verdict = f"within bound {m['bound']}"
        print(f"{name:14s} {bq[0]:9.3f}{bq[1]:9.3f}{bq[2]:9.3f} {cq[0]:9.3f}{cq[1]:9.3f}{cq[2]:9.3f} "
              f"{spread:12.4f} {ratio:9.4f} {won:3d}/{len(pairs):<3d}  {verdict}")
    for label, xs in (("peak_heap_mb", heaps), ("cpu_s", cpus)):
        if xs["base"] and xs["change"]:
            print(f"{label} (printed only, no bound): "
                  + "  ".join(f"{side} q1/med/q3 " + "/".join(f"{q:.1f}" for q in quartiles(xs[side]))
                              for side in ("base", "change")))
    if failed:
        sys.exit(f"{failed} run(s) failed or reported failed > 0")


if __name__ == "__main__":
    main()
