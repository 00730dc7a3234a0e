#!/usr/bin/env python3
"""graft's benchmark: one command that builds graft from source, generates
seeded inputs, runs a workload through the production code, checks its
outputs and prints every metric with its unit.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads (see README.md in this directory):

  etl_batch      EtlMain.run("all") over an EPMC-shaped JSON corpus
  ops_iterative  fixpoint registry queries (dedup clusters, graph loops)

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run (its wall time less that of untraced runs is the tracing
overhead). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Everything the run writes stays under .bench_build/ in the repository.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = {
    # documents, entities, corpus files (one per core), and documents the
    # traced run streams; sizes and how they were chosen: README.md
    "etl_batch": {"docs": 2000, "entities": 1500, "files": 4, "stream_docs": 50},
    # rows of the documents and customer tables: half of the sf0.1 testdata
    "ops_iterative": {"docs": 2500, "customers": 7500},
}
SETUP_REPS = 3          # input generation is repeated and its median kept
DEADLINE_S = 170        # the whole run, build excluded
JVM_HEAP = "2g"
ETL_DATASETS = ["matches", "failedMatches", "cooccurrences", "failedCooccurrences",
                "literatureIndex", "trainingSet", "vectors", "evidence"]
STREAM_DATASETS = ["matches", "cooccurrences"]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def generate(workload, seed, inputs):
    """Write the workload's inputs; return (seconds, predictions, stats)."""
    shutil.rmtree(inputs, ignore_errors=True)
    t0 = time.perf_counter()
    size = WORKLOADS[workload]
    if workload == "ops_iterative":
        expect, stats = None, gen.ops_inputs(inputs, seed, size["docs"], size["customers"])
    else:
        *expect, stats = gen.etl_inputs(inputs, seed, size["docs"], size["entities"], size["files"],
                                        size["stream_docs"])
    return time.perf_counter() - t0, expect, stats


def tail(samples):
    """Value at the highest percentile with at least ten samples beyond it;
    the maximum when that percentile would not lie above the median."""
    s = sorted(samples)
    return s[len(s) - 11] if len(s) >= 21 else s[-1]


def dir_mb(path):
    return gen.dir_bytes(path) / 2 ** 20 if os.path.isdir(path) else 0.0


def run_jvm(classes, work, args, budget):
    """Run BenchMain; return its exit code, or None when it outlives `budget` seconds."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # a fixed heap, so G1 does not resize it mid-run; pages are touched as used
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={work}/tmp", *build.ADD_OPENS,
           "-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.BenchMain", *args]
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=max(1, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = load_spec()

    classes = build.build(ROOT)  # exits non-zero when graft's sources are absent
    t_start = time.monotonic()
    work = os.path.join(ROOT, ".bench_build", "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = os.path.join(work, "inputs")

    gen_s = []
    for _ in range(SETUP_REPS):
        s, expect, stats = generate(a.workload, a.seed, inputs)
        gen_s.append(s)

    result_path = os.path.join(work, "result.json")
    rc = run_jvm(classes, work, [a.workload, inputs, work, str(a.seconds), str(a.trace), str(a.seed),
                                 result_path], DEADLINE_S - (time.monotonic() - t_start))
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"benchmark JVM failed (exit {rc})")
    with open(result_path) as f:
        res = json.load(f)

    # checks, outside every timed region
    iters = res["iterations"]
    attempted, failures = 0, []
    for i in iters:
        attempted += i["attempted"]
        failures += i["errors"]
        if a.workload == "ops_iterative":
            attempted += len(i["unit_names"])
            failures += check.check_ops(inputs, i["out_dir"], i["unit_names"])
        else:
            attempted += len(ETL_DATASETS)
            failures += check.check_etl(i["out_dir"], expect[0], ETL_DATASETS)
    extra = res["extra"]
    if "stream_out" in extra:
        attempted += 1 + len(extra["stream_batches"]) + len(STREAM_DATASETS)
        failures += extra["errors"]
        failures += check.check_etl(extra["stream_out"], expect[1], STREAM_DATASETS)
    failed = len(failures)

    wall = statistics.median(i["wall_s"] for i in iters)
    units = [u for i in iters for u in i["units"]]
    values = {
        "setup_s": statistics.median(gen_s) + res["session_s"] + res["warmup_s"],
        "wall_s": wall,
        "docs_per_s": stats["docs"] / wall,
        "query_p50_s": statistics.median(units),
        "query_tail_s": tail(units),
        "peak_rss_mb": res["peak_rss_mb"],
        "peak_heap_mb": res["peak_heap_mb"],
        "output_mb": statistics.median(dir_mb(i["out_dir"]) for i in iters),
    }
    if a.trace:
        values.update(res["layers"])
        values["trace.wall_s"] = wall
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  iterations {len(iters)}")
    for i in iters:
        print("  " + "  ".join(f"{n} {t:.3f}" for n, t in zip(i["unit_names"], i["units"])))
    print("inputs " + json.dumps(stats))
    print("session conf " + json.dumps(res["session_conf"], sort_keys=True))
    print(f"{'failed_frac':28s} {failed / attempted:14.6f} fraction ({failed} of {attempted})")
    for f in failures[:20]:
        print("  FAILED " + f)
    for k in sorted(values):
        print(f"{k:40s} {values[k]:14.6f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
