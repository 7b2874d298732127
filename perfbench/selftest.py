"""The benchmark's own consistency tests.

    python3 perfbench/selftest.py --workload ledger --seed 5 --seconds 12

Runs the benchmark three times on one seed: once untraced, then traced
twice.  It passes when

- every run checks its outputs correct;
- each traced run's in-run checks hold: stage CPU <= op wall x cores,
  job count == the scheduler's job-id delta, spans nest;
- jobs, stages, tasks, shuffle bytes and rows written repeat exactly,
  op by op, across the two traced runs;

and it prints the tracing overhead of each traced run against the
untraced one.  Exit code 0 on pass, 1 on failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".perfbench_work", "results")
REPEATED = ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_mb",
            "spark.shuffle_read_mb", "spark.rows_written")


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    path = os.path.join(RESULTS, f"{workload}_s{seed}_trace{trace}.json")
    with open(path) as f:
        res = json.load(f)
    res["exit"] = proc.returncode
    return res


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="benchmark consistency tests")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=5)
    p.add_argument("--seconds", type=float, default=12)
    a = p.parse_args(argv)

    errs = []
    # the untraced run measures long enough to cover the traced runs'
    # traced pass, so the overhead compares the same ops at the same point
    base = _run(a.workload, a.seed, 3 * a.seconds, 0)
    traced = []
    for i in range(2):
        res = _run(a.workload, a.seed, a.seconds, 1)
        shutil.copy(os.path.join(RESULTS, f"{a.workload}_s{a.seed}_trace1.json"),
                    os.path.join(RESULTS, f"{a.workload}_s{a.seed}_trace1_run{i}.json"))
        traced.append(res)
    for name, res in [("untraced", base)] + [(f"traced{i}", r) for i, r in enumerate(traced)]:
        if res["exit"] != 0 or not res["correct"]:
            errs.append(f"{name}: exit {res['exit']}, check errors "
                        f"{res['detail']['check_errors'][:3]}")
    ops = [[s for s in r["samples"] if s["traced"]] for r in traced]
    if [s["op"] for s in ops[0]] != [s["op"] for s in ops[1]]:
        errs.append("the two traced runs ran different ops")
    else:
        for x, y in zip(*ops):
            for k in REPEATED:
                if x["counters"].get(k) != y["counters"].get(k):
                    errs.append(f"{x['op']} (pass {x['pass']}): {k} "
                                f"{x['counters'].get(k)} != {y['counters'].get(k)}")
    summary = {"workload": a.workload, "seed": a.seed,
               "tracing_overhead": [r["detail"]["tracing_overhead"] for r in traced],
               "ops_compared": len(ops[0]), "errors": errs}
    print(json.dumps(summary, indent=1))
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
