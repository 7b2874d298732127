"""Benchmark command: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload exports --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The command generates the workload's
inputs from the seed under ``.perfbench_work/`` (the only place it
writes), starts a Spark session on ``local[<cores>]``, runs the
workload's untimed warm-up passes, then runs whole passes of its ops
back to back until ``--seconds`` have elapsed, checks every output, and
prints one JSON object as its last stdout line.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates untraced and traced
passes and reports the per-layer metrics of the traced passes, the
tracing overhead, and writes the spans.  A wrong output makes the
command exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # a run must end within 180 s
# a run times at least two whole passes, so each per-op median has two
# samples even where one pass outlasts --seconds
MIN_PASSES = 2


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """{name: unit} of the end-to-end and the per-layer metrics that
    BENCHMARK.json at the checkout root declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# span-derived per-layer times (the traced package functions)
SPAN_LAYERS = {
    "plans.build_s": ("plans.",),
    "exports.build_s": ("exports.",),
    "sinks.write_s": ("sinks.overwrite_by_name",),
    "ivm.refresh_s": ("ivm.refresh_agg_view",),
    **{f"snapshots.{n}_s": (f"snapshots.{n}",) for n in
       ("merge", "delete", "append", "compact", "vacuum", "read",
        "read_row_changes")},
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_steal_s() -> float | None:
    """Seconds of CPU stolen from this machine by its hypervisor so far
    (the steal column of /proc/stat); None where it is not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def _git_head() -> str:
    """HEAD of the checkout, read from its own .git (no subprocess, no
    search above the checkout); 'unknown' outside a git repository."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def tail(samples: list[float]) -> tuple[float | None, float | None, int]:
    """(percentile, value, n): the highest whole percentile with at least
    ten samples above it; (None, None, n) when there are too few."""
    n = len(samples)
    if n < 11:
        return None, None, n
    pct = int(100 * (n - 10) / n)
    return pct, statistics.quantiles(samples, n=100, method="inclusive")[pct - 1], n


def per_pass(samples: list[dict], key: str) -> float:
    """One pass's total of *key* ("s" or "rows") at the median of each op
    type."""
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s[key])
    return sum(statistics.median(v) for v in by_op.values())


def _start_spark(work: str, cores: int):
    from magshield_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap keeps the peak-RSS reading from following G1's
            # resizing; no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )


def _watchdog(signum, frame) -> None:
    """A run that outlives its deadline stops its JVM and exits 3 without
    printing a result."""
    from pyspark import SparkContext

    print(f"perfbench: no result after {DEADLINE_S} s, giving up", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    os._exit(3)


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    """Runs ops, times them, and in traced passes records spans and
    Spark counters per op."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.probe = None

    def run_op(self, op, traced: bool, record: bool, pass_no: int = 0) -> None:
        from magshield_data_pipeline_spark.sources import snapshots as SN

        tr = self.ctx.tracer
        mark = self.probe.mark() if traced else None
        t0 = time.perf_counter()
        err = None
        try:
            extra = tr.span(f"op.{op.name}", op.fn) or {}
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            err, extra = f"{op.name}: {type(e).__name__}: {str(e)[:300]}", {}
        wall = time.perf_counter() - t0
        if err:
            self.failures.append(err)
            print(f"# op failed: {err}", file=sys.stderr, flush=True)
        if not record:
            return
        s = {"op": op.name, "kind": op.kind, "s": wall, "rows": op.rows,
             "ok": err is None, "traced": traced, "pass": pass_no}
        if traced:
            c = self.probe.collect(mark)
            c.update(extra)
            info = op.commit
            if "v1" in info and err is None:
                before = {e["path"] for e in
                          SN.read_manifest(info["table"], info["v0"])["files"]}
                added = [e for e in SN.read_manifest(info["table"], info["v1"])["files"]
                         if e["path"] not in before]
                c["snapshots.files_added"] = len(added)
                c["snapshots.bytes_written"] = sum(e.get("bytes", 0) for e in added)
                c["snapshots.input_bytes"] = info["input_bytes"]
            s["counters"] = c
        self.samples.append(s)


def _layers(samples: list[dict], tracer, n_passes: float, cores: int) -> tuple[dict, list[str]]:
    """Per-layer metrics summed over the traced ops, per pass, plus the
    consistency errors found on the way."""
    errs = []
    traced = [s for s in samples if s["traced"]]
    tot: dict[str, float] = {}
    for s in traced:
        c = s["counters"]
        for k, v in c.items():
            tot[k] = tot.get(k, 0) + v
        if c["spark.jobs"] != c["spark.jobs_in_store"]:
            errs.append(f"{s['op']}: {c['spark.jobs_in_store']} jobs in the status "
                        f"store, scheduler delta {c['spark.jobs']}")
        if c["spark.executor_cpu_s"] > s["s"] * cores * 1.05 + 0.05:
            errs.append(f"{s['op']}: stage CPU {c['spark.executor_cpu_s']:.2f}s exceeds "
                        f"wall {s['s']:.2f}s x {cores} cores")
    totals = tracer.outer_totals()
    for name, prefixes in SPAN_LAYERS.items():
        tot[name] = sum(v for k, v in totals.items() if k.startswith(prefixes))
    drains = sum(v for k, v in totals.items() if k == "streaming.run_available_now")
    tot["streaming.startup_ms"] = max(0.0, drains * 1000 - tot.get("streaming.trigger_ms", 0)) \
        if drains else 0.0
    inb = tot.pop("snapshots.input_bytes", 0)
    wb = tot.pop("snapshots.bytes_written", 0)
    tot["snapshots.write_amp"] = wb / inb if inb else 0.0
    errs += tracer.nesting_errors()
    per_pass = {k: v / n_passes for k, v in tot.items()
                if k not in ("snapshots.write_amp", "spark.jobs_in_store")}
    per_pass["snapshots.write_amp"] = tot["snapshots.write_amp"]
    return per_pass, errs


def _overhead(samples: list[dict], untraced_path: str) -> dict:
    """Tracing overhead: the traced passes' op walls against the same ops
    (same pass, same position) of the untraced run of this seed, when
    that run's result is in the results directory."""
    if not os.path.exists(untraced_path):
        return {"ratio": None, "note": "no untraced run of this seed to compare"}
    with open(untraced_path) as f:
        base = {(s.get("pass"), i, s["op"]): s["s"] for i, s in
                enumerate(json.load(f)["samples"])}
    pairs = [(s["s"], base.get((s["pass"], i, s["op"])))
             for i, s in enumerate(samples) if s["traced"]]
    pairs = [(t, u) for t, u in pairs if u is not None]
    if not pairs:
        return {"ratio": None, "note": "the untraced run has no matching ops"}
    traced_s, untraced_s = sum(t for t, _ in pairs), sum(u for _, u in pairs)
    return {"ratio": traced_s / untraced_s - 1, "traced_s": traced_s,
            "untraced_s": untraced_s, "ops": len(pairs)}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _args(argv)
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(DEADLINE_S)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import duckdb
        import pyspark

        import magshield_data_pipeline_spark  # noqa: F401
        from probes import SparkProbe, Tracer
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    e2e, per_layer = declared_metrics()
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, "runs", f"{args.workload}_s{args.seed}_{os.getpid()}")
    for d in ("inputs", "results", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(run_dir)
    # every temp file of this process, its JVM and its workers stays inside
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    tempfile.tempdir = os.environ["TMPDIR"]

    cores = _cores()
    steal0 = _cpu_steal_s()
    cond = {"nproc": cores, "loadavg_start": os.getloadavg(), "seed": args.seed,
            "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "git_head": _git_head()}
    tracer = Tracer()
    ctx = SimpleNamespace(seed=args.seed, inputs_root=os.path.join(work, "inputs"),
                          run_dir=run_dir, tracer=tracer)
    wl = WORKLOADS[args.workload](ctx)  # input generation: not part of set-up
    phases = {"start_to_inputs_s": time.perf_counter() - t_start}

    t_setup = time.perf_counter()
    spark = _start_spark(work, cores)
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        phases["session_s"] = time.perf_counter() - t_setup
        wl.setup(spark)
        phases["workload_setup_s"] = time.perf_counter() - t_setup - phases["session_s"]
        runner = Runner(ctx)
        for w in range(wl.warmup_passes):
            for op in wl.pass_ops(w):
                runner.run_op(op, traced=False, record=False)
        setup_s = time.perf_counter() - t_setup

        if args.trace:
            from magshield_data_pipeline_spark import exports, sinks
            from magshield_data_pipeline_spark.operators import ivm
            from magshield_data_pipeline_spark.sources import snapshots
            from magshield_data_pipeline_spark.streaming import windows

            runner.probe = SparkProbe(spark)
            patches = [
                (snapshots, "snapshots", ("merge", "delete", "append", "overwrite",
                                          "compact", "vacuum", "read",
                                          "read_row_changes")),
                (ivm, "ivm", ("refresh_agg_view", "apply_changes")),
                (windows, "streaming", ("run_available_now",)),
                (sinks, "sinks", ("overwrite_by_name",)),
                (exports, "exports", tuple(n for n in dir(exports)
                                           if n.endswith("_export"))),
            ]

        # whole passes until --seconds have elapsed, so every op type is
        # measured equally often and at the same points of the run; traced
        # runs alternate untraced and traced passes and run one of each
        t0 = time.perf_counter()
        first = p = wl.warmup_passes
        traced_passes = 0
        while True:
            traced = bool(args.trace) and (p - first) % 2 == 1
            if traced:
                tracer.enabled = True
                for mod, prefix, names in patches:
                    tracer.patch(mod, prefix, names)
            try:
                for op in wl.pass_ops(p):
                    runner.run_op(op, traced=traced, record=True, pass_no=p)
            finally:
                if traced:
                    tracer.unpatch()
                    tracer.enabled = False
                    traced_passes += 1
            p += 1
            if (time.perf_counter() - t0 >= args.seconds
                    and p - first >= MIN_PASSES
                    and (traced_passes or not args.trace)):
                break
        timed_wall = time.perf_counter() - t0
        rss = {"python_mb": _vm_hwm_mb("self"), "jvm_mb": _vm_hwm_mb(jvm_pid)}
        peak_rss = rss["python_mb"] + rss["jvm_mb"]

        t_check = time.perf_counter()
        errs = wl.check()
        phases["check_s"] = time.perf_counter() - t_check
        if runner.probe is not None:
            runner.probe.close()
    finally:
        t_stop = time.perf_counter()
        _stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t_stop

    samples = runner.samples
    attempted, failed = len(samples), sum(not s["ok"] for s in samples)
    lat = [s["s"] for s in samples]
    by_kind = {}
    for kind in sorted({s["kind"] for s in samples}):
        xs = [s["s"] for s in samples if s["kind"] == kind]
        pct, val, n = tail(xs)
        by_kind[f"{kind}_s"] = statistics.median(xs)
        by_kind[f"{kind}_tail_s"] = {"value": val, "percentile": pct, "n": n}
    pct, val, n = tail(lat)
    detail = {
        "conditions": {**cond, "loadavg_end": os.getloadavg(),
                       "cpu_steal_s": None if steal0 is None else _cpu_steal_s() - steal0},
        "phases_s": {**phases, "setup_s": setup_s, "timed_s": timed_wall,
                     "total_s": time.perf_counter() - t_start},
        "peak_rss": rss,
        "failed_ratio": failed / attempted if attempted else None,
        "failures": runner.failures[:10],
        "op_tail_s": {"value": val, "percentile": pct, "n": n},
        "by_kind": by_kind,
    }
    if args.trace:
        layers, cerrs = _layers(samples, tracer, traced_passes, cores)
        errs += cerrs
        detail["tracing_overhead"] = _overhead(
            samples, os.path.join(work, "results",
                                  f"{args.workload}_s{args.seed}_trace0.json"))
        detail["layers"] = layers
        detail["self_s"] = tracer.self_times()
        spans_path = os.path.join(work, "results",
                                  f"{args.workload}_s{args.seed}.spans.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.spans, f)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in per_layer.items()}
    else:
        pass_s = per_pass(samples, "s")
        values = {"setup_s": setup_s, "rows_per_s": per_pass(samples, "rows") / pass_s,
                  "pass_s": pass_s, "peak_rss_mb": peak_rss}
        metrics = {k: {"value": values[k], "unit": u} for k, u in e2e.items()}
    detail["check_errors"] = errs
    correct = not errs and not runner.failures
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    with open(os.path.join(work, "results",
                           f"{args.workload}_s{args.seed}_trace{args.trace}.json"), "w") as f:
        json.dump({**result, "detail": detail, "samples": samples}, f, indent=1,
                  default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print("# " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
