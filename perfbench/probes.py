"""Measurement probes for the benchmark: spans and Spark counters.

Everything here observes the program from outside.  Spans wrap the
package's public functions by rebinding module attributes for the
duration of a traced pass (callers inside the package look those names
up through the module, so nested calls nest as child spans); Spark
counters come from the AppStatusStore, attributed to an op by the
scheduler's job-id delta, and are read only after the op's timer has
stopped and the listener bus has drained.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder.  A span is (id, parent, name, start, end)
    with times in seconds from ``time.perf_counter``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False

    def span(self, name: str, fn, /, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)
        return traced

    def patch(self, module, prefix: str, names) -> None:
        """Rebind ``module.<name>`` to a traced wrapper for each name."""
        for n in names:
            orig = getattr(module, n)
            self._patched.append((module, n, orig))
            setattr(module, n, self.wrap(f"{prefix}.{n}", orig))

    def unpatch(self) -> None:
        for module, n, orig in reversed(self._patched):
            setattr(module, n, orig)
        self._patched.clear()

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]].append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], ()))
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def outer_totals(self) -> dict[str, float]:
        """Per span name: summed duration of spans with no ancestor of the
        same name (recursion is not double counted)."""
        by_id = {s["id"]: s for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            p = s["parent"]
            nested = False
            while p is not None:
                if by_id[p]["name"] == s["name"]:
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def nesting_errors(self) -> list[str]:
        """Spans that end open or stick out of their parent."""
        by_id = {s["id"]: s for s in self.spans}
        errs = []
        for s in self.spans:
            if s["end"] is None or s["end"] < s["start"]:
                errs.append(f"span {s['id']} {s['name']} is not closed")
                continue
            p = s["parent"]
            if p is not None:
                ps = by_id[p]
                if s["start"] < ps["start"] or s["end"] > ps["end"]:
                    errs.append(f"span {s['id']} {s['name']} leaves parent "
                                f"{p} {ps['name']}")
        return errs


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


STAGE_FIELDS = {
    # StageData getter -> (counter name, scale)
    "numTasks": ("spark.tasks", 1),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "jvmGcTime": ("spark.jvm_gc_s", 1e-3),
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1 / 2**20),
    "shuffleReadBytes": ("spark.shuffle_read_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spark.spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spark.spill_mb", 1 / 2**20),
    "inputBytes": ("spark.input_mb", 1 / 2**20),
    "outputBytes": ("spark.output_mb", 1 / 2**20),
    "outputRecords": ("spark.rows_written", 1),
}

CATALYST_PHASES = ("analysis", "optimization", "planning")


class SparkProbe:
    """Spark-side counters for one op: jobs, stages, tasks and stage
    metrics from the AppStatusStore; Catalyst phase times from a
    QueryExecutionListener; micro-batch phases from a
    StreamingQueryListener."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self.query_phases: list[dict] = []
        self.progress: list[dict] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        probe = self

        class _QueryListener:
            def onSuccess(self, func_name, qe, duration_ns):
                probe._record_phases(qe)

            def onFailure(self, func_name, qe, exception):
                probe._record_phases(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class _StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                probe.progress.append({"batch": p.batchId,
                                       "rows": p.numInputRows,
                                       "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._qlistener = _QueryListener()
        spark._jsparkSession.listenerManager().register(self._qlistener)
        self._slistener = _StreamListener()
        spark.streams.addListener(self._slistener)

    def _record_phases(self, qe) -> None:
        phases = qe.tracker().phases()
        rec = {}
        for ph in CATALYST_PHASES:
            opt = phases.get(ph)
            rec[ph] = opt.get().durationMs() if opt.isDefined() else 0
        self.query_phases.append(rec)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._qlistener)
        self.spark.streams.removeListener(self._slistener)

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int, int]:
        return (self.next_job_id(), len(self.query_phases), len(self.progress))

    def collect(self, start: tuple[int, int, int]) -> dict[str, float]:
        """Counters of everything since ``start`` (a :meth:`mark`).  Call
        after the op's timer has stopped."""
        self.drain()
        j0, q0, p0 = start
        j1 = self.next_job_id()
        store = self._sc.statusStore()
        out: dict[str, float] = defaultdict(float)
        out["spark.jobs"] = j1 - j0
        seen_stages: set[int] = set()
        found_jobs = 0
        for jid in range(j0, j1):
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 - a job the store never saw
                continue
            found_jobs += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped, never attempted
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                for getter, (name, scale) in STAGE_FIELDS.items():
                    out[name] += getattr(st, getter)() * scale
        out["spark.jobs_in_store"] = found_jobs
        out["spark.nonjvm_run_s"] = out["spark.executor_run_s"] - out["spark.executor_cpu_s"]
        for rec in self.query_phases[q0:]:
            for ph in CATALYST_PHASES:
                out[f"catalyst.{ph}_ms"] += rec[ph]
        batches = self.progress[p0:]
        out["streaming.batches"] = len(batches)
        for b in batches:
            ms = b["ms"]
            out["streaming.rows"] += b["rows"]
            out["streaming.trigger_ms"] += ms.get("triggerExecution", 0)
            out["streaming.add_batch_ms"] += ms.get("addBatch", 0)
            out["streaming.latest_offset_ms"] += ms.get("latestOffset", 0)
            out["streaming.planning_ms"] += ms.get("queryPlanning", 0)
            out["streaming.wal_commit_ms"] += ms.get("walCommit", 0)
            out["streaming.commit_offsets_ms"] += ms.get("commitOffsets", 0)
        return dict(out)
