"""Measurement plumbing shared by the workloads.

``Recorder.op`` wraps one user-visible operation: it sets a Spark job
group for the call, times it, and afterwards reads the group's jobs,
stages and tasks from ``sc.statusTracker()`` — which works with the UI
disabled, so the counts are recorded in every run. With tracing on it
also keeps a span per call into a layer and reads the stage REST data
(bytes, executor and GC time) the way ``tools/job_audit.py`` does.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import statistics
import time
import urllib.request


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def rate(n: float, walls) -> float:
    """``n`` units over the summed walls of the ops that did them."""
    total = sum(walls)
    return n / total if total else 0.0


def p90(xs) -> float:
    xs = sorted(xs)
    return float(xs[min(len(xs) - 1, int(0.9 * len(xs)))]) if xs else 0.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostNoise:
    """CPU steal fraction over the run and the load average at its end
    (diagnostics, not metrics: they show when a pair of runs was
    measured under steal)."""

    def __init__(self) -> None:
        self.t0 = _cpu_times()

    def report(self) -> dict:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d) or 1
        steal = d[7] if len(d) > 7 else 0
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return {"steal_frac": round(steal / total, 4), "loadavg": load}


def proc_status_mb(field: str, pid: int | str = "self") -> float:
    """``VmRSS`` or ``VmHWM`` of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_hwm_mb(spark) -> float:
    """Peak resident set of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return proc_status_mb("VmHWM", pid)


def _ts(s: str) -> float:
    # Spark REST timestamps: 2026-01-01T00:00:00.000GMT
    return dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Recorder:
    """``fail_span`` names a span whose first entry inside a measured op
    raises, before the layer is called: the benchmark's own tests use it
    to show that a failed op is counted and reported."""

    def __init__(self, spark, trace: bool, fail_span: str | None = None) -> None:
        self.sc = spark.sparkContext
        self.trace = trace
        self.fail_span = fail_span
        # highest driver-Python RSS seen at the end of an op, while the
        # op's result is still held
        self.py_rss_peak_mb = 0.0
        self._measuring = False
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self.trace_s = 0.0  # wall spent reading trace data between ops
        self._n = 0
        self._stack: list[int] = []
        if trace:
            self._api = (
                f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
            )

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """A timed call into one layer; kept only when tracing."""
        if name == self.fail_span and self._measuring:
            self.fail_span = None
            raise RuntimeError(f"injected failure on entering {name}")
        if not self.trace:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "op": self._n, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    # -- ops -----------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str, measured: bool = True, **tags):
        """One operation under its own job group. The yielded dict is
        the op record; callers add their own fields to it."""
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, kind, interruptOnCancel=False)
        rec = {"seq": self._n, "kind": kind, "measured": measured, "ok": True, **tags}
        t0 = time.time()
        try:
            with self.span(kind):
                self._measuring = measured
                yield rec
        except Exception as e:  # noqa: BLE001 — an op failure is a result
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            rec["wall_s"] = time.time() - t0
            rec["t0"], rec["t1"] = t0, t0 + rec["wall_s"]
            self._measuring = False
            self.py_rss_peak_mb = max(self.py_rss_peak_mb, proc_status_mb("VmRSS"))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            t = time.perf_counter()
            rec.update(self._counts(gid))
            if self.trace:
                rec.update(self._rest(gid, rec))
                self.trace_s += time.perf_counter() - t
            self.ops.append(rec)

    def _counts(self, gid: str) -> dict:
        """Jobs, stages and tasks of one job group. The listener bus
        delivers job-end events asynchronously, so wait until every
        job of the group has finished and the set is stable."""
        st = self.sc.statusTracker()
        prev = None
        for _ in range(200):
            ids = sorted(st.getJobIdsForGroup(gid))
            infos = [st.getJobInfo(j) for j in ids]
            done = all(i is not None and i.status != "RUNNING" for i in infos)
            if done and ids == prev:
                break
            prev = ids
            time.sleep(0.01)
        stages = tasks = 0
        for info in filter(None, infos):
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return {"jobs": len(ids), "stages": stages, "tasks": tasks}

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=10) as r:
            return json.load(r)

    def _rest(self, gid: str, rec: dict) -> dict:
        jobs = [j for j in self._get("jobs") if j.get("jobGroup") == gid]
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        out = {"input_bytes": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "jvm_gc_s": 0.0}
        if stage_ids:
            for s in self._get("stages"):
                if s["stageId"] not in stage_ids or s.get("status") != "COMPLETE":
                    continue
                out["input_bytes"] += s.get("inputBytes", 0)
                out["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
                out["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                out["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get(
                    "diskBytesSpilled", 0)
                out["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
                out["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                out["jvm_gc_s"] += s.get("jvmGcTime", 0) / 1e3
        walls = [(_ts(j["submissionTime"]), _ts(j["completionTime"]))
                 for j in jobs if j.get("submissionTime") and j.get("completionTime")]
        out["driver_gap_s"] = max(0.0, rec["wall_s"] - _union_s(walls))
        return out

    # -- summaries -----------------------------------------------------
    def measured(self, kinds=None, ok: bool = False) -> list[dict]:
        """The measured ops (of ``kinds``); with ``ok``, only those that
        succeeded, the ones whose result fields are set."""
        return [o for o in self.ops
                if o["measured"] and (kinds is None or o["kind"] in kinds)
                and (o["ok"] or not ok)]

    def spark_layer(self) -> dict:
        """Per-op Spark counts (every run) and, traced, bytes and
        executor times, over the measured ops."""
        ops = self.measured(ok=True)
        n = max(1, len(ops))
        out = {
            "spark.jobs_per_op": sum(o["jobs"] for o in ops) / n,
            "spark.stages_per_op": sum(o["stages"] for o in ops) / n,
            "spark.tasks_per_op": sum(o["tasks"] for o in ops) / n,
        }
        if self.trace:
            for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes", "executor_run_s", "executor_cpu_s", "jvm_gc_s"):
                out[f"spark.{k}"] = sum(o.get(k, 0) for o in ops) / n
            out["spark.driver_gap_s"] = median(o.get("driver_gap_s", 0.0) for o in ops)
        return out

    def counters(self) -> list[dict]:
        """The deterministic per-op counts, in op order: two runs with
        the same seed agree on every op they both ran."""
        keep = ("jobs", "stages", "tasks", "rows", "files_rewritten",
                "files_carried", "live_files", "log_bytes", "quarantined")
        return [{"seq": o["seq"], "kind": o["kind"], **{k: o[k] for k in keep if k in o}}
                for o in self.ops]

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)
