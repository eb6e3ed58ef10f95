"""Traced passes: per-layer spans and counters, collected from outside the
engine.

Three sources, none of which changes the engine's code:

* Spark's in-process status store, read through the UI's REST API on the
  driver: jobs, stages and SQL executions with their task and operator
  metrics.  Each call runs under its own ``setJobGroup``; a job submitted
  from a thread the operator started carries no group and is attributed by
  its submission time instead, which is unambiguous because one client runs
  one call at a time.
* The returned DataFrame's ``queryExecution().tracker()`` for Catalyst's
  analysis, optimization and planning time.
* Wrappers around the pyspark entry points the operators call for staging
  (``localCheckpoint``/``checkpoint``), driver actions (``collect``,
  ``count``, ``toPandas``) and writes (``DataFrameWriter`` and
  ``pyarrow.parquet.write_table``), installed only while a traced pass runs.

Spans are kept in memory and written once, by ``Tracer.write``.
"""

from __future__ import annotations

import calendar
import functools
import json
import os
import statistics
import threading
import time
import urllib.request

from workloads import MODULES, module_of

# SQL metric names of Spark's Python/Arrow operators -> per-layer metric
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

# stage field -> (metric, scale to the metric's unit)
STAGE_SUMS = {
    "executorRunTime": ("executor.run_s", 1e-3),
    "executorCpuTime": ("executor.cpu_s", 1e-9),
    "jvmGcTime": ("executor.gc_s", 1e-3),
    "executorDeserializeTime": ("executor.deserialize_s", 1e-3),
    "inputBytes": ("scan.input_bytes", 1),
    "inputRecords": ("scan.input_rows", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "shuffleWriteTime": ("shuffle.write_s", 1e-9),
    "shuffleFetchWaitTime": ("shuffle.fetch_wait_s", 1e-3),
    "diskBytesSpilled": ("mem.spill_bytes", 1),
    "numTasks": ("sched.tasks", 1),
    "numFailedTasks": ("sched.task_failures", 1),
}

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, layer by layer."""
    modules = [f"{mod}.{phase}_s" for mod in MODULES for phase in ("build", "exec")]
    return [
        "session.build_s",
        "catalyst.analysis_s",
        "catalyst.optimization_s",
        "catalyst.planning_s",
        *modules,
        "sched.jobs",
        "sched.stages",
        "sched.stages_skipped",
        "sched.stage_reuse_ratio",
        "sched.tasks",
        "sched.task_failures",
        "driver.gap_s",
        "executor.run_s",
        "executor.cpu_s",
        "executor.gc_s",
        "executor.deserialize_s",
        "scan.input_bytes",
        "scan.input_rows",
        "scan.time_s",
        "shuffle.write_bytes",
        "shuffle.read_bytes",
        "shuffle.write_s",
        "shuffle.fetch_wait_s",
        *PYTHON_METRICS.values(),
        "python.rows_received",
        "staging.checkpoints",
        "staging.checkpoint_s",
        "staging.driver_actions",
        "staging.driver_action_s",
        "write.calls",
        "write.bytes",
        "write.records",
        "write.s",
        "mem.spill_bytes",
        "mem.peak_execution_bytes",
        "trace.overhead_s",
    ]


def unit_of(metric: str) -> str:
    if metric.endswith(("_s", ".s")):
        return "s"
    if "bytes" in metric:
        return "bytes"
    if metric.endswith("ratio"):
        return "ratio"
    return "count"


def parse_sql_metric(text: str) -> float:
    """Value of a SQL metric as the REST API prints it, in seconds for
    timings, bytes for sizes, else as a plain count."""
    if "\n" in text:  # "total (min, med, max ...)\n<total> (<min>, ...)"
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip().replace(",", "")
    num, _, unit = text.partition(" ")
    if unit in _TIME_UNITS:
        return float(num) * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return float(num) * _SIZE_UNITS[unit]
    return float(num)


def _epoch(stamp: str) -> float:
    """Status-store timestamp ("2026-01-02T03:04:05.678GMT") in epoch s."""
    t = time.strptime(stamp[:19], "%Y-%m-%dT%H:%M:%S")
    return calendar.timegm(t) + float("0" + stamp[19:23])


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, parquet rows) of the data files under ``path``."""
    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else [
        os.path.join(root, f)
        for root, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    ]
    size = rows = 0
    for f in files:
        size += os.path.getsize(f)
        if f.endswith(".parquet"):
            rows += pq.ParquetFile(f).metadata.num_rows
    return size, rows


class Hooks:
    """Counts staging, driver actions and writes made during a traced call.

    Only the outermost wrapped call on a thread is counted, so an action
    that calls another wrapped method is counted once."""

    def __init__(self):
        self.current: dict | None = None
        self._lock = threading.Lock()
        self._depth = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    def _add(self, kind: str, seconds: float, nbytes: int = 0, rows: int = 0):
        with self._lock:
            c = self.current
            if c is None:
                return
            c[f"{kind}s"] += 1
            c[f"{kind}_s"] += seconds
            if kind == "write":
                c["write_bytes"] += nbytes
                c["write_records"] += rows

    def _wrap(self, owner, attr: str, kind: str, target=None):
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            depth = getattr(self._depth, "n", 0)
            if depth or (kind == "write" and _is_noop(args, kwargs)):
                return original(*args, **kwargs)
            self._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self._depth.n = depth
                seconds = time.perf_counter() - t0
                nbytes = rows = 0
                path = target(args, kwargs) if target else None
                if path and os.path.exists(path):
                    nbytes, rows = _tree_size(path)
                self._add(kind, seconds, nbytes, rows)

        self._saved.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for attr in ("localCheckpoint", "checkpoint"):
            self._wrap(DataFrame, attr, "checkpoint")
        for attr in ("collect", "count", "toPandas"):
            self._wrap(DataFrame, attr, "action")
        # ``format`` records the sink, so that the benchmark's own ``noop``
        # forcing is not counted as a write
        self._saved.append((DataFrameWriter, "format", DataFrameWriter.format))
        DataFrameWriter.format = _recording_format(DataFrameWriter.format)
        path_arg = lambda a, k: k.get("path", a[1] if len(a) > 1 else None)  # noqa: E731
        for attr in ("save", "parquet"):
            self._wrap(DataFrameWriter, attr, "write", path_arg)
        self._wrap(pq, "write_table", "write",
                   lambda a, k: k.get("where", a[1] if len(a) > 1 else None))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)


def _recording_format(original):
    @functools.wraps(original)
    def fmt(self, source):
        self._perfbench_format = source
        return original(self, source)

    return fmt


def _is_noop(args, kwargs) -> bool:
    writer = args[0] if args else None
    fmt = kwargs.get("format") or getattr(writer, "_perfbench_format", None)
    return fmt == "noop"


def _new_counts() -> dict:
    return {
        "checkpoints": 0, "checkpoint_s": 0.0,
        "actions": 0, "action_s": 0.0,
        "writes": 0, "write_s": 0.0, "write_bytes": 0, "write_records": 0,
    }


class TracedPass:
    """A traced pass with the counters its hooks recorded, per call."""

    def __init__(self, number: int):
        self.number = number
        self.p = None
        self.counts: dict[str, dict] = {}
        self.catalyst: dict[str, dict[str, float]] = {}

    def group(self, name: str) -> str:
        """Job group of one call of this pass."""
        return f"perfbench/{self.number}/{name}"


class Tracer:
    """Collects spans and per-layer counters for traced passes."""

    def __init__(self, spark, workload: str, calls):
        self._sc = spark.sparkContext
        self._workload = workload
        self._module = {name: module_of(fn) for name, fn in calls}
        self._rest = (
            f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
        )
        self._hooks = Hooks()
        self._traced: list[TracedPass] = []
        self.spans: list[dict] = []
        self.per_pass: list[dict[str, float]] = []
        self.queries: list[dict] = []

    # -- hooks called by the timed loop --------------------------------------

    def before_call(self, name: str) -> None:
        tp = self._traced[-1]
        self._sc.setJobGroup(tp.group(name), name)
        tp.counts[name] = self._hooks.current = _new_counts()

    def after_call(self, name: str, df) -> None:
        self._hooks.current = None
        self._sc._jsc.clearJobGroup()
        phases = {}
        if df is not None:
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # plans the returned frame if exec did not
            tracked = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = tracked.get(phase)
                phases[phase] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        self._traced[-1].catalyst[name] = phases

    # -- passes ---------------------------------------------------------------

    def traced_pass(self, run_pass):
        """Runs ``run_pass(self)`` with the hooks installed.  Its jobs,
        stages and SQL metrics are read later, by ``report``, so that the
        status-store reads do not fall between timed passes."""
        tp = TracedPass(len(self._traced) + 1)
        self._traced.append(tp)
        self._hooks.install()
        try:
            tp.p = run_pass(self)
        finally:
            self._hooks.uninstall()
        return tp.p

    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=60) as resp:
            return json.load(resp)

    def _collect(self, tp: TracedPass, jobs, stages, sqls) -> dict[str, float]:
        p, span = tp.p, functools.partial(self._span, tp.number)
        m = dict.fromkeys(layer_metric_names(), 0.0)
        pass_span = span(None, "pass", None, None, p.start, p.end)
        job_intervals = []
        for name, t0, t1, t2 in p.calls:
            mod = self._module[name]
            q_span = span(pass_span, "query", name, mod, t0, t2)
            b_span = span(q_span, "build", name, mod, t0, t1)
            e_span = span(q_span, "exec", name, mod, t1, t2)
            m[f"{mod}.build_s"] += t1 - t0
            m[f"{mod}.exec_s"] += t2 - t1

            mine = [
                j for j in jobs
                if j.get("jobGroup") == tp.group(name)
                or (not str(j.get("jobGroup") or "").startswith("perfbench/")
                    and t0 - 0.002 <= _epoch(j["submissionTime"]) <= t2 + 0.002)
            ]
            job_ids = {j["jobId"] for j in mine}
            intervals = []
            for j in mine:
                a = _epoch(j["submissionTime"])
                b = _epoch(j["completionTime"]) if "completionTime" in j else t2
                intervals.append((a, b))
                span(b_span if a < t1 else e_span, "job", name, mod, a, b,
                     job=j["jobId"])
            job_intervals += intervals

            stage_ids = {s for j in mine for s in j["stageIds"]}
            skipped = sum(
                1 for s in stage_ids
                if all(a["status"] == "SKIPPED" for a in stages.get(s, ()))
            )
            for s in stage_ids:
                for attempt in stages.get(s, ()):
                    if attempt["status"] == "SKIPPED":
                        continue
                    for field, (metric, scale) in STAGE_SUMS.items():
                        m[metric] += attempt.get(field, 0) * scale
                    m["mem.peak_execution_bytes"] = max(
                        m["mem.peak_execution_bytes"],
                        attempt.get("peakExecutionMemory", 0),
                    )
            for ex in sqls:
                ex_jobs = set(ex.get("successJobIds", [])) | set(
                    ex.get("failedJobIds", [])) | set(ex.get("runningJobIds", []))
                if not (ex_jobs & job_ids):
                    continue
                for node in ex.get("nodes", []):
                    self._add_sql_node(m, node)

            counts = tp.counts.get(name, _new_counts())
            cat = tp.catalyst.get(name, {})
            for phase, seconds in cat.items():
                m[f"catalyst.{phase}_s"] += seconds
            m["sched.jobs"] += len(mine)
            m["sched.stages"] += len(stage_ids)
            m["sched.stages_skipped"] += skipped
            m["staging.checkpoints"] += counts["checkpoints"]
            m["staging.checkpoint_s"] += counts["checkpoint_s"]
            m["staging.driver_actions"] += counts["actions"]
            m["staging.driver_action_s"] += counts["action_s"]
            m["write.calls"] += counts["writes"]
            m["write.s"] += counts["write_s"]
            m["write.bytes"] += counts["write_bytes"]
            m["write.records"] += counts["write_records"]
            self.queries.append({
                "pass": tp.number,
                "query": name,
                "module": mod,
                "build_s": round(t1 - t0, 6),
                "exec_s": round(t2 - t1, 6),
                "driver_self_s": round((t2 - t0) - _covered(intervals, t0, t2), 6),
                "jobs": len(mine),
                "stages": len(stage_ids),
                "stages_skipped": skipped,
                "checkpoints": counts["checkpoints"],
                "driver_actions": counts["actions"],
                "writes": counts["writes"],
                "catalyst_s": {k: round(v, 6) for k, v in cat.items()},
            })
        m["sched.stage_reuse_ratio"] = (
            m["sched.stages_skipped"] / m["sched.stages"] if m["sched.stages"] else 0.0
        )
        m["driver.gap_s"] = p.wall - _covered(job_intervals, p.start, p.end)
        return m

    @staticmethod
    def _add_sql_node(m: dict, node: dict) -> None:
        metrics = {x["name"]: x["value"] for x in node.get("metrics", [])}
        if node.get("nodeName", "").startswith("Scan") and "scan time" in metrics:
            m["scan.time_s"] += parse_sql_metric(metrics["scan time"])
        if any(k in metrics for k in PYTHON_METRICS):
            for sql_name, metric in PYTHON_METRICS.items():
                if sql_name in metrics:
                    m[metric] += parse_sql_metric(metrics[sql_name])
            if "number of output rows" in metrics:
                m["python.rows_received"] += parse_sql_metric(
                    metrics["number of output rows"])

    def _span(self, pass_no, parent, kind, query, module, start, end,
              **extra) -> int:
        span_id = len(self.spans)
        self.spans.append({
            "id": span_id, "parent": parent, "workload": self._workload,
            "pass": pass_no, "kind": kind, "query": query,
            "module": module, "start": start, "end": end, **extra,
        })
        return span_id

    # -- results --------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover, per span."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"])
            - _covered(children.get(s["id"], ()), s["start"], s["end"])
            for s in self.spans
        }

    def report(self, overhead_s: float) -> dict[str, tuple]:
        """Median over the traced passes of every per-layer metric, with
        its unit."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        jobs = self._get("/jobs")
        stages = {}
        for s in self._get("/stages"):
            stages.setdefault(s["stageId"], []).append(s)
        sqls = self._get("/sql?details=true&planDescription=false&length=100000")
        for tp in self._traced:
            self.per_pass.append(self._collect(tp, jobs, stages, sqls))
        out = {
            name: (statistics.median(p[name] for p in self.per_pass), unit_of(name))
            for name in self.per_pass[0]
        }
        out["trace.overhead_s"] = (overhead_s, "s")
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self_s = self.self_times()
        spans = [{**s, "self_s": round(self_s[s["id"]], 6)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({**extra, "per_pass": self.per_pass,
                       "queries": self.queries, "spans": spans}, f, indent=1)

