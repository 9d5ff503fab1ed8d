"""Measurement plumbing: op spans, function wrappers, the Spark event
log reader, the streaming progress listener and the /proc sampler.

Everything here lives on the driver. The engine's package is pickled
by value to the Python workers, so wrappers are installed only around
driver-side public functions, never around code that runs in tasks.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

OP_PROPERTY = "perfbench.op"


@dataclass
class Span:
    name: str
    op_id: int
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the parent span, None for a root

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. Op spans are roots; spans of wrapped functions
    nest under the innermost open span. Every wrapped function runs on
    the driver's main thread, so one stack is enough."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.op_id = -1

    def begin(self, name: str, op_id: int | None = None) -> int:
        """Open a span: a root for an op (``op_id`` given), otherwise a
        child of the innermost open span (a root too outside any op,
        as in the warm-up)."""
        if op_id is None:
            parent = self._open[-1] if self._open else None
            span = Span(name, self.op_id, time.time(), parent=parent)
        else:
            span = Span(name, op_id, time.time())
        self.spans.append(span)
        self._open.append(len(self.spans) - 1)
        return self._open[-1]

    def end(self, idx: int) -> Span:
        assert self._open.pop() == idx, "spans must close innermost first"
        span = self.spans[idx]
        span.end = time.time()
        return span

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the driver-side public functions each layer exposes. The
    module attribute and every name bound by ``from ... import`` in
    the engine's driver code are replaced, so calls through either
    path land in a span."""
    from facebook_ads_bigquery_etl_spark import sinks
    from facebook_ads_bigquery_etl_spark.etl import runner

    targets = [
        (runner, "handle_event", "etl.handle_event"),
        (runner, "run_facebook_job", "etl.run_facebook_job"),
        (sinks, "write_day_partitioned", "sinks.write_day_partitioned"),
        (runner, "write_day_partitioned", "sinks.write_day_partitioned"),
    ]
    for module, attr, span_name in targets:
        setattr(module, attr, tracer.wrap(getattr(module, attr), span_name))


class StreamProgress:
    """StreamingQueryListener state: every micro-batch's progress,
    attributed to the op that started its query."""

    def __init__(self, spark, tracer: Tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        self.started: dict[str, int] = {}
        self.terminated: set[str] = set()
        self._cv = threading.Condition()
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._cv:
                    outer.started[str(event.id)] = tracer.op_id

            def onQueryProgress(self, event):
                p = event.progress
                with outer._cv:
                    outer.batches.append({
                        "op": outer.started.get(str(p.id), tracer.op_id),
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "ms": dict(p.durationMs),
                        "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated.add(str(event.id))
                    outer._cv.notify_all()

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query has reported termination, so
        the last progress events of an op are in before the next op."""
        deadline = time.time() + timeout
        with self._cv:
            while not self.terminated.issuperset(self.started):
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError("streaming listener did not report termination")
                self._cv.wait(left)

    def for_ops(self, op_ids: set[int]) -> list[dict]:
        with self._cv:
            return [b for b in self.batches if b["op"] in op_ids]


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers it forks), sampled from /proc.

    The JVM counts its VmRSS. Every other process counts its
    proportional set size, so the pages the forked Python workers share
    with their parent daemon are counted once. (Reading smaps_rollup of
    the JVM as well would walk its page tables twice a second, which
    measurably slows it.)"""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_kib = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree_pids(root: int) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children[ppid].append(int(name))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    @staticmethod
    def resident_kib(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                jvm = fh.read().strip() == "java"
            path, key = (f"/proc/{pid}/status", "VmRSS:") if jvm else (
                f"/proc/{pid}/smaps_rollup", "Pss:")
            with open(path) as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        total = sum(self.resident_kib(p) for p in self.tree_pids(os.getpid()))
        self.peak_kib = max(self.peak_kib, total)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling (idempotent) and return the peak in MiB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()
        return self.peak_kib / 1024.0


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- event log

PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
WRITE_NODE = "InsertIntoHadoopFsRelationCommand"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_nodes(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _plan_nodes(child)


def _union_s(intervals: list[list[float]]) -> float:
    """Seconds covered by a set of [start_ms, end_ms] intervals."""
    busy, lo, hi = 0.0, None, None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            if hi is not None:
                busy += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    if hi is not None:
        busy += hi - lo
    return busy / 1000.0


@dataclass
class OpLayers:
    """Event-log totals for one op."""

    jobs: int = 0
    job_s: float = 0.0
    busy_s: float = 0.0  # time covered by at least one running job
    tasks: int = 0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    gc_s: float = 0.0
    py_in: float = 0.0
    py_out: float = 0.0
    py_rows: float = 0.0
    materializations: int = 0
    insights_calls: int = 0
    rates_calls: int = 0
    read_task_s: float = 0.0
    rows_read: float = 0.0
    files_written: float = 0.0
    bytes_written: float = 0.0
    rows_written: float = 0.0


def _metric_roles(plan: dict, roles: dict[int, str], scans: dict[int, str]) -> None:
    """Map the SQL-metric accumulators of a plan to the OpLayers field
    they add to, and the metrics of connector scans to their source."""
    for node in _plan_nodes(plan):
        name = node.get("nodeName", "")
        desc = node.get("simpleString", "")
        python = any(m in name for m in PYTHON_NODE_MARKERS)
        write = WRITE_NODE in name
        source = ("insights" if "facebook_insights" in desc
                  else "rates" if "currencylayer" in desc else None)
        for m in node.get("metrics", ()):
            acc, metric = m["accumulatorId"], m["name"]
            if source is not None:
                scans[acc] = source
            role = {
                PY_IN: "py_in",
                PY_OUT: "py_out",
                "number of output rows": (
                    "rows_read" if source else "py_rows" if python
                    else "rows_written" if write else None
                ),
                "number of written files": "files_written" if write else None,
                "written output": "bytes_written" if write else None,
            }.get(metric)
            if role is not None:
                roles[acc] = role


def read_event_log(log_dir: str, ops: list[Span]) -> dict[int, OpLayers]:
    """Attribute every Spark job in the event log to an op, by the
    ``perfbench.op`` job property when present (batch jobs) and by the
    op's time window otherwise (micro-batch jobs, whose description
    the stream execution thread overwrites), and total its layers."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    windows = [(s.start * 1000, s.end * 1000, s.op_id) for s in ops]

    def op_at(ms: float) -> int | None:
        return next((op for lo, hi, op in windows if lo <= ms <= hi), None)

    out: dict[int, OpLayers] = defaultdict(OpLayers)
    job_op: dict[int, int] = {}
    job_span: dict[int, list[float]] = {}
    stage_op: dict[int, int] = {}
    exec_op: dict[int, int] = {}
    roles: dict[int, str] = {}  # accumulator id -> OpLayers field
    scans: dict[int, str] = {}  # accumulator id -> connector it scans
    scan_stages: dict[int, str] = {}
    driver_acc: dict[int, tuple[int, float]] = {}
    seen_rdds: set[int] = set()

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = props.get(OP_PROPERTY)
                op = int(tag) if tag else op_at(ev["Submission Time"])
                if op is None:
                    continue
                jid = ev["Job ID"]
                job_op[jid] = op
                job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
                for sid in ev.get("Stage IDs", ()):
                    stage_op[sid] = op
                if props.get("spark.sql.execution.id"):
                    exec_op.setdefault(int(props["spark.sql.execution.id"]), op)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_span:
                    job_span[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _metric_roles(ev["sparkPlanInfo"], roles, scans)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                op = exec_op.get(ev["executionId"])
                if op is not None:
                    for acc, value in ev["accumUpdates"]:
                        driver_acc[acc] = (op, _num(value))  # a driver metric's final value
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev["Stage ID"])
                if op is None:
                    continue
                o = out[op]
                o.tasks += 1
                tm = ev.get("Task Metrics") or {}
                o.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                o.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                o.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                o.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                scanned = False
                for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    acc = a.get("ID")
                    if acc in roles:
                        field_name = roles[acc]
                        setattr(o, field_name, getattr(o, field_name) + _num(a.get("Update")))
                    if acc in scans:
                        scan_stages[ev["Stage ID"]] = scans[acc]
                        scanned = True
                if scanned:
                    o.read_task_s += tm.get("Executor Run Time", 0) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                op = stage_op.get(info["Stage ID"])
                if op is None:
                    continue
                for rdd in info.get("RDD Info", ()):
                    lvl = rdd.get("Storage Level") or {}
                    if (lvl.get("Use Memory") or lvl.get("Use Disk")) and rdd["RDD ID"] not in seen_rdds:
                        seen_rdds.add(rdd["RDD ID"])
                        out[op].materializations += 1
                source = scan_stages.get(info["Stage ID"])
                if source == "insights":
                    out[op].insights_calls += info["Number of Tasks"]
                elif source == "rates":
                    out[op].rates_calls += info["Number of Tasks"]

    by_op: dict[int, list[list[float]]] = defaultdict(list)
    for jid, op in job_op.items():
        lo, hi = job_span[jid]
        out[op].jobs += 1
        out[op].job_s += (hi - lo) / 1000.0
        by_op[op].append(job_span[jid])
    for op, intervals in by_op.items():
        out[op].busy_s = _union_s(intervals)
    for acc, (op, value) in driver_acc.items():
        if acc in roles:
            field_name = roles[acc]
            setattr(out[op], field_name, getattr(out[op], field_name) + value)
    return dict(out)
