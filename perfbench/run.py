#!/usr/bin/env python3
"""Layer-attributed benchmark of the engine.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 15 --trace 0

Runs one workload closed-loop (one client, one process, Spark on
``local[<cores>]``) from the root of a source checkout, checks its
outputs, and prints as the last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones listed in BENCHMARK.json; with
``--trace 1`` the Spark event log, a StreamingQueryListener and spans
around driver-side public functions give the per-layer ones instead.
``perfbench/metrics_map.json`` defines every metric and says which
end-to-end metric each per-layer one should move, on which workload.
The line before the JSON is a readable summary with the error rate and
its base.

Inputs come from ``--seed`` alone (perfbench/datagen.py). Every file a
run writes (inputs, warehouse, Spark scratch, event log, temp files)
lives under ``.perfbench_work/`` in the checkout, and the run's own
directory is removed when it ends; traced runs leave their spans in
``.perfbench_work/traces``.
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
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "facebook_ads_bigquery_etl_spark"
DRIVER_MEMORY = "1g"  # the session's own default (24g) is more than a small host has


class Context:
    """What a workload sees: the session, its inputs, and the op loop
    with its failure accounting."""

    def __init__(self, seed: int, work_dir: str, tracer) -> None:
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.tracer = tracer
        self.spark = None
        self.streams = None  # StreamProgress, for workloads that stream
        self.failures: dict[int, str] = {}
        self.op_spans: dict[int, object] = {}
        self.measured: list[int] = []
        self.plans: dict[int, tuple[float, int]] = {}  # op -> (build s, rows out)

    def op(self, name: str, fn, measured: bool = True):
        """Run one operation and return (op id, result). An exception
        fails the op, not the run: it is recorded, and the result is
        None."""
        sc = self.spark.sparkContext
        op_id = len(self.op_spans)
        self.tracer.op_id = op_id
        sc.setLocalProperty("perfbench.op", str(op_id))
        sc.setJobDescription(f"perfbench:{op_id}:{name}")
        idx = self.tracer.begin(name, op_id)
        result = None
        try:
            result = fn()
        except Exception:  # the op loop must go on; the failure is counted
            self.failures[op_id] = traceback.format_exc()
            print(f"op {op_id} {name} failed:\n{self.failures[op_id]}", file=sys.stderr)
        finally:
            self.op_spans[op_id] = self.tracer.end(idx)
            sc.setLocalProperty("perfbench.op", None)
            sc.setJobDescription(None)
            self.tracer.op_id = -1
        if measured:
            self.measured.append(op_id)
        return op_id, result

    def note_plan(self, build_s: float, rows_out: int) -> None:
        """Record, for the running op, how long the registered query
        callable took to return and how many rows it produced."""
        self.plans[self.tracer.op_id] = (build_s, rows_out)

    def fail(self, op_id: int, why: str) -> None:
        print(f"check failed for op {op_id} ({self.op_name(op_id)}): {why}", file=sys.stderr)
        self.failures.setdefault(op_id, why)

    def op_name(self, op_id: int) -> str:
        return self.op_spans[op_id].name

    def seconds(self, op_id: int) -> float:
        return self.op_spans[op_id].seconds

    @property
    def attempted(self) -> int:
        return len(self.measured)

    @property
    def failed(self) -> int:
        return len(set(self.failures) & set(self.measured))


def _prepare_env(work_dir: str) -> None:
    """Point the scratch locations of Python, the JVMs and Spark into
    the run's directory, before the session starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _start_spark(work_dir: str, trace: bool):
    from facebook_ads_bigquery_etl_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = len(os.sched_getaffinity(0))
    return get_spark("perfbench", cpus=cores, extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every descendant
    process (the JVM and the Python workers it forked) has exited."""
    from pyspark import SparkContext

    from tracing import RssSampler

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while rest := [p for p in RssSampler.tree_pids(os.getpid()) if p != os.getpid()]:
        if time.time() > deadline + 10:
            raise RuntimeError(f"processes {rest} did not exit")
        for pid in rest:
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # not our direct child: its parent reaps it
        time.sleep(0.1)


def _per_op(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(ctx: Context, workload, layers: dict, e2e: dict) -> dict[str, float]:
    """Per-layer metrics over the measured ops; see metrics_map.json
    for each definition (per op unless it says otherwise)."""
    ops = ctx.measured
    n = len(ops)
    measured = set(ops)
    per_op = [layers[op] for op in ops if op in layers]

    def tot(attr):
        return float(sum(getattr(x, attr) for x in per_op))

    spans = ctx.tracer.spans
    traced = [s for s in spans if s.parent is not None and s.op_id in measured]

    def outermost(*names):
        """Seconds and count of the outermost spans with these names
        (handle_event calling run_facebook_job is counted once)."""
        sel = [s for s in traced if s.name in names and spans[s.parent].name not in names]
        return sum(s.seconds for s in sel), len(sel)

    event_s, n_events = outermost("etl.handle_event", "etl.run_facebook_job")
    write_s, n_writes = outermost("sinks.write_day_partitioned")
    handled = [op for op in ops if ctx.op_name(op) in workload.event_ops]
    facts = workload.layer_facts()
    readbacks = [ctx.seconds(op) for op in ops if ctx.op_name(op) == "readback"]

    batches = ctx.streams.for_ops(measured) if ctx.streams else []
    nb = len(batches)

    def batch_ms(key):
        return _per_op(sum(b["ms"].get(key, 0) for b in batches), nb)

    plan_ops = [op for op in ops if op in ctx.plans]
    build = sum(ctx.plans[op][0] for op in plan_ops)
    return {
        "spark.jobs": _per_op(tot("jobs"), n),
        "spark.job_s": _per_op(tot("job_s"), n),
        "spark.gap_s": _per_op(sum(ctx.seconds(op) for op in ops) - tot("busy_s"), n),
        "spark.tasks": _per_op(tot("tasks"), n),
        "spark.shuffle_read_bytes": _per_op(tot("shuffle_read"), n),
        "spark.shuffle_write_bytes": _per_op(tot("shuffle_write"), n),
        "spark.spill_bytes": _per_op(tot("spill"), n),
        "spark.gc_s": _per_op(tot("gc_s"), n),
        "sources.insights_calls": _per_op(tot("insights_calls"), n),
        "sources.insights_calls_per_account_day": _per_op(
            tot("insights_calls"), facts.get("account_days", 0)
        ),
        "sources.rates_calls": _per_op(tot("rates_calls"), n),
        "sources.read_task_s": _per_op(tot("read_task_s"), n),
        "sources.rows_read": _per_op(tot("rows_read"), n),
        "etl.event_s": _per_op(event_s, n_events),
        "etl.spark_jobs_per_event": _per_op(
            sum(layers[op].jobs for op in handled if op in layers), len(handled)
        ),
        "etl.rows_written": _per_op(facts.get("rows_written", 0), n_events),
        "etl.rows_quarantined": _per_op(facts.get("rows_quarantined", 0), n_events),
        "etl.readback_s": statistics.median(readbacks) if readbacks else 0.0,
        "sinks.write_s": _per_op(write_s, n),
        "sinks.write_calls": _per_op(n_writes, n),
        "sinks.files_written": _per_op(tot("files_written"), n),
        "sinks.bytes_per_row": _per_op(tot("bytes_written"), tot("rows_written")),
        "plans.build_s": _per_op(build, len(plan_ops)),
        "plans.collect_s": _per_op(sum(ctx.seconds(op) for op in plan_ops) - build, len(plan_ops)),
        "plans.rows_out": _per_op(sum(ctx.plans[op][1] for op in plan_ops), len(plan_ops)),
        "operators.python_bytes_in": _per_op(tot("py_in"), n),
        "operators.python_bytes_out": _per_op(tot("py_out"), n),
        "operators.python_rows": _per_op(tot("py_rows"), n),
        "operators.materializations": _per_op(tot("materializations"), n),
        "streaming.batches": _per_op(nb, n),
        "streaming.add_batch_ms": batch_ms("addBatch"),
        "streaming.query_planning_ms": batch_ms("queryPlanning"),
        "streaming.wal_commit_ms": batch_ms("walCommit"),
        "streaming.commit_offsets_ms": batch_ms("commitOffsets"),
        "streaming.latest_offset_ms": batch_ms("latestOffset"),
        "streaming.state_commit_ms": _per_op(sum(b["state_commit_ms"] for b in batches), nb),
        "streaming.state_rows": _per_op(sum(b["state_rows"] for b in batches), nb),
        "trace.latency_p50_ms": e2e["latency_p50_ms"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import datagen
    from tracing import (RssSampler, StreamProgress, Tracer, install_wrappers,
                         process_age_s, read_event_log)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    base = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(base, f"run-{os.getpid()}")
    _prepare_env(work_dir)
    # a TERM (say, from a caller's timeout) unwinds through the finally
    # below, which stops the JVM and removes the run's directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    tracer = Tracer()
    ctx = Context(args.seed, work_dir, tracer)
    wl_cls = WORKLOADS[args.workload]
    sampler = RssSampler().start()
    try:
        t = time.time()
        datagen.write_tables(ctx.data_dir, args.seed, wl_cls.sf, wl_cls.tables)
        phases = {"datagen": time.time() - t}
        t = time.time()
        ctx.spark = _start_spark(work_dir, bool(args.trace))
        phases["session"] = time.time() - t
        from facebook_ads_bigquery_etl_spark.sources import register_all

        t = time.time()
        register_all(ctx.spark)
        phases["register_all"] = time.time() - t
        if args.trace:
            install_wrappers(tracer)
        if wl_cls.streams:
            ctx.streams = StreamProgress(ctx.spark, tracer)
        workload = wl_cls(ctx)
        t = time.time()
        workload.warm_up()
        phases["warm_up"] = time.time() - t
        setup_s = process_age_s() - phases["datagen"]
        print("setup phases (s): " + json.dumps({k: round(v, 2) for k, v in phases.items()}),
              file=sys.stderr)

        workload.measure(args.seconds)
        print("ops (s): " + " ".join(
            f"{ctx.op_name(i)}{'' if i in ctx.measured else '*'}={ctx.seconds(i):.2f}"
            for i in ctx.op_spans), file=sys.stderr)
        workload.check()
        e2e = workload.end_to_end()
        _stop_spark(ctx.spark)
        ctx.spark = None
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mib"] = sampler.stop()

        print("summary " + json.dumps({
            "workload": args.workload,
            "seed": args.seed,
            "op_error_rate": f"{ctx.failed}/{ctx.attempted} (failed/attempted ops)",
            **{k: round(v, 4) for k, v in e2e.items()},
        }))
        if args.trace:
            layers = read_event_log(os.path.join(work_dir, "eventlog"),
                                    list(ctx.op_spans.values()))
            values = layer_metrics(ctx, workload, layers, e2e)
            trace_dir = os.path.join(base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        else:
            values = e2e
        missing = [k for k, v in values.items() if v != v]  # NaN: nothing measured
        if missing:
            print(f"metrics without a value: {missing}", file=sys.stderr)
        print(json.dumps({
            "correct": not ctx.failures and not missing,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
        return 0
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        sampler.stop()
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
