"""The benchmark's workloads: what each runs, and how its outputs are
checked.

Every workload is a closed loop with one client: the next operation is
issued only after the previous one returned. ``warm_up`` runs before
the measured window and counts toward ``setup_s``; ``measure`` loops
until the window is spent (each loop at least its minimum count);
``check`` compares outputs with an independent computation, outside
the timed window. A mismatch marks the operation whose output it was
as failed.
"""

from __future__ import annotations

import base64
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os
import random
import statistics
import sys
import time

import duckdb

SYNTHETIC_ADS = 50
FLEET = 4
BACKFILL_DAYS = 2
WARM_PASSES = 2  # streaming_mix
MIN_PASSES = 4  # streaming_mix: four batches per family for its median


# ------------------------------------------------------------ comparison

def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return round(f, 9) + 0.0
    if isinstance(v, dt.datetime):
        if v.time() == dt.time(0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # a Spark struct, read like DuckDB's dict
        return _canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    if hasattr(v, "tolist"):
        return _canon(v.tolist())
    return v


def canonical_rows(columns: list[str], rows) -> list[str]:
    """Rows as sorted JSON strings over name-sorted columns, with
    floats rounded to 9 places and midnight datetimes read as dates."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [
        json.dumps([_canon(r[i]) for i in order], default=str) for r in rows
    ]
    out.sort()
    return [json.dumps(sorted(columns))] + out


def digest(columns: list[str], rows) -> str:
    h = hashlib.sha256()
    for line in canonical_rows(columns, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_matches(sql: str, data_dir: str, tables: tuple[str, ...], columns, rows) -> bool:
    """Whether ``rows`` equal the DuckDB result of ``sql`` over views of
    the input parquet files."""
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        o_cols = [d[0] for d in res.description]
        o_rows = res.fetchall()
    finally:
        con.close()
    return canonical_rows(o_cols, o_rows) == canonical_rows(columns, rows)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ------------------------------------------------------------ workloads

class Workload:
    """One workload: its inputs, warm-up, measured loop, checks and
    end-to-end metrics. ``ctx`` is the run's Context (perfbench/run.py)."""

    name = ""
    tables: tuple[str, ...] = ()  # generated inputs (perfbench/datagen.py)
    sf = 0.0  # their scale factor
    streams = False  # whether the run needs the streaming listener
    event_ops: tuple[str, ...] = ()  # op names that are one handled event each

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def warm_up(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def end_to_end(self) -> dict[str, float]:
        """latency_p50_ms and rows_per_s of the measured window."""
        raise NotImplementedError

    def layer_facts(self) -> dict[str, int]:
        """Counts only the workload knows, for the per-layer metrics."""
        return {}


class EtlDaily(Workload):
    """Pub/Sub-style events through ``etl.runner.handle_event`` over the
    ``synthetic`` Insights transport: per day a ``get_facebook`` event
    for the fleet and a ``get_currency`` event, each day followed by a
    read-back query; then one re-delivered day and multi-day
    ``run_facebook_job(..., until=)`` backfills."""

    name = "etl_daily"
    event_ops = ("get_facebook", "get_currency", "redeliver")

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        rng = random.Random(ctx.seed)
        self.accounts = [f"act_{rng.randrange(10**8, 10**9)}" for _ in range(FLEET)]
        self.start = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randrange(365))
        self.campaign = f"campaign_{rng.randrange(7)}"
        self.transport = f"synthetic:{SYNTHETIC_ADS}"
        self.root = os.path.join(ctx.work_dir, "warehouse")
        self.days: list[dt.date] = []
        self.backfills: list[tuple[dt.date, dt.date]] = []
        self.results: dict[int, object] = {}
        self.readbacks: dict[int, tuple[list[dt.date], list[str], list]] = {}
        self.redelivered: tuple[int, str, str] | None = None

    def _event(self, job: str, day: dt.date) -> dict:
        attrs = {"date": day.isoformat()}
        if job == "get_facebook":
            attrs["accounts"] = ",".join(self.accounts)
        return {"data": base64.b64encode(job.encode()).decode(), "attributes": attrs}

    def _handle(self, job: str, day: dt.date, root: str):
        from facebook_ads_bigquery_etl_spark.etl import runner

        return runner.handle_event(self.ctx.spark, self._event(job, day), root, self.transport)

    def _readback(self, root: str, days: list[dt.date]):
        """Spend in local currency by campaign: facebook_stat joined to
        exchange_rate on date, one campaign, over the days loaded."""
        spark = self.ctx.spark
        spark.read.parquet(f"{root}/facebook_stat").createOrReplaceTempView("bench_fb")
        spark.read.parquet(f"{root}/exchange_rate").createOrReplaceTempView("bench_fx")
        df = spark.sql(self._readback_sql("bench_fb", "bench_fx", days))
        return df.columns, df.collect()

    def _readback_sql(self, fb: str, fx: str, days: list[dt.date]) -> str:
        return f"""
            SELECT f.campaign_id,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(f.spend AS DECIMAL(18, 2))
                            * CAST(r.rate AS DECIMAL(18, 2))) AS DECIMAL(38, 4))
                       AS spend_local
            FROM {fb} f JOIN {fx} r ON f.date = r.date
            WHERE f.campaign_name = '{self.campaign}'
              AND f.date BETWEEN DATE '{days[0]}' AND DATE '{days[-1]}'
            GROUP BY f.campaign_id
        """

    def warm_up(self) -> None:
        """One smoke-scale day (one account, a few ads) on a scratch
        warehouse."""
        from facebook_ads_bigquery_etl_spark.etl import runner

        root = os.path.join(self.ctx.work_dir, "warm_warehouse")
        day = self.start - dt.timedelta(days=400)
        event = self._event("get_facebook", day)
        event["attributes"]["accounts"] = self.accounts[0]
        runner.handle_event(self.ctx.spark, event, root, "synthetic:5")
        self._handle("get_currency", day, root)
        self._readback(root, [day])

    def measure(self, seconds: float) -> None:
        from facebook_ads_bigquery_etl_spark.etl import runner
        from facebook_ads_bigquery_etl_spark.etl.dispatch import JobRequest

        c = self.ctx
        t0 = time.time()
        while len(self.days) < 2 or time.time() - t0 < 0.5 * seconds:
            day = self.start + dt.timedelta(days=len(self.days))
            for job in ("get_facebook", "get_currency"):
                op, res = c.op(job, lambda: self._handle(job, day, self.root))
                self.results[op] = res
            self.days.append(day)
            days = list(self.days)
            op, res = c.op("readback", lambda: self._readback(self.root, days))
            if res is not None:
                self.readbacks[op] = (days, *res)

        before = self._partition_digest(self.days[0])
        op, res = c.op("redeliver", lambda: self._handle("get_facebook", self.days[0], self.root))
        self.results[op] = res
        self.redelivered = (op, before, self._partition_digest(self.days[0]))

        while not self.backfills or time.time() - t0 < seconds:
            since = self.days[-1] + dt.timedelta(days=1 + BACKFILL_DAYS * len(self.backfills))
            until = since + dt.timedelta(days=BACKFILL_DAYS - 1)
            req = JobRequest("get_facebook", {"accounts": ",".join(self.accounts)}, since)
            op, res = c.op(
                "backfill",
                lambda: runner.run_facebook_job(
                    c.spark, req, self.root, self.transport, until=until.isoformat()
                ),
            )
            self.results[op] = res
            self.backfills.append((since, until))

    def _partition_digest(self, day: dt.date) -> str:
        files = sorted(glob.glob(f"{self.root}/facebook_stat/date={day}/*.parquet"))
        if not files:
            return "missing"
        con = duckdb.connect()
        try:
            res = con.execute(
                "SELECT * EXCLUDE (actions, conversions), "
                "to_json(actions) AS actions, to_json(conversions) AS conversions "
                f"FROM read_parquet({files!r})"
            )
            cols = [d[0] for d in res.description]
            return digest(cols, res.fetchall())
        finally:
            con.close()

    def check(self) -> None:
        c = self.ctx
        per_day = FLEET * SYNTHETIC_ADS
        for op, res in self.results.items():
            name = c.op_name(op)
            if res is None:
                continue  # the op already failed
            if name == "get_currency":
                want = 1
            elif name == "backfill":
                want = per_day * BACKFILL_DAYS
            else:
                want = per_day
            if res.rows_written != want or res.rows_quarantined != 0:
                c.fail(op, f"{name} wrote {res.rows_written} rows "
                           f"({res.rows_quarantined} quarantined), expected {want}")
        redeliver_op, before, after = self.redelivered
        if before != after or before == "missing":
            c.fail(redeliver_op, "re-delivered day changed the facebook_stat partition")

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW fb AS SELECT * FROM read_parquet("
                f"'{self.root}/facebook_stat/*/*.parquet', hive_partitioning = true)"
            )
            con.execute(
                "CREATE VIEW fx AS SELECT * FROM read_parquet("
                f"'{self.root}/exchange_rate/*/*.parquet', hive_partitioning = true)"
            )
            n_days = len(self.days) + BACKFILL_DAYS * len(self.backfills)
            total = con.execute("SELECT COUNT(*) FROM fb").fetchone()[0]
            if total != per_day * n_days:
                c.fail(redeliver_op,
                       f"facebook_stat holds {total} rows, expected {per_day * n_days}")
            for op, (days, cols, rows) in self.readbacks.items():
                res = con.execute(self._readback_sql("fb", "fx", days))
                o_cols = [d[0] for d in res.description]
                if canonical_rows(o_cols, res.fetchall()) != canonical_rows(cols, rows):
                    c.fail(op, f"read-back over {days[0]}..{days[-1]} differs from DuckDB")
        finally:
            con.close()

    def end_to_end(self) -> dict[str, float]:
        c = self.ctx
        fb_jobs = [op for op in self.results if c.op_name(op) != "get_currency"]
        events = [c.seconds(op) for op in fb_jobs if c.op_name(op) != "backfill"]
        rows = sum(self.results[op].rows_written for op in fb_jobs if self.results[op])
        return {
            "latency_p50_ms": 1000 * median(events),
            "rows_per_s": rows / sum(c.seconds(op) for op in fb_jobs),
        }

    def layer_facts(self) -> dict[str, int]:
        c = self.ctx
        results = [(c.op_name(op), res) for op, res in self.results.items() if res]
        per_job = {"get_facebook": FLEET, "redeliver": FLEET, "backfill": FLEET * BACKFILL_DAYS}
        return {
            "account_days": sum(per_job.get(name, 0) for name, _ in results),
            "rows_written": sum(res.rows_written for _, res in results),
            "rows_quarantined": sum(res.rows_quarantined for _, res in results),
        }


class StreamingMix(Workload):
    """Drains of registered ``stream_*`` families over ``events``, one
    family after the other in a fixed order, pass after pass until the
    window is spent (at least four passes). Each drain is one
    micro-batch; the breakdown comes from a StreamingQueryListener."""

    name = "streaming_mix"
    tables = ("events",)
    sf = 0.1
    streams = True
    ops = ("stream_daily_rollup", "stream_rate_limit_tokens")

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.passes: list[list[int]] = []
        self.outputs: dict[int, tuple[list[str], list]] = {}

    def run_pass(self, record: bool) -> list[int]:
        c = self.ctx
        ids = []
        for name in self.ops:
            op, res = c.op(name, lambda: self._drain(name), measured=record)
            ids.append(op)
            if record and res is not None:
                self.outputs[op] = res
        return ids

    def _drain(self, name: str):
        from facebook_ads_bigquery_etl_spark.plans import QUERIES

        c = self.ctx
        try:
            t = time.time()
            df = QUERIES[name](c.spark, c.data_dir)
            build_s = time.time() - t
            rows = df.collect()
            c.note_plan(build_s, len(rows))
            return df.columns, rows
        finally:
            c.streams.settle()

    def warm_up(self) -> None:
        """Two unmeasured passes: the first is cold, and the one after
        it still runs ~15% above the steady time."""
        for _ in range(WARM_PASSES):
            self.run_pass(record=False)

    def measure(self, seconds: float) -> None:
        t0 = time.time()
        while len(self.passes) < MIN_PASSES or time.time() - t0 < seconds:
            self.passes.append(self.run_pass(record=True))

    def check(self) -> None:
        """Each result equals its DuckDB oracle, and every pass gives
        the same digest for it."""
        from facebook_ads_bigquery_etl_spark.plans.registry import ORACLES

        c = self.ctx
        first: dict[str, str] = {}
        for op, (cols, rows) in self.outputs.items():
            name = c.op_name(op)
            d = digest(cols, rows)
            if name not in first:
                first[name] = d
                if not oracle_matches(ORACLES[name], c.data_dir, self.tables, cols, rows):
                    c.fail(op, "result does not match its DuckDB oracle")
            elif first[name] != d:
                c.fail(op, "output digest differs from the first pass")

    def end_to_end(self) -> dict[str, float]:
        c = self.ctx
        measured = {op for ids in self.passes for op in ids}
        batches = c.streams.for_ops(measured)
        print("micro-batches (op:ms/rows): " + " ".join(
            f"{b['op']}:{b['ms'].get('triggerExecution', 0)}/{b['rows']}" for b in batches),
            file=sys.stderr)
        # The families' batch times sit far apart (~1.1 s and ~4.3 s on
        # 4 cores), so a median over the pooled batches would fall in
        # the gap between them; each family gets its own median instead.
        per_family: dict[str, list[float]] = {}
        for b in batches:
            per_family.setdefault(c.op_name(b["op"]), []).append(b["ms"].get("triggerExecution", 0))
        return {
            "latency_p50_ms": statistics.geometric_mean(median(v) for v in per_family.values()),
            "rows_per_s": sum(b["rows"] for b in batches) / sum(c.seconds(op) for op in measured),
        }


WORKLOADS = {w.name: w for w in (EtlDaily, StreamingMix)}
