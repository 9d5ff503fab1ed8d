"""Per-family profiling harness (optimization round r13).

Times one or more bench families at $SPARK_GRAFT_SF_DIR with the exact
bench methodology (warmup at sf0.001, best-of-3 collect), and captures
a Spark-job-level timeline from the event log so wall time can be
split into job time vs driver/filesystem gaps.

Usage:  python scripts/profile_family.py family [family ...]
        python scripts/profile_family.py --explain family  # plan only
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EVDIR = "/tmp/spark-events-profile"


def _bench_query(name):
    import bench

    return bench._query(name)


def main() -> None:
    os.makedirs(EVDIR, exist_ok=True)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    explain_only = "--explain" in sys.argv

    from facebook_ads_bigquery_etl_spark.session import get_spark

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{EVDIR}",
            "spark.eventLog.compress": "false",
        },
    )
    spark.read.parquet(f"{SF}/lineitem.parquet").count()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    if explain_only:
        for name in args:
            df = _bench_query(name)(spark, SF)
            print(f"===== {name} =====")
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        return

    for name in args:
        _bench_query(name)(spark, "/root/testdata/sf0.001").collect()
    spark.catalog.clearCache()

    for name in args:
        spark.sparkContext._jvm.System.gc()
        best = float("inf")
        marks = []
        for _ in range(3):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            _bench_query(name)(spark, SF).collect()
            dt = time.perf_counter() - t0
            marks.append((t0, dt))
            best = min(best, dt)
        spark.sparkContext.setJobDescription(None)
        print(f"TIME {name}: best={best:.3f}s all={[round(d,3) for _, d in marks]}")

    app_id = spark.sparkContext.applicationId
    spark.stop()
    # parse the event log: job-level timeline
    path = os.path.join(EVDIR, app_id)
    if not os.path.exists(path):
        # Spark 4 rolling layout: eventlog_v2_<appId>/events_1_<appId>
        v2 = os.path.join(EVDIR, f"eventlog_v2_{app_id}")
        if os.path.isdir(v2):
            parts = sorted(
                os.path.join(v2, f)
                for f in os.listdir(v2)
                if f.startswith("events_")
            )
            if not parts:
                print("no event log found")
                return
            path = parts
        else:
            cands = [f for f in os.listdir(EVDIR) if f.startswith(app_id)]
            if not cands:
                print("no event log found")
                return
            path = os.path.join(EVDIR, cands[0])
    if isinstance(path, str):
        path = [path]
    jobs = {}

    def _lines(paths):
        import subprocess

        for p in paths:
            if p.endswith(".zstd"):
                out = subprocess.run(
                    ["zstd", "-dc", p], capture_output=True, check=True
                )
                yield from out.stdout.decode().splitlines()
            else:
                with open(p) as fh:
                    yield from fh

    if True:
        for line in _lines(path):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "desc": props.get("spark.job.description", ""),
                    "start": ev["Submission Time"],
                    "nstages": len(ev.get("Stage Infos", [])),
                }
            elif ev.get("Event") == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"]
    # summarize per description
    per = {}
    order = sorted(jobs)
    prev_end = None
    for jid in order:
        j = jobs[jid]
        if "end" not in j:
            continue
        desc = j["desc"]
        dur = (j["end"] - j["start"]) / 1000.0
        gap = 0.0
        if prev_end is not None and j["start"] > prev_end:
            gap = (j["start"] - prev_end) / 1000.0
        prev_end = max(prev_end or 0, j["end"])
        d = per.setdefault(desc, {"n": 0, "job_s": 0.0, "gap_s": 0.0})
        d["n"] += 1
        d["job_s"] += dur
        d["gap_s"] += gap
    for desc, d in per.items():
        if desc.startswith("profile:"):
            print(
                f"JOBS {desc}: n={d['n']} (per-iter~{d['n'] / 3:.0f})"
                f" job_time={d['job_s']:.2f}s gaps_before_jobs={d['gap_s']:.2f}s"
            )


if __name__ == "__main__":
    main()
