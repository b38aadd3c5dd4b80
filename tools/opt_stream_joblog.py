"""Round-10 optimization instrument: per-job wall/task-time breakdown
of one streaming drain via the Spark event log — answers how much of a
micro-batch is task work vs scheduling/driver gaps.

Usage: python tools/opt_stream_joblog.py <drain_query> [sf_dir]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from data_warehouse_co_healthy_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    evdir = tempfile.mkdtemp(prefix="sg_evlog_")
    spark = get_spark(
        "opt-joblog",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            # plain single-file log: the Spark 4 default writes a
            # zstd-compressed rolling dir this parser can't read
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    fn(spark, sf_dir).count()  # warm + stage
    t0 = time.perf_counter()
    mark = time.time() * 1000
    fn(spark, sf_dir).count()
    wall = time.perf_counter() - t0
    print(f"measured run: {wall:.2f}s")
    spark.stop()  # closes and flushes the event log

    ev = sorted(glob.glob(os.path.join(evdir, "*")))[-1]
    if os.path.isdir(ev):
        # Spark 4 rolling event log: a directory of events_* part files
        paths = sorted(glob.glob(os.path.join(ev, "events_*")))
    else:
        paths = [ev]
    lines = []
    for p in paths:
        with open(p) as f:
            lines.extend(f)
    jobs = {}
    stages = {}
    tasks_ms = {}
    for line in lines:
        try:
            e = json.loads(line)
        except Exception:  # noqa: BLE001
            continue
        k = e.get("Event")
        if k == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "t0": e["Submission Time"],
                "desc": (e.get("Properties") or {}).get(
                    "spark.job.description", ""
                )[:60],
            }
        elif k == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j:
                j["t1"] = e["Completion Time"]
        elif k == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            info = e.get("Task Info", {})
            tasks_ms[sid] = tasks_ms.get(sid, 0) + (
                info.get("Finish Time", 0) - info.get("Launch Time", 0)
            )
            stages[sid] = stages.get(sid, 0) + 1
    recent = [
        (jid, j) for jid, j in sorted(jobs.items())
        if j.get("t0", 0) >= mark and "t1" in j
    ]
    total_job = 0
    for jid, j in recent:
        d = j["t1"] - j["t0"]
        total_job += d
        print(f"job {jid}: {d} ms  {j['desc']}")
    print(f"jobs total: {total_job} ms of {wall*1000:.0f} ms wall; "
          f"gap (driver/log/planning): {wall*1000 - total_job:.0f} ms")


if __name__ == "__main__":
    main()
