#!/usr/bin/env python3
"""Dev-only Spark event-log forensics.

Usage: python3 dev/stageprof.py <eventlog-file-or-dir> [topN]

Spark reads spark.eventLog.* from JVM system properties, and both `run`
and `Test` fork a JVM that takes javaOptions, so any tool writes an
event log with (the dir must exist):

  sbt 'set Test/javaOptions ++= Seq("-Dspark.eventLog.enabled=true","-Dspark.eventLog.dir=/tmp/ev")' "Test/runMain graft.DevScaleIter"

Handles the rolling (eventlog_v2) zstd layout via pyarrow. Prints the
topN stages by wall time (with shuffle volume and max/median task-time
skew), then the job timeline's driver-side gaps >3 s — the two views
behind docs/SCALE.md's per-superstep numbers: a slow STAGE is data/skew
cost, a slow GAP is driver cost (planning, GC, block cleanup).
"""
import io
import json
import os
import sys
from statistics import median

import pyarrow as pa


def lines(path):
    if os.path.isdir(path):
        inner = [os.path.join(path, f) for f in os.listdir(path)
                 if f.startswith("eventlog_v2") or f.startswith("events_")]
        if len(inner) == 1 and os.path.isdir(inner[0]):
            path = inner[0]
            inner = [os.path.join(path, f) for f in os.listdir(path)]
        files = sorted(f for f in inner if "appstatus" not in f)
    else:
        files = [path]
    for f in files:
        comp = "zstd" if f.endswith(".zstd") else None
        stream = pa.input_stream(f, compression=comp)
        yield from io.TextIOWrapper(io.BufferedReader(stream, 1 << 20),
                                    errors="replace")


def main(path: str, top: int) -> None:
    stages, tasks, jobs, jstart = {}, {}, [], {}
    for line in lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if not isinstance(ev, dict):
            continue
        t = ev.get("Event")
        if t == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:60],
                "sub": si.get("Submission Time")}
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            s = stages.setdefault(si["Stage ID"], {})
            s.setdefault("name", si["Stage Name"].split("\n")[0][:60])
            s["sub"] = si.get("Submission Time", s.get("sub"))
            s["done"] = si.get("Completion Time")
        elif t == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            ti = ev.get("Task Info", {})
            tasks.setdefault(sid, []).append(
                ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
            m = ev.get("Task Metrics") or {}
            s = stages.setdefault(sid, {})
            sr = m.get("Shuffle Read Metrics") or {}
            s["rd"] = s.get("rd", 0) + sr.get("Remote Bytes Read", 0) \
                + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            s["wr"] = s.get("wr", 0) + sw.get("Shuffle Bytes Written", 0)
        elif t == "SparkListenerJobStart":
            jstart[ev["Job ID"]] = ev["Submission Time"]
        elif t == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jstart:
                jobs.append((jstart[jid], ev["Completion Time"], jid))

    rows = []
    for sid, s in stages.items():
        if s.get("sub") is None or s.get("done") is None:
            continue
        ts = tasks.get(sid, [])
        rows.append(((s["done"] - s["sub"]) / 1000, sid, s.get("name", "?"),
                     len(ts), sum(ts) / 1000, s.get("rd", 0) / 2**20,
                     s.get("wr", 0) / 2**20,
                     (max(ts) / max(1, median(ts))) if ts else 0))
    rows.sort(reverse=True)
    print(f"{'wall_s':>8} {'stage':>6} {'tasks':>6} {'tSum_s':>8} "
          f"{'rdMB':>8} {'wrMB':>8} {'skew':>6} name")
    for r in rows[:top]:
        print(f"{r[0]:8.1f} {r[1]:6d} {r[3]:6d} {r[4]:8.1f} {r[5]:8.1f} "
              f"{r[6]:8.1f} {r[7]:6.1f} {r[2]}")

    if jobs:
        jobs.sort()
        t0, prev = jobs[0][0], None
        print("\ndriver-side gaps (>3 s between consecutive jobs):")
        for s, e, jid in jobs:
            if prev is not None and (s - prev) / 1000 > 3:
                print(f"  before job {jid:4d} at {(s - t0) / 1000:8.1f}s: "
                      f"gap {(s - prev) / 1000:6.1f}s")
            prev = max(prev or 0, e)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 25)
