#!/usr/bin/env python3
"""Stage-timeline profiler: run one suite spec with the Spark event log
enabled, then bucket wall time into (a) stage execution, split by task
parallelism, and (b) gaps where no stage was running (driver-side py4j
round trips, planning, commit/rename loops — the non-core-scalable time
the 10x tier's 8-vs-32 Amdahl split points at).

Usage: python tools/profile_stages.py <spec_name> [sf_dir] [cpus]
Prints: total wall, sum of stage spans, driver-gap total, and the top
stages/gaps with task counts so the serial component is attributable.
Measurement tooling only — never used by queries or the bench.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from bambooai_spark.caching import release_caches
    from bambooai_spark.session import default_parallelism, get_session

    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else default_parallelism()
    evdir = tempfile.mkdtemp(prefix="bbai_evlog_")
    from bambooai_spark.suite import SPECS

    spark = get_session(
        "bbai-profile",
        cpus=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            # keep the original single-file uncompressed layout (Spark 4
            # defaults to rolling zstd-compressed v2 directories)
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spec = {s.name: s for s in SPECS}[name]
    # warm-up (untimed) so codegen/JIT and any per-process fixtures are
    # out of the measured window
    spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    release_caches()
    t0 = time.time()
    spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    release_caches()
    appid = spark.sparkContext.applicationId
    spark.stop()

    # single-file layout (spark.eventLog.rolling disabled) or the v2
    # rolling directory layout (Spark 4 default): eventlog_v2_<appid>/
    # events_<n>_<appid> parts
    path = os.path.join(evdir, appid)
    if os.path.isfile(path):
        parts = [path]
    else:
        v2 = os.path.join(evdir, f"eventlog_v2_{appid}")
        parts = sorted(
            os.path.join(v2, p)
            for p in os.listdir(v2)
            if p.startswith("events_")
        )
    stages = {}  # id -> dict(submit, complete, ntasks, nameline)
    for part in parts:
      with open(part) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except Exception:
                continue
            e = ev.get("Event")
            if e == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "submit": si.get("Submission Time"),
                    "ntasks": si.get("Number of Tasks"),
                    "name": si.get("Stage Name", "")[:60],
                }
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                d = stages.setdefault(si["Stage ID"], {})
                d["submit"] = si.get("Submission Time") or d.get("submit")
                d["complete"] = si.get("Completion Time")
                d["ntasks"] = si.get("Number of Tasks")
                d["name"] = si.get("Stage Name", "")[:60]

    done = [
        (d["submit"], d["complete"], sid, d)
        for sid, d in stages.items()
        if d.get("submit") and d.get("complete")
    ]
    done.sort()
    # restrict to the timed (second) build: keep stages in the last
    # `wall` seconds of the timeline
    end = max(c for _, c, _, _ in done)
    t_start = end - wall * 1000.0 - 500
    done = [x for x in done if x[0] >= t_start]
    # merge stage intervals -> busy time; the rest of the wall is gap
    busy = []
    for s, c, sid, d in done:
        if busy and s <= busy[-1][1]:
            busy[-1] = (busy[-1][0], max(busy[-1][1], c))
        else:
            busy.append((s, c))
    busy_ms = sum(c - s for s, c in busy)
    span = (max(c for _, c in busy) - min(s for s, _ in busy)) if busy else 0
    print(f"spec={name} cpus={cpus} wall={wall:.2f}s  "
          f"stage-busy={busy_ms / 1e3:.2f}s  "
          f"gaps(driver)={max(0.0, (span - busy_ms)) / 1e3:.2f}s  "
          f"stages={len(done)}")
    # top stages by duration with parallelism
    tops = sorted(done, key=lambda x: -(x[1] - x[0]))[:14]
    for s, c, sid, d in tops:
        print(f"  stage {sid:>4} {(c - s) / 1e3:7.2f}s  "
              f"tasks={d['ntasks']:>4}  {d['name']}")
    # top gaps between consecutive stages, attributed to the stages on
    # either side (which stage the driver was preparing when it stalled)
    gaps = []
    for i in range(1, len(busy)):
        g = busy[i][0] - busy[i - 1][1]
        before = [sid for s, c, sid, _ in done if c <= busy[i - 1][1] + 1]
        after = [sid for s, c, sid, _ in done if s >= busy[i][0] - 1]
        gaps.append((g, max(before) if before else -1,
                     min(after) if after else -1))
    gaps.sort(reverse=True)
    print("  top driver gaps:",
          [f"{g / 1e3:.2f}s (after stage {b}, before stage {a})"
           for g, b, a in gaps[:6]])
    return 0


if __name__ == "__main__":
    sys.exit(main())
