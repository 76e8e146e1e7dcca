#!/usr/bin/env python
"""Stage-level profile of one catalog query via the Spark event log.

Usage: python tools/profile_query.py <query> [sf_dir] [runs]

Runs the query bench-style (1 warm-up + ``runs`` timed noop-sink
executions) in a session with ``spark.eventLog.enabled``, then parses
the event log and prints, for the timed window: per-job wall ranges
and, per stage, the wall duration, task count, summed task time, and
the dominant metric split (executor compute / shuffle fetch / GC /
scheduler+overhead) — the §7.1 "where is the time going" readout the
disabled UI would otherwise provide.

A first line gives the JVM layer: the session start seconds, the
class-data-sharing state of the driver JVM (``shared``, ``dumping``
or ``off``, from its input arguments), and, over the JVM's life so
far, the classes loaded and the JIT's compilation seconds.
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def jvm_line(spark, start_s: float) -> str:
    """The JVM layer: session start seconds, CDS state, and classes
    loaded and JIT compile seconds from the management beans (py4j)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    cds = "off"
    for flag, state in (("-XX:SharedArchiveFile=", "shared"), ("-XX:ArchiveClassesAtExit=", "dumping")):
        if any(a.startswith(flag) for a in args):
            cds = state
    jit = mf.getCompilationMXBean()
    jit_s = (
        f"{jit.getTotalCompilationTime() / 1000.0:.2f}s"
        if jit is not None and jit.isCompilationTimeMonitoringSupported()
        else "n/a"
    )
    classes = mf.getClassLoadingMXBean().getTotalLoadedClassCount()
    return f"jvm: start_s={start_s:.2f} cds={cds} classes_loaded={classes} jit_compile_s={jit_s}"


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    log_dir = f"/tmp/spark-events-{uuid.uuid4().hex[:8]}"
    os.makedirs(log_dir, exist_ok=True)

    # The event-log confs go in at JVM launch, next to get_spark's own
    # confs, so the profiled session runs under the bench's memory and
    # shuffle settings.
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "pyspark-shell",
        ]
    )
    from convoy_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("convoy-spark-profile", data_dir=sf_dir)
    start_s = time.perf_counter() - t
    from convoy_spark.queries import QUERIES

    spark.range(1000).selectExpr("sum(id)").collect()

    def noop():
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    noop()  # warm-up
    spark.sparkContext.setJobDescription(f"timed:{name}")
    t0 = time.time() * 1000
    wall = []
    for _ in range(runs):
        s = time.perf_counter()
        noop()
        wall.append(time.perf_counter() - s)
    t1 = time.time() * 1000
    spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    jvm = jvm_line(spark, start_s)
    spark.stop()

    print(jvm)
    print(f"{name}: wall={['%.2f' % w for w in wall]}")
    # Spark 4 rolling layout: eventlog_v2_<appId>/events_*; fall back
    # to the classic single file.
    v2 = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(v2):
        paths = sorted(
            os.path.join(v2, f)
            for f in os.listdir(v2)
            if f.startswith("events_")
        )
    else:
        paths = [os.path.join(log_dir, app_id)]
    jobs = {}
    stages = {}
    task_acc = {}

    def _lines():
        for p in paths:
            if p.endswith(".zstd"):
                import io
                import subprocess

                raw = subprocess.run(
                    ["zstd", "-dc", p], capture_output=True, check=True
                ).stdout
                yield from io.StringIO(raw.decode())
            else:
                with open(p) as fh:
                    yield from fh

    for line in _lines():
        ev = json.loads(line)
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            sub = ev.get("Submission Time", 0)
            if sub < t0 or sub > t1:
                continue
            jid = ev["Job ID"]
            jobs[jid] = {
                "submit": sub,
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["end"] = ev.get("Completion Time", 0)
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            if sub is None or sub < t0 or sub > t1:
                continue
            stages[sid] = {
                "name": si.get("Stage Name", "")[:70],
                "wall": (si.get("Completion Time", 0) - sub) / 1000.0,
                "tasks": si.get("Number of Tasks", 0),
            }
        elif e == "SparkListenerTaskEnd":
            # TaskEnd precedes StageCompleted in the log; bank
            # unconditionally and join on stage id afterwards.
            sid = ev["Stage ID"]
            if sid not in task_acc:
                task_acc[sid] = {
                    "task_ms": 0,
                    "gc_ms": 0,
                    "fetch_ms": 0,
                    "cpu_ns": 0,
                    "ser_ms": 0,
                }
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            st = task_acc[sid]
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            st["task_ms"] += max(dur, 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["ser_ms"] += tm.get("Result Serialization Time", 0) + tm.get(
                "Executor Deserialize Time", 0
            )
            srm = tm.get("Shuffle Read Metrics") or {}
            st["fetch_ms"] += srm.get("Fetch Wait Time", 0)

    njobs = len(jobs)
    total_job_wall = sum(
        (j.get("end", 0) - j["submit"]) / 1000.0 for j in jobs.values()
    )
    # gaps between jobs = driver-side planning/scheduling time
    spans = sorted(
        (j["submit"], j.get("end", j["submit"])) for j in jobs.values()
    )
    gap = 0.0
    for (s1, e1), (s2, _) in zip(spans, spans[1:]):
        if s2 > e1:
            gap += (s2 - e1) / 1000.0
    print(
        f"jobs={njobs} job_wall_sum={total_job_wall:.2f}s "
        f"inter-job driver gap={gap:.2f}s (planning/analysis)"
    )
    print(
        f"{'sid':>4} {'wall_s':>7} {'tasks':>5} {'task_s':>7} {'cpu_s':>6} "
        f"{'gc_s':>5} {'fetch_s':>7} {'sched_s':>7}  name"
    )
    for sid in sorted(stages, key=lambda s: -stages[s]["wall"]):
        st = {**{"task_ms": 0, "gc_ms": 0, "fetch_ms": 0, "cpu_ns": 0,
                 "ser_ms": 0}, **task_acc.get(sid, {}), **stages[sid]}
        cpu_s = st["cpu_ns"] / 1e9
        sched = max(st["task_ms"] / 1000.0 - cpu_s - st["gc_ms"] / 1000.0, 0)
        print(
            f"{sid:>4} {st['wall']:>7.2f} {st['tasks']:>5} "
            f"{st['task_ms'] / 1000.0:>7.2f} {cpu_s:>6.2f} "
            f"{st['gc_ms'] / 1000.0:>5.2f} {st['fetch_ms'] / 1000.0:>7.2f} "
            f"{sched:>7.2f}  {st['name']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
