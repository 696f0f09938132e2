"""Per-query profiler: wall time + job/stage/task counts + task-time and
shuffle-byte totals from the Spark event log (guide §1: measure first,
map time to operators before changing anything).

Usage: python tools/profile_query.py [sf_dir] query [query ...]

Each query runs twice (min-of-2, same policy as bench.py) against the
noop sink inside its own job group; the event log is then folded into a
per-query summary:

    name  wall_s  jobs  stages  tasks  task_time_s  shuffle_mb  gc_s

task_time_s is the SUM of executor run time across tasks (32-way
parallel ⇒ /32 is the lower wall bound); shuffle_mb counts remote+local
shuffle READ bytes (each shuffled byte read once).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = tempfile.mkdtemp(prefix="spark_evlog_")

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

from pyspark.sql import SparkSession  # noqa: E402

from cashback_data_pipeline_spark.session import configure, DEFAULT_CPUS, release_all  # noqa: E402


def get_profiling_spark():
    builder = (
        SparkSession.builder.appName("profile")
        .master(f"local[{DEFAULT_CPUS}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + EVDIR)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main():
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]

    from cashback_data_pipeline_spark import queries as Q

    spark = get_profiling_spark()
    sc = spark.sparkContext
    # warm-up
    Q.QUERIES["count_filtered"](spark, sf_dir).collect()
    release_all(spark)

    walls: dict[str, float] = {}
    for name in args:
        fn = Q.QUERIES[name]
        best = None
        for rep in range(2):
            group = f"{name}##{rep}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            sc.setJobGroup(None, None)
            release_all(spark)
            if best is None or dt < best[0]:
                best = (dt, group)
        walls[name] = best  # type: ignore[assignment]

    sc.stop()

    # fold the event log (Spark 4 may write a rolling dir per app)
    evfiles = []
    for f in os.listdir(EVDIR):
        p = os.path.join(EVDIR, f)
        if os.path.isdir(p):
            evfiles += [
                os.path.join(p, g) for g in os.listdir(p) if g.startswith("events_")
            ]
        else:
            evfiles.append(p)
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    agg: dict[str, dict[str, float]] = {}
    for path in evfiles:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except Exception:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    jid = ev["Job ID"]
                    job_group[jid] = grp
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    a = agg.setdefault(grp, dict(jobs=0, stages=0, tasks=0, rt=0.0, sh=0.0, gc=0.0))
                    a["jobs"] += 1
                    a["stages"] += len(ev.get("Stage IDs", []))
                elif et == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    grp = job_group.get(stage_job.get(sid, -1), "")
                    a = agg.setdefault(grp, dict(jobs=0, stages=0, tasks=0, rt=0.0, sh=0.0, gc=0.0))
                    m = ev.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["rt"] += m.get("Executor Run Time", 0) / 1000.0
                    a["gc"] += m.get("JVM GC Time", 0) / 1000.0
                    srm = m.get("Shuffle Read Metrics") or {}
                    a["sh"] += (
                        srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                    ) / 1e6

    if os.environ.get("PROFILE_STAGES"):
        # second pass: per-stage fold (stage name, tasks, task-time)
        stage_meta: dict[int, str] = {}
        stage_agg: dict[int, dict[str, float]] = {}
        for path in evfiles:
            with open(path) as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except Exception:
                        continue
                    if ev.get("Event") == "SparkListenerStageSubmitted":
                        si = ev["Stage Info"]
                        stage_meta[si["Stage ID"]] = si.get("Stage Name", "?")
                    elif ev.get("Event") == "SparkListenerTaskEnd":
                        sid = ev["Stage ID"]
                        a = stage_agg.setdefault(sid, dict(tasks=0, rt=0.0, dser=0.0, ser=0.0))
                        m = ev.get("Task Metrics") or {}
                        a["tasks"] += 1
                        a["rt"] += m.get("Executor Run Time", 0) / 1000.0
                        a["dser"] += m.get("Executor Deserialize Time", 0) / 1000.0
                        a["ser"] += m.get("Result Serialization Time", 0) / 1000.0
        for sid in sorted(stage_agg):
            a = stage_agg[sid]
            grp = job_group.get(stage_job.get(sid, -1), "")
            print(
                f"stage {sid:4d} [{grp.split('##')[0]:32s}] tasks={a['tasks']:4.0f}"
                f" rt={a['rt']:7.2f} dser={a['dser']:6.2f} {stage_meta.get(sid,'?')[:90]}"
            )

    print(f"{'query':42s} {'wall_s':>7s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s} {'ttime_s':>8s} {'shuf_mb':>8s} {'gc_s':>5s}")
    for name, (wall, group) in walls.items():
        a = agg.get(group, {})
        print(
            f"{name:42s} {wall:7.2f} {a.get('jobs',0):5.0f} {a.get('stages',0):6.0f}"
            f" {a.get('tasks',0):6.0f} {a.get('rt',0):8.1f} {a.get('sh',0):8.1f} {a.get('gc',0):5.1f}"
        )
    shutil.rmtree(EVDIR, ignore_errors=True)


if __name__ == "__main__":
    main()
