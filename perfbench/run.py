"""Run one benchmark workload and print its metrics as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` prints the per-layer metrics
of a separate traced pass (see README.md). The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "cashback_data_pipeline_spark")
SETUPS = 3  # set-ups per run; setup_s is their median


def size_for_box() -> tuple[int, str]:
    """Local cores and a JVM heap that fits this machine's memory
    (the engine's own defaults, local[32] and 32g, assume a larger box)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    gigs = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    return cpus, f"{gigs}g"


def configure_environment(work: str, cpus: int, heap: str) -> None:
    """Must run before pyspark or numpy are imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=heap,
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)


class Box:
    """The Spark session the benchmark drives, restartable in one JVM."""

    def __init__(self, work: str, cpus: int, heap: str):
        self.work, self.cpus, self.heap = work, cpus, heap
        self.spark = None

    def start(self, event_log: str | None = None):
        from pyspark.sql import SparkSession

        from cashback_data_pipeline_spark import session as engine_session

        self.stop()
        tmp = os.path.join(self.work, "tmp")
        chain = (
            SparkSession.builder.appName("perfbench")
            .master(f"local[{self.cpus}]")
            .config("spark.driver.memory", self.heap)
            # a fixed set of JIT compiler threads, so that their CPU time can
            # be left out of the operations' (workloads.tree_cpu_s)
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "spark-warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        if event_log is not None:
            os.makedirs(event_log, exist_ok=True)
            chain = (
                chain.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", "file://" + event_log)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = engine_session.configure(chain).getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        engine_session.apply_session_conf(self.spark)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process, the JVM and the
        JVM's Python workers (VmHWM of each, summed)."""
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        pids, todo = {os.getpid()}, [jvm]
        while todo:
            pid = todo.pop()
            pids.add(pid)
            todo.extend(children.get(pid, []))
        total_kb = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    total_kb += next(
                        (int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0
                    )
            except OSError:
                continue
        return total_kb / 1024.0


def shutdown_jvm() -> None:
    """Stop any session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — a stuck JVM is killed, never left behind
                proc.kill()
                proc.wait()


def release(spark) -> None:
    """Between iterations: drop cached relations and checkpoint blocks and
    let Python's GC free dead py4j handles, so no iteration inherits the
    last one's state."""
    import gc

    from cashback_data_pipeline_spark import session as engine_session

    spark.catalog.clearCache()
    engine_session.unpersist_rdd_ids(spark, engine_session.persistent_rdd_ids(spark))
    gc.collect()


def warm_up(spark, wl, seed: int):
    """One untimed iteration: the first iteration in a session runs 2-3x
    slower (JIT, code generation, Python worker start)."""
    from workloads import Recorder

    warm = Recorder()
    wl.iteration(warm, random.Random(seed + 1_000_003), -1)
    wl.end_iteration(-1)
    release(spark)
    return warm


def timed_loop(spark, wl, seed: int, iterations: int, tracer=None, footprint=None):
    """Run ``iterations`` whole iterations."""
    from workloads import Recorder

    rec = Recorder(tracer, spark)
    rng = random.Random(seed)
    if tracer is not None:
        footprint.start(wl.manifest_tables())
        tracer.recording = True
    for index in range(iterations):
        wl.iteration(rec, rng, index)
        if tracer is None:
            wl.end_iteration(index)
            release(spark)
        else:
            with tracer.paused():
                footprint.observe(wl.manifest_tables())
                wl.end_iteration(index)
            with tracer.span("session", "release"):
                release(spark)
    if tracer is not None:
        tracer.recording = False
    return rec


def cpu_per_op(ops) -> float:
    """CPU seconds per operation (workloads.tree_cpu_s): each kind's
    median, weighted by how many operations of the kind ran. Every
    iteration runs the same mix, so this is the mix's mean, and one
    operation that met a GC pause moves only its kind's median."""
    kinds: dict[str, list[float]] = {}
    for op in ops:
        kinds.setdefault(op[0], []).append(op[3])
    return sum(len(v) * statistics.median(v) for v in kinds.values()) / len(ops)


def end_to_end(box: Box, workload_cls, work: str, seed: int, scale: str, seconds: float):
    """Set up SETUPS times (session start in the running JVM + fixture
    build), then measure on the last set-up's fixture."""
    setups = []
    for k in range(SETUPS):
        if k:
            wl.close()
            shutil.rmtree(wl.root, ignore_errors=True)
        t0 = time.perf_counter()
        spark = box.start()
        wl = workload_cls(spark, os.path.join(work, f"setup{k}"), seed, scale)
        wl.build_fixture()
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm = warm_up(spark, wl, seed)
    rec = timed_loop(spark, wl, seed, wl.iterations_for(seconds))
    t1 = time.perf_counter()
    wl.final_check(rec)
    kinds: dict[str, list[list]] = {}
    for op in rec.ops:
        kinds.setdefault(op[0], []).append(op)
    medians = {
        k: (round(statistics.median(o[1] for o in v), 2), round(statistics.median(o[3] for o in v), 2))
        for k, v in kinds.items()
    }
    print(f"perfbench: setups {[round(x, 2) for x in setups]} s, warm-up and loop {t1 - t0:.1f} s,"
          f" final check {time.perf_counter() - t1:.1f} s, per-kind median (wall s, cpu s) {medians}",
          file=sys.stderr)
    wl.close()
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "op_cpu_s": (cpu_per_op(rec.ops), "s"),
        "stored_bytes_per_row": (wl.stored_bytes_per_row, "B/row"),
    }
    return warm.ops + rec.ops, metrics


class ManifestFootprint:
    """What the manifest layer left on disk during the traced pass."""

    def __init__(self):
        self.before: dict[str, set[str]] = {}
        self.seen: dict[str, tuple[int, int, int, int]] = {}

    @staticmethod
    def _files(table: str) -> dict[str, int]:
        out = {}
        for root, _, files in os.walk(table):
            for f in files:
                p = os.path.join(root, f)
                out[os.path.relpath(p, table).replace(os.sep, "/")] = os.path.getsize(p)
        return out

    def start(self, tables) -> None:
        self.before = {t: set(self._files(t)) for t in tables if os.path.isdir(t)}

    def observe(self, tables) -> None:
        from cashback_data_pipeline_spark.sinks import manifest as M

        for table in tables:
            if not os.path.isdir(table):
                continue
            files = self._files(table)
            new = {f: s for f, s in files.items() if f not in self.before.get(table, ())}
            log = [f for f in files if f.startswith("_manifests/")]
            commits = sum(1 for f in new if f.startswith("_manifests/v") and f.endswith(".json"))
            live = set(M.read_manifest(table, M.current_version(table))["files"])
            live_new = sum(s for f, s in new.items() if f in live)
            self.seen[table] = (sum(new.values()), live_new, len(log), commits)

    def totals(self) -> dict[str, float]:
        written = sum(v[0] for v in self.seen.values())
        live_new = sum(v[1] for v in self.seen.values())
        return {
            "log_files": sum(v[2] for v in self.seen.values()),
            "commits": sum(v[3] for v in self.seen.values()),
            "write_amp": written / live_new if live_new else 0.0,
        }


def traced(box: Box, workload_cls, work: str, seed: int, scale: str, seconds: float):
    """In one session with Spark's event log on: warm up, run the timed
    loop untraced, then replay the same iterations with spans recorded.
    The difference of the two passes' operation time is the overhead of
    the spans and of materializing operator outputs."""
    from spans import LAYER_FIELDS, LAYERS, Tracer

    event_log = os.path.join(work, "event-log")
    spark = box.start(event_log=event_log)
    wl = workload_cls(spark, os.path.join(work, "run"), seed, scale)
    wl.build_fixture()
    warm = warm_up(spark, wl, seed)
    iterations = wl.iterations_for(seconds)
    rec_a = timed_loop(spark, wl, seed, iterations)
    tracer = Tracer(spark.sparkContext)
    footprint = ManifestFootprint()
    tracer.install()
    try:
        rec_b = timed_loop(spark, wl, seed, iterations, tracer=tracer, footprint=footprint)
    finally:
        tracer.uninstall()
    peak = box.peak_rss_mb()
    wl.final_check(rec_b)
    wl.close()
    box.stop()  # flushes the event log
    fold = tracer.fold(event_log)

    units = {"calls": "count", "self_s": "s", "jobs": "count", "stages": "count",
             "tasks": "count", "task_s": "s", "gc_s": "s", "shuffle_bytes": "B"}
    metrics = {}
    for layer in LAYERS:
        for f in LAYER_FIELDS:
            metrics[f"{layer}.{f}"] = (fold["layers"][layer][f], units[f])
    fp = footprint.totals()
    commits = fp["commits"]
    manifest_jobs = fold["layers"]["sinks.manifest"]["jobs"]

    def jobs_per_call(name: str) -> float:
        sids = [s.sid for s in tracer.spans if s.name == name]
        return sum(tracer.inclusive_jobs(fold, s) for s in sids) / len(sids) if sids else 0.0

    metrics.update({
        "sinks.writers.files_written": (tracer.files_written, "count"),
        "sinks.manifest.commits": (commits, "count"),
        "sinks.manifest.jobs_per_commit": (manifest_jobs / commits if commits else 0.0, "ratio"),
        "sinks.manifest.write_amp": (fp["write_amp"], "ratio"),
        "sinks.manifest.log_files": (fp["log_files"], "count"),
        "sinks.filestats.skip_ratio": (
            tracer.pruned_skipped / tracer.pruned_considered if tracer.pruned_considered else 0.0,
            "ratio",
        ),
        "operators.retrieval.jobs_per_delta": (jobs_per_call("upsert_inverted_index"), "count"),
        "operators.similarity.jobs_per_delta": (jobs_per_call("upsert_ivf_index"), "count"),
        "session.leaked_rdds": (rec_b.leaked_rdds, "count"),
        "session.peak_rss_mb": (peak, "MB"),
        "trace.overhead_s": (
            sum(op[1] for op in rec_b.ops) - sum(op[1] for op in rec_a.ops), "s"
        ),
        "bench.read_cpu_s": (cpu_per_op([op for op in rec_a.ops if op[0] in wl.read_kinds]), "s"),
        "bench.write_cpu_s": (cpu_per_op([op for op in rec_a.ops if op[0] not in wl.read_kinds]), "s"),
        "bench.op_s_mean": (sum(op[1] for op in rec_a.ops) / len(rec_a.ops), "s"),
        "all.spill_bytes": (fold["totals"]["spill_bytes"], "B"),
        "all.failed_tasks": (fold["totals"]["failed_tasks"], "count"),
    })
    diag = {"tracer": tracer, "fold": fold}
    return warm.ops + rec_a.ops + rec_b.ops, metrics, diag


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str,
                 scale: str = "bench"):
    """Run one workload in the scratch directory ``work``; returns
    (result dict, diagnostics)."""
    cpus, heap = size_for_box()
    configure_environment(work, cpus, heap)
    from workloads import WORKLOADS

    box = Box(work, cpus, heap)
    try:
        if trace:
            ops, metrics, diag = traced(box, WORKLOADS[name], work, seed, scale, seconds)
        else:
            ops, metrics = end_to_end(box, WORKLOADS[name], work, seed, scale, seconds)
            diag = {}
    finally:
        box.stop()
    failed = sum(1 for op in ops if not op[2])
    diag.update(cpus=cpus, heap=heap, ops=ops)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, diag


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True,
                        choices=["serving_mixed", "corpus_curation"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, diag = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    kinds: dict[str, int] = {}
    for op in diag["ops"]:
        kinds[op[0]] = kinds.get(op[0], 0) + 1
    print(f"perfbench: cpus={diag['cpus']} heap={diag['heap']} ops={json.dumps(kinds)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
