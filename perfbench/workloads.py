"""The benchmark's two closed-loop workloads.

Each workload builds its inputs from a seed, runs iterations of
operations through the engine's public API, and checks every
operation's result. One client issues one operation at a time and waits
for it (closed loop); the only other thread is ``ServingApi``'s HTTP
handler in ``serving_mixed``. Why each workload exists, and its sizes,
are in README.md beside this file.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import sys
import time
import traceback
import urllib.request
import json

from pyspark.sql import functions as F

from cashback_data_pipeline_spark import testgen
from cashback_data_pipeline_spark.operators import dedup, retrieval, similarity, text, transform
from cashback_data_pipeline_spark.plans import pipeline
from cashback_data_pipeline_spark.serving.http_api import ServingApi
from cashback_data_pipeline_spark.sinks import filestats, writers
from cashback_data_pipeline_spark.sinks import manifest as M
from cashback_data_pipeline_spark.sources import manifest_source, readers
from cashback_data_pipeline_spark.streaming import cdf_source

from spans import BENCH

# Sizes per scale. "bench" is what run.py measures; "tiny" (sf0.001-sized)
# is what the self-tests run.
SIZES = {
    "serving_mixed": {
        # reward ids j*stride spread transaction dates over 5 days
        "bench": dict(rows=12_000, pool=3_000, stride=36, append=40, dup=8, dml=5),
        "tiny": dict(rows=2_000, pool=600, stride=216, append=20, dup=4, dml=3),
    },
    "corpus_curation": {
        "bench": dict(docs=500, vectors=200, searches=4),
        "tiny": dict(docs=150, vectors=80, searches=2),
    },
}


_TICK = os.sysconf("SC_CLK_TCK")
#: JVM threads whose CPU is the JIT compiler's, not the operation's: how
#: much compiling a run still does after warm-up varies from run to run
#: and was most of the JVM's CPU time in the timed loop
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_jit_tids: dict[int, list[int]] = {}


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1 : text.rindex(")")], text.rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants (the JVM and the JVM's Python workers), less the JVM's JIT
    compiler threads. Time the machine gave to other tenants is not in
    it, unlike wall time."""
    procs: dict[int, tuple[str, int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            comm, rest = _stat(f"/proc/{entry}/stat")
        except (OSError, ValueError, IndexError):
            continue
        # rest[1] is the parent pid; rest[11:15] utime, stime, cutime, cstime
        procs[int(entry)] = (comm, int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        comm, _, used = procs.get(pid, ("", 0, 0))
        ticks += used
        if comm == "java":
            ticks -= _jit_ticks(pid)
        todo.extend(children.get(pid, []))
    return ticks / _TICK


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads. The JVM runs with a fixed
    set of compiler threads (-XX:-UseDynamicNumberOfCompilerThreads), so
    the threads found on the first call stay for the JVM's life."""
    if pid not in _jit_tids:
        tids = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                if _stat(f"/proc/{pid}/task/{tid}/stat")[0].startswith(_JIT_THREADS):
                    tids.append(int(tid))
            except (OSError, ValueError):
                continue
        _jit_tids[pid] = tids
    ticks = 0
    for tid in _jit_tids[pid]:
        try:
            rest = _stat(f"/proc/{pid}/task/{tid}/stat")[1]
        except (OSError, ValueError):
            continue
        ticks += int(rest[11]) + int(rest[12])
    return ticks


class Recorder:
    """Times operations and keeps their outcomes."""

    def __init__(self, tracer=None, spark=None):
        self.tracer = tracer
        self.spark = spark
        self.ops: list[list] = []  # [kind, seconds, ok, cpu seconds]
        self.leaked_rdds = 0

    def op(self, kind: str, fn, check, layer: str | None = None):
        """Run ``fn`` as one timed operation, then ``check`` its result
        outside the timed window. A raised error or a failed check marks
        the operation failed."""
        tracer = self.tracer
        before = engine_persisted(self.spark) if tracer else None
        ok, out = True, None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = fn()
            else:
                with tracer.span(BENCH, kind, job_group=True):
                    if layer is None:
                        out = fn()
                    else:
                        with tracer.span(layer, kind):
                            out = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            ok = False
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if tracer is not None:
            tracer.release_materialized()
            self.leaked_rdds += len(engine_persisted(self.spark) - before)
        if ok:
            try:
                if tracer is None:
                    ok = bool(check(out))
                else:
                    with tracer.paused():
                        ok = bool(check(out))
            except Exception:  # noqa: BLE001 — a check that cannot run is a failed op
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            print(f"perfbench: operation {kind} failed", file=sys.stderr)
        self.ops.append([kind, elapsed, ok, cpu])
        return out

    def fail_kind(self, kind: str) -> None:
        for rec in self.ops:
            if rec[0] == kind:
                rec[2] = False


def engine_persisted(spark) -> set[int]:
    # session.persistent_rdd_ids does the same, but as an engine function
    # it would be traced as a session-layer call
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def canonical_hash(rows, cols) -> str:
    """Order-insensitive hash of a result: cells canonicalized to strings,
    columns sorted by name, rows sorted (the repo's oracle-gate rule)."""

    def cell(v):
        if v is None or (isinstance(v, float) and v != v):
            return "NULL"
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x01".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\x02".join(canon).encode()).hexdigest()[:16]


def df_hash(df) -> str:
    return canonical_hash([tuple(r) for r in df.collect()], list(df.columns))


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    name = ""
    #: operation kinds that only read; every other kind writes
    read_kinds: frozenset[str] = frozenset()
    #: nominal seconds of one iteration on a 4-core box. A run measures
    #: round(seconds / iteration_s) whole iterations, so every run of a
    #: workload does the same work whatever the machine's speed.
    iteration_s = 1.0

    def __init__(self, spark, root: str, seed: int, scale: str = "bench"):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.stored_bytes_per_row = 0.0
        os.makedirs(root, exist_ok=True)

    def iterations_for(self, seconds: float) -> int:
        return max(1, round(seconds / self.iteration_s))

    def build_fixture(self) -> None:
        raise NotImplementedError

    def iteration(self, rec: Recorder, rng, index: int) -> None:
        raise NotImplementedError

    def end_iteration(self, index: int) -> None:
        """Between iterations, outside the timed window."""

    def manifest_tables(self) -> list[str]:
        return []

    def final_check(self, rec: Recorder) -> None:
        """Once per run, outside the timed window."""

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# serving_mixed
# ---------------------------------------------------------------------------

SERVING_COLS = ["reward_id", "transaction_date", "plu_amount", "reason"]
# reads per iteration: the change feed once (the iteration's load feeds
# it), every other kind three times
READS = (
    ["http_rollup", "point_lookup", "range_agg", "time_travel", "sql_pushdown"] * 3
    + ["cdf_catchup"]
)


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class ServingMixed(Workload):
    """A seeded stream of small reads and writes over one manifest-backed
    serving table, loaded through the reference pipeline and checked
    against a row model kept in Python."""

    name = "serving_mixed"
    iteration_s = 10.0
    read_kinds = frozenset(READS)

    def build_fixture(self) -> None:
        s, spark = self.size, self.spark
        stride = s["stride"]
        span = (s["rows"] + s["pool"]) * stride
        num = F.expr("CAST(substr(id, 2) AS BIGINT)")
        self.rewards_path = os.path.join(self.root, "raw", "rewards")
        self.txns_path = os.path.join(self.root, "raw", "transactions")
        testgen.gen_rewards(spark, span, span).filter(num % stride == 0).write.parquet(self.rewards_path)
        testgen.gen_transactions(spark, span).filter(num % stride == 0).write.parquet(self.txns_path)
        cashback = (
            transform.run_reference_pipeline(
                readers.read_parquet(spark, self.rewards_path),
                readers.read_parquet(spark, self.txns_path),
            )
            .filter(F.col("transaction_date").isNotNull())
            .withColumn("_j", F.expr("CAST(substr(reward_id, 2) AS BIGINT)") / stride)
            .persist()
        )
        self.table = os.path.join(self.root, "serving_table")
        self.warehouse = os.path.join(self.root, "warehouse")
        # no bloom sidecar: the engine refuses bloom_cols on a partitioned
        # table (one task writes equal file basenames into each partition)
        M.write_table(
            cashback.filter(F.col("_j") < s["rows"]).drop("_j").repartition("transaction_date"),
            self.table, partition_by=["transaction_date"], stats_cols=["reward_id"],
        )
        # what each reward id looks like once loaded: the base rows are in
        # the table, the pool rows arrive through the pipeline's loads
        rows = cashback.select("_j", *SERVING_COLS).collect()
        cashback.unpersist()
        self.model = {r[1]: [r[2], r[3], r[4]] for r in rows if r[0] < s["rows"]}
        self.pool = sorted(
            ((r[1], [r[2], r[3], r[4]]) for r in rows if r[0] >= s["rows"]),
            key=lambda kv: int(kv[0][1:]),
        )
        self.ids = sorted(self.model)
        self.version = M.current_version(self.table)
        self.history = {self.version: self._totals()}
        self.appended = {}
        self.cdf_seen = self.version
        self.pool_next = 0
        cdf_source.register(spark)
        self.api = ServingApi({"monthly": self._monthly})
        self.port = self.api.start()

    def close(self) -> None:
        self.api.stop()

    def manifest_tables(self) -> list[str]:
        return [self.table, self.warehouse]

    def _monthly(self):
        return (
            M.read_table(self.spark, self.table)
            .groupBy(F.substring("transaction_date", 1, 7).alias("month"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("plu_amount").alias("s"))
        )

    def _totals(self, lo: str | None = None, hi: str | None = None):
        n, total = 0, 0.0
        for date, amount, _ in self.model.values():
            if (lo is None or date >= lo) and (hi is None or date < hi):
                n += 1
                total += amount or 0.0
        return n, total

    def _commit(self, appended: int = 0) -> None:
        self.version = M.current_version(self.table)
        self.history[self.version] = self._totals()
        self.appended[self.version] = appended

    def _pruned_something(self, spec) -> bool:
        m = M.read_manifest(self.table, M.current_version(self.table))
        files, skipped = filestats.prune_files(m["files"], m.get("stats"), spec)
        _, bloom_skipped = filestats.prune_files_bloom(
            M.get_log_store(self.table), self.table, files, m.get("stats"), spec
        )
        return skipped + bloom_skipped > 0

    def _date_window(self, rng) -> tuple[str, str]:
        dates = sorted({v[0] for v in self.model.values()})
        i = rng.randrange(0, len(dates) - 3)
        return dates[i], dates[i + 3]

    def iteration(self, rec: Recorder, rng, index: int) -> None:
        """Every iteration runs the same mix, so sums over whole
        iterations compare across seeds: a load, the READS in seeded
        order, a delete or an update, and an OPTIMIZE. The seed picks the order, the keys, the
        date windows and the versions."""
        self._append(rec, rng)
        # the warm-up (index -1) needs each kind once
        reads = READS if index >= 0 else sorted(set(READS))
        for kind in rng.sample(reads, len(reads)):
            getattr(self, "_" + kind)(rec, rng)
        (self._delete if index % 2 else self._update)(rec, rng)
        self._optimize(rec)

    # -- reads ------------------------------------------------------------------

    def _http_rollup(self, rec, rng) -> None:
        expect: dict[str, list] = {}
        for date, amount, _ in self.model.values():
            e = expect.setdefault(date[:7], [0, 0.0])
            e[0] += 1
            e[1] += amount or 0.0

        def call():
            url = f"http://127.0.0.1:{self.port}/query/monthly"
            with urllib.request.urlopen(url, timeout=120) as resp:
                return json.loads(resp.read())

        def check(body):
            got = {r["month"]: (r["n"], r["s"]) for r in body["rows"]}
            return set(got) == set(expect) and all(
                got[k][0] == v[0] and _close(got[k][1], v[1]) for k, v in expect.items()
            )

        rec.op("http_rollup", call, check, layer="serving.http_api")

    def _point_lookup(self, rec, rng) -> None:
        rid = rng.choice(self.ids)
        spec = ("reward_id", "==", rid)
        want = self.model[rid]

        def check(rows):
            return (
                len(rows) == 1
                and [rows[0][1], rows[0][3]] == [want[0], want[2]]
                and _close(rows[0][2], want[1])
                and self._pruned_something(spec)
            )

        rec.op(
            "point_lookup",
            lambda: M.read_table(self.spark, self.table, skip=spec).select(*SERVING_COLS).collect(),
            check,
        )

    def _range_agg(self, rec, rng) -> None:
        lo, hi = self._date_window(rng)
        spec = [("transaction_date", ">=", lo), ("transaction_date", "<", hi)]
        n, total = self._totals(lo, hi)
        rec.op(
            "range_agg",
            lambda: M.read_table(self.spark, self.table, skip=spec)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("plu_amount").alias("s"))
            .collect(),
            lambda rows: rows[0][0] == n and _close(rows[0][1], total) and self._pruned_something(spec),
        )

    def _sql_pushdown(self, rec, rng) -> None:
        lo, hi = self._date_window(rng)
        n, total = self._totals(lo, hi)

        def call():
            manifest_source.register_view(self.spark, "perfbench_serving", self.table)
            return self.spark.sql(
                "SELECT count(*) AS n, sum(plu_amount) AS s FROM perfbench_serving "
                f"WHERE transaction_date >= '{lo}' AND transaction_date < '{hi}'"
            ).collect()

        rec.op(
            "sql_pushdown", call,
            lambda rows: rows[0][0] == n and _close(rows[0][1], total),
            layer="sources.manifest_source",
        )

    def _cdf_catchup(self, rec, rng) -> None:
        # each iteration appends before it reads: the engine's batch
        # change feed fails on a window that adds no files
        start, end = self.cdf_seen, self.version
        expect = sum(self.appended.get(v, 0) for v in range(start + 1, end + 1))

        def call():
            return (
                self.spark.read.format("manifest_changes")
                .option("startingVersion", start)
                .option("endingVersion", end)
                .option("skipChangeCommits", "true")
                .load(self.table)
                .count()
            )

        rec.op("cdf_catchup", call, lambda got: got == expect, layer="streaming.cdf_source")
        self.cdf_seen = end

    def _time_travel(self, rec, rng) -> None:
        version = rng.choice(sorted(self.history))
        n, total = self.history[version]
        rec.op(
            "time_travel",
            lambda: M.read_table(self.spark, self.table, version=version)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("plu_amount").alias("s"))
            .collect(),
            lambda rows: rows[0][0] == n and _close(rows[0][1], total),
        )

    # -- writes -----------------------------------------------------------------

    def expected_loaded(self, fresh: int) -> int:
        """A load lands exactly its new keys; re-sent keys are dropped."""
        return fresh

    def _append(self, rec, rng) -> None:
        """An incremental load through plans.run_pipeline (stage, join,
        derive, cast, warehouse commit, idempotent serving load): new
        reward ids plus a seeded slice of ids already in the table."""
        s, spark = self.size, self.spark
        fresh = self.pool[self.pool_next : self.pool_next + s["append"]]
        self.pool_next += len(fresh)
        ids = [k for k, _ in fresh] + rng.sample(self.ids, s["dup"])
        refs = ["t" + i[1:] for i in ids]
        expect = self.expected_loaded(len(fresh))

        def load():
            rewards = readers.read_parquet(spark, self.rewards_path).filter(F.col("id").isin(ids))
            txns = readers.read_parquet(spark, self.txns_path).filter(F.col("id").isin(refs))
            return pipeline.run_pipeline(
                spark, rewards, txns, self.warehouse, self.table, use_manifest=True
            )

        out = rec.op(
            "append", load,
            lambda r: r.rows_loaded == expect and r.rows_transformed == len(ids),
        )
        if out is not None:
            for k, v in fresh:
                self.model[k] = list(v)
            self.ids = sorted(self.model)
            self._commit(appended=len(fresh))

    def _delete(self, rec, rng) -> None:
        ids = rng.sample(self.ids, self.size["dml"])
        prev = self.version
        out = rec.op(
            "delete",
            lambda: M.delete_where(self.spark, self.table, ("reward_id", "in", ids)),
            lambda v: v == prev + 1,
        )
        if out is not None:
            for i in ids:
                del self.model[i]
            self.ids = sorted(self.model)
            self._commit()

    def _update(self, rec, rng) -> None:
        ids = rng.sample(self.ids, self.size["dml"])
        prev = self.version
        reason = f"updated {prev + 1}"
        out = rec.op(
            "update",
            lambda: M.update_where(
                self.spark, self.table, {"reason": f"'{reason}'"}, ("reward_id", "in", ids)
            ),
            lambda v: v == prev + 1,
        )
        if out is not None:
            for i in ids:
                self.model[i][2] = reason
            self._commit()

    def _optimize(self, rec) -> None:
        prev = self.version
        out = rec.op(
            "optimize",
            lambda: M.optimize_table(self.spark, self.table),
            lambda v: v >= prev,
        )
        if out is not None:
            self._commit()

    def end_iteration(self, index: int) -> None:
        self.stored_bytes_per_row = tree_bytes(self.table) / len(self.model)


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    """Curation chain, near-dup operators and incremental index commits
    over a generated document and embedding corpus."""

    name = "corpus_curation"
    iteration_s = 14.0
    read_kinds = frozenset({"bm25_search"})

    def build_fixture(self) -> None:
        s, spark = self.size, self.spark
        self.data_dir = os.path.join(self.root, "corpus")
        testgen.gen_documents(spark, s["docs"]).write.parquet(
            os.path.join(self.data_dir, "documents.parquet")
        )
        testgen.gen_embeddings(spark, s["vectors"]).write.parquet(
            os.path.join(self.data_dir, "embeddings.parquet")
        )
        import random

        rng = random.Random(self.seed)
        self.term_sets = [
            sorted(rng.sample(testgen.DOC_VOCAB, rng.randint(2, 4))) for _ in range(s["searches"])
        ]
        self.delta_mod = rng.randrange(5)
        self.reference: dict[str, str] = {}
        self.tables: list[str] = []
        self.ivf_kept = None

    def _same_as_first(self, key: str, value) -> bool:
        return self.reference.setdefault(key, value) == value

    def manifest_tables(self) -> list[str]:
        return list(self.tables)

    def iteration(self, rec: Recorder, rng, index: int) -> None:
        spark = self.spark
        docs = readers.read_testdata(spark, self.data_dir, "documents")
        emb = readers.read_testdata(spark, self.data_dir, "embeddings")
        curated = os.path.join(self.root, f"it{index}", "curated")
        inv = os.path.join(self.root, f"it{index}", "inverted_index")
        ivf = os.path.join(self.root, f"it{index}", "ivf_index")
        self.tables = [inv, ivf]

        def curate():
            exact_kept = dedup.dedup_exact_by_fingerprint(docs)
            pairs = dedup.ngram_jaccard_pairs_prefix(
                exact_kept, n=1, threshold=0.75, block_cols=["lang"], bag=True
            )
            near_drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
            quality = text.quality_score("text")
            writers.write_warehouse(
                exact_kept.join(near_drop, on="doc_id", how="left_anti")
                .filter(quality >= 0.5)
                .select(
                    "doc_id", "lang", "n_chars",
                    (F.floor(quality * 1000000 + 0.5) / 1000000).alias("quality"),
                ),
                curated,
                partition_by="lang",
            )

        in_delta = F.pmod("doc_id", F.lit(5)) == self.delta_mod
        vec_delta = F.pmod("vec_id", F.lit(5)) == 0
        steps = [
            ("index_build", lambda: retrieval.build_inverted_index_manifest(docs.filter(~in_delta), inv)),
            ("index_upsert", lambda: retrieval.upsert_inverted_index(docs.filter(in_delta), inv, delta_id="d1")),
            ("ivf_build", lambda: similarity.ivf_build_index_manifest(
                emb.filter(~vec_delta), ivf, n_centroids=16, quantize=True)),
            ("ivf_upsert", lambda: similarity.upsert_ivf_index(emb.filter(vec_delta), ivf, delta_id="delta-1")),
        ]
        rec.op("curate_corpus", curate, lambda _: self._same_as_first(
            "curate_corpus", df_hash(readers.read_parquet(spark, curated))))
        for kind, fn in steps:
            rec.op(kind, fn, lambda got, k=kind: self._same_as_first(k, got))
        # the warm-up (index -1) needs each kind once: one search warms them all
        for i, terms in enumerate(self.term_sets if index >= 0 else self.term_sets[:1]):
            rec.op(
                "bm25_search",
                lambda t=terms: df_hash(retrieval.search_inverted_index_manifest(spark, inv, t, k=10)),
                lambda got, i=i: self._same_as_first(f"bm25_search/{i}", got),
            )

    def end_iteration(self, index: int) -> None:
        s = self.size
        self.stored_bytes_per_row = sum(tree_bytes(t) for t in self.tables) / (s["docs"] + s["vectors"])
        # the upserted IVF index is probed once, by final_check, so keep
        # the latest one
        if self.ivf_kept:
            shutil.rmtree(os.path.dirname(self.ivf_kept), ignore_errors=True)
        self.ivf_kept = os.path.join(self.root, f"kept{index}", "ivf_index")
        os.makedirs(os.path.dirname(self.ivf_kept))
        os.rename(self.tables[1], self.ivf_kept)
        shutil.rmtree(os.path.join(self.root, f"it{index}"), ignore_errors=True)
        self.tables = []

    def ivf_probe(self) -> str:
        """Hash of a top-5 probe of the latest upserted IVF index."""
        emb = readers.read_testdata(self.spark, self.data_dir, "embeddings")
        out = similarity.ivf_query_index_manifest(
            self.spark, self.ivf_kept, emb.filter(F.col("vec_id") < 10), n_probe=4, k=5
        )
        return df_hash(
            out.select(
                "query_id", "neighbor_id",
                (F.floor(F.col("cos") * 1000000 + 0.5) / 1000000).alias("cos"),
                "rank",
            )
        )

    def oracle_sql(self) -> dict[str, str]:
        """The registered DuckDB oracles for each checked result; BM25
        searches use the registered BM25 oracle with the run's terms."""
        from cashback_data_pipeline_spark import queries as Q

        out = {k: Q.ORACLES[k] for k in ("curate_corpus", "ann_ivf_delta_topk")}
        bm25 = Q.ORACLES["indexed_bm25_delta"]
        if Q._BM25_TERM_VALUES not in bm25:
            raise RuntimeError("BM25 oracle no longer lists its terms as a VALUES row set")
        for i, terms in enumerate(self.term_sets):
            values = ", ".join(f"('{t}')" for t in terms)
            out[f"bm25_search/{i}"] = bm25.replace(Q._BM25_TERM_VALUES, values)
        return out

    def final_check(self, rec: Recorder) -> None:
        import duckdb

        # the IVF commits are checked through a probe of the final index;
        # a wrong index fails the upserts that built it
        self.reference["ann_ivf_delta_topk"] = self.ivf_probe()
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {os.cpu_count() or 1}")
            for table in ("documents", "embeddings"):
                path = os.path.join(self.data_dir, f"{table}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            for key, sql in self.oracle_sql().items():
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                if canonical_hash(res.fetchall(), cols) != self.reference.get(key):
                    print(f"perfbench: {key} differs from its DuckDB oracle", file=sys.stderr)
                    kind = key.split("/")[0]
                    rec.fail_kind("ivf_upsert" if kind == "ann_ivf_delta_topk" else kind)
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (ServingMixed, CorpusCuration)}
