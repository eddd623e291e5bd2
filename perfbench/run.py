"""The repository's benchmark: seeded closed-loop workloads over the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Each workload is one client in a closed loop: the next op starts when the
previous op's noop-sink materialization returns. A pass runs every op of the
workload once, in an order drawn from the seed; passes repeat until
``--seconds`` have elapsed (the pass in flight finishes, so every op is sampled
equally often). The inputs are derived from the seed by ``perfbench/gen.py``;
the program only sees those parquet files.

Per run:

1. set-up, timed as ``setup_s``: import of the operator catalog, one cold
   session start (the Spark JVM launch), then one noop-sink run of every
   distinct op and ``WARM_PASSES`` more (for the stream: starting the query
   and the first ``STREAM_WARMUP_SHARDS`` shards);
2. the correctness check, untimed: every distinct op's collected result
   against its DuckDB oracle (``tools/oracle_check.compare``); the streaming
   workload against its batch twin after the loop;
3. the timed loop.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
latency percentiles over every op of the untraced passes, and
``rows_per_s`` as the median over those passes of a pass's manifest input
rows over its summed op time. Each pass also records the share of the
machine's CPU time the host stole meanwhile (``pass_steal`` in the info
line): on a shared host, stretches of steal slow whole passes by up to 2x. With
``--trace 1`` passes alternate between untraced and traced, the per-layer
metrics come from the traced passes (see ``perfbench/spans.py``), and
``trace.overhead`` is the traced passes' mean op time over the untraced
passes' (the first pass excluded) minus one. ``--workload all`` runs every
workload in turn and prints one JSON object keyed by workload.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import DATA_ROOT, CorpusSpec, corpus  # noqa: E402

RUN_LIMIT_S = 170  # cap on one run after corpus generation; runs must end within 180 s
WARM_PASSES = 1  # noop passes after the cold one: op times keep falling for a few more
STREAM_WARMUP_SHARDS = 3


@dataclass(frozen=True)
class Workload:
    spec: CorpusSpec
    ops: tuple[str, ...] = ()  # batch catalog ops; empty for the stream


@dataclass
class Pass:
    """One pass of a batch workload (every op once) or one micro-batch."""

    traced: bool
    seconds: float  # summed op latency
    rows: int  # manifest input rows of the ops that succeeded
    steal: float  # share of the machine's CPU time the host stole meanwhile


# Why each workload exists is recorded in BENCHMARK.json. There are two
# because a run costs 40-60 s on a 4-vCPU VM, most of it JVM start and op
# warm-up, and twenty-odd runs of every workload must fit in an hour.
WORKLOADS = {
    "interactive_small": Workload(
        spec=CorpusSpec(),
        ops=(
            "q3_shipping_priority", "q6_forecast_revenue", "window_rank_lag_lead",
            "pd_merge_groupby", "pd_filter_sort_head", "text_quality_score",
            "multimodal_jpeg_decode",
        ),
    ),
    "ingest_stream": Workload(
        spec=CorpusSpec(tables=("documents",), shards=60),
    ),
}

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "rows_per_s": "rows/s",
    "ok_ratio": "ratio",
}

# per-layer metric -> (end-to-end metric it should move, workloads)
LAYER_MOVES = {
    "session.start_s": ("setup_s", "all"),
    "session.warmup_s": ("setup_s", "all"),
    "session.jvm_peak_rss_mb": ("ok_ratio", "all"),
    "sources.load_calls": ("op_p50_s", "interactive_small"),
    "sources.load_s": ("op_p50_s", "interactive_small"),
    "sources.load_jobs": ("op_p50_s", "interactive_small"),
    "operators.build_s": ("op_p50_s op_p90_s", "interactive_small"),
    "operators.build_jobs": ("op_p50_s op_p90_s", "interactive_small"),
    "plans.plan_s": ("op_p50_s", "interactive_small"),
    "plans.exchanges": ("rows_per_s", "interactive_small"),
    "plans.sort_merge_joins": ("rows_per_s", "interactive_small"),
    "plans.broadcast_joins": ("rows_per_s", "interactive_small"),
    "plans.python_nodes": ("rows_per_s", "interactive_small"),
    "frontend.calls": ("op_p90_s", "interactive_small"),
    "frontend.self_s": ("op_p90_s", "interactive_small"),
    "frontend.jobs": ("op_p90_s", "interactive_small"),
    "operators.exec_s": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.jobs": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.stages": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.tasks": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.slot_util": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.executor_run_s": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.executor_cpu_s": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.noncpu_run_s": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.gc_s": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.spill_mb": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.shuffle_write_mb": ("rows_per_s", "interactive_small ingest_stream"),
    "operators.task_failures": ("ok_ratio", "all"),
    "operators.shuffle_per_input": ("rows_per_s", "interactive_small ingest_stream"),
    "streaming.trigger_s": ("op_p50_s op_p90_s rows_per_s", "ingest_stream"),
    "streaming.latest_offset_s": ("op_p50_s op_p90_s rows_per_s", "ingest_stream"),
    "streaming.query_planning_s": ("op_p50_s op_p90_s rows_per_s", "ingest_stream"),
    "streaming.add_batch_s": ("op_p50_s op_p90_s rows_per_s", "ingest_stream"),
    "streaming.wal_commit_s": ("op_p50_s op_p90_s rows_per_s", "ingest_stream"),
    "streaming.state_commit_s": ("op_p50_s op_p90_s rows_per_s", "ingest_stream"),
    "streaming.state_rows": ("op_p50_s op_p90_s rows_per_s", "ingest_stream"),
    "streaming.state_mb": ("op_p50_s op_p90_s", "ingest_stream"),
    "trace.overhead": ("", "all"),
}


# ---------------------------------------------------------------- hygiene

def _prepare_env(run_dir: str) -> None:
    """Environment the Spark JVM and Python workers inherit: size the
    session to this machine, let workers import the package, and keep every
    scratch file inside the checkout."""
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, from either JVM spark-submit starts
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _other_spark_jvms() -> int:
    """Spark JVMs already running when this run starts."""
    out = subprocess.run(
        ["pgrep", "-f", "org.apache.spark.deploy.SparkSubmit"],
        capture_output=True, text=True, check=False,
    ).stdout
    return len(out.split())


def _host_tokens(other_jvms: int) -> dict:
    cpu = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable", "Cached"):
                mem[k] = int(v.split()[0]) // 1024
    return {
        "host": platform.node(),
        "cpu_model": cpu,
        "cpus": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "cached_mb": mem.get("Cached"),
        "other_spark_jvms": other_jvms,
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _stop_jvm(proc) -> None:
    """Shut the Spark JVM (and the Python workers it forked) and wait."""
    if proc is None or proc.poll() is not None:
        return
    try:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=20)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------- stats

def _pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def _steal_since(t0: tuple[int, int]) -> float:
    s, t = _cpu_ticks()
    return (s - t0[0]) / max(t - t0[1], 1)


# ---------------------------------------------------------------- runner

class Run:
    def __init__(self, args, workload: Workload, data_dir: str, manifest: dict, run_dir: str):
        self.args = args
        self.wl = workload
        self.data = data_dir
        self.manifest = manifest
        self.run_dir = run_dir
        self.spark = None
        self.proc = None
        self.tracer = None
        self.executions = None
        self.checks: dict[str, list[str]] = {}  # op -> problems
        self.op_rows: dict[str, int] = {}
        self.samples: list[tuple[str, float, bool]] = []  # (op, latency, ok)
        self.traced_samples: list[tuple[str, float, bool]] = []
        self.layer = Counter()
        self.setup: dict[str, float] = {}
        self.passes: list[Pass] = []
        self.rss_peak_mb = 0.0
        self.jvm_died = False

    # -- set-up ------------------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        from legate_pandas_spark.operators import load_all

        load_all()
        import legate_pandas_spark.streaming  # noqa: F401
        from legate_pandas_spark import session

        t1 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.proc = self.spark.sparkContext._gateway.proc
        self.setup.update(import_s=t1 - t0, start_s=time.perf_counter() - t1)

        import spans as tr

        self.tracer = tr.Tracer(self.spark.sparkContext)
        tr.install(self.tracer, frontend=bool(self.args.trace))
        if self.args.trace:
            self.executions = tr.ExecutionLog(self.spark, self.tracer)

    def jvm_alive(self) -> bool:
        """False once the Spark JVM has exited (e.g. OOM-killed); samples
        its peak RSS while it lives."""
        if self.proc is None or self.proc.poll() is not None:
            self.jvm_died = self.proc is not None
            return False
        self.rss_peak_mb = max(self.rss_peak_mb, _vm_hwm_mb(self.proc.pid))
        return True

    # -- batch workloads ---------------------------------------------------
    def warmup_batch(self) -> None:
        """One noop-sink run of every distinct op, the path the loop times,
        recording the source tables each op reads; then ``WARM_PASSES`` more."""
        from legate_pandas_spark.operators import QUERIES

        t0 = time.perf_counter()
        self.tracer.enabled = True
        for i, name in enumerate(sorted(set(self.wl.ops))):
            self.tracer.op = -2 - i
            first = len(self.tracer.spans)
            try:
                QUERIES[name](self.spark, self.data).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - any op failure is a result
                self.checks[name] = [f"error: {exc}"[:300]]
                if not self.jvm_alive():
                    break
            loaded = {s.name for s in self.tracer.spans[first:] if s.layer == "sources"}
            self.op_rows[name] = sum(self.manifest["tables"][t]["rows"] for t in loaded)
        self.tracer.enabled = False
        self.tracer.spans.clear()
        for _ in range(WARM_PASSES):
            for name in sorted(set(self.wl.ops) - set(self.checks)):
                self._one_op(name, False)
        self.setup["warmup_s"] = time.perf_counter() - t0

    def check_batch(self) -> None:
        """Every op that ran in the warm-up, collected and compared with its
        DuckDB oracle."""
        import duckdb
        from legate_pandas_spark.operators import ORACLE_OVERRIDES, ORACLES, QUERIES
        from tools.oracle_check import compare

        con = duckdb.connect()
        for t in self.manifest["tables"]:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{os.path.join(self.data, t)}.parquet'"
            )
        for name in sorted(set(self.wl.ops) - set(self.checks)):
            sql = ORACLES[name]
            try:
                if name in ORACLE_OVERRIDES:
                    sql = ORACLE_OVERRIDES[name](self.spark, self.data) or sql
                pdf = QUERIES[name](self.spark, self.data).toPandas()
                self.checks[name] = compare(pdf, con.execute(sql).df())
            except Exception as exc:  # noqa: BLE001 - a failed check is a result
                self.checks[name] = [f"check error: {exc}"[:300]]
                if not self.jvm_alive():
                    break
        con.close()

    def _one_op(self, name: str, traced: bool) -> tuple[float, bool]:
        from legate_pandas_spark.operators import QUERIES

        tr = self.tracer
        t0 = time.perf_counter()
        try:
            if not traced:
                QUERIES[name](self.spark, self.data).write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0, True
            root = tr.begin("op", name)
            try:
                s = tr.begin("operators.build", name, "build")
                df = QUERIES[name](self.spark, self.data)
                tr.end(s)
                self.executions.clear()
                s = tr.begin("operators.exec", name, "exec")
                df.write.format("noop").mode("overwrite").save()
                tr.end(s)
            finally:
                tr.end(root)
            lat = time.perf_counter() - t0
            self._collect_batch_layers()
            return lat, True
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            print(f"op {name} failed: {exc}"[:400], file=sys.stderr)
            while tr._stack:
                tr.end(tr._stack[-1])
            return time.perf_counter() - t0, False

    def _collect_batch_layers(self) -> None:
        """Plan time and plan shape come from the noop write's own query
        execution (its phase tracker and executed plan), so the traced op
        plans exactly once, like the untraced one."""
        import spans as tr
        from tools.measure_r13 import plan_counts

        t = self.tracer
        sc = self.spark.sparkContext
        tr.drain_listener(sc)
        L = self.layer
        for qe in self.executions.take():
            L["plans.plan_s"] += tr.planning_s(qe)
            nodes = plan_counts(tr.formatted_plan(self.spark, qe))
            L["plans.exchanges"] += nodes.get("Exchange", 0)
            L["plans.sort_merge_joins"] += nodes.get("SortMergeJoin", 0)
            L["plans.broadcast_joins"] += nodes.get("BroadcastHashJoin", 0)
            L["plans.python_nodes"] += sum(
                nodes.get(k, 0)
                for k in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                          "FlatMapGroupsInPandas", "MapInPandas")
            )
        L["sources.load_jobs"] += len(t.jobs(t.op, "sources"))
        L["operators.build_jobs"] += len(t.jobs(t.op, "build"))
        L["frontend.jobs"] += len(t.jobs(t.op, "frontend"))
        self._add_exec(tr.stage_totals(sc, t.jobs(t.op, "exec")))

    def _add_exec(self, st: Counter) -> None:
        L = self.layer
        L["operators.jobs"] += st["jobs"]
        L["operators.stages"] += st["stages"]
        L["operators.tasks"] += st["numTasks"]
        L["operators.executor_run_s"] += st["executorRunTime"] / 1e3
        L["operators.executor_cpu_s"] += st["executorCpuTime"] / 1e9
        L["operators.gc_s"] += st["jvmGcTime"] / 1e3
        L["operators.spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6
        L["operators.shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
        L["operators.input_mb"] += st["inputBytes"] / 1e6
        L["operators.task_failures"] += st["numFailedTasks"]

    def loop_batch(self) -> None:
        ops = list(self.wl.ops)
        deadline = time.perf_counter() + self.args.seconds
        p = 0
        while time.perf_counter() < deadline or (self.args.trace and p < 3):
            order = ops[:]
            random.Random(self.args.seed * 7919 + p).shuffle(order)
            traced = bool(self.args.trace) and p % 2 == 1
            out = self.traced_samples if traced else self.samples
            ticks = _cpu_ticks()
            for name in order:
                if not self.jvm_alive():  # the rest of the pass fails
                    out.append((name, 0.0, False))
                    continue
                if traced:
                    self.tracer.op += 1
                    self.tracer.enabled = True
                lat, ok = self._one_op(name, traced)
                self.tracer.enabled = False
                out.append((name, lat, ok))
            done = out[-len(order):]
            self.passes.append(Pass(
                traced, sum(lat for _, lat, _ in done),
                sum(self.op_rows.get(n, 0) for n, _, ok in done if ok),
                _steal_since(ticks),
            ))
            p += 1
            if self.jvm_died:
                break

    # -- streaming workload --------------------------------------------------
    def start_stream(self) -> None:
        from legate_pandas_spark.streaming import corpus_dedup_stream, stream_documents

        t0 = time.perf_counter()
        self.in_dir = os.path.join(self.run_dir, "stream_in")
        os.makedirs(self.in_dir)
        docs = stream_documents(self.spark, self.in_dir)
        # ingest_tag_stream is not run: across runs of the same code its
        # micro-batch time spread by a quarter to a third of its median
        self.queries = [
            corpus_dedup_stream(docs)
            .writeStream.format("memory").queryName("pb_dedup").outputMode("append")
            .option("checkpointLocation", os.path.join(self.run_dir, "ckpt", "pb_dedup"))
            .start()
        ]
        self.shard_files = sorted(os.listdir(os.path.join(self.data, "shards")))
        self.next_shard = 0
        self.dropped: list[str] = []
        for _ in range(STREAM_WARMUP_SHARDS):
            self._one_batch(False)
        self.setup["warmup_s"] = time.perf_counter() - t0
        self.op_rows["ingest_stream"] = self.manifest["shards"][0]["rows"]
        self.seen_batches = {q.name: self._last_batch(q) for q in self.queries}
        self.seen_jobs: set[int] = set()

    @staticmethod
    def _last_batch(q) -> int:
        prog = q.lastProgress
        return prog["batchId"] if prog else -1

    def _one_batch(self, traced: bool) -> tuple[float, bool]:
        name = self.shard_files[self.next_shard]
        self.next_shard += 1
        src = os.path.join(self.data, "shards", name)
        staged = os.path.join(self.run_dir, "tmp", name)
        shutil.copyfile(src, staged)
        t0 = time.perf_counter()
        try:
            os.rename(staged, os.path.join(self.in_dir, name))
            self.dropped.append(src)
            root = self.tracer.begin("op", name) if traced else None
            for q in self.queries:
                q.processAllAvailable()
            if traced:
                self.tracer.end(root)
            lat = time.perf_counter() - t0
            if traced:
                self._collect_stream_layers()
            return lat, True
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            print(f"micro-batch {name} failed: {exc}"[:400], file=sys.stderr)
            return time.perf_counter() - t0, False

    def _collect_stream_layers(self) -> None:
        import spans as tr

        L = self.layer
        for q in self.queries:
            last = self.seen_batches[q.name]
            for prog in q.recentProgress:
                if prog["batchId"] <= last or not prog.get("numInputRows"):
                    continue
                d = prog["durationMs"]
                L["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                L["streaming.latest_offset_s"] += d.get("latestOffset", 0) / 1e3
                L["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
                L["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                L["streaming.wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                for so in prog.get("stateOperators", []):
                    L["streaming.state_commit_s"] += so.get("commitTimeMs", 0) / 1e3
                    self.state_rows = so.get("numRowsTotal", 0)
                    self.state_mb = so.get("memoryUsedBytes", 0) / 1e6
            self.seen_batches[q.name] = self._last_batch(q)
        sc = self.spark.sparkContext
        tr.drain_listener(sc)
        jobs = set()
        for q in self.queries:
            jobs.update(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
        self._add_exec(tr.stage_totals(sc, sorted(jobs - self.seen_jobs)))
        self.seen_jobs |= jobs

    def loop_stream(self) -> None:
        import spans as tr

        sc = self.spark.sparkContext
        deadline = time.perf_counter() + self.args.seconds
        k = 0
        while self.next_shard < len(self.shard_files) and (
            time.perf_counter() < deadline or (self.args.trace and k < 3)
        ):
            if not self.jvm_alive():
                self.samples.append(("ingest_stream", 0.0, False))
                break
            traced = bool(self.args.trace) and k % 2 == 1
            if traced:
                self.tracer.op += 1
                self.tracer.enabled = True
                # refresh the seen-job set so only this batch's jobs count
                tr.drain_listener(sc)
                for q in self.queries:
                    self.seen_jobs.update(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
                self.seen_batches = {q.name: self._last_batch(q) for q in self.queries}
            ticks = _cpu_ticks()
            lat, ok = self._one_batch(traced)
            steal = _steal_since(ticks)
            self.tracer.enabled = False
            (self.traced_samples if traced else self.samples).append(("ingest_stream", lat, ok))
            self.passes.append(Pass(
                traced, lat, self.op_rows["ingest_stream"] if ok else 0, steal,
            ))
            k += 1

    def check_stream(self) -> None:
        """The dedup stream's output against its batch twin over the dropped
        shards: every distinct text digest exactly once."""
        import pyspark.sql.functions as F
        from legate_pandas_spark.streaming.documents import DOCUMENTS_SCHEMA

        if self.jvm_died:
            self.checks["ingest_stream"] = ["Spark JVM died"]
            return
        for q in self.queries:
            q.stop()
        batch = self.spark.read.schema(DOCUMENTS_SCHEMA).parquet(*self.dropped)
        got_d = self.spark.table("pb_dedup").select("digest").toPandas()["digest"]
        want_d = {r[0] for r in batch.select(F.md5("text")).distinct().collect()}
        problems = []
        if set(got_d) != want_d or len(got_d) != len(want_d):
            problems.append(
                f"dedup: {len(got_d)} rows / {got_d.nunique()} digests, batch has {len(want_d)}"
            )
        self.checks["ingest_stream"] = problems

    # -- results ------------------------------------------------------------
    def setup_s(self) -> float:
        return sum(self.setup.values())

    def failed_ops(self, samples) -> int:
        return sum(1 for name, _, ok in samples if not ok or self.checks.get(name))

    def e2e(self) -> dict:
        lats = [lat for _, lat, ok in self.samples if ok] or [0.0]
        # the median pass, so one pass slowed by the host does not move it
        rates = [p.rows / p.seconds for p in self.passes if not p.traced and p.seconds > 0]
        failed = self.failed_ops(self.samples)
        vals = {
            "setup_s": self.setup_s(),
            "op_p50_s": _pct(lats, 0.5),
            "op_p90_s": _pct(lats, 0.9),
            "rows_per_s": statistics.median(rates or [0.0]),
            "ok_ratio": 1.0 - failed / max(len(self.samples), 1),
        }
        return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}

    def per_layer(self) -> dict:
        import spans as tr

        n = max(len(self.traced_samples), 1)
        traced_t = sum(lat for _, lat, _ in self.traced_samples)
        # the first pass still runs slower than the rest (caches and JIT warming)
        traced_p = [p.seconds for p in self.passes[1:] if p.traced]
        plain_p = [p.seconds for p in self.passes[1:] if not p.traced]
        selfs = tr.self_times(self.tracer.spans)
        spans = self.tracer.spans
        L = self.layer
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        if self.wl.ops:  # the write's own planning is inside the exec span
            exec_s = sum(s.end - s.start for s in spans if s.layer == "operators.exec")
            exec_s -= L["plans.plan_s"]
        else:  # stream: a micro-batch's wall is its exec time
            exec_s = traced_t
        vals = {
            "session.start_s": (self.setup["start_s"], "s"),
            "session.warmup_s": (self.setup["warmup_s"], "s"),
            "session.jvm_peak_rss_mb": (self.rss_peak_mb, "MB"),
            "sources.load_calls": (sum(s.layer == "sources" for s in spans) / n, "calls/op"),
            "sources.load_s": (selfs.get("sources", 0.0) / n, "s/op"),
            "sources.load_jobs": (L["sources.load_jobs"] / n, "jobs/op"),
            "operators.build_s": (selfs.get("operators.build", 0.0) / n, "s/op"),
            "operators.build_jobs": (L["operators.build_jobs"] / n, "jobs/op"),
            "plans.plan_s": (L["plans.plan_s"] / n, "s/op"),
            "plans.exchanges": (L["plans.exchanges"] / n, "nodes/op"),
            "plans.sort_merge_joins": (L["plans.sort_merge_joins"] / n, "nodes/op"),
            "plans.broadcast_joins": (L["plans.broadcast_joins"] / n, "nodes/op"),
            "plans.python_nodes": (L["plans.python_nodes"] / n, "nodes/op"),
            "frontend.calls": (sum(s.layer == "frontend" for s in spans) / n, "calls/op"),
            "frontend.self_s": (selfs.get("frontend", 0.0) / n, "s/op"),
            "frontend.jobs": (L["frontend.jobs"] / n, "jobs/op"),
            "operators.exec_s": (exec_s / n, "s/op"),
            "operators.jobs": (L["operators.jobs"] / n, "jobs/op"),
            "operators.stages": (L["operators.stages"] / n, "stages/op"),
            "operators.tasks": (L["operators.tasks"] / n, "tasks/op"),
            "operators.slot_util": (
                L["operators.executor_run_s"] / (exec_s * cores) if exec_s > 0 else 0.0, "ratio"),
            "operators.executor_run_s": (L["operators.executor_run_s"] / n, "s/op"),
            "operators.executor_cpu_s": (L["operators.executor_cpu_s"] / n, "s/op"),
            "operators.noncpu_run_s": (
                (L["operators.executor_run_s"] - L["operators.executor_cpu_s"]) / n, "s/op"),
            "operators.gc_s": (L["operators.gc_s"] / n, "s/op"),
            "operators.spill_mb": (L["operators.spill_mb"] / n, "MB/op"),
            "operators.shuffle_write_mb": (L["operators.shuffle_write_mb"] / n, "MB/op"),
            "operators.task_failures": (L["operators.task_failures"] / n, "tasks/op"),
            "operators.shuffle_per_input": (
                L["operators.shuffle_write_mb"] / L["operators.input_mb"]
                if L["operators.input_mb"] else 0.0, "ratio"),
            "streaming.trigger_s": (L["streaming.trigger_s"] / n, "s/batch"),
            "streaming.latest_offset_s": (L["streaming.latest_offset_s"] / n, "s/batch"),
            "streaming.query_planning_s": (L["streaming.query_planning_s"] / n, "s/batch"),
            "streaming.add_batch_s": (L["streaming.add_batch_s"] / n, "s/batch"),
            "streaming.wal_commit_s": (L["streaming.wal_commit_s"] / n, "s/batch"),
            "streaming.state_commit_s": (L["streaming.state_commit_s"] / n, "s/batch"),
            "streaming.state_rows": (getattr(self, "state_rows", 0), "rows"),
            "streaming.state_mb": (getattr(self, "state_mb", 0.0), "MB"),
            "trace.overhead": (
                statistics.mean(traced_p) / statistics.mean(plain_p) - 1.0
                if traced_p and plain_p else 0.0, "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def run_all(args) -> int:
    """Every workload in turn, one subprocess each; prints one JSON object
    keyed by workload and a table of the metrics by name and unit."""
    results = {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"perfbench: {name} exited {proc.returncode}: {proc.stderr[-800:]}",
                  file=sys.stderr)
            return proc.returncode or 1
        results[name] = json.loads(lines[-1])
    for name, r in results.items():
        print(f"{name}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
        for k, m in r["metrics"].items():
            move = f"  -> {' '.join(LAYER_MOVES[k])}" if k in LAYER_MOVES else ""
            print(f"  {k:32s} {m['value']:14.6g} {m['unit']}{move}")
    print(json.dumps({"workloads": results}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    t_start = time.monotonic()
    marks: dict[str, float] = {}

    def mark(phase: str) -> None:
        marks[phase] = round(time.monotonic() - t_start, 2)

    run_dir = os.path.abspath(os.path.join(DATA_ROOT, f"run-{os.getpid()}"))
    other_jvms = _other_spark_jvms()
    _prepare_env(run_dir)
    try:
        import legate_pandas_spark  # noqa: F401
        import tools.oracle_check  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(run_dir, "tmp"))
    if other_jvms:
        print(f"perfbench: WARNING {other_jvms} other Spark JVM(s) live; timings flagged",
              file=sys.stderr)

    wl = WORKLOADS[args.workload]
    t0 = time.monotonic()
    data_dir, manifest = corpus(args.workload, wl.spec, args.seed)
    gen_s = time.monotonic() - t0
    mark("generated")

    run = Run(args, wl, data_dir, manifest, run_dir)

    def _watchdog():
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        faulthandler.dump_traceback(file=sys.stderr)
        if run.proc is not None and run.proc.poll() is None:
            run.proc.kill()
            run.proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(RUN_LIMIT_S - (time.monotonic() - t_start - gen_s), _watchdog)
    timer.daemon = True
    timer.start()
    try:
        run.start()
        mark("started")
        if wl.ops:
            run.warmup_batch()
            mark("warmed")
            run.check_batch()
            mark("checked")
            run.loop_batch()
            mark("measured")
        else:
            run.start_stream()
            mark("warmed")
            run.loop_stream()
            mark("measured")
            run.check_stream()
            mark("checked")
        run.jvm_alive()  # final RSS sample
        metrics = run.per_layer() if args.trace else run.e2e()
    finally:
        if run.executions is not None:
            run.executions.close()
        if run.spark is not None and run.jvm_alive():
            run.spark.stop()
        _stop_jvm(run.proc)
        timer.cancel()
        shutil.rmtree(run_dir, ignore_errors=True)
        mark("stopped")

    samples = run.samples + run.traced_samples
    failed = run.failed_ops(samples)
    bad = {k: v for k, v in run.checks.items() if v}
    for k, v in bad.items():
        print(f"perfbench: check failed for {k}: {'; '.join(v)}"[:600], file=sys.stderr)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "pass_s": [round(p.seconds, 3) for p in run.passes],
        "pass_steal": [round(p.steal, 3) for p in run.passes],
        "samples": len(samples),
        "op_median_s": {
            n: round(statistics.median(lat for m, lat, ok in samples if m == n and ok), 4)
            for n in sorted({m for m, _, ok in samples if ok})
        },
        "op_rows": run.op_rows,
        "checked_ops": sorted(run.checks),
        "setup": {k: round(v, 4) for k, v in run.setup.items()},
        "jvm_peak_rss_mb": round(run.rss_peak_mb, 1),
        "gen_s": round(gen_s, 3),
        "phase_end_s": marks,
        "manifest_rows": {k: v["rows"] for k, v in manifest["tables"].items()},
        "machine": _host_tokens(other_jvms),
    }
    if args.trace:
        info["layer_moves"] = {k: {"e2e": a, "workloads": b} for k, (a, b) in LAYER_MOVES.items()}
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not bad and failed == 0 and not run.jvm_died,
        "attempted": len(samples),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
