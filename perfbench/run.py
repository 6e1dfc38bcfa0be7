"""CDC ingest benchmark: ingest throughput, epoch freshness and lake read
latency, driven through the engine's public entry points.

Run from the root of a checkout::

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; with ``--trace 0`` the metrics are the end-to-end
set, with ``--trace 1`` the per-layer set. Earlier lines carry the effective
Spark conf and the run's detail (every epoch and read latency, phase
timings, host CPU steal, oracle findings). Workloads, metrics and the layer
map are described in ``perfbench/README.md``.

On ``bulk_replay`` set-up replays a small warm-up chunk through the same
ingest path on a throwaway warehouse and reads it back once with the read
mix, so the measured epoch and reads run in a warm JVM, as every epoch of a
long-running job but the first does. ``small_epochs`` measures the first
epoch of a fresh application, as a scheduled ``availableNow`` job pays it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.oracle import Oracle, table_key  # noqa: E402
from perfbench.trace import Tracer, busy_seconds, read_event_log  # noqa: E402

CDC_TABLES = ("graph_nodes", "graph_relations", "search_documents", "repo_files")
SETUP_REPS = 3
DRIVER_MEMORY = "4g"
# job groups of Spark jobs the benchmark itself starts; every other job is
# engine ingest work
READ_GROUP, CHECK_GROUP, SETUP_GROUP = "perfbench-read", "perfbench-check", "perfbench-setup"
# every run scans the same small repo: how many files key-bound pruning skips
# depends on where the repo name sorts, so a random target adds spread
SCAN_REPO = "org/repo-019"

END_TO_END = {
    "setup_s": "s",
    "ingest_events_per_s": "1/s",
    "lookup_latency_p50_s": "s",
    "scan_latency_p50_s": "s",
    "change_feed_latency_p50_s": "s",
    "warehouse_mb": "MB",
}
PER_LAYER = {
    "pipeline.prepare_winners_s": "s",
    "pipeline.winners_per_event": "ratio",
    "pipeline.apply_batch_self_s": "s",
    "pipeline.fixed_epoch_s": "s",
    **{f"lake.prepare_upsert_s.{t}": "s" for t in CDC_TABLES},
    "lake.commit_s": "s",
    "lake.current_calls_per_epoch": "count",
    "lake.manifest_kb": "KB",
    "lake.files_written_per_epoch": "count",
    "lake.delta_files_max_per_bucket": "count",
    "lake.bytes_written_per_input_byte": "ratio",
    "lake.read_for_keys_s": "s",
    "lake.read_where_s": "s",
    "lake.changes_s": "s",
    "spark.exec_cpu_s_per_kevent": "s",
    "spark.shuffle_write_mb_per_epoch": "MB",
    "spark.cpu_util": "ratio",
    "spark.jobs_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "spark.driver_idle_frac": "ratio",
    "stream.trigger_overhead_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.ingest_events_per_s": "1/s",
}


@dataclass(frozen=True)
class Workload:
    ingest: str          # "replay": pipelined replay_batches; "stream": run_stream
    params: gen.Params
    warmup: bool         # set-up replays WARMUP and reads it back on a throwaway warehouse


WORKLOADS = {
    # one large skewed epoch through the pipelined batch replay: the larger
    # per-row share (dedup, extraction, expansion, merge shuffle) of the two;
    # perfbench/README.md gives the measured share and why it is not larger
    "bulk_replay": Workload("replay", gen.Params(n_chunks=1, chunk_events=24000,
                                                 n_entities=24000), warmup=True),
    # one small epoch through the file-source stream (availableNow, one
    # chunk per trigger) in a fresh application, as a scheduled availableNow
    # job runs: job launches, manifest commits, streaming checkpoint overhead
    # and the JVM's cold start dominate, per-row work is small
    "small_epochs": Workload("stream", gen.Params(n_chunks=1, chunk_events=1500,
                                                  n_entities=3000), warmup=False),
}
# the warm-up chunk, replayed and read back on a throwaway warehouse: the
# first epoch of a JVM pays ~16 s of class loading, JIT and code generation
# that later epochs do not, and the first read of each kind ~0.5-2 s. The
# traced run replays it once more to measure the fixed cost of a warm epoch.
WARMUP = gen.Params(n_chunks=1, chunk_events=300, n_entities=300)


def scaled(p: gen.Params, scale: float) -> gen.Params:
    return gen.Params(n_chunks=p.n_chunks, chunk_events=max(50, int(p.chunk_events * scale)),
                      n_entities=max(100, int(p.n_entities * scale)))


# -- environment ----------------------------------------------------------------

def clean_env(work: str) -> dict[str, str]:
    """Process environment for a reproducible engine run. Returns the Spark
    conf the benchmark adds on top of the engine's session defaults."""
    for k in list(os.environ):
        if k.startswith("SPARK_CDC_") or k == "PYTEST_CURRENT_TEST":
            del os.environ[k]
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Spark's Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM, the spark-submit launcher included: temp files in the work
    # dir, no perf-data file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }


@contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs this thread starts (pinned thread mode keeps job
    groups thread-local)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def descendants() -> list[int]:
    """Pids of every live descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and every descendant (the JVM and its
    Python workers), from /proc."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_probe_s() -> float:
    """Wall time of a fixed single-threaded CPU loop. Other tenants of the
    host can slow every phase of a run alike without any CPU steal showing
    (shared cores and caches); this tells such runs apart."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x ^= (i * 2654435761) & 0xFFFFFFFF
    return time.perf_counter() - t


def jvm_seconds(spark) -> tuple[float, float]:
    """(GC pause, JIT compilation) seconds the Spark JVM has spent so far:
    a phase that ran slower than usual shows whether the JVM was busy."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000, mf.getCompilationMXBean().getTotalCompilationTime() / 1000


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(total bytes, file count) of regular files under ``path`` ending in
    ``suffix``."""
    total = count = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(d, f))
                count += 1
    return total, count


def p50(xs: list[float]) -> float:
    """Median; 0.0 for no samples (only when every such request failed,
    which already marks the run incorrect)."""
    return statistics.median(xs) if xs else 0.0


# -- the read mix ------------------------------------------------------------------

class Reader:
    """One closed-loop client: each request is sent when the previous one
    has returned. A round is one point lookup on ``search_documents``, one
    on ``graph_nodes``, one key-predicate scan of ``repo_files`` and one
    change feed on ``search_documents``; every answer is checked against
    the oracle for the epochs committed while it ran."""

    def __init__(self, spark, pipeline, oracle: Oracle, seed: int, chunk_dirs: list[str]):
        self.spark, self.pl, self.oracle = spark, pipeline, oracle
        self.rng = np.random.default_rng([seed, 7])
        keys = set()
        for d in chunk_dirs:
            t = pq.read_table(d, columns=["repo", "path"])
            keys |= set(zip(t.column("repo").to_pylist(), t.column("path").to_pylist()))
        self.keys = sorted(keys)
        self.lat: dict[str, list[float]] = {"lookup": [], "scan": [], "changes": []}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def _op(self, kind: str, fn) -> None:
        try:
            dt, ok, what = fn()
            err = None if ok else f"{kind}: oracle mismatch for {what}"
        except Exception as e:  # a failed request counts; the loop keeps going
            dt, err = None, f"{kind}: {type(e).__name__}: {e}"[:300]
        with self._lock:
            self.attempted += 1
            if dt is not None:
                self.lat[kind].append(dt)
            if err:
                self.failed += 1
                self.errors.append(err)

    def _mix(self):
        return [("lookup", self._lookup_doc), ("lookup", self._lookup_node),
                ("scan", self._scan), ("changes", self._changes)]

    def warm_up(self) -> None:
        """One round of the mix with its requests in parallel: loads and
        compiles the read paths before anything is timed."""
        with ThreadPoolExecutor(len(self._mix())) as ex:
            list(ex.map(lambda op: self._op(*op), self._mix()))

    @staticmethod
    def _timed(table, read):
        """(latency, rows, ledger epoch before, ledger epoch after): any
        state committed in between is a valid answer."""
        lo = table.last_epoch("cdc")
        t0 = time.time()
        rows = read()
        dt = time.time() - t0
        return dt, rows, lo, table.last_epoch("cdc")

    def _key(self) -> tuple[str, str]:
        return self.keys[self.rng.integers(len(self.keys))]

    def _lookup_doc(self):
        repo, path = self._key()
        t = self.pl.search_documents
        dt, rows, lo, hi = self._timed(t, lambda: t.read_for_keys(
            self.spark.createDataFrame([(table_key(repo, path),)], "key string")).collect())
        row = rows[0].asDict() if rows else None
        return dt, len(rows) <= 1 and self.oracle.doc_ok(repo, path, row, lo, hi), path

    def _lookup_node(self):
        repo, path = self._key()
        t = self.pl.graph_nodes
        dt, rows, lo, hi = self._timed(t, lambda: t.read_for_keys(self.spark.createDataFrame(
            [(table_key(repo, path), "Table")], "key string, label string")).collect())
        row = rows[0].asDict() if rows else None
        return dt, len(rows) <= 1 and self.oracle.node_ok(repo, path, row, lo, hi), path

    def _scan(self):
        from pyspark.sql import functions as F

        t = self.pl.repo_files
        dt, rows, lo, hi = self._timed(t, lambda: (
            t.read_where([("repo", "=", SCAN_REPO)]).where(~F.col("is_deleted"))
            .select("path", "commit").collect()))
        got = {(r["path"], r["commit"]) for r in rows}
        ok = len(got) == len(rows) and self.oracle.scan_ok(SCAN_REPO, got, lo, hi)
        return dt, ok, SCAN_REPO

    def _changes(self):
        t = self.pl.search_documents
        v = t.current().version
        epoch = t.snapshot_at(v).epochs["cdc"]
        t0 = time.time()
        rows = t.changes(v - 1, v).select("key", "_change_type").collect()
        dt = time.time() - t0
        return dt, self.oracle.changes_ok([(r[0], r[1]) for r in rows], epoch), f"v{v}"

    def loop(self, seconds: float) -> None:
        """Rounds of the mix while the next one is expected to end within
        ``seconds`` of the first one's start; at least one."""
        mix = self._mix()
        t0 = time.time()
        while True:
            t = time.time()
            for kind, fn in mix:
                self._op(kind, fn)
            now = time.time()
            if now + (now - t) - t0 > seconds:
                return


# -- one run ---------------------------------------------------------------------

def run(workload: str, seed: int, seconds: float, trace: bool, scale: float,
        spans_out: str | None) -> dict:
    wl = WORKLOADS[workload]
    params = scaled(wl.params, scale)
    base = os.path.join(ROOT, ".perfbench_work")
    chunk_dirs = gen.generate(os.path.join(base, "cache"), seed, params)
    warm_dirs = gen.generate(os.path.join(base, "cache"), seed, scaled(WARMUP, scale))
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        return _run(wl, workload, seed, seconds, trace, params, chunk_dirs, warm_dirs, work,
                    spans_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ingest(wl: Workload, pipeline, chunk_dirs: list[str], checkpoint: str,
           tracer: Tracer | None = None) -> list:
    """Hand the chunks to the engine through the workload's entry point and
    return when they are applied, with the stream's progress reports."""
    if wl.ingest == "replay":
        pipeline.replay_batches(chunk_dirs, start_epoch=0, pipelined=True)
        return []
    with _maybe_span(tracer, "stream_drain"):
        q = pipeline.run_stream(os.path.dirname(chunk_dirs[0]), checkpoint,
                                max_files_per_trigger=1, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q.recentProgress


def _run(wl: Workload, workload: str, seed: int, seconds: float, trace: bool,
         params: gen.Params, chunk_dirs: list[str], warm_dirs: list[str], work: str,
         spans_out: str | None) -> dict:
    conf = clean_env(work)
    evlog = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(evlog)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evlog,
                     "spark.eventLog.compress": "false"})

    from amundsendatabuilder_spark.plans.lake import SnapshotTable
    from amundsendatabuilder_spark.session import get_spark
    from amundsendatabuilder_spark.streaming.pipeline import CDCPipeline

    oracle = Oracle(chunk_dirs)
    in_bytes, _ = dir_bytes(os.path.dirname(chunk_dirs[0]), ".parquet")
    n_events = sum(pq.ParquetFile(os.path.join(d, "part-00000.parquet")).metadata.num_rows
                   for d in chunk_dirs)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    probe0 = host_probe_s()
    steal0 = cpu_ticks()
    t0 = time.time()
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    session_s = time.time() - t0
    tracer = Tracer() if trace else None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({"spark_conf": dict(sorted(spark.sparkContext.getConf().getAll()))}),
              flush=True)

        # set-up: the warm-up replay and read round if any, then a fresh
        # warehouse + the engine's table creation, repeated; the last
        # pipeline is the one measured
        create_s = []
        warm_s = 0.0
        warm_reader = None
        with job_group(spark, SETUP_GROUP):
            if wl.warmup:
                t = time.time()
                warm_pl = CDCPipeline(spark, os.path.join(work, "warmup"), table_mode="mor")
                ingest(wl, warm_pl, warm_dirs, os.path.join(work, "warmup-checkpoint"))
                warm_reader = Reader(spark, warm_pl, Oracle(warm_dirs), seed, warm_dirs)
                warm_reader.warm_up()
                warm_s = time.time() - t
            for i in range(SETUP_REPS):
                wh = os.path.join(work, f"wh{i}")
                t = time.time()
                pipeline = CDCPipeline(spark, wh, table_mode="mor")
                create_s.append(time.time() - t)
                if i < SETUP_REPS - 1:
                    shutil.rmtree(wh)
        reader = Reader(spark, pipeline, oracle, seed, chunk_dirs)
        if tracer:
            tracer.install(CDCPipeline, SnapshotTable)
        ingest_error = None
        progress = []
        jvm = [jvm_seconds(spark)]
        t_meas = time.time()
        try:
            progress = ingest(wl, pipeline, chunk_dirs, os.path.join(work, "checkpoint"), tracer)
        except Exception as e:  # reported as failed epochs below
            ingest_error = e
        t_ing = time.time()
        jvm.append(jvm_seconds(spark))
        wh_root = os.path.join(work, f"wh{SETUP_REPS - 1}")
        wh_bytes, _ = dir_bytes(wh_root)

        # end-state check against the oracle. It runs before the reads: its
        # full-table reads give the JIT compilation the ingest set off a few
        # seconds to drain, which the reads would otherwise compete with
        last = params.n_chunks - 1
        findings = []
        with job_group(spark, CHECK_GROUP):
            if ingest_error is not None:
                findings.append(f"ingest: {type(ingest_error).__name__}: {ingest_error}"[:500])
            else:
                live = pipeline.current_entities().select(
                    "repo", "path", "commit", "content_sha256").toArrow()
                findings += oracle.check_repo_files(live, last)
                keys = (pipeline.search_documents.read().select("key").toArrow()
                        .column("key").to_pylist())
                findings += oracle.check_doc_keys(keys, last)
            history = pipeline.repo_files.history()
            manifests = [_manifest(pipeline, t) for t in CDC_TABLES]
        t_check = time.time()
        jvm.append(jvm_seconds(spark))
        with job_group(spark, READ_GROUP), _maybe_span(tracer, "reader"):
            reader.loop(seconds)
        t_reads = time.time()
        jvm.append(jvm_seconds(spark))
        rss = peak_rss_mb()
        fixed_s = 0.0
        if tracer:
            # the per-epoch fixed cost: the warm-up chunk once more, untraced,
            # on a fresh warehouse in the now warm JVM
            tracer.uninstall()
            probe = CDCPipeline(spark, os.path.join(work, "probe"), table_mode="mor")
            t = time.time()
            ingest(wl, probe, warm_dirs, os.path.join(work, "probe-checkpoint"))
            fixed_s = time.time() - t
    finally:
        if tracer:
            tracer.uninstall()
        _stop(spark)
    steal1 = cpu_ticks()
    phases = {"session": session_s, "warmup": warm_s,
              "setup": t_meas - t0 - session_s - warm_s, "ingest": t_ing - t_meas,
              "check": t_check - t_ing, "reads": t_reads - t_check,
              "fixed_cost_probe": fixed_s, "stop": time.time() - t_reads - fixed_s}

    # epoch latency: chunk handed to the engine -> its entity-table commit;
    # epochs run back to back, so each epoch's clock starts at the previous
    # entity commit (the first at the call that handed over the backlog)
    commits = sorted(h["committed_at_ms"] / 1000 for h in history
                     if h["metrics"].get("channel") == "cdc")
    starts = [t_meas] + commits[:-1]
    epoch_lat = [c - s for s, c in zip(starts, commits)]
    n_epochs = params.n_chunks
    epochs_failed = n_epochs if findings or len(commits) != n_epochs else 0
    # ingest ends at the last entity commit (a stream still commits its
    # offsets and shuts down after it)
    t_end = commits[-1] if commits and not epochs_failed else t_ing
    setup_s = session_s + warm_s + p50(create_s)
    readers = [r for r in (warm_reader, reader) if r]
    attempted = n_epochs + sum(r.attempted for r in readers)
    failed = epochs_failed + sum(r.failed for r in readers)

    detail = {
        "workload": workload, "seed": seed, "events": n_events, "epochs": n_epochs,
        "epoch_latencies_s": epoch_lat, "read_latencies_s": reader.lat,
        "failed_op_frac": failed / attempted, "create_s": create_s, "peak_rss_mb": rss,
        "phases_s": phases, "findings": findings,
        "read_errors": [e for r in readers for e in r.errors][:10],
        "warmup_read_latencies_s": warm_reader.lat if warm_reader else None,
        # share of CPU time the hypervisor withheld during the run: wall-clock
        # metrics of runs with a high share are slower for reasons outside
        # the engine
        "host_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "host_probe_s": [probe0, host_probe_s()],
        # Spark JVM GC pause and JIT compile seconds during ingest and reads
        "jvm_gc_s": {"ingest": jvm[1][0] - jvm[0][0], "reads": jvm[3][0] - jvm[2][0]},
        "jvm_jit_s": {"ingest": jvm[1][1] - jvm[0][1], "reads": jvm[3][1] - jvm[2][1]},
    }

    if not trace:
        metrics = {
            "setup_s": setup_s,
            "ingest_events_per_s": n_events / (t_end - t_meas),
            "lookup_latency_p50_s": p50(reader.lat["lookup"]),
            "scan_latency_p50_s": p50(reader.lat["scan"]),
            "change_feed_latency_p50_s": p50(reader.lat["changes"]),
            "warehouse_mb": wh_bytes / 1e6,
        }
        units = END_TO_END
        _remember(workload, params.key(seed), metrics["ingest_events_per_s"])
    else:
        metrics = _layer_metrics(tracer, evlog, t_meas, t_end, n_events, n_epochs, in_bytes,
                                 wh_root, manifests, history, progress, cpus)
        metrics["session.peak_rss_mb"] = rss
        metrics["pipeline.fixed_epoch_s"] = fixed_s
        # share of the measured epoch above a warm epoch's fixed cost: the
        # per-row share, plus the JVM's cold start on a workload without warm-up
        detail["above_fixed_frac"] = 1 - fixed_s / (t_end - t_meas)
        units = PER_LAYER
        untraced = _recall(workload, params.key(seed))
        if untraced:
            detail["tracing_overhead_frac"] = untraced / metrics["trace.ingest_events_per_s"] - 1
        if spans_out:
            tracer.dump(spans_out)
    print(json.dumps({"detail": detail}), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit: the
    JVM exits when its stdin closes, its workers when the JVM is gone."""
    gateway = spark.sparkContext._gateway
    procs = descendants()
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in procs:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """Running, as opposed to gone or exited but not yet reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def _maybe_span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else nullcontext()


def _manifest(pipeline, name: str) -> dict:
    t = getattr(pipeline, name)
    snap = t.current()
    path = os.path.join(t.meta_dir, f"v{snap.version}.json")
    return {"bytes": os.path.getsize(path),
            "delta_max": max((len(v) for v in snap.delta_files.values()), default=0)}


def _remember(workload: str, input_key: str, rate: float) -> None:
    path = os.path.join(ROOT, ".perfbench_work", f"untraced-{workload}-{input_key}.json")
    with open(path, "w") as f:
        json.dump({"ingest_events_per_s": rate}, f)


def _recall(workload: str, input_key: str) -> float | None:
    path = os.path.join(ROOT, ".perfbench_work", f"untraced-{workload}-{input_key}.json")
    try:
        with open(path) as f:
            return json.load(f)["ingest_events_per_s"]
    except (OSError, ValueError, KeyError):
        return None


def _layer_metrics(tracer: Tracer, evlog: str, t_meas: float, t_end: float, n_events: int,
                   n_epochs: int, in_bytes: int, wh_root: str, manifests: list[dict],
                   history: list[dict], progress, cpus: int) -> dict:
    """Per-layer figures of the ingest in [t_meas, t_end] and the reads after it."""
    selft = tracer.self_times()
    ingest = [s for s in tracer.spans
              if tracer.root_of(s).name in ("pipeline.replay_batches", "stream_drain")]
    reads = [s for s in tracer.spans if tracer.root_of(s).name == "reader"]

    def total(spans, name, **attrs):
        return sum(s.dur for s in spans if s.name == name
                   and all(s.attrs.get(k) == v for k, v in attrs.items()))

    def mean(spans, name):
        ds = [s.dur for s in spans if s.name == name]
        return statistics.fmean(ds) if ds else 0.0

    ev = read_event_log(evlog, (READ_GROUP, CHECK_GROUP, SETUP_GROUP))
    ing_tasks = [t for t in ev["tasks"] if t[4] and t_meas <= t[0] <= t_end]
    cpu_s = sum(t[2] for t in ing_tasks)
    wall = t_end - t_meas
    idle = 1 - busy_seconds([(t[0], t[1]) for t in ev["tasks"]], t_meas, t_end) / wall
    data_bytes, data_files = 0, 0
    for t in CDC_TABLES:
        b, n = dir_bytes(os.path.join(wh_root, t, "data"), ".parquet")
        data_bytes += b
        data_files += n
    winners = sum(h["metrics"].get("rows_seen", 0) for h in history
                  if h["metrics"].get("channel") == "cdc")
    apply_s = total(ingest, "pipeline.apply_batch")
    trigger_s = sum(p["durationMs"].get("triggerExecution", 0) / 1000 for p in progress
                    if p["numInputRows"])
    return {
        "pipeline.prepare_winners_s": total(ingest, "pipeline.prepare_winners") / n_epochs,
        "pipeline.winners_per_event": winners / n_events,
        "pipeline.apply_batch_self_s": sum(
            selft[s.id] for s in ingest if s.name == "pipeline.apply_batch") / n_epochs,
        **{f"lake.prepare_upsert_s.{t}": total(ingest, "lake.prepare_upsert", table=t) / n_epochs
           for t in CDC_TABLES},
        "lake.commit_s": total(ingest, "lake.commit_prepared") / n_epochs,
        "lake.current_calls_per_epoch": sum(
            1 for s in ingest if s.name == "lake.current") / n_epochs,
        "lake.manifest_kb": statistics.fmean(m["bytes"] for m in manifests) / 1024,
        "lake.files_written_per_epoch": data_files / n_epochs,
        "lake.delta_files_max_per_bucket": max(m["delta_max"] for m in manifests),
        "lake.bytes_written_per_input_byte": data_bytes / in_bytes,
        "lake.read_for_keys_s": mean(reads, "lake.read_for_keys"),
        "lake.read_where_s": mean(reads, "lake.read_where"),
        "lake.changes_s": mean(reads, "lake.changes"),
        "spark.exec_cpu_s_per_kevent": cpu_s / (n_events / 1000),
        "spark.shuffle_write_mb_per_epoch": sum(t[3] for t in ing_tasks) / 1e6 / n_epochs,
        "spark.cpu_util": cpu_s / (wall * cpus),
        "spark.jobs_per_epoch": sum(1 for s, ing in ev["jobs"]
                                    if ing and t_meas <= s <= t_end) / n_epochs,
        "spark.tasks_per_epoch": len(ing_tasks) / n_epochs,
        "spark.driver_idle_frac": idle,
        "stream.trigger_overhead_s": max(0.0, trigger_s - apply_s) / n_epochs if progress else 0.0,
        "trace.ingest_events_per_s": n_events / wall,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply input sizes (self-tests run tiny)")
    ap.add_argument("--spans-out", help="traced run: write the span list here")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "amundsendatabuilder_spark")):
        print("perfbench: the engine package amundsendatabuilder_spark is not in this "
              "checkout", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale,
                 args.spans_out)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
