"""Shared pieces of the benchmark: run context, engine start, statistics,
spans, the RSS sampler, the engine CPU clock, the retained-heap reading,
the Spark event-log reader and the streaming progress reader.

Nothing here is imported by the engine; every measurement is taken by
timing calls into the package from the benchmark's own files.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
#: driver heap: what a 4-core, 15 GB host spares one engine beside the
#: load generator and the oracle
DRIVER_MEMORY = "2g"


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def pct(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = max(int(math.ceil(q / 100.0 * len(xs))) - 1, 0)
    return float(xs[k])


def median(values) -> float:
    return float(statistics.median(values))


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Spans carry name, start, end, parent and
    free attributes; ``dump`` writes them as JSON lines once the run
    ends. Disabled, ``span`` yields ``None`` and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self._new_id()
        t0 = time.time()
        try:
            yield sid
        finally:
            rec = {"id": sid, "name": name, "parent": parent, "start": t0,
                   "end": time.time(), **attrs}
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        """Record a span whose interval was measured elsewhere."""
        if not self.enabled:
            return None
        sid = self._new_id()
        with self._lock:
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "start": start, "end": end, **attrs})
        return sid

    def adopt(self, name: str, parent_of) -> None:
        """Set the parent of every ``name`` span to ``parent_of(span)``
        (spans recorded on threads that could not know their parent)."""
        for s in self.spans:
            if s["name"] == name:
                s["parent"] = parent_of(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# peak RSS of the engine process tree
# --------------------------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of the engine's processes, this Python
    driver and the JVM it launches (added with ``watch`` once started),
    every ``interval`` s. Named pids, not the process tree: a helper the
    JVM forks shares its memory until exec and would count it twice."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.pids = {os.getpid()}
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def watch(self, pid: int) -> None:
        self.pids.add(pid)

    def sample(self) -> int:
        total = sum(_rss_kb(pid) for pid in list(self.pids))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# engine CPU time
# --------------------------------------------------------------------------


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name: [0] is the
    state, [1] the parent pid, [11:15] utime, stime, cutime, cstime."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class CpuClock:
    """CPU seconds the engine's processes have run, JIT compilation left
    out: this Python driver (its own threads only; the load generator is
    its child and is not counted) and the JVM with every process below
    it (PySpark's Python workers), reaped children included. The kernel
    charges a process only for time it ran: time the hypervisor gave the
    vCPU to another guest is booked as steal, and time a runnable thread
    waited for a core is not booked at all. So unlike wall time, this
    figure does not count waits for a core. It still grows when other
    guests share the caches and memory bandwidth."""

    def __init__(self):
        self.jvm_pid: int | None = None

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = _stat(int(entry))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(entry))
        out, todo = [], [self.jvm_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def _jit_ticks(self) -> int:
        """CPU ticks of the JVM's JIT compiler threads (a fixed set: the
        benchmark turns off their dynamic start and stop)."""
        if self.jvm_pid is None:
            return 0
        ticks = 0
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            if "CompilerThre" in head:
                fields = tail.split()
                ticks += int(fields[11]) + int(fields[12])
        return ticks

    def read(self) -> float:
        st = _stat(os.getpid())
        ticks = int(st[11]) + int(st[12])
        if self.jvm_pid is not None:
            for pid in self._tree():
                st = _stat(pid)
                if st is not None:
                    ticks += sum(int(x) for x in st[11:15])
            ticks -= self._jit_ticks()
        return ticks / _CLK_TCK

    def jit(self) -> float:
        """CPU seconds of the JIT compiler threads, which ``read`` leaves
        out: HotSpot compiles on its own schedule, and the same warehouse
        pass costs its compilers from 2 to 8.5 CPU s in different runs."""
        return self._jit_ticks() / _CLK_TCK


def retained_heap_mb(spark) -> float:
    """JVM heap in use after full collections: what the engine's live
    objects (state stores, caches, plans, listeners) hold, with none of
    the garbage the collector had not yet reclaimed. Spark's
    ContextCleaner drops shuffle and broadcast blocks only after a
    collection has found their owners unreachable, so collect until the
    figure stops falling."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    prev = math.inf
    for _ in range(6):
        jvm.java.lang.System.gc()
        used = heap.getHeapMemoryUsage().getUsed()
        if used > 0.99 * prev:
            break
        prev = used
        time.sleep(0.5)
    return min(used, prev) / 2**20


# --------------------------------------------------------------------------
# run context and engine start
# --------------------------------------------------------------------------


def machine_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs
    since boot, summed over them (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    sf: float
    #: dau_live's log lines per second; None for its calibrated default
    rate: float | None
    cpus: int
    driver_memory: str
    tmp: str
    tracer: Tracer
    rss: RssSampler
    cpu: CpuClock = field(default_factory=CpuClock)
    info: dict = field(default_factory=dict)
    #: called, last registered first, before the engine stops
    cleanups: list = field(default_factory=list)
    spark: object = None
    peak_rss_mb: float | None = None
    heap_retained_mb: float | None = None

    def end_timed(self) -> None:
        """End of the timed region: freeze the peak-RSS reading and take
        the retained-heap reading while the engine is still up."""
        if self.peak_rss_mb is not None:
            return
        self.peak_rss_mb = self.rss.stop()
        if self.spark is not None:
            self.heap_retained_mb = retained_heap_mb(self.spark)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.tmp, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def new_tmp_root() -> str:
    """A fresh per-run directory inside the benchmark's own tree; every
    file the run (engine included) writes goes below it."""
    root = os.path.join(BENCH_DIR, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(root)
    return root


def remove_tmp_root(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    parent = os.path.dirname(root)
    try:
        os.rmdir(parent)  # only when no other run is using it
    except OSError:
        pass


def start_engine(ctx: Context, app: str):
    """Start the engine's session sized for this machine: explicit
    ``local[cpus]`` and driver memory (the factory's defaults assume a
    32-core, 48 GB host), scratch, warehouse and JVM temp dirs under
    the run's tmp root, and, in a traced run, a plain-JSON event log."""
    from sparkstreaming_realtime_spark.session import get_spark

    conf = {
        "spark.driver.memory": ctx.driver_memory,
        "spark.local.dir": ctx.path("spark-local"),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        # a fixed heap size: the collector's sizing choices do not
        # differ between runs
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('jvm-tmp')} "
        f"-Dderby.system.home={ctx.path('derby')} -XX:-UsePerfData -Xms{ctx.driver_memory} "
        # a fixed set of JIT compiler threads, whose CPU the engine
        # CPU clock leaves out
        "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    os.makedirs(ctx.path("jvm-tmp"), exist_ok=True)
    if ctx.trace:
        os.makedirs(ctx.path("eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name=app, cpus=ctx.cpus, shuffle_partitions=ctx.cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.rss.watch(spark.sparkContext._gateway.proc.pid)
    ctx.cpu.jvm_pid = spark.sparkContext._gateway.proc.pid
    ctx.spark = spark
    ctx.info["master"] = spark.sparkContext.master
    return spark


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------


def progresses(query) -> list[dict]:
    """Every progress record of ``query`` that had input, as dicts."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def progress_end(p: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start + triggerExecution."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1000.0


def progress_layer_metrics(progs: list[dict]) -> dict[str, float]:
    """``durationMs`` phases and ``stateOperators`` of the batches that
    had input, folded into the per-layer names."""
    def dur(k):
        vals = [p["durationMs"].get(k, 0) for p in progs]
        return median(vals) if vals else 0.0

    ops = [op for p in progs for op in p.get("stateOperators", [])]

    def opsum(p, k):
        return sum(op.get(k, 0) for op in p.get("stateOperators", []))

    return {
        "streaming.pipelines.triggerExecution_ms_p50": dur("triggerExecution"),
        "streaming.sources.latestOffset_ms_p50": dur("latestOffset"),
        "streaming.sources.getBatch_ms_p50": dur("getBatch"),
        "streaming.pipelines.queryPlanning_ms_p50": dur("queryPlanning"),
        "streaming.pipelines.walCommit_ms_p50": dur("walCommit"),
        "streaming.pipelines.commitOffsets_ms_p50": dur("commitOffsets"),
        "streaming.pipelines.state_rows_max": float(max((opsum(p, "numRowsTotal") for p in progs), default=0)),
        "streaming.pipelines.state_mb_max": max((opsum(p, "memoryUsedBytes") for p in progs), default=0) / 2**20,
        "streaming.pipelines.state_update_ms_p50": median([opsum(p, "allUpdatesTimeMs") for p in progs]) if ops else 0.0,
        "streaming.pipelines.state_commit_ms_p50": median([opsum(p, "commitTimeMs") for p in progs]) if ops else 0.0,
        "streaming.pipelines.rows_dropped_by_watermark": float(sum(opsum(p, "numRowsDroppedByWatermark") for p in progs)),
    }


# --------------------------------------------------------------------------
# the sink and the store it maintains
# --------------------------------------------------------------------------


def _has_parquet(root: str) -> bool:
    return any(f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs)


def read_store(path: str) -> pa.Table | None:
    """The store's committed view read with pyarrow: the manifest's
    segments plus the tail ``batch=<id>`` dirs it has not folded."""
    from sparkstreaming_realtime_spark.streaming.store import batch_ids, load_manifest

    m = load_manifest(path) or {"upto": -1, "segments": {}}
    dirs = [os.path.join(path, s) for s in m["segments"].get("", [])]
    dirs += [os.path.join(path, f"batch={i}") for i in batch_ids(path) if i > m["upto"]]
    tables = [pq.read_table(d) for d in dirs if _has_parquet(d)]
    tables = [t for t in tables if t.num_rows]
    return pa.concat_tables(tables, promote_options="default") if tables else None


class TimedSink:
    """Wraps the callable the sink factory returns: per-batch write spans."""

    def __init__(self, inner, ctx: Context, store: str):
        self.inner, self.ctx, self.store = inner, ctx, store
        self.writes: list[tuple[int, float, float, int]] = []  # (batch, start, end, manifest gen)

    def __call__(self, batch_df, batch_id):
        from sparkstreaming_realtime_spark.streaming.store import load_manifest

        t0 = time.time()
        self.inner(batch_df, batch_id)
        t1 = time.time()
        gen = (load_manifest(self.store) or {"gen": -1})["gen"]
        self.writes.append((batch_id, t0, t1, gen))
        self.ctx.tracer.add("sink_write", t0, t1, batch=batch_id, gen=gen)


def sink_store_layers(writes, since: float, store: str, log, group: str | None) -> dict[str, float]:
    """streaming.sinks / streaming.store numbers from the wrapped sink's
    writes that started at or after ``since``, the event log and the
    store's final manifest. A write is a compacting one when the
    manifest generation moved during it."""
    from sparkstreaming_realtime_spark.streaming.store import batch_ids, load_manifest

    m = load_manifest(store) or {"gen": -1, "upto": -1, "segments": {}}
    gens = [-1] + [g for *_, g in writes]
    timed = [(w, g != prev) for w, g, prev in zip(writes, gens[1:], gens) if w[1] >= since]
    w = [t1 - t0 for (_, t0, t1, _), _ in timed]
    compacting = [t1 - t0 for (_, t0, t1, _), moved in timed if moved]
    jobs = []
    if log is not None:
        for (_, t0, t1, _), _ in timed:
            jobs.append(len([j for j in log.jobs_between(t0, t1) if group is None or j.group == group]))
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(store) for f in fs)
    return {
        "streaming.sinks.write_s_p50": median(w) if w else 0.0,
        "streaming.sinks.write_s_p90": pct(w, 90) if w else 0.0,
        "streaming.sinks.jobs_per_batch": sum(jobs) / len(jobs) if jobs else 0.0,
        "streaming.store.compactions": float(m["gen"] + 1),
        "streaming.store.compacting_write_s_p50": median(compacting) if compacting else 0.0,
        "streaming.store.tail_dirs_end": float(len([i for i in batch_ids(store) if i > m["upto"]])),
        "streaming.store.segments_end": float(len(m["segments"].get("", []))),
        "streaming.store.mb_end": size / 2**20,
    }


# --------------------------------------------------------------------------
# Spark event log (traced runs)
# --------------------------------------------------------------------------


#: per-stage sums kept from each ``SparkListenerTaskEnd``
TASK_METRICS = ("tasks", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write", "spill", "input_records")


@dataclass
class JobRec:
    job_id: int
    group: str | None
    start: float
    end: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, JobRec]
    # stage id -> task metrics summed over its tasks
    stage_metrics: dict[int, dict]

    def jobs_between(self, t0: float, t1: float) -> list[JobRec]:
        return [j for j in self.jobs.values() if j.start >= t0 and j.end <= t1]

    def totals(self, jobs: list[JobRec]) -> dict:
        out = dict.fromkeys(TASK_METRICS, 0)
        seen = set()
        for j in jobs:
            for s in j.stages:
                if s in seen or s not in self.stage_metrics:
                    continue
                seen.add(s)
                for k in TASK_METRICS:
                    out[k] += self.stage_metrics[s][k]
        return out


def read_event_log(log_dir: str, app_id: str) -> EventLog | None:
    """Parse the application's event log (plain JSON lines). Read it
    after the session stopped, when the listener bus has flushed it."""
    import glob

    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        return None
    jobs: dict[int, JobRec] = {}
    stage_metrics: dict[int, dict] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                stages = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
                jobs[jid] = JobRec(jid, props.get("spark.jobGroup.id"),
                                   ev["Submission Time"] / 1000.0, math.inf, stages)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                task = {
                    "tasks": 1,
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                }
                sm = stage_metrics.setdefault(ev["Stage ID"], dict.fromkeys(TASK_METRICS, 0))
                for k, v in task.items():
                    sm[k] += v
    return EventLog(jobs, stage_metrics)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
