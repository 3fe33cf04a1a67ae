"""Shared machinery: the work directory, the Spark session, the span
recorder, the Spark event-log reader, the RSS sampler, unstolen-time
accounting and the host-health stamp.

Nothing here is timed work of the engine; it is the measuring apparatus.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

#: Checkout root (the parent of this package's directory).
ROOT = Path(__file__).resolve().parent.parent
#: Every file the benchmark writes lives under here (ignored by git).
WORK = ROOT / "perfbench" / ".work"

#: Driver JVM heap limit (the test suite's size; every workload here fits).
DRIVER_MEMORY = "2g"

#: Rows per Arrow batch Spark hands a Python kernel
#: (``spark.sql.execution.arrow.maxRecordsPerBatch`` in ENGINE_CONF).
ARROW_BATCH_ROWS = 10_000


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_work_dir() -> None:
    """Point every temp-file user (Python, the JVM, Spark's scratch space)
    into the work directory, before pyspark or the engine is imported."""
    import tempfile

    tmp = WORK / "tmp"
    for sub in ("tmp", "spark-local", "eventlog", "traces", "out"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    tempfile.tempdir = str(tmp)


def build_session(event_log: bool):
    """The engine's own session builder with the settings of
    ``jobs/validate_job.py`` on ``local[nproc]``, except the driver heap:
    ``DRIVER_MEMORY``, committed and touched at start, rather than
    ``get_spark``'s 16g default grown on demand. Every path it could write
    to is redirected into the work directory."""
    from jsl_engine.partitioning import get_spark

    n = cpus()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.files.maxPartitionBytes": "33554432",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # the heap is resident from the start, so peak_rss_mb sees the
        # Python workers and the JVM's off-heap memory but not heap growth
        # below DRIVER_MEMORY: grown on demand, the heap made the peak
        # swing from 1.5 to 2.1 GB over five job runs (IQR/median 0.26).
        # C1 only: under the default tiered JIT, C2 went on compiling for
        # ~40 s after set-up, so 50k-doc job times fell from 3.8 to 3.0 s
        # within each run and a run's median depended on how far it got
        # down that slope; with C1 alone they are flat after the warm-up
        # at about the level C2 reached (these calls are bound by Spark's
        # per-action overhead). JVM-side hot loops run slower under C1 (a
        # codegen'd sum(hash(id)) over 30M rows took ~6x longer). C1 alone
        # gets the non-tiered 48 MB code cache, of which a run used up to
        # 38 MB (a JVM running all workloads filled it and stopped
        # compiling), so it gets the tiered default's 240 MB.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
            f"-XX:ReservedCodeCacheSize=240m",
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": f"file://{WORK / 'eventlog'}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    spark = get_spark(
        master=f"local[{n}]", app_name="jsl-perfbench",
        shuffle_partitions=n * 2, driver_memory=DRIVER_MEMORY, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# same-time reference
# ---------------------------------------------------------------------------

#: Median unstolen seconds of one ``reference`` call on the 4-core host
#: this benchmark was built on: the ``ref_s`` unit of the end-to-end times.
REF_NOMINAL_S = 0.5

#: Rows of the reference's two parts.
REF_JVM_ROWS = 1_000_000
REF_PY_ROWS = 30_000


def _ref_hash(batches):
    import hashlib

    for b in batches:
        for i in b.column(0).to_pylist():
            hashlib.sha256(str(i).encode()).hexdigest()
        yield b.slice(0, 0)


def reference(spark) -> None:
    """A fixed pair of Spark jobs that call no engine code: a
    code-generated JVM aggregate, and Arrow batches through Python workers
    into a ``noop`` sink. Like the measured calls, each is mostly Spark's
    per-job overhead. Timed next to the measured calls, they gauge the
    host's speed at that moment. (A parquet write as a third part cost
    ~0.8 s a call, mostly fixed overhead.)"""
    n = cpus()
    spark.range(0, REF_JVM_ROWS, numPartitions=n).selectExpr("sum(hash(id))").collect()
    spark.range(0, REF_PY_ROWS, numPartitions=n).mapInArrow(
        _ref_hash, "id long").write.format("noop").mode("overwrite").save()


class HostSpeed:
    """Reference calls interleaved with the measured ones. On a shared
    host the speed of the virtual CPUs swings by tens of percent from one
    minute to the next without CPU being stolen; a time divided by
    ``factor()`` (the run's median reference time over ``REF_NOMINAL_S``)
    is in ``ref_s``: seconds on a host on which the reference takes
    ``REF_NOMINAL_S``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.times: list[float] = []

    def warm_up(self, calls: int = 2) -> None:
        for _ in range(calls):
            reference(self.spark)

    def sample(self) -> None:
        self.times.append(timed(reference, self.spark)[0])

    def factor(self) -> float:
        return median(self.times) / REF_NOMINAL_S


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans around calls into a layer's public function: name,
    start, end, parent span and the operation they belong to. Written out
    once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_WRITE_TARGET = re.compile(r"Arguments: file:\S*/(\w+), ")


class EventLog:
    """The finished event log of one Spark application, reduced to SQL
    executions, jobs and task metrics."""

    def __init__(self, app_id: str) -> None:
        files = glob.glob(str(WORK / "eventlog" / f"{app_id}*"))
        if len(files) != 1:
            raise RuntimeError(f"event log for {app_id}: found {files}")
        self.executions: dict[int, dict] = {}
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        with open(files[0]) as fh:
            for line in fh:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            m = _WRITE_TARGET.search(e.get("physicalPlanDescription", ""))
            self.executions[e["executionId"]] = {
                "start": e["time"] / 1e3, "end": None,
                "target": m.group(1) if m else None,
                "plan": e.get("physicalPlanDescription", ""),
            }
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]]["end"] = e["time"] / 1e3
        elif kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1e3, "stages": e["Stage IDs"],
            }
            for s in e["Stage IDs"]:
                self.stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            info, metrics = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks[e["Stage ID"]].append({
                "ms": info["Finish Time"] - info["Launch Time"],
                "shuffle_write": metrics.get("Shuffle Write Metrics", {})
                .get("Shuffle Bytes Written", 0),
                "spill": metrics.get("Memory Bytes Spilled", 0)
                + metrics.get("Disk Bytes Spilled", 0),
            })

    def executions_in(self, start: float, end: float) -> list[dict]:
        return [x for x in self.executions.values()
                if start <= x["start"] <= end and x["end"] is not None]

    def stages_in(self, start: float, end: float) -> list[int]:
        return sorted(s for s, j in self.stage_job.items()
                      if start <= self.jobs[j]["start"] <= end and self.tasks.get(s))

    def task_totals(self, start: float, end: float) -> "tuple[int, int]":
        shuffle = spill = 0
        for s in self.stages_in(start, end):
            for t in self.tasks[s]:
                shuffle += t["shuffle_write"]
                spill += t["spill"]
        return shuffle, spill

    def kernel_skew(self, start: float, end: float) -> float:
        """max/median task time of the last stage run in the window — the
        stage that runs the Arrow kernel for a validation into a noop sink."""
        stages = self.stages_in(start, end)
        if not stages:
            return float("nan")
        ms = [t["ms"] for t in self.tasks[stages[-1]]]
        return max(ms) / max(median(ms), 1)


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------

def descendants() -> list[int]:
    """PIDs of every process under this one (the Spark driver JVM and the
    Python workers it forks)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(d))
    out, todo = [], list(children[os.getpid()])
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children[p])
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the JVM pyspark launched (it exits when its stdin closes) and
    wait until it and every process under it has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = descendants()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


class RssSampler:
    """Peak summed memory of this process's descendants (the Spark driver
    JVM and its Python workers), sampled from /proc on a background thread.
    Each process counts its proportional set size: forked Python workers
    share most pages with their daemon, and summing plain RSS would count
    those pages once per worker."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# ---------------------------------------------------------------------------
# host health
# ---------------------------------------------------------------------------

def host_probe() -> dict:
    """A short memory-bandwidth probe next to a compute probe, so a record
    shows whether the host lost bandwidth while compute held (context for
    reading a run, not a metric)."""
    import numpy as np

    a = np.ones(8 << 20)  # 64 MiB
    b = np.empty_like(a)
    copies = []
    for _ in range(5):
        t = time.perf_counter()
        np.copyto(b, a)
        copies.append(time.perf_counter() - t)
    m = np.random.default_rng(0).standard_normal((256, 256))
    mults = []
    for _ in range(5):
        t = time.perf_counter()
        m @ m
        mults.append(time.perf_counter() - t)
    return {
        "mem_copy_gb_s": round(2 * a.nbytes / min(copies) / 1e9, 2),
        "matmul_gflop_s": round(2 * 256**3 / min(mults) / 1e9, 2),
    }


def load_avg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_times() -> "tuple[float, float]":
    """(busy, stolen) CPU seconds of this machine since boot. Busy is user
    + nice + system + irq + softirq; stolen is time a virtual CPU wanted to
    run while the hypervisor ran someone else."""
    ticks = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return sum(ticks[i] for i in (0, 1, 2, 5, 6)) / hz, ticks[7] / hz


def steal_frac(before: "tuple[float, float]", after: "tuple[float, float]") -> float:
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / max(busy + stolen, 1e-9)


def timed(fn, *args) -> "tuple[float, float, object]":
    """(seconds, wall seconds, result) of one call. Seconds are the wall
    seconds less the share of CPU time the hypervisor stole meanwhile (see
    ``unstolen``)."""
    c0, t = cpu_times(), time.perf_counter()
    out = fn(*args)
    wall = time.perf_counter() - t
    return unstolen(wall, c0, cpu_times()), wall, out


def unstolen(wall: float, before, after) -> float:
    """Wall seconds less the stolen share of the CPU time this machine
    wanted between two ``cpu_times()`` readings. On a shared host a virtual
    CPU waits while the hypervisor runs another guest; that share swung
    between 2% and 48% within an hour on the 4-core host this benchmark was
    built on, moving wall times by up to 2x, while the unstolen time moved
    by about 10%. On a host without steal it equals the wall time."""
    return wall * (1 - steal_frac(before, after))
