"""Shared plumbing for the workloads: the Spark session, timed passes,
the job-group tracer and the fold of Spark's event log into per-layer
figures.

Nothing here changes what the library does. With tracing off no job group
is set and no event log is written; with tracing on, each library call
runs inside a job group named ``<layer>.<op>`` and the figures come from
the metrics Spark already records for every task.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import signal
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Optional

MIB = 1024.0 * 1024.0


def now() -> float:
    return time.perf_counter()


def noop(df) -> None:
    """Materialize a frame without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def to_pandas(df):
    return df.toPandas()


@dataclass
class Op:
    """One operation of a pass.

    ``build`` returns the lazy result frame; any eager probe the library
    runs happens inside it and is timed as ``plan_s``. ``run``, when given,
    replaces build+sink for operations that are not a single frame (the
    pipeline runs). ``timed`` ops count towards ``pass_s``.
    """

    name: str
    key: str
    build: Optional[Callable] = None
    run: Optional[Callable] = None
    timed: bool = True
    # names of the output checks that judge this op (default: its own)
    checks: tuple = ()

    def judged_by(self) -> tuple:
        return self.checks or (self.name,)


def start_spark(cpus: int, work: str, trace: bool):
    """Start the session through the library's factory.

    Configuration the factory does not take (event log, warehouse and
    scratch locations) goes in through the standard submit arguments, so
    the library is called exactly as a user calls it.
    """
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from linref_spark.session import get_spark

    spark = get_spark("linref-perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict:
    """``{parent pid: [child pids]}`` of every process in /proc."""
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def _start_time(pid: int) -> Optional[str]:
    """Start time of ``pid`` from /proc, so a reused pid is not taken for
    the process it replaced; None once it has ended (a zombie has ended:
    an orphan waits there until whoever adopted it reaps it)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def _descendants() -> dict:
    """``{pid: start time}`` of every process below this one."""
    kids = _children()
    todo, out = list(kids.get(os.getpid(), [])), {}
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        start = _start_time(pid)
        if start is not None:
            out[pid] = start
        todo.extend(kids.get(pid, []))
    return out


def stop_processes(timeout: float = 30.0) -> None:
    """Stop Spark's JVM and wait until every process this one started has
    ended.

    ``SparkSession.stop`` leaves the JVM running until this process exits
    and closes its stdin; the JVM then ends on its own, after this process
    is gone. Here its stdin is closed and the JVM waited for, and every
    other descendant (Python workers the JVM started, which outlive it as
    orphans) is waited for as well; what is still alive after ``timeout``
    seconds is killed and waited for once more.
    """
    procs = _descendants()
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark is not None else None
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        # py4j logs an error for every later request that finds the JVM gone
        logging.disable(logging.CRITICAL)
        try:
            jvm.stdin.close()
        except OSError:
            pass
        try:
            jvm.wait(timeout)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline, killed = now() + timeout, False
    while True:
        alive = [p for p, t in procs.items() if _start_time(p) == t]
        if not alive or (killed and now() > deadline):
            return
        if not killed and now() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = now() + timeout, True
        time.sleep(0.05)


class WorkerPeak:
    """Highest peak RSS (VmHWM) of any PySpark Python worker below this
    process, sampled from /proc while the run goes on; the JVM's peak is
    kept apart, for reference only."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kib = 0
        self.jvm_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        kids = _children()
        todo, seen = list(kids.get(os.getpid(), [])), set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                jvm = cmd.split(b"\0", 1)[0].endswith(b"java")
                if not jvm and b"pyspark" not in cmd:
                    continue
                with open(f"/proc/{pid}/status") as f:
                    hwm = next((int(line.split()[1]) for line in f
                                if line.startswith("VmHWM:")), 0)
                if jvm:
                    self.jvm_kib = max(self.jvm_kib, hwm)
                else:
                    self.peak_kib = max(self.peak_kib, hwm)
            except OSError:
                continue

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0


class Tracer:
    """Per-call timings plus, when enabled, Spark job groups.

    ``group(key)`` wraps one library call: everything Spark runs inside it
    (probe jobs included) carries the job group ``key``. Timings are kept
    per key as lists, one entry per call, with tracing on or off.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.times = defaultdict(lambda: defaultdict(list))

    @contextmanager
    def group(self, key: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(key, key)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def note(self, key: str, **vals) -> None:
        for k, v in vals.items():
            self.times[key][k].append(v)

    def run_op(self, op: Op, sink, key: Optional[str] = None):
        key = key or op.key
        with self.group(key):
            if op.run is not None:
                return op.run(sink, self, key)
            t0 = now()
            df = op.build()
            t1 = now()
            out = sink(df)
            t2 = now()
        self.note(key, plan_s=t1 - t0, wall_s=t2 - t1)
        return out


# -- event log fold ---------------------------------------------------------

def fold_event_log(log_dir: str) -> dict:
    """Fold the event log into ``{job_group: {measure: value}}``.

    Measures: jobs, executor_s, shuffle_mb, spill_mb, and the list of job
    call sites.
    """
    stage_group: dict = {}
    groups = defaultdict(lambda: defaultdict(float))
    sites = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    groups[g]["jobs"] += 1
                    sites[g].append(props.get("callSite.short", ""))
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if g is None or not tm:
                        continue
                    groups[g]["executor_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    sw = tm.get("Shuffle Write Metrics") or {}
                    groups[g]["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / MIB
                    groups[g]["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / MIB
    out = {g: dict(v) for g, v in groups.items()}
    for g, s in sites.items():
        out[g]["sites"] = s
    return out
