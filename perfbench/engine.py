"""Spark session lifecycle, CPU and memory accounting from /proc, the
machine-load marker and event-log parsing.

Everything here times or counts the program from outside: sessions
come from the program's ``session.get_spark``, per-layer figures from
Spark's own event log, grouped by the job group the benchmark sets
around each layer call.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import subprocess
import time
from collections import defaultdict

CPUS = 4


def load_marker() -> dict:
    """Load averages plus the time of a fixed single-thread probe, so
    a shift caused by the machine can be told from a regression."""
    data = b"x" * (1 << 20)
    t0 = time.perf_counter()
    for _ in range(64):
        data = hashlib.sha256(data).digest() * (1 << 15)
    probe = time.perf_counter() - t0
    la = os.getloadavg()
    return {"loadavg_1m": la[0], "loadavg_5m": la[1], "probe_s": round(probe, 4)}


def _peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_s(stat_path: str) -> float:
    """User plus system CPU seconds from a /proc ``stat`` file."""
    with open(stat_path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Session:
    """Builds SparkSessions through the program's ``get_spark`` with
    every path inside the benchmark's work directory.

    ``start`` launches the JVM if none is up, else builds a new
    SparkContext in the running one (after ``stop``). ``close`` shuts
    the JVM down and waits for it to exit; a later ``start`` launches
    a new one.
    """

    def __init__(self, work: str):
        self.work = work
        self.event_log_dir = os.path.join(work, "eventlog")
        self.spark = None
        self._jvm_pid: int | None = None
        # (tid, start time) -> last seen CPU seconds of each JIT compiler
        # thread; kept after the thread exits, since the JVM starts and
        # ends compiler threads as load changes and the process total
        # keeps an ended thread's CPU.
        self._jit_seen: dict[tuple[str, str], float] = {}

    def start(self, event_log: bool = False):
        from utc_cuip_kafka_aws_connector_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(master=f"local[{CPUS}]", extra_conf=conf)
        self.spark.sparkContext.setCheckpointDir(os.path.join(self.work, "rdd-ckpt"))
        if self._jvm_pid is None:
            self._jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _jit_cpu_s(self) -> float:
        """CPU seconds of every JIT compiler thread (C1, C2) seen so far."""
        task = f"/proc/{self._jvm_pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as fh:
                    if not fh.read().startswith(("C1 Compiler", "C2 Compiler")):
                        continue
                with open(f"{task}/{tid}/stat") as fh:
                    start = fh.read().rsplit(")", 1)[1].split()[19]
                self._jit_seen[(tid, start)] = _cpu_s(f"{task}/{tid}/stat")
            except FileNotFoundError:  # the thread ended meanwhile
                pass
        return sum(self._jit_seen.values())

    def cpu_s(self) -> float:
        """CPU seconds used so far by the Python driver and the JVM,
        without the JIT compiler threads: their share varies from run to
        run with what the JIT still has to compile, not with the work."""
        own = _cpu_s("/proc/self/stat")
        if self._jvm_pid is None:
            return own
        return own + _cpu_s(f"/proc/{self._jvm_pid}/stat") - self._jit_cpu_s()

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident MB of the Python driver and of the running JVM."""
        jvm = _peak_rss_kb(self._jvm_pid) if self._jvm_pid is not None else 0
        return _peak_rss_kb(os.getpid()) / 1024.0, jvm / 1024.0

    def close(self) -> None:
        """Stop Spark, shut the gateway JVM down and wait for it."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        self._jvm_pid = None
        self._jit_seen = {}


def warm_up(spark) -> None:
    """The fixed warm-up of every set-up: a shuffle and a JSON round
    trip. Each workload's own untimed first iteration warms the rest."""
    from pyspark.sql import functions as F

    df = spark.range(200_000).withColumn("k", F.col("id") % 97)
    df.groupBy("k").agg(F.sum("id")).collect()
    js = df.select(F.to_json(F.struct("id", "k")).alias("v"))
    js.select(F.from_json("v", "id long, k long").alias("e")).select("e.*").agg(F.max("id")).collect()


def median(values):
    return statistics.median(values) if values else 0.0


def quantile(values, q: float) -> float:
    """Nearest-rank quantile: the smallest sample with at least
    ``q`` of the samples at or below it."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return s[k]


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


class GroupStats:
    """Per job group: bytes read from input, shuffle bytes written and
    every task's time by stage."""

    def __init__(self):
        self.input_bytes = 0
        self.shuffle_write = 0
        self.task_times: dict[int, list[float]] = defaultdict(list)

    def skew(self) -> float:
        """max / median task time over the tasks of the group's last
        stage (the one that writes or returns the result)."""
        if not self.task_times:
            return 0.0
        times = self.task_times[max(self.task_times)]
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0


def parse_event_log(log_dir: str) -> tuple[dict[str, GroupStats], list[tuple]]:
    """Aggregate task metrics per job group over every event log in
    ``log_dir``; jobs without a group count under ``""``. Also returns
    every task as (finish epoch s, CPU s, GC s, spilled bytes)."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    tasks: list[tuple] = []
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    paths = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])
                       if os.path.basename(p).startswith("events_") else 0),
    )
    stage_group: dict[int, str] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    st = groups[stage_group.get(sid, "")]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    st.task_times[sid].append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    tasks.append((info.get("Finish Time", 0) / 1000.0, m.get("Executor CPU Time", 0) / 1e9,
                                  m.get("JVM GC Time", 0) / 1000.0,
                                  m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)))
    return groups, tasks
