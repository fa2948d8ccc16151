"""Shared run machinery: the per-run temp root, spans, percentiles,
process-tree memory, and the session factory.

Nothing here imports pyspark at module load; the workloads import the
package under test once the environment is prepared.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- percentiles


def pct(values: list[float], p: float) -> float | None:
    """Interpolated ``p``-th percentile, or None unless at least ten
    samples lie beyond it (a tail needs samples to stand on)."""
    n = len(values)
    if n == 0 or n - math.ceil(p / 100.0 * n) < 10:
        return None
    s = sorted(values)
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


class Outcome:
    """What a workload's measured phase produced, already checked."""

    def __init__(self, latencies_s, throughput, attempted, failed, layers=None, named=None,
                 notes=None, p50_s=None):
        self.latencies_s = latencies_s  # one per operation (segment, request, query)
        # the reported median, unless the workload defines its own
        self.p50_s = p50_s if p50_s is not None else pct(latencies_s, 50)
        self.throughput = throughput
        self.attempted = attempted
        self.failed = failed
        self.layers = layers or {}  # per-layer figures the workload measured itself
        self.named = named or {}  # workload-specific names: name -> (value, unit)
        self.notes = notes or []


# -- the per-run temp root


class RunRoot:
    """All files a run writes live under one directory in the checkout,
    removed when the run ends, whatever way it ends."""

    def __init__(self):
        base = os.path.join(HERE, ".run")
        os.makedirs(base, exist_ok=True)
        self.path = os.path.join(base, f"{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run still uses it


def prepare_env(root: RunRoot) -> None:
    """Point every scratch location of the JVM and Python at the run root
    (Spark's block manager, java.io.tmpdir, Python's tempfile) and size
    ``local[N]`` to this machine's cores."""
    tmp = root.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = root.sub("spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("PYSPARK_PYTHON", os.environ.get("PYSPARK_PYTHON") or "python3")
    import tempfile

    tempfile.tempdir = tmp


def start_session(trace_dir: str | None):
    """A session from the package factory with its defaults.  A traced
    run adds only the event log, read afterwards for shuffle/task
    figures."""
    from gmall_realtime_ck_spark.session import get_spark

    extra = None
    if trace_dir:
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": trace_dir,
                 "spark.eventLog.compress": "false"}
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    try:
        for q in spark.streams.active:
            q.stop()
    finally:
        spark.stop()


# -- the processes a run starts


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): the Python workers the JVM forks stay in
    this process's tree when the JVM exits, so they can be waited for."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: stop_processes still waits for the JVM itself


def stop_jvm(timeout_s: float = 30.0) -> None:
    """End the JVM behind PySpark, if one was launched, and wait for it.
    Spark's gateway server exits when its stdin closes; left alone it
    does so only after this process has gone."""
    ctx = sys.modules.get("pyspark.context")
    gw = ctx and ctx.SparkContext._gateway
    if not gw:
        return
    ctx.SparkContext._gateway = ctx.SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is None:
        return
    try:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout_s)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                if d.isdigit() and int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                    out.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return out


def stop_processes() -> None:
    """Stop every process this one started and wait until each has
    ended: the JVM first, then whatever it left behind."""
    stop_jvm()
    reap_children()


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until this process has no child left, reaping each; a child
    still running after ``grace_s`` gets SIGTERM, and SIGKILL 5 s later.
    With ``adopt_orphans`` in force that covers every descendant."""
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, so no descendant either
        waited = time.monotonic() - start
        if waited > grace_s:
            # an orphan becomes a child of this process when its parent
            # ends, so signalling the children each round reaches all
            sig = signal.SIGKILL if waited > grace_s + 5 else signal.SIGTERM
            for pid in _children(os.getpid()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# -- spans


class Tracer:
    """Spans at layer boundaries, kept in memory and written at exit.

    Disabled, every method is a pass-through, so an untraced run pays
    nothing.  Enabled, ``layer`` records the plain call as ``<name>.plan``
    and then materializes the layer's output inside the ``<name>`` span,
    so the next layer starts from computed data and each layer's self
    time is its own work."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._persisted: list = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, tid=None):
        if not self.enabled:
            yield
            return
        st = self._stack()
        rec = {"name": name, "id": len(self.spans), "tid": tid,
               "parent": st[-1]["id"] if st else None, "start": time.perf_counter()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec)
        try:
            yield
        finally:
            st.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + value

    def layer(self, name: str, tid, fn, *args, **kwargs):
        """Call one layer function; traced, materialize its DataFrame
        output (or each DataFrame of a dict output)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name, tid):
            with self.span(name + ".plan", tid):
                out = fn(*args, **kwargs)
            if isinstance(out, dict):
                out = {k: self._materialize(v) for k, v in out.items()}
            else:
                out = self._materialize(out)
        return out

    def _materialize(self, df):
        if not hasattr(df, "persist"):
            return df
        df = df.persist()
        df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus what child spans of other
        names cover (a layer's ``.plan`` child counts as its own)."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                parent = self.spans[s["parent"]]
                if not s["name"].startswith(parent["name"] + "."):
                    children[parent["id"]] = children.get(parent["id"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s or "." in s["name"] and s["name"].endswith(".plan"):
                continue
            d = s["end"] - s["start"] - children.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


# -- memory of the process tree


def _tree_rss_kb(root_pid: int) -> int:
    parents: dict[int, int] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        parents[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[int(d)] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
    total, frontier = 0, [root_pid]
    seen = set()
    while frontier:
        pid = frontier.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += rss.get(pid, 0)
        frontier += [c for c, p in parents.items() if p == pid]
    return total


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    JVM, Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024.0


def cpu_times() -> list[int]:
    """The machine's CPU time counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), or [] without it."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings.  It slows every wall-clock figure of a run, so
    the record carries it to tell a busy host from a slow program."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


# -- Spark event log


def event_log_metrics(log_dir: str, since_ms: float, until_ms: float) -> dict[str, float]:
    """Shuffle, spill and task figures summed over the tasks a traced
    session launched between ``since_ms`` and ``until_ms`` (epoch ms),
    so the benchmark's own checks afterwards are left out; task skew is
    max/median task time in the stage with the most tasks."""
    out = {"spark.shuffle_write_bytes": 0.0, "spark.shuffle_read_bytes": 0.0,
           "spark.spill_bytes": 0.0, "spark.tasks": 0.0, "spark.task_skew": 0.0,
           "spark.jobs_ungrouped": 0.0}
    stage_times: dict[tuple, list[float]] = {}
    # Spark 4 writes a rolling log: a directory of events_* files per app
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(log_dir)
                   for f in files if f.startswith("events_"))
    for path in paths:
        name = os.path.basename(os.path.dirname(path))
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if (since_ms <= ev.get("Submission Time", 0) < until_ms
                            and not (ev.get("Properties") or {}).get("spark.jobGroup.id")):
                        out["spark.jobs_ungrouped"] += 1
                    continue
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info") or {}
                if not since_ms <= info.get("Launch Time", 0) < until_ms:
                    continue
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                out["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                    + sr.get("Local Bytes Read", 0))
                out["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                             + m.get("Disk Bytes Spilled", 0))
                out["spark.tasks"] += 1
                key = (name, ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                stage_times.setdefault(key, []).append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0))
    if stage_times:
        widest = max(stage_times.values(), key=len)
        med = median(widest)
        out["spark.task_skew"] = max(widest) / med if med > 0 else 1.0
    return out
