"""Open-loop replay into a file topic, and the per-segment bookkeeping
of a streaming run.

The first ``WARM_SEGMENTS`` segments warm the queries up, one
micro-batch each.  Then a generator thread writes the remaining
pre-rendered segments on a fixed schedule whether or not the queries
keep up; each file appears atomically (written under a hidden name, then
renamed).  Freshness is timed from the due time, so a stall also delays
the segments queued behind it; how late the generator itself wrote each
segment is recorded so a stalled generator cannot pass as low freshness.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

from .harness import Outcome, median, pct

_SEG = re.compile(r"seg-(\d+)\.json$")

#: warm-up segments, each run through its own micro-batch before timing:
#: the first batch of a fresh query compiles the chain, and the JIT is
#: still settling in the second, whose time varies most from run to run
WARM_SEGMENTS = 2


def seg_name(seq: int) -> str:
    return f"seg-{seq:06d}.json"


def parquet_files(dirs) -> int:
    """Parquet files under the given sink directories."""
    return sum(f.endswith(".parquet") for d in dirs for _, _, files in os.walk(d) for f in files)


class SourceLog:
    """Which segment files a file-source query has taken, read from the
    source's own metadata log in the checkpoint (driver-side, no job).

    Inside ``foreachBatch`` the log already lists the running batch's
    files, and the next batch is planned only after this one returns, so
    the files not seen before are exactly the running batch's."""

    def __init__(self, checkpoint: str):
        self.dir = os.path.join(checkpoint, "sources", "0")
        self.seen: set[int] = set()

    def new_segments(self) -> list[int]:
        found = set()
        for name in os.listdir(self.dir):
            if not (name.isdigit() or name.endswith(".compact")):
                continue
            with open(os.path.join(self.dir, name)) as f:
                for line in f:
                    m = _SEG.search(line.split('"path":"', 1)[-1].split('"', 1)[0])
                    if m:
                        found.add(int(m.group(1)))
        new = sorted(found - self.seen)
        self.seen |= found
        return new


class Replay:
    """Writes the warm-up segments on demand, then each segment
    k >= ``WARM_SEGMENTS`` at ``t0 + (k - WARM_SEGMENTS) * interval``."""

    def __init__(self, topic_dir: str, payloads: list[bytes], interval_s: float):
        self.topic_dir = topic_dir
        self.payloads = payloads
        self.interval = interval_s
        self.due: dict[int, float] = {}
        self.written: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = None

    def write(self, k: int) -> None:
        tmp = os.path.join(self.topic_dir, f".{seg_name(k)}.tmp")
        with open(tmp, "wb") as f:
            f.write(self.payloads[k])
        os.rename(tmp, os.path.join(self.topic_dir, seg_name(k)))
        self.written[k] = time.perf_counter()

    def start(self, t0: float) -> None:
        self.due = {k: t0 + (k - WARM_SEGMENTS) * self.interval
                    for k in range(WARM_SEGMENTS, len(self.payloads))}
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        for k in range(WARM_SEGMENTS, len(self.payloads)):
            wait = self.due[k] - time.perf_counter()
            if (wait > 0 and self._stop.wait(wait)) or self._stop.is_set():
                return
            self.write(k)

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def warm_up(workloads) -> None:
    """Run the warm-up segments through the queries of one or more
    started workloads (each with ``stats`` and ``replay``) together:
    segment k goes to every topic, then k + 1 once all have committed k
    and are idle.  The first micro-batch of a fresh query compiles the
    chain and starts Python workers, a once-per-deployment cost that
    belongs to set-up."""
    deadline = time.perf_counter() + StreamStats.COMMIT_TIMEOUT_S
    for k in range(WARM_SEGMENTS):
        for w in workloads:
            w.replay.write(k)
        for w in workloads:
            w.stats.wait_commit(k, deadline)


class StreamStats:
    """Per-segment commit times of one replay run, plus the engine's
    progress reports.

    The first ``WARM_SEGMENTS`` segments are the warm-up; the rest are the
    measured ones, all due within the run's window.  A segment is
    committed once every query of the workload has written it."""

    COMMIT_TIMEOUT_S = 120.0

    def __init__(self, kinds: tuple[str, ...] = ("main",)):
        self.kinds = kinds
        self.done: dict[str, set[int]] = {k: set() for k in kinds}
        self.commit_at: dict[int, float] = {}
        self.measured: list[int] = []
        self.due: dict[int, float] = {}
        self.lateness: list[float] = []
        self.progress: list[dict] = []
        self.events: dict[int, int] = {}
        self.wall = 0.0
        self.error: str | None = None
        self.retries = 0
        self._worked: set[tuple[str, int]] = set()
        self._query_kind: dict[str, str] = {}
        self.queries: dict = {}
        self._lock = threading.Lock()

    def batch(self, kind: str, log: SourceLog, body):
        """A ``foreachBatch`` function: runs ``body(batch_df, tid)`` on
        the segments new to this query, then records their commit."""

        def process(batch_df, batch_id):
            segs = log.new_segments()
            if not segs:
                return
            body(batch_df, f"{kind}-{batch_id}")
            at = time.perf_counter()
            with self._lock:
                if (kind, batch_id) in self._worked:  # the engine re-ran a batch
                    self.retries += 1
                self._worked.add((kind, batch_id))
                self.done[kind].update(segs)
                for s in segs:
                    if all(s in d for d in self.done.values()):
                        self.commit_at[s] = at

        return process

    def attach(self, queries: dict) -> None:
        """The workload's started queries, by kind."""
        self._query_kind = {str(q.id): kind for kind, q in queries.items()}
        self.queries = queries

    def wait_commit(self, k: int, deadline: float) -> None:
        """Wait until segment ``k`` is committed (or a query failed) and
        every query is idle again."""
        while k not in self.commit_at and time.perf_counter() < deadline:
            if self._failed():
                return
            time.sleep(0.02)
        self._wait_idle(deadline)

    def _wait_idle(self, deadline: float) -> None:
        """The engine finishes a batch (offset commit, progress report)
        after its sink writes return: wait until every query is idle."""
        def idle(q) -> bool:
            reported = any(p.numInputRows > 0 for p in q.recentProgress)
            return reported and not q.status["isTriggerActive"]

        while (time.perf_counter() < deadline
               and not all(idle(q) for q in self.queries.values())):
            time.sleep(0.02)

    def _failed(self) -> bool:
        failed = [q.exception() for q in self.queries.values() if q.exception() is not None]
        if failed:
            self.error = str(failed[0])
        return bool(failed)

    def run(self, replay: Replay) -> None:
        """Replay the measured segments and wait until all are committed
        (or a query fails), then stop the queries."""
        t0 = time.perf_counter() + 0.1
        self.measured = list(range(WARM_SEGMENTS, len(replay.payloads)))
        first_measured_batch = {kind: max((b for kd, b in self._worked if kd == kind),
                                          default=-1) + 1 for kind in self.kinds}
        replay.start(t0)
        try:
            deadline = t0 + self.COMMIT_TIMEOUT_S
            while time.perf_counter() < deadline and not self.error and not self._failed():
                with self._lock:
                    if all(k in self.commit_at for k in self.measured):
                        break
                time.sleep(0.02)
            self.wall = time.perf_counter() - t0
        finally:
            replay.stop()
            self._collect_progress(first_measured_batch)
        self.due = replay.due
        self.lateness = [replay.written[k] - replay.due[k] for k in self.measured
                         if k in replay.written]

    def _collect_progress(self, first_batch: dict[str, int]) -> None:
        """Keep the progress of the measured micro-batches (a batch's
        report is posted just after its sink writes return), then stop."""
        for kind, q in self.queries.items():
            last = max((b for kd, b in self._worked if kd == kind), default=-1)
            deadline = time.perf_counter() + 10
            while time.perf_counter() < deadline:
                p = q.lastProgress
                if p is None or p.batchId >= last:
                    break
                time.sleep(0.02)
            self.progress += [json.loads(p.json) for p in q.recentProgress
                              if p.batchId >= first_batch[kind]]
            q.stop()

    # -- derived figures

    def attempted(self) -> list[int]:
        """The warm-up and the measured segments."""
        return [*range(WARM_SEGMENTS), *self.measured]

    def freshness(self) -> list[float]:
        return [self.commit_at[k] - self.due[k] for k in self.measured if k in self.commit_at]

    def data_batches(self) -> list[dict]:
        """Progress of the micro-batches that ran the workload's chain (an
        idle query also reports, under the id its next batch will get)."""
        return [p for p in self.progress if p["numInputRows"] > 0
                and (self._query_kind.get(p["id"]), p["batchId"]) in self._worked]

    def busy_s(self) -> float:
        return sum(p["durationMs"].get("triggerExecution", 0) for p in self.data_batches()) / 1000

    def events_processed(self) -> int:
        """Measured events written, summed over the workload's queries."""
        return sum(self.events.get(k, 0) for d in self.done.values() for k in d
                   if k >= WARM_SEGMENTS)

    def timeline(self) -> list[tuple]:
        """(query, batch id, input rows, start, busy ms) per measured batch."""
        return [(self._query_kind.get(p["id"]), p["batchId"], p["numInputRows"],
                 p["timestamp"], p["durationMs"].get("triggerExecution"))
                for p in self.data_batches()]

    def lag_segments_max(self) -> float:
        """Most measured segments due but not yet committed at any commit."""
        lag = 0
        for at in sorted(set(self.commit_at.values())):
            lag = max(lag, sum(1 for k in self.measured
                               if self.due[k] <= at < self.commit_at.get(k, float("inf"))))
        return float(lag)


def engine_metrics(runs: list[StreamStats]) -> dict[str, float]:
    """Engine, source and state figures over the measured micro-batches
    of one or more replays."""
    b = [p for st in runs for p in st.data_batches()]
    dur = lambda key: [p["durationMs"].get(key, 0) for p in b]  # noqa: E731
    state = [s for p in b for s in p.get("stateOperators") or []]
    last = {}
    for p in b:  # latest state figures per query
        if p.get("stateOperators"):
            last[p["id"]] = p["stateOperators"]
    src = [s for p in b for s in p.get("sources") or []]
    busy = sum(st.busy_s() for st in runs)
    span = sum(len(st.kinds) * st.wall for st in runs)
    return {
        "engine.batches": float(len(b)),
        "engine.batch_p50_s": median(dur("triggerExecution")) / 1000 if b else 0.0,
        "engine.plan_ms": float(sum(dur("queryPlanning"))),
        "engine.wal_commit_ms": float(sum(dur("walCommit")) + sum(dur("commitOffsets"))),
        "engine.idle_ratio": max(0.0, 1 - busy / span) if span else 0.0,
        "sources.offset_s": (sum(dur("latestOffset")) + sum(dur("getBatch"))) / 1000,
        "sources.input_rows": float(sum(s.get("numInputRows", 0) for s in src)),
        "state.rows_total": float(sum(s.get("numRowsTotal", 0)
                                      for ops in last.values() for s in ops)),
        "state.memory_bytes": float(sum(s.get("memoryUsedBytes", 0)
                                        for ops in last.values() for s in ops)),
        "state.commit_ms": float(sum(s.get("commitTimeMs", 0) for s in state)),
    }


def stream_outcome(runs: list[tuple[StreamStats, set[int], int]]) -> Outcome:
    """The Outcome of one or more replays measured one after another,
    each given as (stats, failed segments, sink files): per-segment
    freshness, capacity, and the engine/source/generator figures for the
    per-layer report.  The freshness median is the mean of the replays'
    medians, so each stream weighs the same and the figure does not jump
    between streams whose freshness differs."""
    stats = [st for st, _, _ in runs]
    f = [x for st in stats for x in st.freshness()]
    medians = [pct(st.freshness(), 50) for st in stats]
    p50 = None if None in medians else sum(medians) / len(medians)
    late = [x for st in stats for x in st.lateness]
    busy = sum(st.busy_s() for st in stats)
    capacity = sum(st.events_processed() for st in stats) / busy if busy > 0 else 0.0
    attempted = sum(len(st.attempted()) for st in stats)
    failed = sum(len(bad & set(st.attempted())) for st, bad, _ in runs)
    layers = engine_metrics(stats)
    layers["sources.lag_segments_max"] = max(st.lag_segments_max() for st in stats)
    layers["sinks.retries"] = float(sum(st.retries for st in stats))
    layers["sinks.files"] = float(sum(files for _, _, files in runs))
    layers["gen.lateness_p50_s"] = median(late) if late else 0.0
    layers["gen.lateness_max_s"] = max(late) if late else 0.0
    named = {"freshness_p50_s": (p50, "s"), "freshness_p90_s": (pct(f, 90), "s"),
             "capacity_eps": (capacity, "1/s"),
             "gen_lateness_max_s": (layers["gen.lateness_max_s"], "s"),
             "segments_measured": (sum(len(st.measured) for st in stats), "count"),
             "segments_committed": (sum(len(st.commit_at) for st in stats), "count")}
    notes = [st.error for st in stats if st.error] + [t for st in stats for t in st.timeline()]
    return Outcome(f, capacity, attempted, failed, layers, named, notes, p50_s=p50)
