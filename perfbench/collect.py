"""Outside-in collectors: everything here observes the engine through
public surfaces (``/proc``, Spark's status tracker and status store,
the streaming-query listener) and never changes what it runs.

* :class:`TreeSampler` — peak memory (summed PSS) of this process and
  all descendants (Python driver, JVM, Python workers), sampled on a
  thread.
* :class:`ProgressLog` — a ``StreamingQueryListener`` keeping every
  progress event as a dict.
* :class:`JobLog` — job, stage and task counts and stage metrics for
  the jobs a call caused, found as a status-store diff: job ids are
  sequential, so the jobs after a call are the ids past the last one
  seen. (``getJobIdsForGroup`` would miss micro-batch jobs, which run
  on the stream thread under the query's own job group.)
* :class:`Tracer` — in-memory spans and per-layer self time.
"""

from __future__ import annotations

import bisect
import json
import os
import signal
import threading
import time
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":
            kids.setdefault(int(ppid), []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among
    the processes sharing them, so a child forked from the JVM is not
    counted as a second JVM."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class TreeSampler:
    """Samples the process tree every ``period`` seconds on a thread."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self.peak_python_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = descendants(me)
            rss = {p: _pss_kb(p) for p in [me, *pids]}
            if sum(rss.values()) > self.peak_kb:
                self.peak_kb = sum(rss.values())
                self.peak_parts = {f"{p} {_cmdline(p)[:60]}": kb
                                   for p, kb in rss.items()}
            workers = sum("pyspark.daemon" in _cmdline(p)
                          or "pyspark.worker" in _cmdline(p) for p in pids)
            self.peak_python_workers = max(self.peak_python_workers, workers)
            self._stop.wait(self.period)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap_descendants(grace: float = 15.0) -> None:
    """Wait for every descendant to end; TERM, then KILL, stragglers."""
    def alive() -> list[int]:
        while True:  # reap our own exited children
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        return descendants()

    deadline = time.time() + grace
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = alive()
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.time() + 5
        while alive() and time.time() < deadline:
            time.sleep(0.1)


def epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` as a dict."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.id))

    def snapshot(self) -> list[dict]:
        with self.lock:
            return list(self.progress)

    def wait_terminated(self, timeout: float = 10.0) -> None:
        """Wait until every started query's termination (and so its last
        progress event) has been delivered."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    return
            time.sleep(0.02)


def batch_window(p: dict) -> tuple[float, float]:
    start = epoch_s(p["timestamp"])
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1e3


class JobLog:
    """Status-store diff of the jobs run since the last :meth:`take`.

    Create it on a young SparkContext: it finds the next job id by
    probing from 0, which needs job 0 still retained by the store. A
    stage that a later job reuses (skipped there) is counted once, with
    the job that ran it."""

    TERMINAL = ("SUCCEEDED", "FAILED")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.counted: set[int] = set()
        self.next_id = 0
        while self.tracker.getJobInfo(self.next_id) is not None:
            self.next_id += 1

    def take(self, settle: float = 5.0) -> list[dict]:
        """Jobs submitted since the last call, with their stages read
        from the status store once each job has finished."""
        jobs = []
        while True:
            info = self.tracker.getJobInfo(self.next_id)
            if info is None:
                break
            deadline = time.time() + settle
            while info.status not in self.TERMINAL and time.time() < deadline:
                time.sleep(0.01)
                info = self.tracker.getJobInfo(self.next_id)
            jobs.append(self._job(info))
            self.next_id += 1
        return jobs

    def _job(self, info) -> dict:
        jd = self.store.job(info.jobId)
        sub, end = jd.submissionTime(), jd.completionTime()
        job = {
            "job": info.jobId,
            "status": info.status,
            "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "end": end.get().getTime() / 1e3 if end.isDefined() else None,
            "stages": [],
        }
        for sid in info.stageIds:
            if sid in self.counted:
                continue
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage never ran
                continue
            if str(sd.status()) not in ("COMPLETE", "FAILED"):
                continue
            self.counted.add(sid)
            job["stages"].append({
                "stage": sid,
                "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                "failed_tasks": sd.numFailedTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_read_b": sd.shuffleReadBytes(),
                "shuffle_write_b": sd.shuffleWriteBytes(),
                "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "input_b": sd.inputBytes(),
            })
        return job


def job_totals(jobs: list[dict]) -> dict[str, float]:
    stages = [s for j in jobs for s in j["stages"]]
    mb = 1024 * 1024
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "failed_tasks": sum(s["failed_tasks"] for s in stages),
        "exec.task_run_s": sum(s["run_s"] for s in stages),
        "exec.task_cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / mb,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / mb,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / mb,
        "exec.input_mb": sum(s["input_b"] for s in stages) / mb,
    }


PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets")

# Span ranks: a span's parent is the enclosing span of the next lower rank.
RANKS = {"generator": 0, "plan": 0, "builder": 0, "execute": 0,
         "microbatch": 1, "phase": 2, "job": 3}


class Tracer:
    """In-memory spans: (layer, name, start, end, attrs). Written out
    once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, layer: str, name: str, start: float, end: float,
            **attrs) -> None:
        self.spans.append({"layer": layer, "name": name, "start": start,
                           "end": end, **attrs})

    def add_batches(self, progress: list[dict]) -> None:
        """One span per micro-batch, its progress phases laid out in
        execution order as child spans."""
        for p in progress:
            start, end = batch_window(p)
            self.add("microbatch", f"{p.get('name') or p['id']}#"
                     f"{p['batchId']}", start, end,
                     rows=p.get("numInputRows", 0))
            t = start
            for ph in PHASES:
                ms = p["durationMs"].get(ph)
                if ms:
                    self.add("phase", ph, t, min(end, t + ms / 1e3))
                    t = min(end, t + ms / 1e3)

    def add_jobs(self, jobs: list[dict]) -> None:
        for j in jobs:
            if j["start"] is not None and j["end"] is not None:
                self.add("job", f"job{j['job']}", j["start"], j["end"],
                         stages=[s["stage"] for s in j["stages"]],
                         tasks=sum(s["tasks"] for s in j["stages"]))

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by its child spans. A span's
        parent is the highest-ranked lower-rank span holding its midpoint
        (spans of one rank below ``job`` never overlap)."""
        by_rank: dict[int, list[dict]] = {}
        for s in self.spans:
            by_rank.setdefault(RANKS[s["layer"]], []).append(s)
        for spans in by_rank.values():
            spans.sort(key=lambda s: s["start"])
        starts = {r: [s["start"] for s in v] for r, v in by_rank.items()}
        covered: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            mid = (s["start"] + s["end"]) / 2
            for r in sorted((r for r in by_rank if r < RANKS[s["layer"]]),
                            reverse=True):
                i = bisect.bisect_right(starts[r], mid) - 1
                if i >= 0 and by_rank[r][i]["end"] >= mid:
                    covered.setdefault(id(by_rank[r][i]), []).append(
                        (s["start"], s["end"]))
                    break
        out: dict[str, float] = {}
        for s in self.spans:
            used, cur = 0.0, s["start"]
            for a, b in sorted(covered.get(id(s), [])):
                a, b = max(a, cur), min(b, s["end"])
                if b > a:
                    used += b - a
                    cur = b
            own = max(0.0, s["end"] - s["start"] - used)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
