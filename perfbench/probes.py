"""Measurement helpers: spans, Spark job rollups, index-dir stats, RSS.

Spans are recorded by the benchmark around each public call it makes
into the engine.  Spark work is attributed to a call by its window:
the benchmark is the only job submitter, so every job whose submission
time falls inside a call's span belongs to that call.  Job, stage and
task figures are read from the driver's live status store after the
timed region, so reading them costs the timed calls nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory spans: name, start, end, parent and request id."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "request": request,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.time(), "end": None})
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def spark_jobs(spark) -> list[dict]:
    """Every job the driver ran, with its executed stages' task metrics."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for job in _seq(store.jobsList(None)):
        sub, done = job.submissionTime(), job.completionTime()
        stages = []
        for sid in _seq(job.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that was never submitted
                continue
            if str(st.status()) != "COMPLETE":
                continue
            tasks = store.taskList(sid, st.attemptId(), 1 << 30)
            stages.append({
                "id": sid,
                "tasks": st.numTasks(),
                "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "task_s": [t.duration().get() / 1e3 for t in _seq(tasks)
                           if t.duration().isDefined()],
            })
        jobs.append({
            "id": job.jobId(),
            "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "end": done.get().getTime() / 1e3 if done.isDefined() else None,
            "stages": stages,
        })
    return jobs


def jobs_in(jobs: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    return [j for j in jobs if j["start"] is not None
            and any(t0 <= j["start"] <= t1 for t0, t1 in windows)]


def rollup(jobs: list[dict]) -> dict:
    """Task-metric totals of a call's jobs (stages counted once)."""
    stages = {s["id"]: s for j in jobs for s in j["stages"]}.values()
    task_s = [t for s in stages for t in s["task_s"]]
    med = statistics.median(task_s) if task_s else 0.0
    return {
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_run_s": sum(s["run_s"] for s in stages),
        "executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "task_s_max_over_median": max(task_s) / med if med > 0 else 0.0,
    }


def job_busy_s(jobs: list[dict], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] during which at least one job was running."""
    clipped = sorted((max(j["start"], t0), min(j["end"] or t1, t1)) for j in jobs
                     if j["start"] is not None)
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            busy += 0.0 if cur_b is None else cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return busy + (0.0 if cur_b is None else cur_b - cur_a)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def stage_stats(stage_dir: str) -> dict:
    """rows, files, bytes and row skew of one checkpointed stage, from its
    ``_manifest.json`` and the files on disk."""
    with open(os.path.join(stage_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    counts = manifest["partition_row_counts"]
    med = statistics.median(counts) if counts else 0
    files = sum(f.endswith(".parquet") for _, _, fs in os.walk(stage_dir) for f in fs)
    return {
        "rows": manifest["n_rows"],
        "files": files,
        "bytes": dir_bytes(stage_dir),
        "file_rows_max_over_median": max(counts) / med if med else 0.0,
    }


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICKS = os.sysconf("SC_CLK_TCK")


def _process_table() -> dict[int, tuple[int, int, float]]:
    """pid -> (parent pid, resident KiB, CPU seconds incl. reaped children)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1]: parent pid; [11:15]: user, system, reaped children's
        # user and system ticks; [21]: resident pages
        cpu = sum(int(x) for x in fields[11:15]) / _TICKS
        table[int(entry)] = (int(fields[1]), int(fields[21]) * _PAGE_KB, cpu)
    return table


def _tree(table: dict, root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants(root_pid: int) -> list[int]:
    """A process and every process below it."""
    return _tree(_process_table(), root_pid)


def tree_usage(root_pid: int, table: dict | None = None) -> tuple[int, float]:
    """(resident KiB, CPU seconds) summed over a process and its descendants."""
    table = table or _process_table()
    usage = [table.get(pid, (0, 0, 0.0)) for pid in _tree(table, root_pid)]
    return sum(u[1] for u in usage), sum(u[2] for u in usage)


class RssSampler:
    """Peak summed RSS of a process tree (the driver JVM and the Python
    workers it forks), sampled from /proc on a background thread."""

    def __init__(self, root_pid: int, interval: float = 0.25) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self.peak_root_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _process_table()
        self.peak_kb = max(self.peak_kb, tree_usage(self.root_pid, table)[0])
        self.peak_root_kb = max(self.peak_root_kb, table.get(self.root_pid, (0, 0, 0))[1])

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
