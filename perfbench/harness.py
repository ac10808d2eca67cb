"""Measurement helpers of the benchmark: spans, samplers and output checks.

Nothing here imports pyspark; the Spark-facing helpers take a
``SparkContext`` and use only its public ``statusTracker()``.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# spans and self time
# ---------------------------------------------------------------------------


def covered_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it that its children cover.

    ``spans`` are dicts with ``start``, ``end`` and ``parent`` (the index of
    the parent span, or None). Children may nest or overlap each other."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"])
        - covered_length(children.get(i, []), s["start"], s["end"])
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder. ``watermark`` (optional) is called at each
    span boundary, outside the span's clock, and its value is stored as
    ``wm0``/``wm1`` so jobs can be attributed to spans afterwards."""

    def __init__(self, watermark=None, clock=time.perf_counter):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._watermark = watermark
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        wm0 = self._watermark() if self._watermark else None
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": self._clock(),
            "end": None,
            "wm0": wm0,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = self._clock()
            self._stack.pop()
            rec["wm1"] = self._watermark() if self._watermark else None

    def durations(self) -> dict[str, float]:
        """Summed duration per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def partition_digest(rows) -> str:
    """Digest of the partition that ``(id, cluster_label)`` rows describe.

    Invariant to row order and to renaming cluster labels: only which ids
    share a cluster enters the digest."""
    groups: dict = {}
    for ident, label in rows:
        groups.setdefault(label, []).append(str(ident))
    canon = sorted("\x1f".join(sorted(members)) for members in groups.values())
    return hashlib.sha256("\x1e".join(canon).encode()).hexdigest()


def pair_recall(pairs, label_of: dict) -> float:
    """Share of expected ``(left, right)`` pairs whose ids carry one label.

    An id missing from ``label_of`` counts as a miss."""
    pairs = list(pairs)
    if not pairs:
        raise ValueError("pair_recall needs at least one expected pair")
    hit = sum(
        1
        for a, b in pairs
        if a in label_of and b in label_of and label_of[a] == label_of[b]
    )
    return hit / len(pairs)


# ---------------------------------------------------------------------------
# samplers
# ---------------------------------------------------------------------------


class Poller:
    """Calls ``fn`` every ``interval`` seconds on one thread while active."""

    def __init__(self, fn, interval: float):
        self._fn = fn
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self):
        while not self._stop.wait(self._interval):
            self._fn()


_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Peak RSS of this process tree (driver, JVM, Python workers)."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._pid = os.getpid()
        self.poller = Poller(self._sample, interval)

    def _sample(self):
        self.peak = max(self.peak, tree_rss_bytes(self._pid))


class JobStats:
    """Job and task counts from ``sc.statusTracker()`` only.

    Jobs are attributed by job-id range: the candidate paths of the
    pipeline run on driver threads that carry no job group, so a group
    filter would miss them. A value whose job or stage info the status
    store has already evicted comes back as None."""

    def __init__(self, sc):
        self._st = sc.statusTracker()

    def watermark(self) -> int:
        """Highest job id submitted so far (-1 before the first job)."""
        ids = list(self._st.getJobIdsForGroup()) + list(self._st.getActiveJobsIds())
        return max(ids, default=-1)

    def between(self, wm0: int, wm1: int) -> dict:
        """Jobs, tasks and failed tasks of the jobs with id in (wm0, wm1].

        A stage shared by several jobs (a reused shuffle) counts once, for
        the first job that lists it; stages that ran before ``wm0`` count
        for none."""
        out = {"jobs": wm1 - wm0, "tasks": 0, "failed_tasks": 0}
        seen: set[int] = set()
        older = self._stage_floor(wm0)
        for job in range(wm0 + 1, wm1 + 1):
            info = self._st.getJobInfo(job)
            if info is None:
                return {"jobs": wm1 - wm0, "tasks": None, "failed_tasks": None}
            for sid in list(info.stageIds):
                if sid in seen or sid <= older:
                    continue
                seen.add(sid)
                stage = self._st.getStageInfo(sid)
                if stage is None:
                    return {"jobs": wm1 - wm0, "tasks": None, "failed_tasks": None}
                out["tasks"] += stage.numCompletedTasks + stage.numFailedTasks
                out["failed_tasks"] += stage.numFailedTasks
        return out

    def _stage_floor(self, wm: int) -> int:
        """Highest stage id among the jobs up to ``wm`` (-1 if none)."""
        floor = -1
        for job in range(max(0, wm - 20), wm + 1):
            info = self._st.getJobInfo(job)
            if info is not None:
                floor = max([floor, *list(info.stageIds)])
        return floor


class ActivitySampler:
    """Share of samples with no active job, and mean running tasks per core."""

    def __init__(self, sc, interval: float = 0.05):
        self._st = sc.statusTracker()
        self._cores = sc.defaultParallelism
        self.samples = 0
        self.idle = 0
        self.busy_cores = 0.0
        self.poller = Poller(self._sample, interval)

    def _sample(self):
        self.samples += 1
        if not list(self._st.getActiveJobsIds()):
            self.idle += 1
            return
        running = 0
        for sid in list(self._st.getActiveStageIds()):
            stage = self._st.getStageInfo(sid)
            if stage is not None:
                running += stage.numActiveTasks
        self.busy_cores += running / self._cores

    def idle_frac(self) -> float:
        return self.idle / self.samples if self.samples else 0.0

    def core_util(self) -> float:
        return self.busy_cores / self.samples if self.samples else 0.0
