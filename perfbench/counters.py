"""Spark-side counters read through public interfaces only.

- Job, stage and task counts come from ``SparkContext.statusTracker()``.
- Byte counters (input, shuffle write, spill, output) come from Spark's
  monitoring REST API, which is served only while ``spark.ui.enabled`` is
  true; the traced run turns it on.
- Peak RSS is sampled from ``/proc`` over this process and its descendants
  (the driver JVM and the Python workers). Each process counts its
  proportional set size, so pages that forked Python workers share with
  their parent are counted once, not once per worker.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.parse
import urllib.request

MB = 1024 * 1024


def max_job_id(sc) -> int:
    """Highest job ID the status store holds (-1 before the first job).
    The engine sets no job groups, so every job is in the ``None`` group."""
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def job_stages(sc, lo: int, hi: int) -> set[int]:
    """Stage IDs of the jobs with ID in ``(lo, hi]``."""
    tracker = sc.statusTracker()
    out: set[int] = set()
    for jid in range(lo + 1, hi + 1):
        info = tracker.getJobInfo(jid)
        if info is not None:
            out.update(info.stageIds)
    return out


def stage_tasks(sc, stage_ids: set[int]) -> dict[str, int]:
    """Stages that ran (skipped ones have no tasks), and their tasks."""
    tracker = sc.statusTracker()
    stages = tasks = failed = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue
        stages += 1
        tasks += info.numCompletedTasks + info.numFailedTasks
        failed += info.numFailedTasks
    return {"stages": stages, "tasks": tasks, "failed_tasks": failed}


def rest_stage_bytes(sc) -> dict[int, dict[str, float]]:
    """Per-stage byte counters in MB from the monitoring REST API, summed
    over stage attempts."""
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=30) as resp:
        attempts = json.load(resp)
    out: dict[int, dict[str, float]] = {}
    for a in attempts:
        d = out.setdefault(a["stageId"], {"input_mb": 0.0, "output_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0})
        d["input_mb"] += a.get("inputBytes", 0) / MB
        d["output_mb"] += a.get("outputBytes", 0) / MB
        d["shuffle_write_mb"] += a.get("shuffleWriteBytes", 0) / MB
        d["spill_mb"] += (a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)) / MB
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _stat_fields(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name (field 3 on);
    the name may hold spaces, the fields after it are fixed."""
    with open(f"/proc/{pid}/stat") as fh:
        stat = fh.read()
    return stat[stat.rindex(")") + 2 :].split()


def tree_pids(root: int) -> set[int]:
    """``root`` and every live descendant of it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            parent[int(entry)] = int(_stat_fields(int(entry))[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, counting children they have reaped. The kernel charges a
    process only for the time it ran, so time the hypervisor gave to other
    guests (steal) is not in it."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of the stat line
        ticks += sum(int(x) for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the memory of a process tree (summed PSS)."""

    def __init__(self, root: int, period_s: float = 1.0):
        self.root = root
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(self.root))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
