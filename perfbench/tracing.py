"""In-memory spans, Spark job-group counters and process-tree RSS.

Spans are kept in a list and written as JSON lines when the run ends.
Counters come from Spark itself: `statusTracker` maps a job group to
its jobs and stages, and the REST status API (UI enabled in traced
runs only) gives each stage's task metrics.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None):
        self._next += 1
        rec = {"trace_id": trace_id, "span_id": self._next, "parent": parent, "name": name}
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")


class SparkCounters:
    """Totals over the jobs one job group ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setJobGroup(None, None)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    def totals(self, group: str, timeout_s: float = 15.0) -> dict:
        """Wait until the listener has every stage of the group's jobs
        settled, then sum their metrics."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = sorted(tracker.getJobIdsForGroup(group))
            infos = [tracker.getJobInfo(j) for j in jobs]
            stage_ids = {s for info in infos if info for s in info.stageIds}
            stages = [st for st in self._get("/stages?details=false") if st["stageId"] in stage_ids]
            settled = (
                all(info and info.status == "SUCCEEDED" for info in infos)
                and {st["stageId"] for st in stages} == stage_ids
                and all(st["status"] in ("COMPLETE", "SKIPPED") for st in stages)
            )
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        ran = [st for st in stages if st["status"] == "COMPLETE"]
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(st["numCompleteTasks"] for st in ran),
            "input_bytes": sum(st["inputBytes"] for st in ran),
            "shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in ran),
            "spill_bytes": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in ran),
            "executor_run_s": sum(st["executorRunTime"] for st in ran) / 1e3,
            "executor_cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
        }


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue  # exited while scanning
        pid = int(entry)
        children.setdefault(int(fields["PPid"]), []).append(pid)
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return max(self.peak_kb, _tree_rss_kb(os.getpid())) / 1024.0
