"""In-memory spans, Spark engine counters and host diagnostics.

Spans are recorded only from the benchmark's own files, around each call
into a layer of the engine. A span is ``[op_id, name, start, end, parent]``
(times from ``time.perf_counter``; ``parent`` indexes ``Tracer.spans``).
Spans of one op share its ``op_id``; set-up spans use ``"setup"``.

Engine counters come from outside the engine: each traced op runs under
its own Spark job group, and after the run the local status REST API
(``<ui>/api/v1``) is read once for every job and stage of those groups.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request
from collections import defaultdict
from urllib.parse import urlsplit


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.enabled = True
        self.op_id = "setup"
        self._stack: list[int] = []

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [self.op_id, name, time.perf_counter(), None, parent]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, op_ids=None) -> list[float]:
        """Durations (s) of every span called ``name``, optionally only in
        the given ops."""
        return [
            s[3] - s[2]
            for s in self.spans
            if s[1] == name and (op_ids is None or s[0] in op_ids)
        ]

    def self_times(self) -> dict[str, float]:
        """Total self time (s) per span name: duration minus the time its
        direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s[4] is not None:
                child[s[4]] += s[3] - s[2]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s[1]] += (s[3] - s[2]) - child[i]
        return dict(out)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def spark_counters(sc, groups: list[str], settle_s: float = 15.0) -> dict[str, dict]:
    """Per job group: jobs, completed stages and tasks, input bytes/records,
    shuffle write bytes and executor run time, read from the local status
    REST API once every job of ``groups`` has finished."""
    port = urlsplit(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    wanted = set(groups)
    deadline = time.monotonic() + settle_s
    while True:
        jobs = [j for j in _get_json(base + "/jobs") if j.get("jobGroup") in wanted]
        if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages: dict[int, dict] = {}
    for s in _get_json(base + "/stages"):
        if s["status"] != "COMPLETE":
            continue
        acc = stages.setdefault(s["stageId"], defaultdict(int))
        acc["tasks"] += s["numCompleteTasks"]
        acc["input_bytes"] += s["inputBytes"]
        acc["input_records"] += s["inputRecords"]
        acc["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        acc["executor_run_ms"] += s["executorRunTime"]
    out = {g: defaultdict(int) for g in groups}
    for j in jobs:
        acc = out[j["jobGroup"]]
        acc["jobs"] += 1
        for sid in j["stageIds"]:
            if sid in stages:
                acc["stages"] += 1
                for k, v in stages[sid].items():
                    acc[k] += v
    return {g: dict(v) for g, v in out.items()}


class HostProbe:
    """CPU steal share and load average over a run, and the JVM's peak
    resident set (VmHWM). Diagnostics only: they describe the host, not
    the program."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self.cpu_start = self._cpu()

    @staticmethod
    def _cpu() -> tuple[int, int]:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        steal = fields[7] if len(fields) > 7 else 0
        # guest time is already counted in user time
        return steal, sum(fields[:8])

    @staticmethod
    def peak_rss_mb(pid: int | None) -> float | None:
        if pid is None:
            return None
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            return None
        return None

    def finish(self, jvm_pid: int | None) -> dict:
        steal, total = self._cpu()
        d_total = max(1, total - self.cpu_start[1])
        return {
            "cpu_steal_pct": round(100.0 * (steal - self.cpu_start[0]) / d_total, 3),
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "jvm_peak_rss_mb": self.peak_rss_mb(jvm_pid),
        }
