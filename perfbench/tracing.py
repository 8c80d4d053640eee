"""Spans and Spark job-group accounting around the benchmark's layer calls.

A disabled ``Tracer`` records nothing and touches no Spark state, so the
untraced run measures the program alone. An enabled one keeps every span
(name, start, end, parent, run id) in memory, tags each layer call with a
Spark job group, and after the timed part reads the jobs and stages of
those groups from ``statusTracker`` and the monitoring REST API.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request

# Span-name prefixes that name a layer, longest first.
LAYERS = (
    "dms.extract",
    "dms.store",
    "search.index",
    "queries",
    "session",
    "bench",
)

_DONE_JOB = {"SUCCEEDED", "FAILED"}
_DONE_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


def layer_of(name: str) -> str:
    for prefix in LAYERS:
        if name == prefix or name.startswith(prefix + "."):
            return prefix
    return "bench"


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.groups: dict[str, int] = {}  # job group id -> span id
        self.jobs: dict[int, dict] = {}  # span id -> job_metrics() entry
        # seconds tracing adds to the run: span bookkeeping, the workloads'
        # layout samples and the job-metric readback
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = False):
        """Record ``name`` around the block; with ``job_group`` the Spark
        jobs it starts are tagged so their counts can be read back."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": 0.0,
            "end": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = None
        if job_group and self._sc is not None:
            group = f"{self.run_id}-{sid}"
            self._sc.setJobGroup(group, name)
            self.groups[group] = sid
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = t_out = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += time.perf_counter() - t_out

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span (children of one
        span run one after another, so their durations add up)."""
        child_s = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] += rec["end"] - rec["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for rec in self.spans:
            own = rec["end"] - rec["start"] - child_s[rec["id"]]
            out[layer_of(rec["name"])] += max(0.0, own)
        return out

    def job_metrics(self, timeout_s: float = 30.0) -> dict[int, dict]:
        """Per traced span id: Spark jobs, tasks run, input and shuffle-write
        bytes and executor run time of the jobs started in its group. Each
        stage counts once, for the first job that ran it. Waits until the
        status store has seen every job and stage finish."""
        if not self.groups:
            return {}
        t_in = time.perf_counter()
        sc = self._sc
        tracker = sc.statusTracker()
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        deadline = time.monotonic() + timeout_s
        while True:
            ids = {g: tracker.getJobIdsForGroup(g) for g in self.groups}
            jobs = {j["jobId"]: j for j in _get_json(f"{base}/jobs")}
            stages = {}
            for s in _get_json(f"{base}/stages"):
                stages.setdefault(s["stageId"], []).append(s)
            wanted = [jobs.get(j) for js in ids.values() for j in js]
            settled = all(j is not None and j["status"] in _DONE_JOB for j in wanted) and all(
                a["status"] in _DONE_STAGE
                for j in wanted
                for sid in j["stageIds"]
                for a in stages.get(sid, [])
            )
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.25)
        owner: dict[int, str] = {}
        for group, js in sorted(ids.items(), key=lambda kv: min(kv[1], default=-1)):
            for j in sorted(js):
                for sid in jobs.get(j, {}).get("stageIds", []):
                    owner.setdefault(sid, group)
        out = {}
        for group, js in ids.items():
            found = [jobs[j] for j in js if j in jobs]
            m = {
                "spark_jobs": len(js),
                "tasks": sum(j["numCompletedTasks"] for j in found),
                "input_bytes": 0,
                "shuffle_write_bytes": 0,
                "executor_run_s": 0.0,
            }
            for sid, g in owner.items():
                if g != group:
                    continue
                for a in stages.get(sid, []):
                    if a["status"] == "SKIPPED":
                        continue
                    m["input_bytes"] += a.get("inputBytes", 0)
                    m["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
                    m["executor_run_s"] += a.get("executorRunTime", 0) / 1000.0
            out[self.groups[group]] = m
        self.jobs = out
        self.bookkeeping_s += time.perf_counter() - t_in
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, "jobs": self.jobs}, fh)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)
