"""Spark ledger: the jobs and stages of a run, read back from the
driver's own UI REST API over loopback and grouped by job group (one
group per operation)."""

from __future__ import annotations

import datetime as dt
import json
import time
import urllib.request


def _ts(s: str | None) -> float | None:
    """'2026-10-17T06:48:15.990GMT' -> epoch seconds."""
    if not s:
        return None
    return (
        dt.datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


class Ledger:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until no job is running and the REST view has caught up
        with the status tracker (the UI store is fed asynchronously)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            tracker = self.sc.statusTracker()
            if not tracker.getActiveJobsIds():
                jobs = self._get("/jobs")
                if all(j["status"] != "RUNNING" for j in jobs):
                    return
            time.sleep(0.2)

    def collect(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, stages by id) with times as epoch seconds."""
        self.settle()
        jobs = self._get("/jobs")
        stages: dict[int, dict] = {}
        for st in self._get("/stages"):
            if st["status"] != "COMPLETE":
                continue  # skipped stages (reused shuffle output) ran nothing
            prev = stages.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                stages[st["stageId"]] = st
        # a shuffle stage shared by several jobs ran once: it belongs to
        # the first job that lists it
        claimed: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            j["t0"] = _ts(j.get("submissionTime"))
            j["t1"] = _ts(j.get("completionTime"))
            j["own_stages"] = [
                s for s in j["stageIds"] if s in stages and s not in claimed
            ]
            claimed.update(j["own_stages"])
        for st in stages.values():
            st["t0"] = _ts(st.get("submissionTime"))
            st["t_first"] = _ts(st.get("firstTaskLaunchedTime"))
            st["t1"] = _ts(st.get("completionTime"))
        return jobs, stages


def op_counters(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Totals over a set of jobs (one operation's, usually)."""
    out = {
        "jobs": len(jobs),
        "stages": 0,
        "tasks": 0,
        "executor_run_ms": 0.0,
        "executor_cpu_ms": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "input_bytes": 0,
        "input_records": 0,
        "output_bytes": 0,
        "gc_ms": 0.0,
        "stage_queue_ms": [],
    }
    for j in jobs:
        for sid in j["own_stages"]:
            st = stages[sid]
            out["stages"] += 1
            out["tasks"] += st["numTasks"]
            out["executor_run_ms"] += st["executorRunTime"]
            out["executor_cpu_ms"] += st["executorCpuTime"] / 1e6
            out["shuffle_read_bytes"] += st["shuffleReadBytes"]
            out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["input_bytes"] += st["inputBytes"]
            out["input_records"] += st["inputRecords"]
            out["output_bytes"] += st["outputBytes"]
            out["gc_ms"] += st["jvmGcTime"]
            if st["t0"] is not None and st["t_first"] is not None:
                out["stage_queue_ms"].append((st["t_first"] - st["t0"]) * 1000)
    return out
