"""Stage, task and SQL-node metrics from Spark's own status store, read
through the local UI REST API (no listener JAR, nothing inside the
program under test)."""

from __future__ import annotations

import json
import re
import time
import urllib.request
from urllib.parse import urlparse

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _total_line(value: str) -> str:
    # "total (min, med, max (stageId: taskId))\n972.7 KiB (...)" or "972.7 KiB"
    return value.splitlines()[-1]


def size_bytes(value: str) -> float:
    m = _SIZE.search(_total_line(value))
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def count(value: str) -> int:
    return int(_total_line(value).split()[0].replace(",", ""))


class SparkUI:
    def __init__(self, sc) -> None:
        self.sc = sc
        port = urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _executions(self, jobs: set[int]) -> list[dict]:
        runs = self.get("/sql?details=true&planDescription=false"
                        "&offset=0&length=100000")
        return [e for e in runs
                if jobs & set(e["successJobIds"] + e["failedJobIds"])]

    def group(self, group: str, timeout_s: float = 30.0) -> "GroupStats":
        """Metrics of every job run under ``group``. The status store is
        fed asynchronously, so wait until it has seen the jobs and SQL
        executions finish."""
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.monotonic() + timeout_s
        while True:
            job_data = [self.get(f"/jobs/{j}") for j in sorted(jobs)]
            execs = self._executions(jobs)
            done = (all(j["status"] != "RUNNING" for j in job_data)
                    and execs
                    and all(e["status"] != "RUNNING" for e in execs))
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stage_ids = {s for j in job_data for s in j["stageIds"]}
        stages = [s for s in self.get("/stages")
                  if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        return GroupStats(self, stages, execs)


class GroupStats:
    def __init__(self, ui: SparkUI, stages: list[dict],
                 executions: list[dict]) -> None:
        self.ui = ui
        self.stages = stages
        # A persisted stage's plan is listed once under every scan of it;
        # the copies share their accumulators, so equal metrics = one node.
        seen, self.python_nodes = set(), []
        for e in executions:
            for node in e["nodes"]:
                if node["nodeName"] != "ArrowEvalPython":
                    continue
                metrics = {m["name"]: m["value"] for m in node["metrics"]}
                key = tuple(sorted(metrics.items()))
                if key not in seen:
                    seen.add(key)
                    self.python_nodes.append(metrics)

    def tasks(self) -> int:
        return sum(s["numCompleteTasks"] for s in self.stages)

    def gc_s(self) -> float:
        return sum(s["jvmGcTime"] for s in self.stages) / 1000

    def shuffle_write_mb(self) -> float:
        return sum(s["shuffleWriteBytes"] for s in self.stages) / 2**20

    def task_skew(self) -> float:
        """Max over median task run time in the stage that ran longest."""
        widest = max(self.stages, key=lambda s: s["executorRunTime"])
        summary = self.ui.get(
            f"/stages/{widest['stageId']}/{widest['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0")
        median, top = summary["executorRunTime"]
        return top / median if median else 1.0

    def python_rows(self) -> list[int]:
        """Rows returned by each distinct Python UDF node (a scalar UDF
        returns one row per row sent)."""
        return [count(n["number of output rows"]) for n in self.python_nodes]

    def python_mb_sent(self) -> float:
        return sum(size_bytes(n["data sent to Python workers"])
                   for n in self.python_nodes) / 2**20
