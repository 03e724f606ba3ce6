"""Per-op Spark execution counters from the status REST API.

Each traced op runs under its own job group; after the measured window one
pass over ``/api/v1/applications/<app>/{jobs,stages}`` sums the completed
stage attempts of each group's jobs. Skipped stages (reused shuffle output)
have no completed attempt, so they are not counted twice. Same approach as
``bench.py``'s ``TaskTimeMeter``, extended with task, input-record, shuffle
and spill counts.
"""

from __future__ import annotations

import json
import time
import urllib.request

FIELDS = ("jobs", "stages", "tasks", "task_ms", "rows_scanned",
          "shuffle_bytes", "spill_bytes")


class JobGroupMeter:
    def __init__(self, spark, prefix: str = "perfbench"):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.groups: set[str] = set()

    def group_of(self, op_id: int) -> str:
        return f"{self.prefix}-{op_id}"

    def tag(self, op_id: int) -> None:
        g = self.group_of(op_id)
        self.groups.add(g)
        self.sc.setJobGroup(g, g, interruptOnCancel=False)

    def untag(self) -> None:
        self.sc.setJobGroup("", "")

    def _get(self, path: str):
        base = self.sc.uiWebUrl
        app = self.sc.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/{path}", timeout=30
        ) as r:
            return json.load(r)

    def collect(self, settle_s: float = 10.0) -> dict[int, dict]:
        """op_id -> counters, once the status store has seen every tagged
        job finish (the listener bus updates it asynchronously)."""
        if not self.groups:
            return {}
        deadline = time.monotonic() + settle_s
        seen = -1
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in self.groups]
            settled = len(jobs) == seen and all(
                j["status"] != "RUNNING" for j in jobs
            )
            if settled or time.monotonic() > deadline:
                break
            seen = len(jobs)
            time.sleep(0.3)
        stages = self._get("stages?status=complete")
        by_stage: dict[int, dict] = {}
        for s in stages:
            # a stage retried after a failure completes once; keep the
            # attempt with the most work
            cur = by_stage.get(s["stageId"])
            if cur is None or s.get("executorRunTime", 0) > cur.get("executorRunTime", 0):
                by_stage[s["stageId"]] = s
        out: dict[int, dict] = {}
        for j in jobs:
            op_id = int(j["jobGroup"].rsplit("-", 1)[1])
            acc = out.setdefault(op_id, {f: 0 for f in FIELDS} | {"_stages": set()})
            acc["jobs"] += 1
            for sid in j.get("stageIds", []):
                s = by_stage.get(sid)
                if s is None or sid in acc["_stages"]:
                    continue
                acc["_stages"].add(sid)
                acc["stages"] += 1
                acc["tasks"] += s.get("numCompleteTasks", 0)
                acc["task_ms"] += s.get("executorRunTime", 0)
                acc["rows_scanned"] += s.get("inputRecords", 0)
                acc["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
                acc["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get(
                    "diskBytesSpilled", 0
                )
        for acc in out.values():
            del acc["_stages"]
        return out
