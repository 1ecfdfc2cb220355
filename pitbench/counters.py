"""Per-layer Spark counters, read from outside the engine.

Every call into a layer runs under its own job group
(``SparkContext.setJobGroup``); afterwards the group's jobs and stages are
read back from Spark's status store through the UI REST API
(``/api/v1/applications/<app>/jobs`` and ``/stages/<id>``), the same API
``provenance.stage_metrics_snapshot`` reads. Nothing inside the engine is
instrumented.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

from py4j.protocol import Py4JError

_SETTLE_TIMEOUT_S = 30.0


class StatusStore:
    """Job-group tagging plus a reader for the groups' stage counters."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    @contextmanager
    def group(self, group_id: str):
        """Run the block's Spark jobs under ``group_id``; the group is
        cleared afterwards so later untagged jobs stay untagged."""
        self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _settle(self) -> None:
        """Wait until the status store has processed every posted event.

        A job's end event is posted before its action returns, but the
        status listener applies it asynchronously; draining the listener
        bus makes the group's jobs and stages final."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(
                int(_SETTLE_TIMEOUT_S * 1000)
            )
        except Py4JError:  # the JVM no longer exposes the bus method
            time.sleep(1.0)

    def jobs(self, group_id: str) -> list[dict]:
        self._settle()
        return [j for j in self._get("/jobs") if j.get("jobGroup") == group_id]

    def summary(self, group_id: str) -> dict:
        """Counters of every job in ``group_id``.

        ``stages`` counts stage attempts that ran (skipped ones excluded);
        ``task_skew`` is max ÷ median task duration of the stage with the
        most tasks."""
        jobs = self.jobs(group_id)
        stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
        ran = []
        for sid in stage_ids:
            for attempt in self._get(f"/stages/{sid}"):
                if attempt.get("status") != "SKIPPED":
                    ran.append(attempt)
        out = {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s.get("numTasks", 0) for s in ran),
            "failed_tasks": sum(s.get("numFailedTasks", 0) for s in ran),
            "cpu_s": sum(s.get("executorCpuTime", 0) for s in ran) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in ran) / 1e3,
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in ran),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in ran
            ),
            "task_skew": 1.0,
        }
        if ran:
            widest = max(ran, key=lambda s: s.get("numTasks", 0))
            q = self._get(
                f"/stages/{widest['stageId']}/{widest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )
            p50, p100 = q["duration"]
            out["task_skew"] = p100 / max(p50, 1.0)
        return out
