"""Spark's own counters, read from outside the engine: the local REST
status API (jobs and stages) and each DataFrame's QueryExecution
phase tracker."""

from __future__ import annotations

import json
import urllib.request

_DONE = {"COMPLETE", "FAILED"}


class RestStatus:
    """Snapshots of the application's jobs and stages from the Spark UI
    REST API on localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is disabled; its REST API is needed for per-layer metrics")
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        # events reach the status store asynchronously; drain the bus first
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return {
            "jobs": {j["jobId"] for j in self._get("/jobs")},
            "stages": {
                (s["stageId"], s["attemptId"]): s
                for s in self._get("/stages")
                if s["status"] in _DONE
            },
        }


def stage_delta(before: dict, after: dict) -> dict:
    """Totals over the jobs and finished stages that appeared between
    two snapshots."""
    stages = [s for k, s in after["stages"].items() if k not in before["stages"]]
    total = lambda key: sum(s.get(key, 0) for s in stages)  # noqa: E731
    return {
        "jobs": len(after["jobs"] - before["jobs"]),
        "stages": len(stages),
        "tasks": total("numCompleteTasks") + total("numFailedTasks"),
        "failed_tasks": total("numFailedTasks"),
        "executor_run_ms": total("executorRunTime"),
        "executor_cpu_ms": total("executorCpuTime") / 1e6,
        "gc_ms": total("jvmGcTime"),
        "input_bytes": total("inputBytes"),
        "input_rows": total("inputRecords"),
        "shuffle_read_bytes": total("shuffleReadBytes"),
        "shuffle_write_bytes": total("shuffleWriteBytes"),
        "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
    }


def query_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations (analysis, optimization, planning) the
    DataFrame's QueryExecution tracker recorded; run after an action on
    ``df`` itself so the later phases are filled in."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.keySet().iterator()
    while it.hasNext():
        name = it.next()
        out[str(name)] = float(phases.apply(name).durationMs())
    return out
