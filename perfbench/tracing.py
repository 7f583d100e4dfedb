"""Spans and Spark-side counters for a traced run.

A span is recorded around each call the benchmark makes into an engine
layer: name, start, end, parent span, run id. Each span runs under its
own Spark job group, so after the pass the jobs it launched are known
exactly (``statusTracker().getJobIdsForGroup``) and their timings and
stage metrics come from the driver's own status REST API on localhost.
Py4J commands sent while a span is open (its children's included) are
counted by wrapping the gateway client's ``send_command``; reference
releases are left out, as they follow the Python garbage collector.

A ``Tracer`` is used only in a separate traced run, so end-to-end
metrics are always measured with tracing off.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from py4j.protocol import MEMORY_COMMAND_NAME

MB = 1024.0 * 1024.0


def gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector, in seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set size of the driver JVM (``VmHWM``)."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _epoch(ts: str) -> float:
    # REST timestamps look like 2026-01-01T10:00:00.123GMT
    return (
        datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Tracer:
    """Records the spans of one traced pass; see the module docstring."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._calls = 0
        self._client = self._sc._gateway._gateway_client
        send = self._client.send_command

        def counted(command, *args, **kwargs):
            # reference releases follow the Python GC's timing, not the plan
            if not command.startswith(MEMORY_COMMAND_NAME):
                self._calls += 1
            return send(command, *args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        """Restore the uncounted gateway client."""
        self._client.__dict__.pop("send_command", None)

    def _group(self, sid: int) -> str:
        return f"{self.run_id}.{sid}"

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
            "start": time.time(),
            "end": None,
            "counters": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(self._group(sid), name)
        calls0 = self._calls
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["counters"]["py4j_calls"] = self._calls - calls0
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._group(self._stack[-1]), "")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    # ------------------------------------------------------------ counters
    def _rest(self, path: str):
        port = self._sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self._sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def collect_counters(self) -> None:
        """Attach job ids, job time and stage metrics to every span.

        Waits until the status store has every job of every span as
        finished, so the counts repeat exactly from run to run."""
        tracker = self._sc.statusTracker()
        ids = {
            s["id"]: sorted(tracker.getJobIdsForGroup(self._group(s["id"])))
            for s in self.spans
        }
        wanted = {j for v in ids.values() for j in v}
        deadline = time.time() + 60
        while True:
            jobs = {j["jobId"]: j for j in self._rest("jobs")}
            done = all(
                j in jobs and jobs[j].get("completionTime") for j in wanted
            )
            if done or time.time() > deadline:
                break
            time.sleep(0.2)
        if not done:
            raise RuntimeError("status store never reported every traced job done")
        stages = {
            (s["stageId"], s["attemptId"]): s for s in self._rest("stages")
        }
        by_stage: dict[int, list[dict]] = {}
        for (sid, _attempt), st in stages.items():
            by_stage.setdefault(sid, []).append(st)
        for s in self.spans:
            own = ids[s["id"]]
            stage_ids = {st for j in own for st in jobs[j]["stageIds"]}
            metrics = [m for st in stage_ids for m in by_stage.get(st, [])]

            def total(key: str) -> float:
                return sum(m.get(key, 0) for m in metrics) / MB

            s["counters"].update(
                job_ids=own,
                jobs=len(own),
                job_s=union_seconds(
                    [
                        (_epoch(jobs[j]["submissionTime"]), _epoch(jobs[j]["completionTime"]))
                        for j in own
                    ]
                ),
                scan_mb=total("inputBytes"),
                written_mb=total("outputBytes"),
                shuffle_mb=total("shuffleWriteBytes"),
                spill_mb=total("diskBytesSpilled"),
            )

    def self_times(self) -> None:
        """Span duration minus the part its children's spans cover."""
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]]
            s["self_s"] = (s["end"] - s["start"]) - union_seconds(kids)
