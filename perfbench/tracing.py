"""Traced-run tooling: an in-memory span recorder and a parser that turns
the session's uncompressed Spark event log into per-layer engine numbers.

Spans are recorded by the benchmark around its calls into the engine's
public functions; nothing inside the engine is instrumented.  Every span
also tags the Spark jobs it launches with ``setJobDescription`` so the
event log can be split by layer afterwards.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

TAG_PREFIX = "perfbench:"


class _NoSpans:
    """Stand-in recorder for untraced ops: spans cost nothing."""

    def span(self, *args, **kwargs):
        return contextlib.nullcontext()


NO_SPANS = _NoSpans()


class SpanRecorder:
    """Spans ``{id, name, op, parent, start, end}`` kept in memory; one
    ``op`` id is shared by every span of one operation."""

    def __init__(self, spark_context):
        self._sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | str, tag: str | None = None):
        """Record one span; ``tag`` (default ``name``) becomes the job
        description of every Spark job started inside it.  The recorder's
        own work (two py4j calls per boundary) is kept in ``cost``."""
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        outer = self._sc.getLocalProperty("spark.job.description")
        self._sc.setJobDescription(TAG_PREFIX + (tag or name))
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._sc.setJobDescription(outer)
            rec["cost"] = rec["start"] - t0 + time.perf_counter() - rec["end"]

    def duration(self, name: str, op: int | str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["op"] == op
        )

    def overhead_s(self, op: int | str) -> float:
        """Seconds the recorder itself spent on the spans of ``op``."""
        return sum(s["cost"] for s in self.spans if s["op"] == op)

    def self_times(self, op: int | str) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover
        (children of one parent run one after another here, so covering
        time is the sum of their durations)."""
        spans = [s for s in self.spans if s["op"] == op]
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


#: per-tag engine counters read from the event log
SPARK_FIELDS = (
    "executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "jobs",
    "python_worker_s",
)

_PY_RUN_METRIC = "time to run Python workers"  # SQL timing metric, ms


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Event log -> ``{tag: {field: value}}`` for jobs whose description
    starts with :data:`TAG_PREFIX`.  Stages are attributed through the
    description carried by their submission event."""
    stage_tag: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_FIELDS, 0.0)
    )

    def tag_of(props: dict | None) -> str | None:
        desc = (props or {}).get("spark.job.description") or ""
        return desc[len(TAG_PREFIX):] if desc.startswith(TAG_PREFIX) else None

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tag = tag_of(ev.get("Properties"))
                if tag is not None:
                    out[tag]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                tag = tag_of(ev.get("Properties"))
                if tag is not None:
                    stage_tag[ev["Stage Info"]["Stage ID"]] = tag
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev["Stage ID"])
                if tag is None:
                    continue
                row = out[tag]
                m = ev.get("Task Metrics") or {}
                row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                )
                row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in ev.get("Task Info", {}).get("Accumulables", ()):
                    if acc.get("Name") == _PY_RUN_METRIC:
                        row["python_worker_s"] += float(acc["Update"]) / 1e3
    return dict(out)
