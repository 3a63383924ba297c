"""In-memory span recorder for the benchmark's traced runs.

Spans are recorded only from the benchmark's own files, around the
calls it makes into the program's layers, and only on objects the
benchmark constructed itself (the target's writer and Spark session,
the STATE sink, the query builders). Module attributes of the program
are never rebound, so a name bound at import time cannot bypass the
recorder.

A span is ``(name, start, end, parent, run_id)``; ``parent`` is the
index of the enclosing span or -1. A layer's self time is its span
duration minus the time its child spans cover. Spark jobs are tagged
with the name of the innermost span through ``setJobGroup``, so their
counts, tasks and shuffle bytes can be read back per layer from the
Spark UI's REST API after the run.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any


class Tracer:
    """Records spans when ``enabled``; a disabled tracer records nothing
    and its wrappers are never installed."""

    def __init__(self, enabled: bool, run_id: str, spark_context: Any = None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[list] = []  # [name, start, end, parent]
        self._stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str, job_group: bool = True) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), 0.0, parent]
        self.spans.append(rec)
        self._stack.append(idx)
        if job_group and self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()
            if job_group and self.sc is not None:
                outer = self._outer_group()
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(outer, outer)

    def _outer_group(self) -> str | None:
        return self.spans[self._stack[-1]][0] if self._stack else None

    def wrap(self, fn: Callable, name: str, job_group: bool = True) -> Callable:
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name, job_group):
                return fn(*args, **kwargs)

        return traced

    # -- analysis ----------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_time(self, name: str) -> float:
        """Sum over spans called ``name`` of duration minus child time."""
        child = defaultdict(float)
        for s in self.spans:
            if s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        return sum(
            (s[2] - s[1]) - child[i] for i, s in enumerate(self.spans) if s[0] == name
        )

    def count_under(self, name: str, ancestors: set[str]) -> int:
        """Spans called ``name`` with an enclosing span in ``ancestors``."""
        n = 0
        for s in self.spans:
            if s[0] != name:
                continue
            p = s[3]
            while p >= 0 and self.spans[p][0] not in ancestors:
                p = self.spans[p][3]
            n += p >= 0
        return n

    def top_level_s(self) -> float:
        """Time covered by spans with no parent, checks excluded."""
        return sum(s[2] - s[1] for s in self.spans if s[3] < 0 and not s[0].startswith("check."))

    def dump(self, path: str) -> None:
        """Write every span as one JSON line. Leaf ``singer.process_line``
        spans (a line that only parsed and buffered) are folded into one
        summary line per run, to keep the file small."""
        has_child = {s[3] for s in self.spans if s[3] >= 0}
        folded_n, folded_s = 0, 0.0
        with open(path, "w") as fh:
            for i, (name, start, end, parent) in enumerate(self.spans):
                if name == "singer.process_line" and i not in has_child:
                    folded_n += 1
                    folded_s += end - start
                    continue
                fh.write(json.dumps({"name": name, "start": start, "end": end,
                                     "parent": parent, "id": i, "run_id": self.run_id}) + "\n")
            fh.write(json.dumps({"name": "singer.process_line.leaf", "count": folded_n,
                                 "total_s": folded_s, "run_id": self.run_id}) + "\n")


class TracedSpark:
    """Stands in for ``target.spark``: times ``createDataFrame`` (the
    driver -> JVM hand-off) and passes everything else through."""

    def __init__(self, spark: Any, tracer: Tracer):
        self._spark = spark
        self._tracer = tracer

    def createDataFrame(self, data: Any, *args: Any, **kwargs: Any) -> Any:  # noqa: N802
        self._tracer.counts["handoff.calls"] += 1
        self._tracer.counts["handoff.rows"] += len(data) if hasattr(data, "__len__") else 0
        with self._tracer.span("handoff"):
            return self._spark.createDataFrame(data, *args, **kwargs)

    def __getattr__(self, name: str) -> Any:
        return getattr(self._spark, name)


class TracedWriter:
    """Stands in for ``target.writer``: one span per public write/read."""

    _METHODS = ("append", "upsert", "delete_where", "overwrite", "read")

    def __init__(self, writer: Any, tracer: Tracer):
        self._writer = writer
        for m in self._METHODS:
            setattr(self, m, tracer.wrap(getattr(writer, m), f"writer.{m}"))

    def __getattr__(self, name: str) -> Any:
        return getattr(self._writer, name)


# -- Spark UI REST ----------------------------------------------------------

def _rest(sc: Any, path: str) -> Any:
    ui = sc.uiWebUrl
    port = ui.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def job_stats(sc: Any) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, shuffle bytes (read + write), input
    records and output bytes, summed over the group's completed jobs."""
    stages = {(s["stageId"]): s for s in _rest(sc, "stages?status=complete")}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for job in _rest(sc, "jobs"):
        group = job.get("jobGroup")
        if not group:
            continue
        g = out[group]
        g["jobs"] += 1
        for sid in job.get("stageIds", []):
            s = stages.get(sid)
            if s is None:
                continue  # skipped stage (reused shuffle output)
            g["tasks"] += s.get("numCompleteTasks", 0)
            g["shuffle_bytes"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
            g["input_records"] += s.get("inputRecords", 0)
            g["output_bytes"] += s.get("outputBytes", 0)
    return out


def plan_phases_s(df: Any) -> float:
    """Force optimization + physical planning of ``df`` and return the
    summed QueryExecution tracker phases (analysis, optimization,
    planning), in seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total_ms = 0
    while it.hasNext():
        entry = it.next()
        total_ms += entry._2().durationMs()
    return total_ms / 1000.0
