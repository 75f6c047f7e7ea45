"""Benchmark-side tracing: spans around calls into the engine's layers.

Spans are recorded from the benchmark's own files, around calls into
each module's public functions; the engine itself is not instrumented.
A span holds its name, start, end, parent and request id, and spans are
kept in memory until the run writes them out.  A span's self time is its
duration minus the part of it that its child spans cover.

Counters kept at the same boundaries:
- py4j round trips, by wrapping the gateway client's ``send_command``;
- Spark jobs / stages / tasks / failed tasks per request, by tagging
  each request with ``setJobGroup`` and reading ``statusTracker`` once
  the run is over (listener events arrive asynchronously, so reading
  right after an action could miss the last stage).
"""

from __future__ import annotations

import contextlib
import time
from typing import Dict, Iterator, List, Optional, Sequence, Tuple


def covered(interval: Tuple[float, float], parts: Sequence[Tuple[float, float]]) -> float:
    """Length of the part of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in parts):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Dict, children: Sequence[Dict]) -> float:
    """Span duration minus the part covered by its child spans."""
    iv = (span["start"], span["end"])
    return (iv[1] - iv[0]) - covered(iv, [(c["start"], c["end"]) for c in children])


class Py4jCounter:
    """Counts py4j round trips made through one gateway client."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """In-memory span recorder.  Disabled, every method is a no-op, so the
    untraced run executes the same benchmark code without the cost."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._stack: List[int] = []
        self._py4j = Py4jCounter(spark) if enabled and spark is not None else None
        self._groups: Dict[str, Dict] = {}

    @property
    def py4j_calls(self) -> int:
        return self._py4j.calls if self._py4j else 0

    @contextlib.contextmanager
    def span(self, name: str, req: Optional[str] = None, **attrs) -> Iterator[Optional[Dict]]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent]["req"]
        sp = {"name": name, "start": time.perf_counter(), "end": None,
              "parent": parent, "req": req, "py4j": self.py4j_calls, **attrs}
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.perf_counter()
            sp["py4j"] = self.py4j_calls - sp["py4j"]

    @contextlib.contextmanager
    def job_group(self, spark, group: str, **attrs) -> Iterator[None]:
        """Tag the Spark jobs started inside the block with ``group``."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        self._groups[group] = attrs
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, obj, method: str, name: str, on_call=None) -> None:
        """Replace ``obj.method`` (on the instance) by a spanned call;
        ``on_call(span, args)`` may add attributes before the call runs."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                if on_call is not None:
                    on_call(sp, args)
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def job_stats(self, spark) -> Dict[str, Dict]:
        """group -> {jobs, stages, tasks, failed_tasks, **attrs}.  Stages
        a job skipped (shuffle output reused) ran no task and are not
        counted."""
        tracker = spark.sparkContext.statusTracker()
        out = {}
        for group, attrs in self._groups.items():
            jobs = stages = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
            out[group] = {"jobs": jobs, "stages": stages, "tasks": tasks,
                          "failed_tasks": failed, **attrs}
        return out

    def self_times(self) -> List[float]:
        children: Dict[int, List[Dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)
        return [self_time(sp, children.get(i, [])) for i, sp in enumerate(self.spans)]

    def close(self) -> None:
        if self._py4j is not None:
            self._py4j.close()
