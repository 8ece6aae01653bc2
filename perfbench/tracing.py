"""Layer tracing from outside the package.

Everything here wraps the public functions the benchmark calls; no
package code is edited.  A traced run records:

- spans: name, start, end, parent span and operation id, kept in memory
  and written out as JSON lines when the run ends;
- Spark job, stage and task counts per job group, read from
  ``SparkContext.statusTracker()``;
- executor run time, shuffle, spill and input bytes per job group, read
  from the Spark event log after the session stops.

An untraced run uses ``Tracer(enabled=False)``: spans and job groups
become no-ops, so the timed path is the same calls with nothing around
them.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Iterator


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.sc = None
        # job group -> (jobs, stages, tasks)
        self.group_counts: dict[str, tuple[int, int, int]] = {}
        self._saved: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str, group: bool = False) -> Iterator[None]:
        """Record one layer call.  ``group=True`` also tags the Spark jobs
        the call runs with a job group named after the span, so their
        counts can be read back."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        gid = f"op{self.op_id}.{sid}.{name}"
        if group and self.sc is not None:
            self.sc.setJobGroup(gid, name)
            rec["group"] = gid
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group and self.sc is not None:
                self.sc.setJobGroup("", "")
                self.group_counts[gid] = self._count_jobs(gid)

    def _count_jobs(self, gid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return len(jobs), stages, tasks

    # -- wrapping module attributes -------------------------------------
    def wrap(self, module: Any, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a version that records a span.
        Callers that look the attribute up at call time (the registry
        callables and ``lakehouse`` do) go through the wrapper."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapped(*a: Any, **kw: Any) -> Any:
            with self.span(span_name):
                return fn(*a, **kw)

        self._saved.append((module, attr, fn))
        setattr(module, attr, wrapped)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._saved):
            setattr(module, attr, fn)
        self._saved.clear()

    # -- reporting --------------------------------------------------------
    def op_spans(self, ops: set[int]) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["op"] in ops and s["end"] is not None]

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Per layer name: total self time (span minus the part covered by
        its child spans) over the given operations."""
        spans = self.op_spans(ops)
        child_cover: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_cover[s["id"]]
        return dict(out)

    def durations(self, name: str, ops: set[int]) -> list[float]:
        return [s["end"] - s["start"] for s in self.op_spans(ops) if s["name"] == name]

    def group_totals(self, name: str, ops: set[int]) -> tuple[int, int, int, int]:
        """(calls, jobs, stages, tasks) over the spans called ``name``."""
        calls = jobs = stages = tasks = 0
        for s in self.op_spans(ops):
            if s["name"] == name and "group" in s:
                calls += 1
                j, st, t = self.group_counts.get(s["group"], (0, 0, 0))
                jobs, stages, tasks = jobs + j, stages + st, tasks + t
        return calls, jobs, stages, tasks

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


_ACC = {
    "executor_run_ms": ("internal.metrics.executorRunTime",),
    "shuffle_read_bytes": (
        "internal.metrics.shuffle.read.remoteBytesRead",
        "internal.metrics.shuffle.read.localBytesRead",
    ),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten",),
    "spill_bytes": ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled"),
    "input_bytes": ("internal.metrics.input.bytesRead",),
}


def event_log_totals(event_dir: str) -> dict[str, dict[str, int]]:
    """Per job group id: summed stage metrics from the Spark event logs
    under ``event_dir`` (written with compression and rolling off)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for root, _dirs, files in os.walk(event_dir):
        for f in sorted(files):
            if f.endswith(".inprogress") or "appstatus" in f:
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    if '"SparkListenerJobStart"' in line:
                        ev = json.loads(line)
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        for info in ev.get("Stage Infos", []):
                            stage_group.setdefault(info["Stage ID"], group)
                    elif '"SparkListenerStageCompleted"' in line:
                        info = json.loads(line)["Stage Info"]
                        group = stage_group.get(info["Stage ID"], "")
                        if not group:
                            continue
                        acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                        for key, names in _ACC.items():
                            for n in names:
                                try:
                                    out[group][key] += int(acc.get(n) or 0)
                                except (TypeError, ValueError):
                                    pass
    return {g: dict(v) for g, v in out.items()}
