"""In-memory span recorder for the traced benchmark run.

Spans (name, start, end, parent, batch id) are recorded around calls
into the program's layers by wrapping instance methods, sink callables
and store methods from the benchmark's own files; nothing inside the
program is changed.  Each span also runs its Spark jobs under a job
group of its own, so the status tracker can attribute jobs and tasks
to it afterwards.  Spans named ``probe.*`` are the tracer's own row
counts: they are reported as tracing cost and never charged to a layer.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        # [name, start, end, parent index, batch id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.batch: int | None = None
        self.enabled = False

    @staticmethod
    def group(idx: int) -> str:
        return f"perfbench-span-{idx}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.batch]
        self.spans.append(rec)
        self._stack.append(idx)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, self.group(idx))
        try:
            yield
        finally:
            self.sc.setLocalProperty(_GROUP, prev)
            self._stack.pop()
            rec[2] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                out[s[3]].append(i)
        return out

    def durations(self) -> tuple[list[float], list[float], list[float]]:
        """(inclusive, self, probe-free) seconds per span.  Self time is
        the span minus its direct children (spans of one thread never
        overlap); probe-free time is the span minus every probe span
        beneath it."""
        kids = self.children()
        incl = [s[2] - s[1] for s in self.spans]
        own = [incl[i] - sum(incl[c] for c in kids.get(i, ())) for i in range(len(self.spans))]
        probe = [0.0] * len(self.spans)
        for i in reversed(range(len(self.spans))):  # children come after parents
            if self.spans[i][0].startswith("probe."):
                probe[i] = incl[i]
            else:
                probe[i] = sum(probe[c] for c in kids.get(i, ()))
        return incl, own, [incl[i] - probe[i] for i in range(len(self.spans))]

    def jobs_and_tasks(self) -> list[tuple[int, int]]:
        """(jobs, tasks) run under each span's own job group."""
        st = self.sc.statusTracker()
        out = []
        for i in range(len(self.spans)):
            jobs = st.getJobIdsForGroup(self.group(i))
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    tasks += stage.numTasks if stage else 0
            out.append((len(jobs), tasks))
        return out

    def dump(self, path: str) -> dict[str, dict[str, float]]:
        """Write every span as one JSON line; return per-name totals of
        inclusive and self time with span counts."""
        incl, own, _ = self.durations()
        t0 = self.spans[0][1] if self.spans else 0.0
        summary: dict[str, dict[str, float]] = defaultdict(lambda: {"n": 0, "incl_s": 0.0, "self_s": 0.0})
        with open(path, "w") as fh:
            for i, (name, start, end, parent, batch) in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": name, "start_s": start - t0, "end_s": end - t0,
                    "parent": parent, "batch": batch, "self_s": own[i],
                }) + "\n")
                s = summary[name]
                s["n"] += 1
                s["incl_s"] += incl[i]
                s["self_s"] += own[i]
        return dict(summary)
