"""In-memory spans and Spark job counts, recorded around facade calls.

One ``request`` is one facade call.  It runs under its own Spark job group,
so the jobs, stages and tasks it caused are read back exactly from
``SparkContext.statusTracker()`` once the listener bus has drained.  Child
spans (plan, collect, decode) nest under the request; spans stay in memory
until ``dump`` writes them out at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []  # name, start, end, parent, request
        self.counts: dict[int, dict] = {}  # request -> jobs/stages/tasks

    @contextmanager
    def span(self, name: str, request: int, parent: int | None = None):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "request": request}
        self.spans.append(rec)
        try:
            yield len(self.spans) - 1
        finally:
            rec["end"] = time.perf_counter()

    @contextmanager
    def request(self, name: str):
        """Yield (request id, root span index); counts land in ``counts``."""
        rid = len(self.counts)
        group = f"perfbench-{rid}"
        self.sc.setJobGroup(group, name)
        self.counts[rid] = {}
        with self.span(name, rid) as root:
            yield rid, root
        self.counts[rid] = self._job_counts(group)

    def _job_counts(self, group: str) -> dict:
        # status updates arrive through the listener bus asynchronously
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s and s.numCompletedTasks:  # skipped stages ran nothing
                    stages += 1
                    tasks += s.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def durations(self, name: str, request_name: str | None = None) -> list[float]:
        """Durations (s) of spans called ``name``, optionally only those
        under a request whose root span is ``request_name``."""
        roots = {s["request"]: s["name"] for s in self.spans if s["parent"] is None}
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (request_name is None or roots.get(s["request"]) == request_name)]

    def self_times(self) -> dict[str, float]:
        """Total self time (s) per span name: duration minus child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts,
                       "self_time_s": self.self_times()}, f)
