"""Spans and Spark engine metrics for the traced run.

A span has a name, a start, an end and a parent. Spans live in memory
and are written out when the run ends. While a span is open its id is
the Spark job group, so each job belongs to the innermost open span;
job, stage and task metrics are read from ``statusTracker`` and the
loopback ``/api/v1`` stages endpoint only after the round's timer has
stopped.

Until ``enable()`` is called the same call sites cost one attribute
check per span, which is how the untraced rounds run.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import urllib.request
from contextlib import contextmanager

STAGE_FIELDS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spark.spill_bytes", 1),
    "diskBytesSpilled": ("spark.spill_bytes", 1),
    "inputBytes": ("spark.input_bytes", 1),
}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def enable(self, wrappers=()) -> None:
        """Start recording; ``wrappers`` are ``wrap`` argument tuples."""
        mods = program_modules()
        for owner, attr, name in wrappers:
            self.wrap(owner, attr, name, mods)
        self.on = True

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str, modules=()) -> None:
        """Replace ``owner.attr`` with a spanned wrapper, and rebind every
        by-name import of the same function in ``modules``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)
        for mod in modules:
            for k, v in list(vars(mod).items()):
                if v is fn:
                    setattr(mod, k, spanned)

    # -- reading spans back ------------------------------------------------

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        """Duration minus the time its children cover."""
        covered = 0.0
        last = span["start"]
        for c in sorted(self.children(span["id"]), key=lambda c: c["start"]):
            lo, hi = max(c["start"], last), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        return span["end"] - span["start"] - covered

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out

    def collect_engine(self, spans: list[dict]) -> None:
        """Attach job/stage/task counts and stage metrics to ``spans``.
        Call after the timed region: it waits for the listener bus to
        settle and issues one REST request."""
        tracker = self.sc.statusTracker()
        jobs = {s["id"]: list(tracker.getJobIdsForGroup(f"span-{s['id']}")) for s in spans}
        all_jobs = [j for js in jobs.values() for j in js]
        deadline = time.time() + 10
        while time.time() < deadline:
            infos = [tracker.getJobInfo(j) for j in all_jobs]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            time.sleep(0.05)
        stage_of = {j: list(tracker.getJobInfo(j).stageIds) for j in all_jobs}
        stages = self._stages()
        for s in spans:
            m = {"spark.jobs": len(jobs[s["id"]]), "spark.stages": 0, "spark.tasks": 0}
            for name, _ in STAGE_FIELDS.values():
                m[name] = 0.0
            seen = set()
            for j in jobs[s["id"]]:
                for sid in stage_of[j]:
                    st = stages.get(sid)
                    if sid in seen or st is None or st["status"] != "COMPLETE":
                        continue  # skipped stages ran no tasks
                    seen.add(sid)
                    m["spark.stages"] += 1
                    m["spark.tasks"] += st.get("numCompleteTasks", 0)
                    for field, (name, scale) in STAGE_FIELDS.items():
                        m[name] += st.get(field, 0) * scale
            s["engine"] = m

    def _stages(self) -> dict[int, dict]:
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = (
            f"http://127.0.0.1:{port}/api/v1/applications/"
            f"{self.sc.applicationId}/stages"
        )
        with urllib.request.urlopen(url, timeout=30) as r:
            data = json.load(r)
        out: dict[int, dict] = {}
        for st in data:  # one entry per attempt; keep the completed one
            if st["stageId"] not in out or st["status"] == "COMPLETE":
                out[st["stageId"]] = st
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def engine_totals(spans: list[dict]) -> dict[str, float]:
    tot: dict[str, float] = {}
    for s in spans:
        for k, v in s.get("engine", {}).items():
            tot[k] = tot.get(k, 0) + v
    return tot


def program_modules() -> list:
    """Loaded modules of the program under test, for ``Tracer.wrap``."""
    return [
        m
        for n, m in sys.modules.items()
        if m is not None
        and (n == "__spark_entry__" or n.startswith("dbt_schema_builder_spark"))
    ]
