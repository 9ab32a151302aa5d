"""Per-layer spans recorded from outside the package.

A span is opened around every call the benchmark makes into a layer and,
in the traced run, around the exported functions of the deeper layers
(wrapped in place for the life of the process; the package's files are
not edited). Each span runs its Spark jobs under its own job group, so
Spark's stage records (executor run time, GC, spill, shuffle and output
bytes, tasks) can be attributed to the innermost span that caused them.
Spans stay in memory; when the run ends they are resolved against the
stage records once and written out as JSON.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
import urllib.request
from urllib.parse import urlparse

_GROUP = "perfbench-span-"


class NullTracer:
    """Tracing off: spans cost one context-manager call and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {"attrs": attrs}


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._jobs: list[dict] = []
        self._stages: dict[int, dict] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "attrs": attrs,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{_GROUP}{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                f"{_GROUP}{self._stack[-1]}" if self._stack else None,
            )

    def wrap(self, module, name: str, span_name: str, on_call=None,
             on_return=None) -> None:
        """Replace ``module.name`` (and every package module's imported
        alias of it) with a wrapper that opens a span per call.
        ``on_call(args, kwargs)`` and ``on_return(result)`` add attrs."""
        orig = getattr(module, name)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            attrs = on_call(args, kwargs) if on_call else {}
            with tracer.span(span_name, **attrs) as rec:
                out = orig(*args, **kwargs)
                if on_return:
                    rec["attrs"].update(on_return(out))
                return out

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("kgraph_framework_spark")
                    and getattr(mod, name, None) is orig):
                setattr(mod, name, traced)

    # --- resolution against Spark's stage records ----------------------

    def collect(self) -> None:
        """Read job and stage records from the status REST API."""
        port = urlparse(self.sc.uiWebUrl).port
        base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                f"{self.sc.applicationId}")

        def get(path):
            with urllib.request.urlopen(base + path, timeout=30) as resp:
                return json.load(resp)

        # the status store is fed asynchronously; wait for it to settle
        for _ in range(50):
            jobs = get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        self._jobs = sorted(jobs, key=lambda j: j["jobId"])
        for st in get("/stages"):
            if st["status"] == "COMPLETE":
                self._stages.setdefault(st["stageId"], st)

    def write(self, path: str) -> None:
        """Every span with its self time (duration minus the part its
        children cover) and the Spark work of its own job group."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        child_s = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] += rec["end"] - rec["start"]
        out = [dict(rec, start=rec["start"] - t0, end=rec["end"] - t0,
                    self_s=rec["end"] - rec["start"] - child_s[rec["id"]],
                    spark=self.usage({rec["id"]}))
               for rec in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)

    def subtree(self, sid: int) -> set[int]:
        out = {sid}
        for rec in self.spans[sid + 1:]:
            if rec["parent"] in out:
                out.add(rec["id"])
        return out

    def usage(self, span_ids) -> dict:
        """Spark work done under the given spans: jobs, tasks, executor
        run and GC seconds, shuffle write, spill and output bytes."""
        groups = {f"{_GROUP}{i}" for i in span_ids}
        out = dict(jobs=0, tasks=0, run_s=0.0, gc_s=0.0, shuffle_bytes=0,
                   spill_bytes=0, output_bytes=0)
        seen: set[int] = set()
        for job in self._jobs:
            if job.get("jobGroup") not in groups:
                continue
            out["jobs"] += 1
            for stage_id in job["stageIds"]:
                st = self._stages.get(stage_id)
                if st is None or stage_id in seen:
                    continue  # skipped: computed by an earlier job
                seen.add(stage_id)
                out["tasks"] += st["numTasks"]
                out["run_s"] += st["executorRunTime"] / 1000.0
                out["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
                out["shuffle_bytes"] += st["shuffleWriteBytes"]
                out["spill_bytes"] += (st["memoryBytesSpilled"]
                                       + st["diskBytesSpilled"])
                out["output_bytes"] += st["outputBytes"]
        return out

    def find(self, name: str, within: set[int] | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (within is None or s["id"] in within)]

    def inclusive(self, name: str, within: set[int] | None = None) -> dict:
        """Total wall and Spark usage of every ``name`` span (with its
        children), counting nested same-name spans once."""
        spans = self.find(name, within)
        ids: set[int] = set()
        wall = 0.0
        for s in spans:
            if s["id"] in ids:
                continue
            ids |= self.subtree(s["id"])
            wall += s["end"] - s["start"]
        return dict(self.usage(ids), wall_s=wall, calls=len(spans))
