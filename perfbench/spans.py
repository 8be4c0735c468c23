"""Spans recorded around calls into the package, and the Spark work charged
to each span.

A span is (trace_id, span_id, parent, name, start, end). Every span runs
under its own Spark job group, so after a traced operation the jobs, stages
and SQL executions in Spark's status stores can be charged back to the span
that launched them:

* jobs and stage metrics (executor run time, shuffle write, disk spill) come
  from ``sc._jsc.sc().statusStore()``;
* Python-worker metrics ("time to run Python workers", "data sent to /
  returned from Python workers") come from the SQL status store.

Both stores are read once per harvest as JSON through Spark's own Jackson
mapper, so a harvest costs a few py4j calls, not one per job.

Two ways to open spans:

* ``span(name)`` — a nested context manager, for lineages the benchmark
  stages itself;
* ``wrap(module, attr, layer)`` — a segment: the wrapper opens a span when
  the wrapped function is called, and the span (and its job group) stays
  open until the next wrapped call or the end of the enclosing span. Lazy
  DataFrame code runs its jobs after the function that built the plan has
  returned, so this charges seal and write jobs to the stage that produced
  them. ``enter_segment(layer)`` opens one from a caller's own hook (the
  curate workload's eager stage seals).
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import time
from contextlib import contextmanager

PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
SPAN_KEYS = ("self_s", "jobs", "task_s", "shuffle_bytes", "spill_bytes",
             "python_run_s", "python_bytes_sent", "python_bytes_returned")
BENCH_GROUP = "perfbench-untraced"

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """Total of a formatted SQL metric (``"total (min, med, max ...)\\n1.2
    MiB (...)"`` or ``"345 ms"``) in bytes or seconds."""
    if not text:
        return 0.0
    m = _VALUE.match(text.strip().splitlines()[-1].strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def self_time(start: float, end: float, children: list[tuple]) -> float:
    """Span duration minus the part of it that child spans cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


class Tracer:
    """Records spans and the Spark job group of each. ``own_s`` is the
    time spent in the job-group calls, the only work recording adds to a
    traced plan (span bookkeeping is a few dict operations, and the group
    is a local property each job carries)."""

    def __init__(self, spark):
        self.spark = spark
        self.own_s = 0.0
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._segment: dict | None = None
        self._patched: list[tuple] = []
        self.trace_id = 0
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self.untraced()

    # -- job groups --------------------------------------------------------
    def _group(self, gid: str) -> None:
        t0 = time.perf_counter()
        self.sc.setJobGroup(gid, gid)
        self.own_s += time.perf_counter() - t0

    def untraced(self) -> None:
        """Charge the following jobs to the benchmark itself (checks,
        set-up), which no layer metric includes."""
        self._group(BENCH_GROUP)

    # -- spans -------------------------------------------------------------
    def _open(self, name: str) -> dict:
        parent = self._stack[-1]["span_id"] if self._stack else None
        sp = {"trace_id": self.trace_id, "span_id": f"s{next(self._ids)}",
              "parent": parent, "name": name, "start": time.perf_counter(),
              "end": None}
        self.spans.append(sp)
        self._group(sp["span_id"])
        return sp

    def _enclosing_group(self) -> None:
        self._group(self._stack[-1]["span_id"] if self._stack
                    else BENCH_GROUP)

    def _close_segment(self) -> None:
        if self._segment is not None:
            self._segment["end"] = time.perf_counter()
            self._segment = None
            self._enclosing_group()

    @contextmanager
    def span(self, name: str, new_trace: bool = False):
        self._close_segment()
        if new_trace:
            self.trace_id += 1
        sp = self._open(name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._close_segment()
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._enclosing_group()

    def enter_segment(self, layer: str) -> None:
        """Close the open segment and open one for ``layer``."""
        self._close_segment()
        self._segment = self._open(layer)

    def patch(self, owner, attr: str, replacement) -> None:
        """Replace ``owner.attr`` until ``unwrap_all``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, module, attr: str, layer: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            self.enter_segment(layer)
            return orig(*args, **kwargs)

        self.patch(module, attr, traced)

    def unwrap_all(self) -> None:
        self._close_segment()
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- attribution -------------------------------------------------------
    def _json(self, jobj):
        return json.loads(self._mapper.writeValueAsString(jobj))

    def harvest(self) -> None:
        """Charge jobs, stage metrics and Python-worker metrics to spans,
        and compute every span's self time."""
        store = self.sc._jsc.sc().statusStore()
        jobs = self._json(store.jobsList(None))
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = self._json(store.stageList(None, False, False,
                                            no_quantiles, None))
        execs = self._json(
            self.spark._jsparkSession.sharedState().statusStore()
            .executionsList())
        by_id = {sp["span_id"]: sp for sp in self.spans}
        for sp in self.spans:
            for k in SPAN_KEYS:
                sp[k] = 0.0
        job_span: dict[int, dict] = {}
        stage_owner: dict[int, int] = {}
        for j in jobs:
            sp = by_id.get(j.get("jobGroup"))
            if sp is None:
                continue
            job_span[j["jobId"]] = sp
            sp["jobs"] += 1
            for sid in j["stageIds"]:
                if sid not in stage_owner or j["jobId"] < stage_owner[sid]:
                    stage_owner[sid] = j["jobId"]
        for st in stages:
            if st["status"] != "COMPLETE" or st["stageId"] not in stage_owner:
                continue
            sp = job_span[stage_owner[st["stageId"]]]
            sp["task_s"] += st["executorRunTime"] / 1000.0
            sp["shuffle_bytes"] += st["shuffleWriteBytes"]
            sp["spill_bytes"] += st["diskBytesSpilled"]
        for ex in execs:
            owners = [job_span[int(j)] for j in (ex.get("jobs") or {})
                      if int(j) in job_span]
            if not owners:
                continue
            sp, values, seen = owners[0], ex.get("metricValues") or {}, set()
            for m in ex.get("metrics") or []:
                key = PY_METRICS.get(m["name"])
                acc = m["accumulatorId"]
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                sp[key] += parse_metric(values.get(str(acc)))
        children: dict[str, list] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(
                    (sp["start"], sp["end"]))
        for sp in self.spans:
            sp["self_s"] = self_time(sp["start"], sp["end"],
                                     children.get(sp["span_id"], []))

    def layer_totals(self, trace_ids) -> dict[str, dict[str, float]]:
        """Per span name: the sum of every span key over the given traces."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            if sp["trace_id"] in trace_ids:
                acc = out.setdefault(sp["name"], dict.fromkeys(SPAN_KEYS, 0.0))
                for k in SPAN_KEYS:
                    acc[k] += sp[k]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
