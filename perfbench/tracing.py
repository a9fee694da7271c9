"""Span recorder with Spark job-group attribution.

A span is (name, start, end, parent, job group). Entering a span sets its
own Spark job group on the calling thread, so every job the span fires is
found afterwards with ``statusTracker().getJobIdsForGroup``; the job and
stage records then come from the driver's AppStatusStore (readable with
the UI disabled). Spans stay in memory and are written out at the end.

Wrappers are installed from here around the public entry points of each
qsvspark layer; nothing inside ``qsvspark`` is edited. Lazy functions
(e.g. ``parse_stage``) only build plans, so their spans time plan
building; their execution shows up as jobs of the enclosing action.
"""

from __future__ import annotations

import functools
import inspect
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.active = False
        self.pass_idx: int | None = None
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-span-{self._next}",
            "pass": self.pass_idx,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self._next += 1
        self.stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def _wrap(tracer: Tracer, fn, name: str, label_arg: str | None):
    sig = inspect.signature(fn) if label_arg else None

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        span_name = name
        if label_arg:
            try:
                label = sig.bind_partial(*args, **kwargs).arguments.get(label_arg)
            except TypeError:
                label = None
            if isinstance(label, str):
                span_name = f"{name}:{label}"
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer."""
    from pyspark.sql.classic.dataframe import DataFrame

    from qsvspark.engine import Q
    from qsvspark.functions import dedup, packing, similarity
    from qsvspark.io import snapshot
    from qsvspark.pipeline import northstar

    targets: list[tuple[object, str, str, str | None]] = []
    for meth in ("run", "run_increment", "purge_docs", "compact_sinks", "pack_sinks",
                 "routed", "aggregates"):
        targets.append((northstar.NorthStarPipeline, meth, f"pipeline.{meth}", None))
    for meth in ("write", "read", "read_parts", "find_committed", "manifest",
                 "delete_rows", "compact"):
        targets.append((snapshot.SnapshotCatalog, meth, f"catalog.{meth}", "table"))
    for fn in ("parse_stage", "dedup_stage", "enrich_stage", "quarantine_stage",
               "aggregate_stage", "aggregate_stage_salted", "decontaminate_stage"):
        targets.append((northstar, fn, f"northstar.{fn}", None))
    for fn in ("pack_greedy", "materialize_greedy_sequences", "materialize_chunked_sequences"):
        targets.append((packing, fn, f"packing.{fn}", None))
    for fn in ("minhash_lsh_pairs", "connected_components", "keep_representatives"):
        targets.append((dedup, fn, f"dedup.{fn}", None))
    targets.append((similarity, "semantic_dedup", "similarity.semantic_dedup", None))
    for meth in list(vars(Q)):
        if not meth.startswith("_") and callable(getattr(Q, meth)):
            targets.append((Q, meth, f"Q.{meth}", None))
    # one span per DataFrame.count: connected_components' per-round
    # convergence check is a count, so these spans count its rounds
    targets.append((DataFrame, "count", "DataFrame.count", None))

    for owner, attr, name, label_arg in targets:
        static = inspect.getattr_static(owner, attr)
        if isinstance(static, classmethod):  # Q.load, Q.from_df
            wrapped = classmethod(_wrap(tracer, static.__func__, name, None))
        else:
            wrapped = _wrap(tracer, static, name, label_arg)
        setattr(owner, attr, wrapped)


# -- attribution ---------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def attribute(tracer: Tracer) -> dict[int, dict]:
    """Per span (by id): its own jobs with their intervals and the stage
    metrics of every stage those jobs ran. A stage shared by several jobs
    (a reused shuffle) is counted once, on the first job that lists it."""
    sc = tracer.sc
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_span: dict[int, int] = {}
    for s in tracer.spans:
        for jid in tracker.getJobIdsForGroup(s["group"]):
            job_span[jid] = s["id"]
    out = {s["id"]: {"jobs": []} for s in tracer.spans}
    seen_stages: set[int] = set()
    for jid in sorted(job_span):
        try:
            jd = store.job(jid)
        except Exception:  # evicted from the store
            continue
        job = {"id": jid, "start": _opt_ms(jd.submissionTime()),
               "end": _opt_ms(jd.completionTime()), "stages": []}
        sids = jd.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen_stages:
                continue
            try:
                attempts = store.stageData(sid, False, None, False, None)
            except Exception:
                continue
            seen_stages.add(sid)
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                if sd.status().toString() == "SKIPPED":
                    continue
                job["stages"].append({
                    "id": sid,
                    "attempt": sd.attemptId(),
                    "tasks": sd.numTasks(),
                    "run_ms": sd.executorRunTime(),
                    "cpu_ns": sd.executorCpuTime(),
                    "gc_ms": sd.jvmGcTime(),
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "shuffle_read": sd.shuffleReadBytes(),
                    "spill_disk": sd.diskBytesSpilled(),
                    "spill_mem": sd.memoryBytesSpilled(),
                    "output_bytes": sd.outputBytes(),
                    "input_bytes": sd.inputBytes(),
                    "peak_mem": sd.peakExecutionMemory(),
                })
        out[job_span[jid]]["jobs"].append(job)
    return out


def task_skew(tracer: Tracer, stage: dict) -> float | None:
    """max / median task run time of one stage attempt."""
    store = tracer.sc._jsc.sc().statusStore()
    tasks = store.taskList(stage["id"], stage["attempt"], 100_000)
    times = sorted(
        tasks.apply(i).taskMetrics().get().executorRunTime()
        for i in range(tasks.size())
        if tasks.apply(i).taskMetrics().isDefined()
    )
    if len(times) < 2:
        return None
    med = times[len(times) // 2] if len(times) % 2 else 0.5 * (
        times[len(times) // 2 - 1] + times[len(times) // 2])
    return times[-1] / med if med > 0 else None


# -- span tree reports -------------------------------------------------------------


class SpanTree:
    """Subtree sums, self time and driver gap over attributed spans."""

    def __init__(self, tracer: Tracer, attributed: dict[int, dict]):
        self.spans = {s["id"]: s for s in tracer.spans}
        self.children: dict[int, list[int]] = {i: [] for i in self.spans}
        for s in tracer.spans:
            if s["parent"] is not None and s["parent"] in self.children:
                self.children[s["parent"]].append(s["id"])
        self.attr = attributed

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children[cur])
        return out

    def jobs(self, sid: int) -> list[dict]:
        return [j for i in self.subtree(sid) for j in self.attr[i]["jobs"]]

    def stages(self, sid: int) -> list[dict]:
        return [st for j in self.jobs(sid) for st in j["stages"]]

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    @staticmethod
    def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
        total, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children[sid]]
        return self.duration(sid) - self._covered(kids, s["start"], s["end"])

    def driver_gap(self, sid: int) -> float:
        """Span time not covered by any of its (subtree's) jobs."""
        s = self.spans[sid]
        iv = [(j["start"], j["end"]) for j in self.jobs(sid) if j["start"] and j["end"]]
        return self.duration(sid) - self._covered(iv, s["start"], s["end"])

    def find(self, name: str, within: int | None = None, prefix: bool = False) -> list[int]:
        pool = self.subtree(within) if within is not None else list(self.spans)
        return sorted(
            i for i in pool
            if (self.spans[i]["name"].startswith(name) if prefix else self.spans[i]["name"] == name)
        )

    def outermost(self, ids: list[int]) -> list[int]:
        """Drop spans nested inside another span of the same list."""
        keep = set(ids)
        out = []
        for i in ids:
            p = self.spans[i]["parent"]
            while p is not None and p not in keep:
                p = self.spans[p]["parent"]
            if p is None:
                out.append(i)
        return out

    def stage_sum(self, sid: int, key: str) -> float:
        return float(sum(st[key] for st in self.stages(sid)))
