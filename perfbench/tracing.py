"""Spans for the traced run, and Spark event-log attribution.

The timed run (``--trace 0``) wraps nothing: ``Tracer.enabled`` is False,
``call`` only yields and no module attribute is patched.

The traced run (``--trace 1``) patches the public entry points of the
program's modules from here (``install``), so every call into a layer
records a span: name, start, end, parent span and thread. Spans stay in
memory and are written to one JSON-lines file at exit. Each workload call
(``Tracer.call``) also sets a Spark job group ``pb-<span id>``; after the
session stops, ``EventLog`` reads Spark's uncompressed event log and
attributes each job, stage and task to the call span whose group it
carries. Jobs without a group (for example from plain threads the program
starts) are attributed by submission time to the call span that was open,
and counted as unattributed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional


@dataclass
class Span:
    id: int
    parent: Optional[int]
    name: str
    t0: float           # perf_counter seconds
    t1: float = 0.0
    thread: str = ""
    call: bool = False  # a workload call that carries a Spark job group
    phase: str = ""     # "setup" or "loop" (the measured loop)
    attrs: Dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list = []
        self.phase = "setup"
        self.paused: List[tuple] = []  # (t0, t1) windows with tracing off
        self._spark = None
        # perf_counter -> epoch seconds, to line spans up with the event log
        self.epoch = time.time() - time.perf_counter()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, call: bool = False) -> Span:
        st = self._stack()
        with self._lock:
            sp = Span(len(self.spans), st[-1].id if st else None, name,
                      time.perf_counter(), thread=threading.current_thread()
                      .name, call=call, phase=self.phase)
            self.spans.append(sp)
        st.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        self._stack().pop()

    @contextmanager
    def call(self, name: str, sc):
        """A workload call: a span plus a Spark job group naming it."""
        if not self.enabled:
            yield None
            return
        sp = self._open(name, call=True)
        sc.setLocalProperty("spark.jobGroup.id", f"pb-{sp.id}")
        sc.setLocalProperty("spark.job.description", name)
        try:
            yield sp
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._close(sp)

    # ------------------------------------------------------------ patching
    def patch(self, owner, attr: str, name: str,
              count: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span;
        ``count(args, kwargs, result)`` may add counters to the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            sp = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(sp)
            if count is not None:
                sp.attrs.update(count(args, kwargs, out))
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def pause(self) -> None:
        """Tracing off, as in the timed run: no patches, no job groups."""
        self.restore()
        self.enabled = False
        self.paused.append((time.perf_counter(), float("inf")))

    def resume(self) -> None:
        self.paused[-1] = (self.paused[-1][0], time.perf_counter())
        install(self, self._spark)
        self.enabled = True

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name,
                    "start": self.epoch + s.t0, "end": self.epoch + s.t1,
                    "thread": s.thread, "attrs": s.attrs}) + "\n")

    # ------------------------------------------------------------- queries
    def children(self) -> Dict[int, List[Span]]:
        out: Dict[int, List[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def descendants(self, root: Span, kids: Dict[int, List[Span]]
                    ) -> List[Span]:
        out, todo = [], list(kids.get(root.id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out


# ----------------------------------------------------------- counters --

def _blocks(df: int) -> int:
    from pysearchlite_spark.codec import BLOCK_DOCS
    return (int(df) + BLOCK_DOCS - 1) // BLOCK_DOCS


def install(tracer: Tracer, spark) -> None:
    """Patch the layer entry points the per-layer metrics are read from."""
    import numpy as np

    tracer._spark = spark

    from pysearchlite_spark import codec, engine
    from pysearchlite_spark.operators import intersect, wand
    from pysearchlite_spark.plans import deletes
    from pysearchlite_spark.streaming import ingest

    def full(args, kwargs, out):
        return {"postings": float(np.size(out)),
                "blocks": float(_blocks(np.size(out)))}

    def batch(args, kwargs, out):
        dfs = np.asarray(args[1], dtype=np.int64)
        return {"postings": float(dfs.sum()),
                "blocks": float(sum(_blocks(d) for d in dfs))}

    def block_range(args, kwargs, out):
        return {"postings": float(np.size(out[0])),
                "blocks": float(args[2] - args[1])}

    def one_block(args, kwargs, out):
        return {"postings": float(np.size(out)), "blocks": 1.0}

    for attr, cnt in (("unpack_docs", full), ("unpack_docs_batch", batch),
                      ("unpack_block_range", block_range),
                      ("unpack_block_docs", one_block),
                      ("unpack_block_stream", None),
                      ("unpack_stream", None)):
        tracer.patch(codec, attr, "codec.decode", cnt)
    for attr in ("score_disjunctive", "topk_merge", "blockmax_topk",
                 "blockmax_topk_groups"):
        tracer.patch(wand, attr, "operators.wand")
    tracer.patch(engine, "score_segment_rows", "operators.wand")
    tracer.patch(engine, "score_segment_groups", "operators.wand")
    for attr in ("intersect_packed", "intersect_sorted", "union_sorted",
                 "min_match_sorted"):
        tracer.patch(intersect, attr, "operators.intersect")

    def fetched(args, kwargs, rows):
        return {"rows": float(len(rows)),
                "blocks": float(sum(len(r["first_docs"]) for r in rows))}

    tracer.patch(engine.SearchIndex, "_fetch", "engine.fetch", fetched)
    # the two halves of an upsert: tombstoning the re-crawled urls, then
    # appending the batch as new segments
    tracer.patch(deletes, "delete_docs", "plans.deletes")
    tracer.patch(ingest, "_append_batch_locked", "streaming.ingest.append")
    tracer.patch(engine.SearchIndex, "_filter_by_seg",
                 "engine.filter_resolve")
    tracer.patch(engine.SearchIndex, "_filter_flat", "engine.filter_resolve")
    frame = type(spark.range(1))  # the concrete (classic) DataFrame class
    tracer.patch(frame, "toPandas", "spark.collect")
    tracer.patch(frame, "collect", "spark.collect")


# ------------------------------------------------------------ event log --

@dataclass
class Usage:
    """Spark work attributed to one call span."""
    jobs: int = 0
    unattributed: int = 0
    tasks: int = 0
    task_s: float = 0.0
    input_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    skew: float = 0.0   # worst stage: max / median task time

    def add(self, o: "Usage") -> None:
        self.jobs += o.jobs
        self.unattributed += o.unattributed
        self.tasks += o.tasks
        self.task_s += o.task_s
        self.input_bytes += o.input_bytes
        self.shuffle_write_bytes += o.shuffle_write_bytes
        self.spill_bytes += o.spill_bytes
        self.skew = max(self.skew, o.skew)


class EventLog:
    """Jobs, stages and tasks from one application's event log
    (``spark.eventLog.compress=false``; rolling or single file)."""

    def __init__(self, log_dir: str) -> None:
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        if not files:
            files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                     if os.path.isfile(p)]
        self.jobs: Dict[int, dict] = {}
        self.stage_job: Dict[int, int] = {}
        self.stage_tasks: Dict[int, List[dict]] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = int(e["Job ID"])
            self.jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                              "submit": e["Submission Time"] / 1000.0,
                              "stages": list(e["Stage IDs"])}
            for s in e["Stage IDs"]:
                self.stage_job.setdefault(int(s), jid)
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            self.stage_tasks.setdefault(int(e["Stage ID"]), []).append({
                "s": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                "in": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                "sw": (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill": tm.get("Disk Bytes Spilled", 0)})

    def job_usage(self, jid: int) -> Usage:
        u = Usage(jobs=1)
        for st in self.jobs[jid]["stages"]:
            if self.stage_job.get(int(st)) != jid:
                continue  # a stage shared with (skipped in) another job
            tasks = self.stage_tasks.get(int(st), [])
            if not tasks:
                continue
            durs = [t["s"] for t in tasks]
            u.tasks += len(tasks)
            u.task_s += sum(durs)
            u.input_bytes += sum(t["in"] for t in tasks)
            u.shuffle_write_bytes += sum(t["sw"] for t in tasks)
            u.spill_bytes += sum(t["spill"] for t in tasks)
            med = statistics.median(durs)
            if len(durs) >= 2 and med > 0:
                u.skew = max(u.skew, max(durs) / med)
        return u

    def attribute(self, tracer: Tracer) -> Dict[int, Usage]:
        """Usage per call span id. A job with no group goes to the
        innermost call span open at its submission time."""
        calls = [s for s in tracer.spans if s.call]
        by_id = {s.id: s for s in calls}
        out: Dict[int, Usage] = {}
        for jid, job in self.jobs.items():
            grp = job["group"] or ""
            sid = int(grp[3:]) if grp.startswith("pb-") else None
            u = self.job_usage(jid)
            if sid not in by_id:
                t = job["submit"] - tracer.epoch
                open_ = [s for s in calls if s.t0 <= t <= s.t1]
                if not open_:
                    continue
                sid = max(open_, key=lambda s: s.t0).id
                u.unattributed = 1
            out.setdefault(sid, Usage()).add(u)
        return out

    def window(self, tracer: Tracer, span: Span) -> Usage:
        """Usage of the jobs submitted while ``span`` was open (for spans
        inside a call, which share its job group)."""
        u = Usage()
        for jid, job in self.jobs.items():
            if span.t0 <= job["submit"] - tracer.epoch <= span.t1:
                u.add(self.job_usage(jid))
        return u

    def orphans(self, tracer: Tracer) -> int:
        """Jobs outside the paused windows that no call span covers
        (should be 0)."""
        covered = sum(u.jobs for u in self.attribute(tracer).values())
        paused = sum(1 for j in self.jobs.values()
                     if any(a <= j["submit"] - tracer.epoch <= b
                            for a, b in tracer.paused))
        return len(self.jobs) - paused - covered


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (in local mode it runs the tasks too)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return proc_peak_rss_mb(int(pid))


def proc_peak_rss_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss() -> bool:
    """Restart VmHWM from the current RSS (Linux clear_refs 5). Returns
    False where the kernel refuses, and the peak then covers the whole
    process."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        return False
    return True
