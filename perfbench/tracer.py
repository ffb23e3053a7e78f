"""Outside-in tracer: spans around the public functions of each layer.

Nothing in ``spider_spark`` changes. While ``hooks()`` is active, the public
functions of each layer are replaced by wrappers that open a span, and the
originals are restored on exit. A span records its wall interval, its
parent, and the Spark jobs that started while it was open (a diff of
``statusTracker().getJobIdsForGroup()``, which also catches jobs started
by the snapshot writer threads). Stages and tasks are resolved per job
after the traced call, from the same tracker.

``run_round`` only builds a plan; its compute would otherwise run later,
inside the status collect and the snapshot write. To split a round by
phase, the wrapper counts each DataFrame as ``run_round`` persists it:
the claim/fetch/parse cache, the child aggregation, the Bloom probe and
the merged frontier (or MOR deltas). Later jobs reuse those caches. This
eager materialization is part of the tracing overhead.

A hooked name that no longer exists is recorded in ``absent`` with the
reason, and tracing goes on without it.
"""

from __future__ import annotations

import importlib
import time
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    jobs: set = field(default_factory=set)
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def _phase(columns: list[str]) -> str:
    """Which round phase a DataFrame persisted inside run_round belongs to."""
    cols = set(columns)
    if "links_raw" in cols:
        return "round.fetch_parse"
    if "maybe" in cols:
        return "seen.probe"
    if {"first", "cnt"} <= cols:
        return "round.discover"
    return "round.merge"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.tracker = spark.sparkContext.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.absent: dict[str, str] = {}
        self.counts: Counter = Counter()

    def _job_ids(self) -> set:
        return set(self.tracker.getJobIdsForGroup())

    @contextmanager
    def span(self, name: str):
        """Open a span; a span nested inside one of the same name is
        folded into it (re-entrant calls, e.g. a read inside a read)."""
        if any(self.spans[i].name == name for i in self._stack):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        before = self._job_ids()
        sp = Span(name, parent, time.perf_counter())
        idx = len(self.spans)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            sp.jobs = self._job_ids() - before

    # ---------------------------------------------------------------- hooks
    def _wrap(self, name: str, fn, on_result=None):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, out)
            return out

        return wrapper

    @contextmanager
    def hooks(self):
        """Install every layer hook; restore the originals on exit."""
        undo = []

        def patch(owner, attr: str, make, layer: str):
            orig = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
            if orig is None:
                self.absent.setdefault(layer, f"{getattr(owner, '__name__', owner)}.{attr} not found")
                return
            setattr(owner, attr, make(orig))
            undo.append((owner, attr, orig))

        crawl_mod = importlib.import_module("spider_spark.crawl")
        round_mod = importlib.import_module("spider_spark.round")
        tables_mod = importlib.import_module("spider_spark.tables")
        seen_cls = getattr(importlib.import_module("spider_spark.seen"), "SeenSet", None)

        patch(crawl_mod, "run_round", self._round_hook, "round")
        patch(crawl_mod, "pagerank", lambda f: self._wrap(
            "pagerank", f, lambda *_: self.counts.update(["pagerank.firings"])), "pagerank")
        patch(round_mod, "with_global_rank", lambda f: self._wrap("round.discover", f),
              "round.discover")
        patch(tables_mod, "write_snapshot", self._write_hook, "tables.write")
        for attr in ("read_table", "read_frontier_new", "read_frontier_urls",
                     "read_frontier_resolved", "read_appended"):
            patch(tables_mod, attr, lambda f: self._wrap("tables.read", f), "tables.read")
        if seen_cls is None:
            self.absent["seen"] = "spider_spark.seen.SeenSet not found"
        else:
            def classmethod_hook(name):
                return lambda cm: classmethod(self._wrap(name, cm.__func__))
            patch(seen_cls, "load", classmethod_hook("seen.load"), "seen.load")
            patch(seen_cls, "maybe_rebuild", lambda f: self._wrap(
                "seen.load", f,
                lambda a, k, out: out is not None and self.counts.update(["seen.rebuilds"])),
                "seen.rebuilds")
            patch(seen_cls, "merged", lambda f: self._wrap("seen.merge", f), "seen.merge")
            patch(seen_cls, "seg_stats", lambda f: self._wrap("seen.merge", f), "seen.merge")
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(undo):
                setattr(owner, attr, orig)

    def _round_hook(self, run_round):
        tracer = self
        df_cls = type(self.spark.range(0))

        def traced_run_round(*args, **kwargs):
            orig_persist = df_cls.persist

            def persist(df, *a, **k):
                out = orig_persist(df, *a, **k)
                with tracer.span(_phase(df.columns)):
                    out.count()
                return out

            with tracer.span("round"):
                df_cls.persist = persist
                try:
                    return run_round(*args, **kwargs)
                finally:
                    df_cls.persist = orig_persist

        return traced_run_round

    def _write_hook(self, write_snapshot):
        tracer = self

        def traced_write(workdir, round_no, *args, **kwargs):
            with tracer.span("tables.write"):
                out = write_snapshot(workdir, round_no, *args, **kwargs)
            files = [f for f in (Path(workdir) / "snapshots" / f"round_{round_no:05d}").rglob("*")
                     if f.is_file()]
            tracer.counts["tables.bytes_written"] += sum(f.stat().st_size for f in files)
            tracer.counts["tables.files_written"] += len(files)
            return out

        return traced_write

    # ------------------------------------------------------------- results
    def stage_stats(self) -> dict[int, tuple[int, int, int]]:
        """job id -> (stages run, tasks completed, tasks failed). Each stage
        counts once, for the first job that lists it: later jobs that reuse
        its shuffle output list it again but skip it."""
        jobs = sorted(set().union(*(s.jobs for s in self.spans)) if self.spans else [])
        owner = {}
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                owner.setdefault(sid, j)
        out = {j: [0, 0, 0] for j in jobs}
        for sid, j in owner.items():
            st = self.tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue
            out[j][0] += 1
            out[j][1] += st.numCompletedTasks
            out[j][2] += st.numFailedTasks
        return {j: tuple(v) for j, v in out.items()}

    def totals(self) -> dict[str, dict]:
        """Per span name: total seconds, self seconds (minus child spans),
        jobs, self jobs (not started inside a child span), stages, tasks,
        failed tasks."""
        stats = self.stage_stats()
        out: dict[str, dict] = {}
        for sp in self.spans:
            kids = [self.spans[c] for c in sp.children]
            self_jobs = sp.jobs - set().union(*(k.jobs for k in kids)) if kids else sp.jobs
            t = out.setdefault(sp.name, {"s": 0.0, "self_s": 0.0, "jobs": set(),
                                         "self_jobs": set()})
            t["s"] += sp.dur
            t["self_s"] += sp.dur - sum(k.dur for k in kids)
            t["jobs"] |= sp.jobs
            t["self_jobs"] |= self_jobs
        for t in out.values():
            t.update(self.job_stats(t["jobs"], stats))
        return out

    @staticmethod
    def job_stats(jobs: set, stats: dict) -> dict:
        """Stages run, tasks completed and tasks failed by a set of jobs,
        from a ``stage_stats()`` result."""
        st = [stats.get(j, (0, 0, 0)) for j in jobs]
        return {"stages": sum(s[0] for s in st), "tasks": sum(s[1] for s in st),
                "tasks_failed": sum(s[2] for s in st)}

    def nesting_errors(self) -> list[str]:
        """Child spans must sum to no more than their parent."""
        errs = []
        for sp in self.spans:
            kids = sum(self.spans[c].dur for c in sp.children)
            if kids > sp.dur + 1e-6:
                errs.append(f"span {sp.name}: children {kids:.4f}s > parent {sp.dur:.4f}s")
        return errs

    def dump(self) -> list[dict]:
        stats = self.stage_stats()
        t_base = self.spans[0].t0 if self.spans else 0.0
        return [
            {"name": s.name, "parent": s.parent, "start_s": round(s.t0 - t_base, 6),
             "dur_s": round(s.dur, 6), "jobs": sorted(s.jobs),
             **self.job_stats(s.jobs, stats)}
            for s in self.spans
        ]


def maybe_span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()
