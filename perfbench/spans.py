"""Per-layer spans for the traced run, patched in from outside the package.

``install`` wraps each layer's public functions (``LAYERS``). While the
tracer is on, a wrapped call opens a span: it gets its own Spark job group
(named after the span), its returned frame is forced at the boundary so
lazy work lands in this span rather than in a later consumer, and a few
counts are taken there (``_hooks``). While the tracer is off the wrappers
call straight through.

Spans nest through parent ids and are kept in memory. After each root span
closes, ``collect`` attributes Spark jobs to spans (by job group; jobs
started from helper threads carry no group and go to the innermost span
open at their submission time) and reads their stages through
``datalake_indexes_spark.plans.runtime._stage_data``. ``layer_metrics``
reduces the spans to one median per metric.
"""

from __future__ import annotations

import functools
import itertools
import os
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

from datalake_indexes_spark import session
from datalake_indexes_spark.index import builder
from datalake_indexes_spark.index.lake_index import LakeIndex
from datalake_indexes_spark.operators.cocoa import COCOA
from datalake_indexes_spark.operators.duplicates import DuplicateDetection
from datalake_indexes_spark.operators.mate import MATE
from datalake_indexes_spark.pipelines import enrichment
from datalake_indexes_spark.plans.runtime import _stage_data

# span name -> (owner, attribute): the public function each span wraps
LAYERS = {
    "session.get_spark": (session, "get_spark"),
    "index.builder.build_index": (builder, "build_index"),
    "index.lake_index.save": (LakeIndex, "save"),
    "index.lake_index.load": (LakeIndex, "load"),
    "index.lake_index.cache": (LakeIndex, "cache"),
    "index.lake_index.upsert_into": (LakeIndex, "upsert_into"),
    "operators.mate.prepare_input": (MATE, "prepare_input"),
    "operators.mate.join_search": (MATE, "join_search"),
    "operators.duplicates.get_relations": (DuplicateDetection, "get_relations"),
    "operators.duplicates.remove_duplicate_tables": (DuplicateDetection, "remove_duplicate_tables"),
    "operators.cocoa.enrich_multicolumn": (COCOA, "enrich_multicolumn"),
    "operators.cocoa.target_ranks": (COCOA, "target_ranks"),
    "pipelines.enrichment.enrich_dataset": (enrichment, "enrich_dataset"),
}

# a stage shorter than this is scheduling noise for the skew statistic
MIN_SKEW_STAGE_MS = 50


@dataclass
class Span:
    id: int
    parent: int | None
    root: int
    name: str
    t0: float          # epoch seconds, comparable with Spark's job times
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)
    jobs: list = field(default_factory=list)     # own jobs (not children's)
    stages: list = field(default_factory=list)   # runtime._stage_data rows

    @property
    def tag(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall - sum(c.wall for c in self.children)

    def subtree(self):
        yield self
        for c in self.children:
            yield from c.subtree()


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._seen_ungrouped: set[int] = set()

    # ------------------------------------------------------------------
    def _sc(self):
        return SparkContext._active_spark_context

    def _set_group(self, span: Span | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        if span is None:
            sc.setJobGroup(None, None)
        else:
            sc.setJobGroup(span.tag, span.name, interruptOnCancel=False)

    def begin(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        span = Span(sid, parent.id if parent else None, parent.root if parent else sid,
                    name, time.time())
        if parent is not None:
            parent.children.append(span)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        span.t1 = time.time()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    # ------------------------------------------------------------------
    def collect(self, root: Span) -> None:
        """Attribute the Spark jobs and stages of ``root``'s tree (call
        once the root has closed). Reads only the driver's status store."""
        sc = self._sc()
        if sc is None:
            return
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(30_000)
        except Exception:
            time.sleep(0.5)
        tracker = sc.statusTracker()
        tree = list(root.subtree())
        for s in tree:
            s.jobs = list(tracker.getJobIdsForGroup(s.tag))
        # jobs from threads the tracer cannot label: innermost span by time
        store = jsc.statusStore()
        for jid in tracker.getJobIdsForGroup(None):
            if jid in self._seen_ungrouped:
                continue
            self._seen_ungrouped.add(jid)
            try:
                sub = store.job(jid).submissionTime()
            except Py4JJavaError:  # evicted from the status store
                continue
            if not sub.isDefined():
                continue
            t = sub.get().getTime() / 1000.0
            inside = [s for s in tree if s.t0 <= t <= s.t1]
            if inside:
                max(inside, key=lambda s: s.t0).jobs.append(jid)
        stage_of = {}
        for s in tree:
            for jid in s.jobs:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    for sid in info.stageIds:
                        stage_of[sid] = s
        if stage_of:
            for row in _stage_data(SparkSession.getActiveSession(), set(stage_of)):
                stage_of[row["stage_id"]].stages.append(row)

    def cache_residency(self) -> tuple[int, float]:
        """(persisted RDD count, storage MB in memory and on disk)."""
        sc = self._sc()
        jsc = sc._jsc.sc()
        infos = jsc.getRDDStorageInfo()
        mb = sum((i.memSize() + i.diskSize()) for i in infos) / 1e6
        return sc._jsc.getPersistentRDDs().size(), mb


# ----------------------------------------------------------------------
# boundary hooks: (pre, post) per span name; pre may rewrite kwargs and
# returns state for post; post forces the result and records counts


def _du(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[float, int]:
    changed = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in changed) / 1e6, len(changed)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _path(args, kwargs) -> str:
    """The index directory of ``save``/``upsert_into`` (self, path, ...)."""
    return args[1] if len(args) > 1 else kwargs["path"]


def _pre_path(span, args, kwargs):
    return _du(_path(args, kwargs))


def _post_save(span, res, args, kwargs, before):
    span.attrs["mb_written"], span.attrs["files_written"] = _written(before, _du(_path(args, kwargs)))


def _post_upsert(span, res, args, kwargs, before):
    after = _du(_path(args, kwargs))
    mb, _ = _written(before, after)
    span.attrs["mb_written"] = mb
    # the bytes the delta itself needs: its own cells/row_keys partitions
    own = sum(
        size for p, (size, _) in after.items()
        if any(f"{os.sep}table_id={t}{os.sep}" in p for t in res)
        and (f"{os.sep}cells{os.sep}" in p or f"{os.sep}row_keys{os.sep}" in p)
    ) / 1e6
    span.attrs["write_amplification"] = mb / own if own else 0.0


def _post_cache(span, res, args, kwargs, before):
    for member in (res.cells, res.row_keys, res.column_headers, res.table_info, res.col_flags):
        if member is not None:
            member.count()


def _post_build(span, res, args, kwargs, before):
    span.attrs["cells"] = res.cells.count()


def _post_count(key):
    def post(span, res, args, kwargs, before):
        span.attrs[key] = res.count()
    return post


def _pre_join_search(span, args, kwargs):
    # the useful/attempted counts come from the stats surface
    if kwargs.get("stats") is None:
        kwargs["stats"] = {}
    return kwargs["stats"]


def _post_join_search(span, res, args, kwargs, stats):
    _force(res.top_k)
    span.attrs["candidate_pairs"] = stats.get("total_approved", 0)
    span.attrs["matching_rows"] = stats.get("matching_rows", 0)
    span.attrs["precision"] = stats.get("precision", 0.0)


def _pre_remove(span, args, kwargs):
    return args[0].count()


def _post_remove(span, res, args, kwargs, n_in):
    n_out = res.count()
    span.attrs["dropped_ratio"] = (n_in - n_out) / n_in if n_in else 0.0


def _post_enrich(span, res, args, kwargs, before):
    t0 = time.perf_counter()
    _force(res.enriched)
    span.attrs["materialize_s"] = time.perf_counter() - t0


_hooks = {
    "index.builder.build_index": (None, _post_build),
    "index.lake_index.save": (_pre_path, _post_save),
    "index.lake_index.cache": (None, _post_cache),
    "index.lake_index.upsert_into": (_pre_path, _post_upsert),
    "operators.mate.prepare_input": (None, _post_count("rows_out")),
    "operators.mate.join_search": (_pre_join_search, _post_join_search),
    "operators.duplicates.get_relations": (None, _post_count("relations")),
    "operators.duplicates.remove_duplicate_tables": (_pre_remove, _post_remove),
    "operators.cocoa.enrich_multicolumn": (None, _post_count("features_evaluated")),
    "operators.cocoa.target_ranks": (None, _post_count("rows_out")),
    "pipelines.enrichment.enrich_dataset": (None, _post_enrich),
}


def _wrap(tracer: Tracer, name: str, fn):
    pre, post = _hooks.get(name, (None, None))

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.on:
            return fn(*args, **kwargs)
        span = tracer.begin(name)
        try:
            state = pre(span, args, kwargs) if pre else None
            res = fn(*args, **kwargs)
            if post:
                post(span, res, args, kwargs, state)
            return res
        finally:
            tracer.end(span)

    return traced


def install(tracer: Tracer) -> None:
    """Wrap every function in ``LAYERS``; call once per process."""
    for name, (owner, attr) in LAYERS.items():
        raw = owner.__dict__[attr]
        if isinstance(raw, (classmethod, staticmethod)):
            wrapped = type(raw)(_wrap(tracer, name, raw.__func__))
        else:
            wrapped = _wrap(tracer, name, raw)
        setattr(owner, attr, wrapped)


# ----------------------------------------------------------------------
# reduction to per-layer metrics


def _counters(span: Span) -> dict:
    """Inclusive Spark counters of a span's subtree."""
    stages = [row for s in span.subtree() for row in s.stages]
    skews = [r["task_skew"] for r in stages
             if r.get("task_skew") and r["run_ms"] >= MIN_SKEW_STAGE_MS]
    skews = skews or [r["task_skew"] for r in stages if r.get("task_skew")]
    return {
        "jobs": sum(len(s.jobs) for s in span.subtree()),
        "stages": len(stages),
        "tasks": sum(r["n_tasks"] for r in stages),
        "shuffle_mb": sum(r["shuffle_write_mb"] for r in stages),
        "spill_mb": sum(r["spill_mb"] for r in stages),
        "task_skew": max(skews) if skews else 1.0,
    }


def span_values(span: Span) -> dict:
    vals = {"wall_s": span.wall, "self_s": span.self_s, **_counters(span), **span.attrs}
    if "cells" in span.attrs and span.wall > 0:
        vals["cells_per_s"] = span.attrs["cells"] / span.wall
    return vals


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """``<span name>.<field>`` -> median over the span's calls."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        if s.name in LAYERS:
            by_name.setdefault(s.name, []).append(span_values(s))
    out = {}
    for name, calls in by_name.items():
        for key in calls[0]:
            vals = [c[key] for c in calls if key in c]
            out[f"{name}.{key}"] = float(statistics.median(vals))
    return out
