"""Process-tree accounting and layer spans for the benchmark.

``ProcTree`` reads CPU time and resident memory of the Spark JVM and its
Python-worker descendants from ``/proc``.  ``Spans`` tags every Spark job
with the job group of the layer that triggered it and, after a pass, reads
the stage metrics of each group from the status store (this works with the
Spark UI disabled).  ``layer_patches`` wraps the public functions of each
pipeline layer from outside the program, so no source file changes.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces and parentheses
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def alive(pid: int) -> bool:
    """Running and not yet a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


class ProcTree:
    """The JVM (``root``) and every process below it."""

    def __init__(self, root: int):
        self.root = root

    def descendants(self) -> list[int]:
        children = defaultdict(list)
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st:
                    children[int(st[1])].append(int(d))
        out, todo = [], [self.root]
        while todo:
            kids = children.get(todo.pop(), [])
            out += kids
            todo += kids
        return out

    def cpu(self) -> tuple[float, float]:
        """(JVM user+sys seconds, Python-worker tree user+sys seconds,
        including reaped children)."""
        st = _stat(self.root)
        jvm = (int(st[11]) + int(st[12])) / _TICK if st else 0.0
        py = 0
        for pid in self.descendants():
            st = _stat(pid)
            if st:
                py += sum(int(v) for v in st[11:15])
        return jvm, py / _TICK

    def peak_rss_mb(self) -> float:
        """Sum of the per-process RSS high-water marks (VmHWM) over the
        JVM and its live Python workers."""
        kb = 0
        for pid in [self.root, *self.descendants()]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb += next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
            except (FileNotFoundError, ProcessLookupError):
                pass
        return kb / 1024


#: per-span fields read from the status store (StageData accessors)
STAGE_FIELDS = {
    "busy_s": lambda s: s.executorRunTime() / 1e3,
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.diskBytesSpilled(),
    "output_bytes": lambda s: s.outputBytes(),
    "failed_tasks": lambda s: s.numFailedTasks(),
}


class Spans:
    """Job-group spans of one pass.  Jobs started outside every span land
    in the ``base`` group; nested spans attribute jobs and wall time to the
    innermost span (self time)."""

    def __init__(self, spark, tree: ProcTree, pass_id: str, base: str):
        self.sc = spark.sparkContext
        self.tree = tree
        self.pass_id = pass_id
        self.base = base
        self.cores = self.sc.defaultParallelism
        self.rec: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self._stack: list[str] = []
        self._jobs_before = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self._set_group(base)
        self._t0 = self._base_since = time.perf_counter()

    def _group(self, name: str) -> str:
        return f"{self.pass_id}:{name}"

    def _set_group(self, name: str) -> None:
        self.sc.setJobGroup(self._group(name), name)

    def _flush_base(self, now: float) -> None:
        self.rec[self.base]["wall_s"] += now - self._base_since
        self._base_since = now

    def set_base(self, name: str) -> None:
        """Send later jobs and wall time outside every span to ``name``."""
        if not self._stack:
            self._flush_base(time.perf_counter())
            self._set_group(name)
        self.base = name

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        if not self._stack:
            self._flush_base(t0)
        self._stack.append(name)
        self._set_group(name)
        c0 = self.tree.cpu()
        try:
            yield self.rec[name]
        finally:
            c1 = self.tree.cpu()
            t1 = time.perf_counter()
            wall = t1 - t0
            self._stack.pop()
            r = self.rec[name]
            r["wall_s"] += wall
            r["jvm_cpu_s"] += c1[0] - c0[0]
            r["py_cpu_s"] += c1[1] - c0[1]
            if self._stack:  # charge the parent only its self time
                p = self.rec[self._stack[-1]]
                p["wall_s"] -= wall
                p["jvm_cpu_s"] -= c1[0] - c0[0]
                p["py_cpu_s"] -= c1[1] - c0[1]
                self._set_group(self._stack[-1])
            else:
                self._base_since = t1
                self._set_group(self.base)

    def finish(self) -> dict[str, dict]:
        """Close the pass: the base group gets the wall time no span
        covers, and every span gets its stage metrics."""
        now = time.perf_counter()
        self._flush_base(now)
        total = now - self._t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        orphans = set(tracker.getJobIdsForGroup(None)) - self._jobs_before
        for name, r in self.rec.items():
            jobs = set(tracker.getJobIdsForGroup(self._group(name)))
            if name == self.base:
                jobs |= orphans
            r["jobs"] = len(jobs)
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages.update(info.stageIds if info else [])
            for sid in stages:
                s = store.lastStageAttempt(sid)
                if str(s.status()) == "SKIPPED":
                    continue
                for field, get in STAGE_FIELDS.items():
                    r[field] += get(s)
            r["idle_core_s"] = r["wall_s"] * self.cores - r["busy_s"]
        out = {k: dict(v) for k, v in self.rec.items()}
        out["_pass"] = {"wall_s": total}
        return out


def _materialize(x, rec):
    """Run a layer's output inside its span: persist every returned
    DataFrame and count it, so later layers read the cache instead of
    re-running this layer's plan under their own job group.  The first
    frame's rows go to ``rows_out``, a second frame's (the canonical map,
    the broken-ref report) to ``rows_side``."""
    frames = x if isinstance(x, tuple) else (x,)
    out = []
    for i, df in enumerate(frames):
        if isinstance(df, DataFrame):
            df = df.persist()
            rec["rows_out" if i == 0 else "rows_side"] += df.count()
        out.append(df)
    return tuple(out) if isinstance(x, tuple) else out[0]


def _wrap(fn, spans: Spans, span_of, materialize: bool, on_exit=None):
    def wrapper(*args, **kwargs):
        with spans.span(span_of(args, kwargs)) as rec:
            out = fn(*args, **kwargs)
            if materialize:
                out = _materialize(out, rec)
        if on_exit:
            on_exit()
        return out

    return wrapper


#: (module, function, span, materialize the result inside the span)
LAYERS = [
    ("kartograph_spark.pipeline", "ensure_parallelism", "extraction", False),
    ("kartograph_spark.pipeline", "extract_mentions", "extraction", True),
    ("kartograph_spark.pipeline", "canonicalize_mentions", "canonical", True),
    ("kartograph_spark.triples", "mention_triples", "triples.emit", True),
    ("kartograph_spark.triples", "conversation_triples", "triples.emit", True),
    ("kartograph_spark.triples", "dedup_first_occurrence", "triples.dedup", True),
    ("kartograph_spark.triples", "collect_uid_predicates", "triples.dedup", False),
    ("kartograph_spark.triples", "apply_uid_resolution", "triples.encode", False),
    ("kartograph_spark.triples", "encode_final", "triples.encode", True),
    ("kartograph_spark.validation", "split_broken_refs", "validation", True),
]
LAYER_SPANS = list(dict.fromkeys(span for _, _, span, _ in LAYERS))

#: TableStore table -> write span of ``run_pipeline``
WRITE_SPANS = {
    "canonical_mentions": "canonical",
    "canonical_map": "canonical",
    "triples": "triples",
    "broken_refs": "triples",
    "validation_errors": "validation",
    "validation_summary": "validation",
    "review_flags": "validation",
    "low_confidence_log": "low_conf_log",
    "graph_nodes": "graph",
    "graph_edges": "graph",
}


@contextmanager
def layer_patches(spans: Spans, pipeline_spans: bool = False):
    """Wrap each layer's public functions in ``spans`` for the duration.
    With ``pipeline_spans`` also wrap ``run_mentions_stage``, every
    ``TableStore.write`` (by table) and the schema inference; jobs after
    the schema inference go to ``pipeline.rollup``."""
    import importlib

    from kartograph_spark.graph import TableStore

    saved = []

    def patch(owner, attr, wrapper_of):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper_of(orig))

    fixed = lambda name: lambda a, k: name  # noqa: E731
    for mod, fn, span, mat in LAYERS:
        patch(importlib.import_module(mod), fn, lambda f, s=span, m=mat: _wrap(f, spans, fixed(s), m))
    if pipeline_spans:
        pipe = importlib.import_module("kartograph_spark.pipeline")
        patch(pipe, "run_mentions_stage", lambda f: _wrap(f, spans, fixed("pipeline.mentions_stage"), False))

        def table_span(a, k):
            name = a[2] if len(a) > 2 else k["name"]
            return "pipeline.write." + WRITE_SPANS.get(name, "other")

        patch(TableStore, "write", lambda f: _wrap(f, spans, table_span, False))
        rollup = lambda: spans.set_base("pipeline.rollup")  # noqa: E731
        for fn in ("infer_schema_manifest", "infer_type_predicates"):
            patch(pipe, fn, lambda f: _wrap(f, spans, fixed("pipeline.schema"), False, rollup))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
