"""Spans around the calls into each layer, and Spark task metrics
attributed to them.

The program is not instrumented: :class:`Tracer` wraps the public
functions and methods each layer exposes (module attributes and class
methods, patched for the run and restored afterwards).  Every span
records name, layer, start, end, parent span and request id, and tags
the Spark jobs it launches with ``setJobGroup(<span id>)``.  Spark
local properties are per thread and plain threads do not inherit them,
so a span opened in one of the pipeline's writer threads tags that
thread itself; its parent is the enclosing pipeline span.

Spark's own task metrics come from its event log, read after the
session stops (:func:`read_event_log`): stages map to job groups, so
executor time, CPU, GC, shuffle and spill bytes can be summed per span,
per layer or over a time window.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    request: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._ambient: list[Span] = []  # open spans that adopt thread-pool children
        self._patched: list[tuple[object, str, object]] = []

    # -- patching --------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             classify=None, on_result=None, ambient: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``classify(args, kwargs) -> (layer, name)`` renames a span from
        its arguments; ``on_result(span, args, kwargs, result)`` stores
        attributes read off the return value."""
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            lay, nm = classify(args, kwargs) if classify else (layer, label)
            span, prev_group = self._open(nm, lay, ambient)
            try:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(span, args, kwargs, result)
                return result
            finally:
                self._close(span, prev_group, ambient)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _open(self, name: str, layer: str, ambient: bool):
        st = self._stack()
        with self._lock:
            parent = st[-1] if st else (self._ambient[-1] if self._ambient else None)
            sid = next(self._ids)
            span = Span(sid, name, layer, parent.id if parent else None,
                        parent.request if parent else sid, time.time())
            self.spans.append(span)
            if ambient:
                self._ambient.append(span)
        st.append(span)
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setJobGroup(str(sid), f"{layer}:{name}")
        return span, prev_group

    def _close(self, span: Span, prev_group, ambient: bool) -> None:
        span.end = time.time()
        self._stack().pop()
        self.sc.setLocalProperty(JOB_GROUP, prev_group)
        if ambient:
            with self._lock:
                self._ambient.remove(span)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span], t0: float, t1: float) -> dict[str, float]:
    """Per-layer self time of spans that start inside [t0, t1]: each
    span's duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if not (t0 <= s.start <= t1) or not s.end:
            continue
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end or s.end, s.end)) for c in kids.get(s.id, ())
        ):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
    return out


# -- event log ----------------------------------------------------------------

TASK_FIELDS = ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
               "spill_bytes", "tasks")


@dataclass
class StageMetrics:
    group: str | None
    submitted: float  # epoch seconds
    totals: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))


@dataclass
class EventLog:
    jobs: list[tuple[float, str | None]]  # (submission time, job group)
    stages: dict[int, StageMetrics]

    def window(self, t0: float, t1: float, groups: set[str] | None = None) -> dict:
        """Job count and summed task metrics of the jobs/stages submitted
        inside [t0, t1], optionally only those tagged with ``groups``."""
        def keep(t, g):
            return t0 <= t <= t1 and (groups is None or g in groups)

        out = dict.fromkeys(TASK_FIELDS, 0.0)
        out["jobs"] = float(sum(1 for t, g in self.jobs if keep(t, g)))
        for st in self.stages.values():
            if keep(st.submitted, st.group):
                for k, v in st.totals.items():
                    out[k] += v
        return out


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (uncompressed) event log the stopped session left in
    ``log_dir``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs: list[tuple[float, str | None]] = []
    stages: dict[int, StageMetrics] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append((ev["Submission Time"] / 1000.0, props.get(JOB_GROUP)))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    stages[info["Stage ID"]] = StageMetrics(
                        props.get(JOB_GROUP), info.get("Submission Time", 0) / 1000.0
                    )
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if st is None or not m:
                        continue
                    t = st.totals
                    t["tasks"] += 1
                    t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return EventLog(jobs, stages)


# -- the layer boundaries and the per-layer report ------------------------------

LAYERS = ("sources", "functions", "operators", "pipeline", "refresh", "httpapi")
WRITE_METHODS = ("overwrite", "append", "merge_upsert", "merge_upsert_mor", "commit_rows")
SERVICE_METHODS = ("search", "neighbors", "evidence", "metadata", "local_search",
                   "context_pack", "refresh")
PIPELINE_STAGES = ("scan_filter", "extract", "materialize", "graph_merge", "lineage")
REFRESH_STAGES = ("pre_snapshot", "pipeline", "pagerank", "communities", "persist")
STAGE_TABLE = "_stage_enriched"  # run_pipeline's staged extraction output


def _table_of(args, kwargs) -> str:
    return kwargs.get("name") or next(a for a in args[1:] if isinstance(a, str))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def instrument(tracer: Tracer) -> None:
    """Wrap every layer boundary the per-layer metrics read."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import graph
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import (
        httpapi,
        pipeline,
        refresh,
    )
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    def write_kind(method):
        def classify(args, kwargs):
            # the staged-extraction commit is where the fused
            # html->text->concepts pass actually runs
            if method == "overwrite" and _table_of(args, kwargs) == STAGE_TABLE:
                return "functions", "extract_commit"
            return "sources", method

        return classify

    def bytes_written(span, args, kwargs, version):
        if not isinstance(version, int):
            return
        table = os.path.join(args[0].root, _table_of(args, kwargs))
        for prefix in "de":  # base / merge-on-read delta data dir
            d = os.path.join(table, f"{prefix}{version:05d}")
            if os.path.isdir(d):
                span.attrs["bytes"] = _dir_bytes(d)
                return

    def pipeline_result(span, args, kwargs, res):
        span.attrs.update(stage_ms=res.stage_ms, chunks=res.chunks, mentions=res.mentions,
                          triples=res.triples)

    for m in WRITE_METHODS:
        tracer.wrap(ParquetCatalog, m, "sources", classify=write_kind(m), on_result=bytes_written)
    tracer.wrap(graph, "upsert_graph", "operators")
    # refresh.py binds run_pipeline by name at import: wrap both names
    for mod in (pipeline, refresh):
        tracer.wrap(mod, "run_pipeline", "pipeline", on_result=pipeline_result, ambient=True)
    tracer.wrap(refresh, "refresh_after_batch", "refresh",
                on_result=lambda span, a, k, res: span.attrs.update(stage_ms=res.stage_ms))
    for m in SERVICE_METHODS:
        tracer.wrap(httpapi.GraphApiService, m, "httpapi")


def layer_inputs(w) -> dict:
    """Counts read from the catalog right after the timed region: the
    files and merge-on-read deltas a graph read resolves, and the
    candidate pairs of the last pipeline batch (its staged extraction)."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import cooccur

    cat = w.catalog()
    files = deltas = 0
    for t in ("nodes", "edges", "mentions"):
        dirs = cat.data_dirs(t)
        files += sum(1 for d in dirs for _, _, fs in os.walk(d) for f in fs
                     if f.endswith(".parquet"))
        if cat.mor_spec(t):
            deltas += sum(1 for d in dirs if os.path.basename(d).startswith("e"))
    pairs = 0
    if w.name != "serve" and cat.exists(STAGE_TABLE):
        pairs = cooccur.candidate_pairs(cat.read(w.spark, STAGE_TABLE)).count()
    return {"data_files": files, "mor_deltas": deltas, "pairs": pairs}


def per_layer(w, tracer: Tracer, ev: EventLog, window: tuple[float, float],
              region: tuple[float, float], inputs: dict) -> dict:
    """Per-layer metrics of a traced run.  ``window`` is the traced part
    of the timed region and ``region`` that part plus the layer phase.
    The timed op's layers are reported per traced op (cold build, delta
    batch or request), the refresh stages per analytics refresh, the
    serve metrics per read, and ``self_s.*``/``spark_run_s.*`` as totals
    over ``region``; ratios are ratios."""
    from perfbench.workloads import READS, median

    t0, t1 = window
    by_id = {s.id: s for s in tracer.spans}
    spans = [s for s in tracer.spans if t0 <= s.start <= t1 and s.end]
    in_region = [s for s in tracer.spans if region[0] <= s.start <= region[1] and s.end]
    ops = [o for o in w.ops if o.traced and o.main]
    n = max(1, len(ops))

    def dur(ss):
        return sum(s.end - s.start for s in ss)

    def top_level_write(s):
        parent = by_id.get(s.parent)
        return s.name in WRITE_METHODS + ("extract_commit",) and not (
            parent and parent.layer == "sources")

    writes = [s for s in spans if top_level_write(s)]
    pipes = [s for s in spans if s.name == "run_pipeline"]
    refreshes = [s for s in in_region if s.name == "refresh_after_batch"]

    def stage_s(ss, stage, per):
        return sum(s.attrs["stage_ms"].get(stage, 0) for s in ss) / 1000 / max(1, per)

    chunks = sum(s.attrs["chunks"] for s in pipes)
    triples_last = pipes[-1].attrs["triples"] if pipes else 0
    m = {
        "sources.write_s": (dur(s for s in writes if s.layer == "sources") / n, "s"),
        "sources.write_calls": (sum(1 for s in writes if s.layer == "sources") / n, "count"),
        "sources.bytes_written": (sum(s.attrs.get("bytes", 0) for s in writes) / n, "bytes"),
        "sources.data_files": (float(inputs["data_files"]), "count"),
        "sources.mor_deltas": (float(inputs["mor_deltas"]), "count"),
        "functions.extract_s": (dur(s for s in spans if s.layer == "functions") / n, "s"),
        "functions.mentions_per_chunk": (
            sum(s.attrs["mentions"] for s in pipes) / chunks if chunks else 0.0, "ratio"),
        "operators.pairs": (float(inputs["pairs"]), "count"),
        "operators.triples_per_pair": (
            triples_last / inputs["pairs"] if inputs["pairs"] else 0.0, "ratio"),
        "operators.graph_merge_s": (dur(s for s in spans if s.name == "upsert_graph") / n, "s"),
    }
    for st in PIPELINE_STAGES:
        m[f"pipeline.{st}_s"] = (stage_s(pipes, st, n), "s")
    for st in REFRESH_STAGES:
        m[f"refresh.{st}_s"] = (stage_s(refreshes, st, len(refreshes)), "s")
    m["refresh.admitted_ratio"] = (
        sum(o.items for o in ops) / (len(ops) * w.sizes["delta_pages"])
        if ops and w.name in ("ingest", "refresh") else 0.0, "ratio")
    for kind in READS:
        lat = [o.latency_s * 1000 for o in w.ops if o.traced and o.kind == kind]
        m[f"serve.{kind}_ms"] = (median(lat) if lat else 0.0, "ms")
    # Spark's fixed cost per read: jobs and tasks tagged by read spans,
    # per outermost read span (one per request)
    reads = [s for s in in_region if s.layer == "httpapi" and s.name in READS]
    read_ids = {s.id for s in reads}
    requests = [s for s in reads if s.parent not in read_ids]
    per_read = ev.window(*region, {str(i) for i in read_ids})
    m["serve.jobs_per_request"] = (per_read["jobs"] / max(1, len(requests)), "count")
    m["serve.tasks_per_request"] = (per_read["tasks"] / max(1, len(requests)), "count")
    tot = ev.window(t0, t1)
    for key, name, unit in (
        ("jobs", "jobs", "count"), ("tasks", "tasks", "count"),
        ("run_s", "executor_run_s", "s"), ("cpu_s", "executor_cpu_s", "s"),
        ("gc_s", "gc_s", "s"), ("shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
        ("shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
        ("spill_bytes", "spill_bytes", "bytes"),
    ):
        m[f"spark.{name}"] = (tot[key] / n, unit)
    cores = len(os.sched_getaffinity(0))
    m["spark.busy_ratio"] = (tot["run_s"] / ((t1 - t0) * cores), "ratio")
    own = self_times(tracer.spans, *region)
    for layer in LAYERS:
        m[f"self_s.{layer}"] = (own.get(layer, 0.0), "s")
        groups = {str(s.id) for s in in_region if s.layer == layer}
        m[f"spark_run_s.{layer}"] = (ev.window(*region, groups)["run_s"], "s")
    untraced = [o.latency_s for o in w.ops if not o.traced and o.main]
    m["trace.overhead_ratio"] = (
        median([o.latency_s for o in ops]) / median(untraced) - 1 if untraced and ops else 0.0,
        "ratio")
    return m
