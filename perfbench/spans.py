"""Layer tracing for the benchmark's traced run.

:class:`Tracer` wraps the engine's public functions at the names their
callers resolve (``Engine`` calls ``cypher`` through ``engine._cypher``, the
operator modules through module attributes, ``Warehouse`` methods through
the class), so every call into a layer opens a span.  A span records its
wall time, the py4j round-trips made while it was open and the Spark jobs
started under the job group it sets.  Spans stay in memory; :meth:`report`
turns them into per-layer self time, calls, py4j calls and jobs, and reads
stage metrics for every job from the JVM status store (which works with the
UI off).

Work a lazy DataFrame defers to the benchmark's final ``collect`` runs
outside any layer span; those jobs belong to the ``spark`` layer.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time
from dataclasses import dataclass, field

import py4j.java_gateway as _jg

#: (layer, module path, attribute owner, attribute names)
LAYERS = (
    ("session", "binaryx_graph_spark.session", None, ("get_spark",)),
    ("json_source", "binaryx_graph_spark.engine", None, ("read_analysis_json",)),
    ("ingest", "binaryx_graph_spark.engine", None, ("build_graph_tables",)),
    ("warehouse.merge", "binaryx_graph_spark.sources.warehouse", "Warehouse", ("merge_batch",)),
    ("warehouse.read", "binaryx_graph_spark.sources.warehouse", "Warehouse", ("initialize", "read")),
    ("cypher", "binaryx_graph_spark.engine", None, ("_cypher",)),
    ("search", "binaryx_graph_spark.operators.search", None, ("search_strings", "search_functions")),
    ("traverse", "binaryx_graph_spark.operators.traverse", None,
     ("reachable", "enumerate_paths", "direct_recursion", "indirect_recursion", "call_sequences")),
    ("xref", "binaryx_graph_spark.operators.xref", None, ("xref_address", "global_stats")),
    ("graphalgo", "binaryx_graph_spark.operators.graphalgo", None,
     ("pagerank_fixed", "label_propagation", "scc_bounded", "betweenness_sampled")),
    ("dedup", "binaryx_graph_spark.operators.dedup", None,
     ("minhash_near_dup", "jaccard_pairs_prefix", "exact_dedup_groups", "cdc_duplicate_chunks")),
    ("textstats", "binaryx_graph_spark.operators.textstats", None, ("bm25_topk",)),
)
LAYER_NAMES = tuple(l[0] for l in LAYERS)

SPARK_METRICS = (
    "jobs", "stages", "tasks", "action_s", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s", "job_floor_s",
)


class Py4jCounter:
    """Counts py4j round-trips by wrapping ``GatewayClient.send_command``
    (the client-server client inherits it).  Counting is always installed
    but cheap: one integer increment per round-trip."""

    n = 0
    _orig = None

    @classmethod
    def install(cls) -> None:
        if cls._orig is not None:
            return
        orig = cls._orig = _jg.GatewayClient.send_command

        @functools.wraps(orig)
        def send_command(self, *a, **kw):
            cls.n += 1
            return orig(self, *a, **kw)

        _jg.GatewayClient.send_command = send_command


@dataclass
class Span:
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    group: str = ""
    child_s: float = 0.0
    child_py4j: int = 0
    jobs: int = 0


@dataclass
class Tracer:
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple] = field(default_factory=list)
    _harvested: int = 0
    _seq: int = 0  # job-group names stay unique across clear()
    spark_tot: dict = field(default_factory=lambda: dict.fromkeys(SPARK_METRICS, 0.0))

    # --------------------------------------------------------------- spans
    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        n0 = Py4jCounter.n  # the tracer's own round-trips count for no layer
        sc = self.spark.sparkContext
        if group is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(group, group, interruptOnCancel=False)
        Py4jCounter.n = n0

    def enter(self, layer: str, name: str) -> int:
        sid = len(self.spans)
        group = f"bench-{self._seq}-{layer}.{name}"
        self._seq += 1
        self._set_group(group)
        self.spans.append(Span(layer, name, self._stack[-1] if self._stack else None,
                               time.perf_counter(), py4j=Py4jCounter.n, group=group))
        self._stack.append(sid)
        return sid

    def exit(self, sid: int) -> None:
        sp = self.spans[sid]
        sp.end = time.perf_counter()
        sp.py4j = Py4jCounter.n - sp.py4j
        self._stack.pop()
        self._set_group(self.spans[self._stack[-1]].group if self._stack else None)
        if sp.parent is not None:
            par = self.spans[sp.parent]
            par.child_s += sp.end - sp.start
            par.child_py4j += sp.py4j
        else:
            self._harvest()

    def _harvest(self) -> None:
        """Read the stage metrics of every job the finished span tree
        started.  Done per top-level span because the status store keeps
        only the newest 1000 jobs; these reads are not counted as py4j
        calls of any layer."""
        if self.spark is None:
            self._harvested = len(self.spans)
            return
        n0 = Py4jCounter.n
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        tot = self.spark_tot
        for sp in self.spans[self._harvested:]:
            jobs = list(tracker.getJobIdsForGroup(sp.group))
            sp.jobs = len(jobs)
            for jid in jobs:
                jd = store.job(jid)
                tot["jobs"] += 1
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    tot["action_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
                for stage in tracker.getJobInfo(jid).stageIds:
                    try:
                        st = store.lastStageAttempt(stage)
                    except Exception:  # skipped stage: never attempted
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numTasks()
                    tot["executor_run_s"] += st.executorRunTime() / 1e3
                    tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    tot["gc_s"] += st.jvmGcTime() / 1e3
        self._harvested = len(self.spans)
        Py4jCounter.n = n0

    def clear(self, keep: tuple[str, ...]) -> None:
        """Forget every finished span but the top-level spans of the
        ``keep`` layers, and the spark totals read so far, so that the
        report covers what runs from here on.  Call between rounds, with
        no span open."""
        assert not self._stack, "clear() with a span open"
        self.spans = [sp for sp in self.spans if sp.parent is None and sp.layer in keep]
        self._harvested = len(self.spans)
        self.spark_tot = dict.fromkeys(SPARK_METRICS, 0.0)

    @contextlib.contextmanager
    def action(self, name: str):
        """A span of the ``spark`` layer around the benchmark's own actions
        (``collect``), so their jobs are attributed there.  A no-op while
        the tracer is not installed."""
        if not self._patched:
            yield
            return
        sid = self.enter("spark", name)
        try:
            yield
        finally:
            self.exit(sid)

    # ------------------------------------------------------------ patching
    def install(self) -> None:
        import importlib

        for layer, modname, owner, attrs in LAYERS:
            mod = importlib.import_module(modname)
            target = getattr(mod, owner) if owner else mod
            for attr in attrs:
                orig = getattr(target, attr)
                self._patched.append((target, attr, orig))
                setattr(target, attr, self._wrap(layer, attr, orig))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._patched):
            setattr(target, attr, orig)
        self._patched.clear()

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            sid = tracer.enter(layer, name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.exit(sid)

        return wrapper

    # -------------------------------------------------------------- report
    def report(self, job_floor_s: float) -> dict[str, float]:
        """Per-layer ``calls``/``self_s``/``py4j_calls``/``jobs`` plus the
        ``spark.*`` totals over every job the spans started."""
        out: dict[str, float] = {}
        for layer in LAYER_NAMES:
            for k in ("calls", "self_s", "py4j_calls", "jobs"):
                out[f"{layer}.{k}"] = 0
        py4j_total = 0
        for sp in self.spans:
            if sp.layer != "spark":
                out[f"{sp.layer}.calls"] += 1
                out[f"{sp.layer}.self_s"] += (sp.end - sp.start) - sp.child_s
                out[f"{sp.layer}.py4j_calls"] += sp.py4j - sp.child_py4j
                out[f"{sp.layer}.jobs"] += sp.jobs
            if sp.parent is None:
                py4j_total += sp.py4j
        for k, v in self.spark_tot.items():
            out[f"spark.{k}"] = v
        out["spark.job_floor_s"] = job_floor_s
        out["py4j.calls"] = py4j_total
        return out


def job_floor(spark, n: int = 9) -> float:
    """Median seconds of a trivial one-task job."""
    ts = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)
