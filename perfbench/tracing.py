"""Per-layer tracing for the benchmark's traced runs.

Everything here observes the engine from outside: it wraps and times the
calls into engine modules, gives every operation its own Spark job group
and reads that group's stage metrics from the status store, takes the
planning phases and the executed plan's SQL metrics from a
``QueryExecutionListener``, and keeps streaming progress from a
``StreamingQueryListener``. Untraced runs use none of it.

Spans and counters stay in memory; ``OpRecord`` holds one operation's.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: Executed-plan SQL metrics summed per operation, by metric key. Only
#: scan and Python-evaluation nodes carry them, so only those are read.
PLAN_METRICS = (
    "pythonTotalTime", "pythonBootTime", "pythonDataSent",
    "pythonDataReceived", "numFiles", "filesSize",
)
_METRIC_NODES = ("Scan", "Python", "Pandas", "Arrow")

def _pruned_files(result) -> dict:
    return {"scan.files_pruned": len(result[1])}


#: Engine calls wrapped in traced runs: (module, attribute, span name) and,
#: for some, a function of the call's result giving counters. A class
#: attribute is named ``Class.method``. ``_bucketed_orderkey_layout`` is
#: where the bucketed queries resolve and attach their layout.
WRAPPED = (
    ("pycaim_spark.catalog", "load_table", "catalog.load"),
    ("pycaim_spark.operators.caim.estimator", "CaimDiscretizer._fit", "caim.fit"),
    ("pycaim_spark.queries.advanced", "_bucketed_orderkey_layout", "layout.resolve"),
    ("pycaim_spark.operators.layout", "prune_layout_files", "layout.prune", _pruned_files),
    ("pycaim_spark.streaming.runner", "run_available_now", "stream.run"),
    ("pycaim_spark.operators.dedup", "incremental_minhash_dedup_stored", "sigstore.probe"),
    ("pycaim_spark.operators.dedup", "minhash_signature_store_append", "sigstore.append"),
    ("pycaim_spark.operators.dedup", "minhash_signature_store_delete", "sigstore.delete"),
    ("pycaim_spark.operators.dedup", "minhash_signature_store_compact", "sigstore.compact"),
    ("pycaim_spark.operators.similarity", "ivf_pq_index_append", "ivfpq.append"),
    ("pycaim_spark.operators.similarity", "ivf_pq_index_delete", "ivfpq.delete"),
    ("pycaim_spark.operators.similarity", "ivf_pq_codes_vacuum", "ivfpq.vacuum"),
    ("pycaim_spark.operators.similarity", "ivf_pq_topk_stored", "ivfpq.query"),
    ("pycaim_spark.operators.similarity", "ivf_topk_neighbors", "ann.query"),
)

_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "shuffleRemoteBytesRead", "shuffleLocalBytesRead", "shuffleWriteBytes",
    "diskBytesSpilled", "inputBytes", "inputRecords",
)


@dataclass
class OpRecord:
    """What one traced operation did, layer by layer."""

    name: str
    wall_s: float = 0.0
    build_s: float = 0.0
    build_jobs: int = 0
    jobs: int = 0
    stages: int = 0
    stage: dict = field(default_factory=lambda: defaultdict(float))
    phases: dict = field(default_factory=lambda: defaultdict(float))
    plan: dict = field(default_factory=lambda: defaultdict(float))
    spans: dict = field(default_factory=lambda: defaultdict(float))
    calls: dict = field(default_factory=lambda: defaultdict(int))
    stream: dict = field(default_factory=lambda: defaultdict(float))
    counts: dict = field(default_factory=dict)


def _scala_items(scala_map):
    it = scala_map.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _metric_value(metric) -> float:
    kind = metric.metricType()
    value = float(metric.value())
    if kind == "nsTiming":
        return value / 1e9
    if kind == "timing":
        return value / 1e3
    return value


def plan_metrics(plan, out: dict) -> None:
    """Add the ``PLAN_METRICS`` of every node under ``plan`` into
    ``out``, descending into adaptive final plans, query stages and
    subqueries, and not into reused exchanges (counted where they ran)."""
    cls = plan.getClass().getSimpleName()
    if any(part in cls for part in _METRIC_NODES):
        for key, metric in _scala_items(plan.metrics()):
            if key in PLAN_METRICS:
                out[key] += _metric_value(metric)
    if cls.startswith("Reused"):
        return
    kids = _seq(plan.children()) + _seq(plan.subqueries())
    if cls == "AdaptiveSparkPlanExec":
        kids.append(plan.executedPlan())
    elif cls.endswith("QueryStageExec"):
        kids.append(plan.plan())
    for kid in kids:
        plan_metrics(kid, out)


class _QueryListener:
    """py4j implementation of Spark's ``QueryExecutionListener``."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        self.tracer._on_query(qe)

    def onFailure(self, func_name, qe, exception):
        self.tracer._on_query(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer._stream_runs.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        s = self.tracer._stream
        s["batches"] += 1
        s["input_rows"] += p.numInputRows
        for op in p.stateOperators:
            s["state_rows"] = max(s["state_rows"], op.numRowsTotal)
            s["state_bytes"] = max(s["state_bytes"], op.memoryUsedBytes)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Traces operations run one at a time on one Spark session."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self._current: OpRecord | None = None
        self._queries: list = []
        self._stream_runs: list[str] = []
        self._stream: dict = defaultdict(float)
        self._restore: list[tuple[object, str, object]] = []
        self._seq = 0
        ensure_callback_server_started(self.sc._gateway)
        self._qlistener = _QueryListener(self)
        spark._jsparkSession.listenerManager().register(self._qlistener)
        self._slistener = _StreamListener(self)
        spark.streams.addListener(self._slistener)
        self._wrap_engine()

    # -- engine call spans ------------------------------------------------

    def _span(self, name: str, fn, counts=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                rec = tracer._current
                if rec is not None:
                    rec.spans[name] += time.perf_counter() - t0
                    rec.calls[name] += 1
            if counts is not None and rec is not None:
                for key, value in counts(result).items():
                    rec.counts[key] = rec.counts.get(key, 0) + value
            return result

        return wrapper

    def _wrap_engine(self) -> None:
        import importlib

        for mod_name, attr, span, *counts in WRAPPED:
            module = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(module, cls_name)
                orig = owner.__dict__[meth]
                self._restore.append((owner, meth, orig))
                setattr(owner, meth, self._span(span, orig, *counts))
                continue
            orig = getattr(module, attr)
            wrapped = self._span(span, orig, *counts)
            # Rebind every engine module that imported the function by name.
            for m in list(sys.modules.values()):
                if (
                    getattr(m, "__name__", "").startswith("pycaim_spark")
                    and getattr(m, attr, None) is orig
                ):
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, wrapped)

    # -- listeners --------------------------------------------------------

    def _on_query(self, qe) -> None:
        # Read after the operation, so the plan walk does not overlap it.
        self._queries.append(qe)

    def _read_queries(self, rec: OpRecord) -> None:
        for qe in self._queries:
            for name, summary in _scala_items(qe.tracker().phases()):
                rec.phases[name] += summary.durationMs() / 1e3
            plan_metrics(qe.executedPlan(), rec.plan)

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stage_metrics(self, groups: list[str], rec: OpRecord) -> None:
        status = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        for group in groups:
            for job in tracker.getJobIdsForGroup(group):
                rec.jobs += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    try:
                        st = status.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage has no attempt
                        continue
                    rec.stages += 1
                    for f in _STAGE_FIELDS:
                        rec.stage[f] += float(getattr(st, f)())

    # -- operations -------------------------------------------------------

    def run(self, name: str, build, sink) -> OpRecord:
        """Run one operation: ``build()`` returns what ``sink`` consumes."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        rec = OpRecord(name)
        self._current = rec
        self._queries.clear()
        self._stream_runs.clear()
        self._stream.clear()
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            built = build()
            rec.build_s = time.perf_counter() - t0
            rec.build_jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            sink(built)
        finally:
            rec.wall_s = time.perf_counter() - t0
            self._current = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._drain()
            self._stage_metrics([group, *self._stream_runs], rec)
            self._read_queries(rec)
            rec.stream.update(self._stream)
        return rec

    def close(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        try:
            self.spark._jsparkSession.listenerManager().unregister(self._qlistener)
            self.spark.streams.removeListener(self._slistener)
        except Exception:  # the session may already be stopped
            pass
