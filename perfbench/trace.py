"""Traced runs: per-layer numbers recorded from outside the package.

The tracer keeps a span tree in memory. Each timed op is a root span; its
children are calls into the package's public functions (wrapped here, not
edited in the package) and the Spark jobs the op ran, which Spark's status
store reports with submission and completion times. Counts come from the
same boundaries: jobs, stages and tasks from the status store, Arrow-UDF
node metrics from the SQL status store, Catalyst phase times from the
query's planning tracker and micro-batch phases from a streaming listener.
"""

from __future__ import annotations

import importlib
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

from . import stats

PKG = "distributed_deep_learning_with_apache_spark_spark"

# (module, attribute, layer). Classes are given as "Class.method".
WRAPPED = (
    ("session", "get_spark", "session"),
    ("sources.catalog", "load_table", "sources"),
    ("operators.similarity", "build_ivf_index", "operators.similarity"),
    ("operators.similarity", "pq_encode_df", "operators.similarity"),
    ("operators.similarity", "append_ivf_index", "operators.similarity"),
    ("operators.similarity", "append_pq_codes", "operators.similarity"),
    ("operators.dedup", "connected_components_logstar", "operators.dedup"),
    ("operators.dedup", "build_band_index", "operators.dedup"),
    ("operators.dedup", "append_band_index", "operators.dedup"),
    ("operators.dedup", "probe_band_index", "operators.dedup"),
    ("ml.distributed", "DistributedMLPRegressor.fit", "ml.distributed"),
)

UDF_NODE = re.compile(r"Python|InPandas|InArrow")

# Every per-layer metric a traced run reports, in BENCHMARK.json order.
PER_LAYER = (
    ("registry.build_s", "s"),
    ("registry.action_s", "s"),
    ("registry.read_p50_s", "s"),
    ("registry.write_p50_s", "s"),
    ("session.get_spark_s", "s"),
    ("sources.load_table_calls", "count"),
    ("sources.load_table_s", "s"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"),
    ("scheduler.driver_gap_s", "s"),
    ("scheduler.failed_tasks", "count"),
    ("executor.run_s", "s"),
    ("executor.cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("executor.input_bytes", "B"),
    ("executor.shuffle_read_bytes", "B"),
    ("executor.shuffle_write_bytes", "B"),
    ("executor.spill_bytes", "B"),
    ("functions.udf_nodes", "count"),
    ("functions.udf_rows_out", "count"),
    ("functions.udf_bytes_sent", "B"),
    ("functions.udf_python_run_s", "s"),
    ("functions.udf_python_init_s", "s"),
    ("operators.similarity.build_ivf_index_s", "s"),
    ("operators.similarity.pq_encode_df_s", "s"),
    ("operators.similarity.append_ivf_index_s", "s"),
    ("operators.similarity.append_pq_codes_s", "s"),
    ("operators.similarity.index_cache_hit_ratio", "ratio"),
    ("operators.dedup.connected_components_logstar_s", "s"),
    ("operators.dedup.logstar_rounds", "count"),
    ("operators.dedup.build_band_index_s", "s"),
    ("operators.dedup.append_band_index_s", "s"),
    ("operators.dedup.probe_band_index_s", "s"),
    ("ml.distributed.fit_s", "s"),
    ("ml.distributed.epochs", "count"),
    ("ml.distributed.jobs_per_fit", "count"),
    ("streaming.batches", "count"),
    ("streaming.batch_p50_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("self.registry_s", "s"),
    ("self.sources_s", "s"),
    ("self.operators_s", "s"),
    ("self.ml_s", "s"),
    ("self.scheduler_s", "s"),
    ("memory.peak_rss_mb", "MB"),
    ("trace.ops_per_s", "1/s"),
    ("trace.overhead_s", "s"),
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list["Span"] = field(default_factory=list)

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "layer": self.layer,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            "attrs": self.attrs,
            "children": [c.to_json() for c in self.children],
        }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def self_time(span: Span) -> float:
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in span.children], span.start, span.end
    )


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in bytes, seconds or a plain count.

    Spark formats a metric either as a bare number (``"1,024"``) or, when it
    aggregates several tasks, as ``"total (min, med, max ...)\\n<total> (...)"``.
    """
    line = text.strip().splitlines()[-1]
    m = _VALUE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _listener(tracer: "Tracer"):
    """A streaming listener that hands each progress event to ``tracer``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            tracer.on_progress(
                {
                    "query": str(p.id),
                    "run_id": str(p.runId),
                    "batch": p.batchId,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class Tracer:
    """Span tree plus Spark status reads for one traced benchmark run."""

    def __init__(self) -> None:
        self.stack: list[Span] = []
        self.setup_spans: list[Span] = []
        self.ops: list[Span] = []
        self._progress: list[dict] = []
        self._sql_seen = 0
        self._next_job = 0  # lowest job id no op has claimed yet

    # -- function wrappers ---------------------------------------------
    def install(self) -> None:
        """Wrap the public functions in WRAPPED.

        Must run before ``registry.load_all()`` imports the operator
        modules: several bind ``load_table`` by name at import time, so a
        later patch of ``sources.catalog`` would miss their calls.
        """
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, name = mod, attr
            if "." in attr:
                cls, name = attr.split(".")
                owner = getattr(mod, cls)
            original = getattr(owner, name)
            setattr(owner, name, self._wrap(original, attr, layer))
            if mod_name == "sources.catalog":  # re-exported by the package
                setattr(importlib.import_module(f"{PKG}.sources"), name, getattr(owner, name))

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        def wrapper(*args, **kwargs):
            span = Span(name, layer, time.time())
            parent = tracer.stack[-1] if tracer.stack else None
            (parent.children if parent else tracer.setup_spans).append(span)
            tracer.stack.append(span)
            try:
                result = fn(*args, **kwargs)
            finally:
                span.end = time.time()
                tracer.stack.pop()
            tracer._annotate(span, args, kwargs, result)
            return result

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        wrapper.__doc__ = fn.__doc__
        return wrapper

    @staticmethod
    def _annotate(span: Span, args, kwargs, result) -> None:
        if span.name == "build_ivf_index" and kwargs.get("root", args[2] if len(args) > 2 else None) is None:
            marker = os.path.join(result, "_INDEX_COMPLETE")
            span.attrs["cache_hit"] = os.path.getmtime(marker) < span.start
        elif span.name == "connected_components_logstar":
            span.attrs["rounds"] = int(result[1])
        elif span.name.endswith(".fit"):
            span.attrs["epochs"] = len(getattr(result, "loss_history", []))

    # -- ops -------------------------------------------------------------
    def begin_op(self, name: str, kind: str, pass_no: int) -> Span:
        span = Span(name, "registry", time.time(), attrs={"kind": kind, "pass": pass_no})
        self.stack.append(span)
        self._progress = []
        return span

    def end_op(self, span: Span, spark, df, build_s: float, action_s: float) -> None:
        span.end = time.time()
        self.stack.pop()
        t0 = time.perf_counter()
        span.attrs.update(build_s=build_s, action_s=action_s)
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self._read_jobs(span, sc, jsc.statusStore())
        self._read_sql(span, spark)
        self._read_catalyst(span, df)
        span.attrs["stream"] = list(self._progress)
        span.attrs["trace_overhead_s"] = time.perf_counter() - t0
        self.ops.append(span)

    def on_progress(self, event: dict) -> None:
        self._progress.append(event)

    def register_listener(self, spark) -> None:
        """Listen for micro-batch progress; called once set-up is done, so
        the set-up's own jobs are claimed by no op."""
        spark.streams.addListener(_listener(self))
        self._claim_jobs(spark.sparkContext)

    def _claim_jobs(self, sc) -> list[int]:
        """Ids of the jobs submitted since the last call.

        Every Spark job after set-up runs inside an op, one op at a time, so
        an op's jobs are all jobs submitted since the previous op was read.
        Its job group alone would miss some: a streaming query runs its
        micro-batches on its own thread, under the query's run id, and a
        ``foreachBatch`` callback submits from a Python callback thread.
        Job ids are dense; a few misses in a row mean no newer job exists
        (a job that fails before it starts leaves a gap).
        """
        tracker = sc._jsc.statusTracker()
        ids, jid, misses = [], self._next_job, 0
        while misses < 8:
            if tracker.getJobInfo(jid) is None:
                misses += 1
            else:
                ids.append(jid)
                misses = 0
                self._next_job = jid + 1
            jid += 1
        return ids

    def _read_jobs(self, span: Span, sc, store) -> None:
        agg = defaultdict(float)
        seen_stages: set[int] = set()
        jobs = []
        for jid in self._claim_jobs(sc):
            jd = store.job(jid)
            start = jd.submissionTime().get().getTime() / 1000.0
            end = jd.completionTime().get().getTime() / 1000.0
            job = Span(f"job {jid}", "scheduler", start, end)
            jobs.append(job)
            for sid in _seq(jd.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["tasks"] += sd.numTasks()
                agg["failed_tasks"] += sd.numFailedTasks()
                agg["run_s"] += sd.executorRunTime() / 1e3
                agg["cpu_s"] += sd.executorCpuTime() / 1e9
                agg["gc_s"] += sd.jvmGcTime() / 1e3
                agg["input_bytes"] += sd.inputBytes()
                agg["shuffle_read_bytes"] += sd.shuffleReadBytes()
                agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                agg["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        agg["jobs"] = len(jobs)
        agg["driver_gap_s"] = (span.end - span.start) - covered(
            [(j.start, j.end) for j in jobs], span.start, span.end
        )
        for job in jobs:  # hang each job under the deepest span it started in
            _deepest(span, job.start).children.append(job)
        for s in _walk(span):
            if s.layer == "ml.distributed":
                s.attrs["jobs"] = sum(1 for c in _walk(s) if c.layer == "scheduler")
        span.attrs.update(agg)
        span.attrs["job_ids"] = [int(j.name.split()[1]) for j in jobs]

    def _read_sql(self, span: Span, spark) -> None:
        store = spark._jsparkSession.sharedState().statusStore()
        count = store.executionsCount()
        new = _seq(store.executionsList(self._sql_seen, count - self._sql_seen)) if count > self._sql_seen else []
        self._sql_seen = count
        nodes = rows = sent = run_s = init_s = 0.0
        raw = []  # (node, metric, formatted value), kept in the span tree
        for ex in new:
            values = store.executionMetrics(ex.executionId())
            for node in _seq(store.planGraph(ex.executionId()).allNodes()):
                if not UDF_NODE.search(node.name()):
                    continue
                nodes += 1
                for m in _seq(node.metrics()):
                    opt = values.get(m.accumulatorId())
                    if not opt.isDefined():
                        continue
                    v = parse_sql_metric(opt.get())
                    n = m.name()
                    raw.append([node.name(), n, opt.get()])
                    if n == "number of output rows":
                        rows += v
                    elif n == "data sent to Python workers":
                        sent += v
                    elif n == "time to start Python workers":
                        init_s += v
                    elif n == "time to run Python workers":
                        run_s += v
                    # "time to initialize Python workers" is not summed: with
                    # reused workers it grows with the worker's age.
        span.attrs.update(
            udf_nodes=nodes, udf_rows_out=rows, udf_bytes_sent=sent,
            udf_python_run_s=run_s, udf_python_init_s=init_s, udf_metrics=raw,
        )

    @staticmethod
    def _read_catalyst(span: Span, df) -> None:
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        if df is not None:
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # the op's action planned a derived query; plan this one
            tracked = qe.tracker().phases()
            for k in phases:
                opt = tracked.get(k)
                if opt.isDefined():
                    phases[k] = float(opt.get().durationMs())
        span.attrs.update({f"catalyst_{k}_ms": v for k, v in phases.items()})

    # -- summaries ---------------------------------------------------------
    def per_op(self, key: str) -> dict[str, list[int]]:
        """A count (``jobs``, ``stages``, ``udf_nodes``) of each op, one
        entry per execution, warm pass first."""
        out: dict[str, list[int]] = defaultdict(list)
        for op in self.ops:
            out[op.name].append(int(op.attrs[key]))
        return dict(out)

    def layer_metrics(self, passes: int, ops_per_s: float) -> dict[str, float]:
        """Per-layer sums over the timed ops, per pass, plus ratios."""
        ops = [o for o in self.ops if o.attrs["pass"] >= 1]
        per_pass = max(1, passes)
        total = defaultdict(float)
        for o in ops:
            for k in ("build_s", "action_s", "jobs", "stages", "tasks", "driver_gap_s",
                      "failed_tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                      "udf_nodes", "udf_rows_out", "udf_bytes_sent", "udf_python_run_s",
                      "udf_python_init_s", "trace_overhead_s", "catalyst_analysis_ms",
                      "catalyst_optimization_ms", "catalyst_planning_ms"):
                total[k] += o.attrs.get(k, 0.0)
        fn = defaultdict(float)
        calls = defaultdict(int)
        hits = lookups = rounds = epochs = fit_jobs = fits = 0
        selfs = defaultdict(float)
        for o in ops:
            for s in _walk(o):
                selfs[s.layer] += self_time(s)
                if s is o or s.layer == "scheduler":
                    continue
                fn[s.name] += s.end - s.start
                calls[s.name] += 1
                if "cache_hit" in s.attrs and o.attrs["kind"] == "read":
                    lookups += 1
                    hits += bool(s.attrs["cache_hit"])
                rounds += s.attrs.get("rounds", 0)
                if s.layer == "ml.distributed":
                    fits += 1
                    epochs += s.attrs.get("epochs", 0)
                    fit_jobs += s.attrs.get("jobs", 0)
        progress = [p for o in ops for p in o.attrs.get("stream", [])]
        dur = lambda key: sum(p["duration_ms"].get(key, 0) for p in progress) / per_pass  # noqa: E731

        def p50(kind):
            xs = [o.end - o.start for o in ops if o.attrs["kind"] == kind]
            return stats.median(xs) if xs else 0.0

        m = {
            "registry.build_s": total["build_s"] / per_pass,
            "registry.action_s": total["action_s"] / per_pass,
            "registry.read_p50_s": p50("read"),
            "registry.write_p50_s": p50("write"),
            "session.get_spark_s": stats.median(
                [s.end - s.start for s in self.setup_spans if s.name == "get_spark"] or [0.0]
            ),
            "sources.load_table_calls": calls["load_table"] / per_pass,
            "sources.load_table_s": fn["load_table"] / per_pass,
            "catalyst.analysis_ms": total["catalyst_analysis_ms"] / per_pass,
            "catalyst.optimization_ms": total["catalyst_optimization_ms"] / per_pass,
            "catalyst.planning_ms": total["catalyst_planning_ms"] / per_pass,
            "scheduler.jobs": total["jobs"] / per_pass,
            "scheduler.stages": total["stages"] / per_pass,
            "scheduler.tasks": total["tasks"] / per_pass,
            "scheduler.driver_gap_s": total["driver_gap_s"] / per_pass,
            "scheduler.failed_tasks": total["failed_tasks"] / per_pass,
            "executor.run_s": total["run_s"] / per_pass,
            "executor.cpu_s": total["cpu_s"] / per_pass,
            "executor.gc_s": total["gc_s"] / per_pass,
            "executor.input_bytes": total["input_bytes"] / per_pass,
            "executor.shuffle_read_bytes": total["shuffle_read_bytes"] / per_pass,
            "executor.shuffle_write_bytes": total["shuffle_write_bytes"] / per_pass,
            "executor.spill_bytes": total["spill_bytes"] / per_pass,
            "functions.udf_nodes": total["udf_nodes"] / per_pass,
            "functions.udf_rows_out": total["udf_rows_out"] / per_pass,
            "functions.udf_bytes_sent": total["udf_bytes_sent"] / per_pass,
            "functions.udf_python_run_s": total["udf_python_run_s"] / per_pass,
            "functions.udf_python_init_s": total["udf_python_init_s"] / per_pass,
            "operators.similarity.index_cache_hit_ratio": hits / lookups if lookups else 0.0,
            "operators.dedup.logstar_rounds": rounds / per_pass,
            "ml.distributed.fit_s": fn["DistributedMLPRegressor.fit"] / per_pass,
            "ml.distributed.epochs": epochs / fits if fits else 0.0,
            "ml.distributed.jobs_per_fit": fit_jobs / fits if fits else 0.0,
            "streaming.batches": len(progress) / per_pass,
            "streaming.batch_p50_ms": stats.median(
                [p["duration_ms"].get("triggerExecution", 0) for p in progress] or [0.0]
            ),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.state_commit_ms": sum(p["state_commit_ms"] for p in progress) / per_pass,
            "streaming.state_rows": sum(p["state_rows"] for p in progress) / per_pass,
            "self.registry_s": selfs["registry"] / per_pass,
            "self.sources_s": selfs["sources"] / per_pass,
            "self.operators_s": (selfs["operators.similarity"] + selfs["operators.dedup"]) / per_pass,
            "self.ml_s": selfs["ml.distributed"] / per_pass,
            "self.scheduler_s": selfs["scheduler"] / per_pass,
            "trace.ops_per_s": ops_per_s,
            "trace.overhead_s": total["trace_overhead_s"] / per_pass,
        }
        for name in ("build_ivf_index", "pq_encode_df", "append_ivf_index", "append_pq_codes"):
            m[f"operators.similarity.{name}_s"] = fn[name] / per_pass
        for name in ("connected_components_logstar", "build_band_index", "append_band_index", "probe_band_index"):
            m[f"operators.dedup.{name}_s"] = fn[name] / per_pass
        return m

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "setup": [s.to_json() for s in self.setup_spans],
                    "ops": [o.to_json() for o in self.ops],
                },
                f,
                default=str,
            )


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _walk(span: Span):
    yield span
    for c in span.children:
        yield from _walk(c)


def _deepest(span: Span, t: float) -> Span:
    for c in span.children:
        if c.layer != "scheduler" and c.start <= t <= c.end:
            return _deepest(c, t)
    return span
