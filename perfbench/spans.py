"""Traced run: a span around the public entry point of each layer, one
Spark job group per span, and Spark's own counters read per job group.

The wrappers are installed from here, at run time, on the names the
package's callers look up; the package itself is not changed. Spans stay
in memory and are written as one JSONL file when the run ends.

Counters per span:
  * ``statusTracker``: the span's jobs, their stages and task counts;
  * the status REST API (the UI is on only in the traced run): executor
    run and CPU time, GC time, shuffle read/write and spill bytes;
  * a ``QueryExecutionListener`` (py4j callback): the analysis,
    optimization and planning phases of every query that ran an action,
    charged to the innermost span open when the phase started.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import urllib.request

# span name -> per-layer metric that holds the span's self time
SELF_TIME_METRIC = {
    "op": "trace.unaccounted_s",
    "pipeline.run_pipeline": "pipeline.self_s",
    "pipeline.verify_extraction": "pipeline.verify_s",
    "plans.parse": "plans.parse_s",
    "operators.executor.execute": "operators.executor.build_s",
    "sources.registry.records_df": "sources.registry.iterate_s",
    "operators.linking": "operators.linking.s",
    "operators.cc": "operators.cc.s",
    "sinks.triple_table.write": "sinks.triple_table.write_s",
    "sinks.nquads.write": "sinks.nquads.write_s",
    "state.read": "state.read_s",
    "state.commit": "state.commit_s",
    "streaming.snapshots.push": "streaming.snapshots.self_s",
}

# REST stage field -> (span counter, scale)
_STAGE_FIELDS = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


class _PhaseListener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self, sink: list, lock: threading.Lock):
        self.sink = sink
        self.lock = lock

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        with self.lock:
            for name in ("analysis", "optimization", "planning"):
                opt = phases.get(name)
                if opt.isDefined():
                    p = opt.get()
                    self.sink.append((p.startTimeMs() / 1e3, p.endTimeMs() / 1e3))

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java interface
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java interface
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None
        self._patches: list[tuple] = []
        self._phases: list[tuple[float, float]] = []
        self._lock = threading.Lock()
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PhaseListener(self._phases, self._lock)
        spark._jsparkSession.listenerManager().register(self._listener)

    # ---------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "op": self._op,
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self._op}-{len(self.spans)}",
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``after(span,
        result, args)`` runs inside the span to add counters."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if tracer._op is None:
                return orig(*args, **kwargs)
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, out, args)
                return out

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    @contextlib.contextmanager
    def op(self, op_id: str):
        self._op = op_id
        try:
            with self.span("op") as root:
                yield root
        finally:
            self._op = None

    # ------------------------------------------------------------- counters

    def _stage_metrics(self) -> dict[int, dict]:
        base = self.sc.uiWebUrl
        url = f"{base}/api/v1/applications/{self.sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=30) as resp:
            stages = json.load(resp)
        out: dict[int, dict] = {}
        for st in stages:
            m = out.setdefault(st["stageId"], {"tasks": 0})
            if st.get("status") in ("COMPLETE", "FAILED"):
                m["tasks"] += st.get("numTasks", 0)
            for field, (key, scale) in _STAGE_FIELDS.items():
                m[key] = m.get(key, 0) + st.get(field, 0) * scale
        return out

    def collect(self, op_id: str) -> dict:
        """Attach Spark counters and self times to the spans of one op and
        return its per-layer metrics."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        stage_metrics = self._stage_metrics()
        tracker = self.sc.statusTracker()
        spans = [s for s in self.spans if s["op"] == op_id]
        with self._lock:
            phases = list(self._phases)
            self._phases.clear()
        for sp in spans:
            job_ids = sorted(tracker.getJobIdsForGroup(sp["group"]))
            stage_ids = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            sp["jobs"] = len(job_ids)
            sp["stages"] = len(stage_ids)
            counters: dict[str, float] = {}
            for sid in stage_ids:
                for key, val in stage_metrics.get(sid, {}).items():
                    counters[key] = counters.get(key, 0) + val
            sp.update(counters)
            sp["catalyst_s"] = 0.0
            children = [c for c in spans if c["parent"] == sp["id"]]
            sp["self_s"] = (sp["end"] - sp["start"]) - sum(c["end"] - c["start"] for c in children)
        for start, end in phases:
            owner = None
            for sp in spans:  # innermost = the latest-opened span covering it
                if sp["start"] <= start <= sp["end"]:
                    owner = sp
            if owner is not None:
                owner["catalyst_s"] += end - start

        root = next(s for s in spans if s["name"] == "op")
        m: dict[str, float] = {v: 0.0 for v in SELF_TIME_METRIC.values()}
        for sp in spans:
            m[SELF_TIME_METRIC[sp["name"]]] += sp["self_s"]

        def total(key):
            return sum(sp.get(key, 0) for sp in spans)

        def of(name, key):
            return sum(sp.get(key, 0) for sp in spans if sp["name"] == name)

        m.update({
            "catalyst.plan_s": total("catalyst_s"),
            "spark.jobs": total("jobs"),
            "spark.stages": total("stages"),
            "spark.tasks": total("tasks"),
            "spark.executor_run_s": total("executor_run_s"),
            "spark.executor_cpu_s": total("executor_cpu_s"),
            "spark.gc_s": total("gc_s"),
            "exchange.shuffle_write_bytes": total("shuffle_write_bytes"),
            "exchange.shuffle_read_bytes": total("shuffle_read_bytes"),
            "exchange.spill_bytes": total("spill_bytes"),
            "operators.executor.eager_jobs": of("operators.executor.execute", "jobs"),
            "operators.cc.jobs": of("operators.cc", "jobs"),
            "operators.linking.edges": of("operators.linking", "edges"),
            "sources.registry.records": of("sources.registry.records_df", "records"),
            "sinks.bytes_out": total("bytes_out"),
            "state.bytes": of("state.commit", "state_bytes"),
        })
        self_by_name: dict[str, float] = {}
        for sp in spans:
            self_by_name[sp["name"]] = self_by_name.get(sp["name"], 0.0) + sp["self_s"]
        self.ops.append({
            "op": op_id,
            "wall_s": root["end"] - root["start"],
            "self_s": self_by_name,
            "self_sum_s": sum(sp["self_s"] for sp in spans),
            "metrics": m,
        })
        return m

    def write_jsonl(self, path: str, extra: list[dict]) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in extra:
                fh.write(json.dumps(rec) + "\n")
            for sp in self.spans:
                fh.write(json.dumps({"kind": "span", **sp}) + "\n")
            for op in self.ops:
                fh.write(json.dumps({"kind": "op", **op}) + "\n")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def install_layer_wrappers(tracer: Tracer) -> None:
    """Span the public entry point of every layer the workloads reach.
    Names are patched where the caller looks them up (the pipeline module
    imported its stages by name)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from rml_utils_processor_ts_spark import pipeline
    from rml_utils_processor_ts_spark.operators import cdc, executor
    from rml_utils_processor_ts_spark.plans import incrml, rml_parser
    from rml_utils_processor_ts_spark.sinks import nquads
    from rml_utils_processor_ts_spark.streaming import snapshots

    def force_records(sp, df, _args):
        # traced run only: run the iterator to a noop sink so its cost
        # and record count land on this layer
        obs = Observation(f"records_{sp['id']}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        sp["records"] = obs.get["n"]

    def count_edges(sp, edges, _args):
        sp["edges"] = edges.count()

    def triple_table_bytes(sp, summary, args):
        sp["bytes_out"] = dir_bytes(os.path.join(args[1], f"v_{summary['version']}"))

    def nquads_bytes(sp, _out, args):
        sp["bytes_out"] = dir_bytes(args[1])

    def state_bytes(sp, _out, args):
        sp["state_bytes"] = dir_bytes(args[0].root)

    tracer.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(pipeline, "verify_extraction", "pipeline.verify_extraction")
    tracer.wrap(pipeline, "parse_mapping", "plans.parse")
    tracer.wrap(pipeline, "alias_edges_from_triples", "operators.linking", count_edges)
    tracer.wrap(pipeline, "canonicalize_triples", "operators.cc")
    tracer.wrap(pipeline, "write_triple_table", "sinks.triple_table.write", triple_table_bytes)
    tracer.wrap(rml_parser, "parse_mapping", "plans.parse")
    tracer.wrap(snapshots, "parse_mapping", "plans.parse")
    tracer.wrap(incrml, "expand_to_incrml", "plans.parse")
    tracer.wrap(executor.PlanExecutor, "execute", "operators.executor.execute")
    tracer.wrap(executor, "records_df", "sources.registry.records_df", force_records)
    tracer.wrap(cdc.StateStore, "read", "state.read")
    tracer.wrap(cdc.StateStore, "commit_all", "state.commit", state_bytes)
    tracer.wrap(snapshots.SnapshotRunner, "push_snapshot", "streaming.snapshots.push")
    tracer.wrap(nquads, "write_nquads", "sinks.nquads.write", nquads_bytes)
