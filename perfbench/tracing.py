"""Benchmark-side tracing: spans around calls into the engine's public
functions, py4j call counts, and the Spark event log and JVM GC log,
attributed to operations by time window.

Nothing here changes the engine.  ``Tracer.install`` wraps module
attributes (``plans.batch.build_index`` ...) and ``watch_*`` wraps the
methods of the instances a workload creates; the untraced run uses
``NullTracer``, which only marks each operation's window.

Spans are kept in memory and written once, after the run.  A span's
parent is the shortest span of the same operation that contains it, so
spans opened on the engine's own worker threads (the concurrent state and
index publishes of a micro-batch) nest under the call that started them.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import re
import statistics
import sys
import threading
import time

# Layer of a span: the longest of these prefixes its name starts with.
LAYERS = ("op", "sources", "config", "operators.extraction", "plans.batch",
          "plans.incremental", "streaming.stream", "sinks.index_store",
          "pipeline.dedup", "spark")

# (module, attribute, span name) wrapped by Tracer.install
_WRAPPED = (
    ("hbase_indexer_spark.sources.cells", "read_cells",
     "sources.cells.read_cells"),
    ("hbase_indexer_spark.sources.corpus", "read_documents",
     "sources.corpus.read_documents"),
    ("hbase_indexer_spark.streaming.stream", "read_event_stream",
     "sources.read_event_stream"),
    ("hbase_indexer_spark.plans.batch", "build_index",
     "plans.batch.build_index"),
    ("hbase_indexer_spark.plans.batch", "row_documents",
     "operators.extraction.row_documents"),
    ("hbase_indexer_spark.plans.incremental", "row_documents",
     "operators.extraction.row_documents"),
    ("hbase_indexer_spark.pipeline.dedup", "deduped_corpus",
     "pipeline.dedup.deduped_corpus"),
    ("hbase_indexer_spark.pipeline.dedup", "minhash_lsh_dedup_pairs",
     "pipeline.dedup.minhash_lsh_dedup_pairs"),
)


def layer_of(name: str) -> str:
    best = ""
    for layer in LAYERS:
        if (name == layer or name.startswith(layer + ".")) and len(layer) > len(best):
            best = layer
    return best or name.split(".")[0]


class Window:
    start_ms = end_ms = 0.0


class NullTracer:
    """Marks operation windows only; every hook is a no-op."""

    active = False

    @contextlib.contextmanager
    def op(self, op_id: str):
        w = Window()
        w.start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield w
        finally:
            w.end_ms = w.start_ms + (time.perf_counter() - t0) * 1000.0

    def span(self, name: str):
        return contextlib.nullcontext()

    def install(self, spark) -> None:
        pass

    def watch_store(self, store) -> None:
        pass

    def watch_indexer(self, indexer) -> None:
        pass

    def trigger(self, op, add_batch_ms: float) -> None:
        pass


def _from_listener() -> bool:
    """True when the current py4j call is made by PySpark's streaming
    listener bridge (progress-event conversion), not by the engine."""
    f = sys._getframe(2)
    for _ in range(40):
        if f is None:
            return False
        if f.f_code.co_filename.endswith(os.path.join("streaming", "listener.py")):
            return True
        f = f.f_back
    return False


class Tracer(NullTracer):
    """Records while ``active``; the traced run switches it off for every
    other operation so that the same process measures its own overhead."""

    def __init__(self) -> None:
        self.active = True
        self.lock = threading.Lock()
        self.spans: list[dict] = []
        self.current_op: str | None = None
        self.py4j: dict[str, int] = {}
        self.cpu_ms: dict[str, float] = {}
        self.sink: dict[str, list] = {}        # op -> [bytes, files]
        self.incr: dict[str, tuple] = {}       # op -> (relevant, upserted)
        self.triggers: dict[str, tuple] = {}   # op -> (trigger, addBatch)

    # -- recording ---------------------------------------------------------

    def _add(self, name: str, op: str | None, start_ms: float, end_ms: float):
        with self.lock:
            self.spans.append({"name": name, "op": op or "none",
                               "start_ms": start_ms, "end_ms": end_ms,
                               "thread": threading.get_ident()})

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        op = self.current_op
        s = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._add(name, op, s, s + (time.perf_counter() - t0) * 1000.0)

    @contextlib.contextmanager
    def op(self, op_id: str):
        if not self.active:
            with super().op(op_id) as w:
                yield w
            return
        self.current_op = op_id
        c0 = time.process_time()
        try:
            with super().op(op_id) as w:
                yield w
        finally:
            self.cpu_ms[op_id] = (time.process_time() - c0) * 1000.0
            self.current_op = None
            self._add("op", op_id, w.start_ms, w.end_ms)

    def trigger(self, op, add_batch_ms: float) -> None:
        if not self.active:
            return
        self._add("streaming.stream.trigger", op.op_id, op.start_ms, op.end_ms)
        self.triggers[op.op_id] = (op.ms, float(add_batch_ms))

    # -- wrapping ----------------------------------------------------------

    def _wrap(self, fn, name: str):
        def traced(*a, **k):
            if not self.active:
                return fn(*a, **k)
            with self.span(name):
                return fn(*a, **k)
        traced.__wrapped__ = fn
        return traced

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*a, **k):
            op = self.current_op
            if op is not None and self.active and not _from_listener():
                with self.lock:
                    self.py4j[op] = self.py4j.get(op, 0) + 1
            return send(*a, **k)

        client.send_command = counted
        for mod, attr, name in _WRAPPED:
            m = importlib.import_module(mod)
            setattr(m, attr, self._wrap(getattr(m, attr), name))
        from hbase_indexer_spark.config.indexer_conf import IndexerConf

        IndexerConf.from_dict = staticmethod(
            self._wrap(IndexerConf.from_dict, "config.indexer_conf.from_dict"))

    def watch_store(self, store) -> None:
        for meth in ("merge", "overwrite"):
            fn = getattr(store, meth)

            def traced(*a, _fn=fn, _meth=meth, **k):
                if not self.active:
                    return _fn(*a, **k)
                op = self.current_op
                before = store.current_version()
                with self.span(f"sinks.index_store.{_meth}"):
                    out = _fn(*a, **k)
                v = store.current_version()
                if v != before and op is not None:
                    n_bytes, n_files = _dir_size(os.path.join(store.path, f"v={v}"))
                    with self.lock:
                        acc = self.sink.setdefault(op, [0, 0])
                        acc[0] += n_bytes
                        acc[1] += n_files
                return out

            setattr(store, meth, traced)

    def watch_indexer(self, indexer) -> None:
        self.watch_store(indexer.state)
        self.watch_store(indexer.index)
        fn = indexer.process_batch

        def traced(batch, batch_id=None, precount=None):
            if not self.active:
                return fn(batch, batch_id, precount)
            op = None if batch_id is None else f"b{batch_id}"
            self.current_op = op
            c0 = time.process_time()
            try:
                with self.span("plans.incremental.process_batch"):
                    fn(batch, batch_id, precount)
            finally:
                if op is not None:
                    self.cpu_ms[op] = (time.process_time() - c0) * 1000.0
                    m = indexer.metrics
                    self.incr[op] = (m.get("relevant_events") or 0,
                                     m.get("docs_upserted") or 0)
                self.current_op = None

        indexer.process_batch = traced

    # -- output ------------------------------------------------------------

    def write_spans(self, path: str) -> int:
        spans = with_parents(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        return len(spans)


def _dir_size(d: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for name in os.listdir(d):
        if name.startswith((".", "_")):
            continue
        n_bytes += os.path.getsize(os.path.join(d, name))
        n_files += name.endswith(".parquet")
    return n_bytes, n_files


def _contains(a: dict, b: dict) -> bool:
    return a["start_ms"] <= b["start_ms"] and b["end_ms"] <= a["end_ms"]


def with_parents(spans: list[dict]) -> list[dict]:
    """Number the spans and give each the id of its parent: the shortest
    other span of the same op containing it.  Equal intervals nest in
    recording order (an inner span finishes, and is recorded, first)."""
    out = [dict(s, id=i) for i, s in enumerate(spans)]
    by_op: dict[str, list] = {}
    for s in out:
        by_op.setdefault(s["op"], []).append(s)
    for group in by_op.values():
        for s in group:
            cands = [p for p in group if p is not s and _contains(p, s)
                     and (p["end_ms"] - p["start_ms"] > s["end_ms"] - s["start_ms"]
                          or p["id"] > s["id"])]
            s["parent"] = (min(cands, key=lambda p: (p["end_ms"] - p["start_ms"], p["id"]))["id"]
                           if cands else None)
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer over one op's spans: each span's duration minus
    the part of it covered by its children."""
    spans = with_parents(spans)
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union([(max(c["start_ms"], s["start_ms"]),
                           min(c["end_ms"], s["end_ms"]))
                          for c in kids.get(s["id"], ())])
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + max(
            0.0, s["end_ms"] - s["start_ms"] - covered)
    return out


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log and JVM GC log
# ---------------------------------------------------------------------------

def parse_eventlog(path: str) -> dict:
    """Jobs, stages and tasks from a Spark JSON event log."""
    jobs, stages, tasks = [], {}, []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(e["Submission Time"])
            elif kind == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                stages[(si["Stage ID"], si["Stage Attempt ID"])] = \
                    si.get("Submission Time")
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


_GC_PAUSE = re.compile(r"^\[(\d+)ms\].*\bPause\b.*?(\d+(?:\.\d+)?)ms\s*$")


def parse_gc_log(path: str) -> list[tuple[float, float]]:
    """(end epoch ms, pause ms) of every stop-the-world pause in a JVM
    ``-Xlog:gc:file=...:tm`` log."""
    out = []
    with open(path) as f:
        for line in f:
            m = _GC_PAUSE.match(line.strip())
            if m:
                out.append((float(m.group(1)), float(m.group(2))))
    return out


def spark_per_op(ops, log: dict, gc: list) -> dict[str, dict]:
    """Per-op Spark counters: a job or stage belongs to the op whose window
    holds its submit time, a task to its stage's op, a GC pause to the op
    whose window holds its end."""
    def owner(t):
        if t is None:
            return None
        for o in ops:
            if o.start_ms <= t <= o.end_ms:
                return o.op_id
        return None

    per = {o.op_id: {"jobs": 0, "stages": 0, "tasks": 0, "cpu_ms": 0.0,
                     "run_ms": 0.0, "input_bytes": 0, "output_bytes": 0,
                     "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                     "spill_bytes": 0, "gc_ms": 0.0, "_stage_runs": {}}
           for o in ops}
    for t in log["jobs"]:
        o = owner(t)
        if o:
            per[o]["jobs"] += 1
    stage_op = {}
    for key, t in log["stages"].items():
        o = owner(t)
        if o:
            stage_op[key] = o
            per[o]["stages"] += 1
    for t in log["tasks"]:
        o = stage_op.get(t["stage"])
        if not o:
            continue
        p = per[o]
        p["tasks"] += 1
        for k in ("cpu_ms", "run_ms", "input_bytes", "output_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            p[k] += t[k]
        p["_stage_runs"].setdefault(t["stage"], []).append(t["run_ms"])
    for end, ms in gc:
        o = owner(end)
        if o:
            per[o]["gc_ms"] += ms
    for p in per.values():
        p["skew"] = task_skew(p.pop("_stage_runs"))
    return per


def task_skew(stage_runs: dict) -> float:
    """max/median task run time of the op's heaviest stage (by summed task
    time) among stages with at least two tasks; 1.0 when there is none."""
    multi = [r for r in stage_runs.values() if len(r) >= 2]
    if not multi:
        return 1.0
    runs = max(multi, key=sum)
    return max(runs) / max(statistics.median(runs), 1.0)


# ---------------------------------------------------------------------------
# Per-layer metrics of the traced run
# ---------------------------------------------------------------------------

# layers that run inside a timed operation (the others run in set-up)
OP_LAYERS = ("op", "operators.extraction", "plans.incremental",
             "streaming.stream", "sinks.index_store", "pipeline.dedup", "spark")

# the CDC set-up's batch reindex + go-live, measured once per run
GOLIVE = (("op.ms", "ms"), ("spark.jobs", "count"),
          ("spark.executor_cpu_ms", "ms"), ("spark.input_bytes", "bytes"),
          ("spark.output_bytes", "bytes"), ("driver.py4j_calls", "count"),
          ("sources.ms", "ms"),
          ("operators.extraction.row_documents.ms", "ms"),
          ("plans.batch.build_index.ms", "ms"),
          ("sinks.index_store.overwrite.ms", "ms"),
          ("sinks.index_store.bytes_written", "bytes"),
          *((f"self_ms.{layer}", "ms") for layer in
            ("sources", "config", "operators.extraction", "plans.batch",
             "sinks.index_store")))

# (name, unit, better): the traced run reports each as the median over the
# timed operations; a layer the workload does not use reads 0.
PER_LAYER = (
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.output_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.jvm_gc_ms", "ms", "lower"),
    # heap still in use after a full collection at the end of the run: the
    # heap memory that peak_rss_mb, under its fixed-size heap, cannot see
    ("spark.jvm_live_heap_mb", "MB", "lower"),
    ("driver.py4j_calls", "count", "lower"),
    ("driver.python_cpu_ms", "ms", "lower"),
    ("operators.extraction.row_documents.ms", "ms", "lower"),
    ("plans.incremental.process_batch.ms", "ms", "lower"),
    ("plans.incremental.relevant_events", "count", "lower"),
    ("plans.incremental.docs_upserted", "count", "lower"),
    ("plans.incremental.upsert_ratio", "ratio", "lower"),
    ("streaming.stream.trigger_ms", "ms", "lower"),
    ("streaming.stream.overhead_ms", "ms", "lower"),
    ("sinks.index_store.merge.ms", "ms", "lower"),
    ("sinks.index_store.overwrite.ms", "ms", "lower"),
    ("sinks.index_store.bytes_written", "bytes", "lower"),
    ("sinks.index_store.files_written", "count", "lower"),
    ("sinks.index_store.write_amplification", "ratio", "lower"),
    ("pipeline.dedup.deduped_corpus.ms", "ms", "lower"),
    ("pipeline.dedup.shingles", "count", "lower"),
    ("pipeline.dedup.candidate_pairs", "count", "lower"),
    ("pipeline.dedup.verified_pairs", "count", "lower"),
    ("pipeline.dedup.verify_yield", "ratio", "higher"),
    *((f"self_ms.{layer}", "ms", "lower") for layer in OP_LAYERS),
    ("trace.spans_per_op", "count", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    # the CDC set-up's batch reindex + go-live, measured once per run
    *((f"golive.{name}", unit, "lower") for name, unit in GOLIVE),
)


def layer_metrics(tracer: Tracer, ops, log: dict, gc: list) -> dict:
    """Median over ``ops`` of each per-op layer metric (the ``trace.*``
    overhead and the dedup work counts are filled in by the caller)."""
    spark = spark_per_op(ops, log, gc)
    by_op: dict[str, list] = {}
    for s in tracer.spans:
        by_op.setdefault(s["op"], []).append(s)
    rows = []
    for o in ops:
        s, spans = spark[o.op_id], by_op.get(o.op_id, [])

        def dur(prefix: str) -> float:
            return sum(x["end_ms"] - x["start_ms"] for x in spans
                       if x["name"].startswith(prefix))

        n_bytes, n_files = tracer.sink.get(o.op_id, (0, 0))
        rel, ups = tracer.incr.get(o.op_id, (0, 0))
        trig, add = tracer.triggers.get(o.op_id, (0.0, 0.0))
        row = {
            "spark.jobs": s["jobs"], "spark.stages": s["stages"],
            "spark.tasks": s["tasks"], "spark.executor_cpu_ms": s["cpu_ms"],
            "spark.executor_run_ms": s["run_ms"],
            "spark.input_bytes": s["input_bytes"],
            "spark.output_bytes": s["output_bytes"],
            "spark.shuffle_read_bytes": s["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": s["shuffle_write_bytes"],
            "spark.spill_bytes": s["spill_bytes"],
            "spark.task_skew": s["skew"], "spark.jvm_gc_ms": s["gc_ms"],
            "driver.py4j_calls": tracer.py4j.get(o.op_id, 0),
            "driver.python_cpu_ms": tracer.cpu_ms.get(o.op_id, 0.0),
            "sources.ms": dur("sources."),
            "operators.extraction.row_documents.ms":
                dur("operators.extraction.row_documents"),
            "plans.batch.build_index.ms": dur("plans.batch.build_index"),
            "op.ms": o.ms,
            "plans.incremental.process_batch.ms":
                dur("plans.incremental.process_batch"),
            "plans.incremental.relevant_events": rel,
            "plans.incremental.docs_upserted": ups,
            "plans.incremental.upsert_ratio": ups / rel if rel else 0.0,
            "streaming.stream.trigger_ms": trig,
            "streaming.stream.overhead_ms": trig - add if trig else 0.0,
            "sinks.index_store.merge.ms": dur("sinks.index_store.merge"),
            "sinks.index_store.overwrite.ms": dur("sinks.index_store.overwrite"),
            "sinks.index_store.bytes_written": n_bytes,
            "sinks.index_store.files_written": n_files,
            "sinks.index_store.write_amplification":
                n_bytes / o.input_bytes if o.input_bytes else 0.0,
            "pipeline.dedup.deduped_corpus.ms":
                dur("pipeline.dedup.deduped_corpus"),
            "trace.spans_per_op": len(spans),
        }
        st = self_times(spans)
        for layer in LAYERS:
            row[f"self_ms.{layer}"] = st.get(layer, 0.0)
        rows.append(row)
    return {k: float(statistics.median(r[k] for r in rows)) for k in rows[0]}
