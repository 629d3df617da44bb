"""The two workloads, each driving the engine through its public API.

A workload sets up its initial state once, then ``step()`` runs the next
operation(s) and returns one ``Op`` record per operation: its wall time,
the work it did, whether its output matched the reference, and the
epoch-millisecond window the tracer attributes Spark jobs and spans to.

Modules are called through their module objects (``batch.build_index``,
not a bound import) so that the traced run's wrappers, installed on those
module attributes, see every call.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import threading
import time

if __package__ in (None, ""):
    import reference as ref
else:
    from . import reference as ref


@dataclasses.dataclass
class Op:
    ms: float            # the operation's latency
    work: int            # cells indexed / relevant events / docs screened
    ok: bool             # output matched the reference
    start_ms: float      # epoch ms window, for trace attribution
    end_ms: float
    op_id: str
    input_bytes: int = 0
    traced: bool = False
    cpu_ms: float = 0.0  # CPU time of the workload's processes, per op


class NearDupCuration:
    """One op: ``deduped_corpus(docs)`` plus the action that collects the
    kept doc_ids.  The cache is cleared after each op, outside the timed
    region: ``minhash_lsh_dedup_pairs`` caches its shingle table and never
    releases it, so without the clear every op after the first would reuse
    the first op's shingles instead of screening the corpus."""

    # On 4 vCPUs an op falls from ~15 s (cold) to ~2.5 s by op 5 and then
    # slowly to ~2 s by op 25; six ops skip the steep part and leave the
    # run within its budget.  Every run prints the drift that remains.
    warmup_ops = 6
    ops_per_step = 1

    def __init__(self, spark, inputs: str, manifest: dict, work: str, tracer):
        from hbase_indexer_spark.pipeline import dedup
        from hbase_indexer_spark.sources import corpus

        self.spark, self.m, self.tracer = spark, manifest, tracer
        self.dedup = dedup
        self.docs = corpus.read_documents(
            spark, os.path.join(inputs, manifest["corpus"]))
        self.n = 0

    def exhausted(self) -> bool:
        return False

    def step(self) -> list[Op]:
        self.n += 1
        op_id = f"op{self.n}"
        with self.tracer.op(op_id) as w:
            t0 = time.perf_counter()
            kept = self.dedup.deduped_corpus(self.docs, threshold=0.7)
            with self.tracer.span("spark.action"):
                ids = [r[0] for r in kept.collect()]
            ms = (time.perf_counter() - t0) * 1000.0
        self.spark.catalog.clearCache()
        return [Op(ms, self.m["docs"], ids == self.m["expected_kept"],
                   w.start_ms, w.end_ms, op_id)]

    def layer_counts(self) -> dict:
        """Per-op work counts of the dedup layers, each by one extra action
        over the same public functions ``deduped_corpus`` composes."""
        d = self.dedup
        sh = d.exploded_shingles(self.docs, 3)
        out = {
            "pipeline.dedup.shingles": sh.count(),
            "pipeline.dedup.candidate_pairs":
                d.lsh_candidate_pairs(d.sigs_from_shingles(sh)).count(),
            "pipeline.dedup.verified_pairs":
                d.minhash_lsh_dedup_pairs(self.docs, 0.7, 3).count(),
        }
        self.spark.catalog.clearCache()
        return out


class _TriggerListener:
    """Collects every micro-batch's progress and each query's end."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer.lock:
                    outer.progress.append({
                        "batch_id": p.batchId, "timestamp": p.timestamp,
                        "rows": p.numInputRows,
                        "durations": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated.add(str(event.runId))
                outer.done.set()

        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.terminated: set = set()
        self.done = threading.Event()
        self.listener = L()

    def wait_terminated(self, n: int, timeout: float = 60.0) -> None:
        """Block until ``n`` queries have ended: the listener bus delivers a
        query's progress events before its termination event."""
        deadline = time.monotonic() + timeout
        while True:
            with self.lock:
                if len(self.terminated) >= n:
                    return
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError(f"query {n} sent no termination event")
            self.done.wait(min(left, 0.5))
            self.done.clear()

    def drain(self) -> list[dict]:
        with self.lock:
            out, self.progress = self.progress, []
        return out


def _epoch_ms(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


class CdcStream:
    """Set-up takes the indexer live the way the reference does: a batch
    reindex of the snapshot (``build_index`` then the go-live
    ``IndexStore.overwrite``) and the put-cell state the incremental path
    maintains.  Each round then drops the next ``ROUND`` WAL files into the
    stream directory and drains them with ``IndexerStreamJob.run_available``
    (availableNow, one file per trigger); one op is one trigger, timed by
    its ``triggerExecution``.  After each round the index is compared with
    the replayed events."""

    # On 4 vCPUs a trigger falls from ~5 s to ~2.5 s within five triggers
    # and steps down to its plateau (~1.7 s) after 15-20; three rounds of
    # warm-up reach the plateau within the run budget.
    warmup_ops = 15
    ROUND = 5
    ops_per_step = ROUND

    def __init__(self, spark, inputs: str, manifest: dict, work: str, tracer):
        from hbase_indexer_spark.config import indexer_conf
        from hbase_indexer_spark.plans import batch, incremental
        from hbase_indexer_spark.sources import cells as cells_mod
        from hbase_indexer_spark.streaming import stream

        self.spark, self.m, self.tracer = spark, manifest, tracer
        self.inputs, self.stream = inputs, stream
        snapshot = os.path.join(inputs, manifest["snapshot"])
        with tracer.op("golive") as w:
            t0 = time.perf_counter()
            conf = indexer_conf.IndexerConf.from_dict(ref.CONF)
            self.indexer = incremental.IncrementalIndexer(
                spark, conf, state_path=os.path.join(work, "state"),
                index_path=os.path.join(work, "index"))
            tracer.watch_indexer(self.indexer)
            cells = cells_mod.read_cells(spark, snapshot)
            self.indexer.index.overwrite(batch.build_index(cells, conf), spark)
            self.indexer.state.overwrite(incremental.row_state_from_events(
                incremental.gate_events(cells, conf)), spark)
            ms = (time.perf_counter() - t0) * 1000.0
        self.golive = Op(
            ms, manifest["cells_indexed"],
            ref.index_digest(self.indexer.index.path) == manifest["expected"],
            w.start_ms, w.end_ms, "golive", manifest["snapshot_bytes"],
            tracer.active)
        self.replay = ref.CdcReplay()
        self.replay.rows = ref.latest_visible(_read_cells(snapshot))
        self.drop_dir = os.path.join(work, "wal_in")
        os.makedirs(self.drop_dir)
        self.job = stream.IndexerStreamJob(
            self.indexer, os.path.join(work, "checkpoint"))
        self.trig = _TriggerListener()
        spark.streams.addListener(self.trig.listener)
        self.next_file = self.rounds = 0
        self.mtime0 = int(time.time()) - 10 ** 6

    def exhausted(self) -> bool:
        return self.next_file >= len(self.m["wal_files"])

    def step(self) -> list[Op]:
        files = self.m["wal_files"][self.next_file:self.next_file + self.ROUND]
        first = self.next_file
        for i, name in enumerate(files):
            dst = os.path.join(self.drop_dir, name)
            shutil.copyfile(os.path.join(self.inputs, self.m["wal"], name), dst)
            t = self.mtime0 + first + i
            os.utime(dst, (t, t))
        self.next_file += len(files)
        events = self.stream.read_event_stream(
            self.spark, self.drop_dir, max_files_per_trigger=1)
        self.job.run_available(events)
        self.rounds += 1
        self.trig.wait_terminated(self.rounds)
        progress = sorted(self.trig.drain(), key=lambda p: p["batch_id"])
        for name in files:
            self.replay.apply(_read_events(
                os.path.join(self.inputs, self.m["wal"], name)))
        ok = ref.index_digest(self.indexer.index.path) == self.replay.digest()
        batches = [p for p in progress if p["rows"] > 0]
        ok = ok and len(batches) == len(files)
        ops = []
        for k, p in enumerate(batches):
            i = min(first + k, len(self.m["relevant"]) - 1)
            start = _epoch_ms(p["timestamp"])
            dur = float(p["durations"]["triggerExecution"])
            op = Op(dur, self.m["relevant"][i],
                    ok and p["rows"] == self.m["size"]["events"],
                    start, start + dur, f"b{p['batch_id']}",
                    self.m["wal_bytes"][i])
            self.tracer.trigger(op, p["durations"].get("addBatch", 0.0))
            ops.append(op)
        if not ok and not ops:
            ops.append(Op(0.0, 0, False, 0.0, 0.0, f"round{first}"))
        return ops


def _read_cells(path: str):
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return zip(*[t.column(c).to_pylist() for c in
                 ("table", "row", "family", "qualifier", "ts", "value")])


def _read_events(path: str):
    import pyarrow.parquet as pq

    t = pq.read_table(path).sort_by("seq")
    cols = [t.column(c).to_pylist()
            for c in ("table", "row", "family", "qualifier", "op", "value")]
    return zip(*cols)


WORKLOADS = {"cdc_stream": CdcStream, "near_dup_curation": NearDupCuration}
