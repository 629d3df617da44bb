"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import child  # noqa: E402
import gen  # noqa: E402
import reference as ref  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _write_index(d: str, docs: list[tuple], version: int = 0) -> None:
    """An index store version laid out as the engine's IndexStore does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {"id": [x[0] for x in docs]}
    for i, (n, _, _, t) in enumerate(ref.FIELDS):
        cols[n] = [float(x[i + 1]) if t == "double" and x[i + 1] is not None
                   else x[i + 1] for x in docs]
    cols[ref.TAG_COLUMN] = [list(x[-1]) for x in docs]
    types_ = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
              "double": pa.float64(), "boolean": pa.bool_()}
    schema = pa.schema([("id", pa.string())]
                       + [(n, types_[t]) for n, _, _, t in ref.FIELDS]
                       + [(ref.TAG_COLUMN, pa.map_(pa.string(), pa.string()))])
    os.makedirs(os.path.join(d, f"v={version}"))
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(d, f"v={version}", "part-0.parquet"))
    with open(os.path.join(d, "_CURRENT"), "w") as f:
        f.write(str(version))


def _put(row, fam, q, type_, v, table=ref.TABLE):
    return (table, row, fam, q, "put", ref.encode(type_, v))


def _events():
    return [
        _put("r1", "info", "name", "string", "ann"),
        _put("r1", "stats", "score", "double", 1.5),
        _put("r1", "info", "tag_x", "string", "hot"),
        _put("r2", "info", "age", "int", 41),
        _put("r2", "stats", "visits", "long", 7),
        _put("r3", "info", "active", "boolean", True),
        _put("r3", "info", "note", "string", "unmapped"),
        _put("r4", "info", "name", "string", "other", table=ref.OTHER_TABLE),
        (ref.TABLE, "r2", "stats", None, "delete_family", None),
        (ref.TABLE, "r1", "info", "tag_x", "delete_column", None),
        (ref.TABLE, "r3", None, None, "delete_row", None),
        _put("r3", "info", "name", "string", "back"),
    ]


def _expected_docs():
    # field order: name_s, age_i, active_b, score_d (by repr), visits_l
    return [("r1", "ann", None, None, repr(1.5), None, ()),
            ("r2", None, 41, None, None, None, ()),
            ("r3", "back", None, None, None, None, ())]


def test_replay_applies_tombstone_scopes_and_routing():
    rp = ref.CdcReplay()
    rp.apply(_events())
    assert set(rp.rows) == {"r1", "r2", "r3"}
    assert rp.digest() == ref.digest(_expected_docs())


def test_index_check_accepts_the_reference_and_rejects_injected_errors(tmp_path):
    rp = ref.CdcReplay()
    rp.apply(_events())
    good = [("r1", "ann", None, None, 1.5, None, ()),
            ("r2", None, 41, None, None, None, ()),
            ("r3", "back", None, None, None, None, ())]
    _write_index(str(tmp_path / "ok"), good)
    assert ref.index_digest(str(tmp_path / "ok")) == rp.digest()
    wrong_value = [good[0], ("r2", None, 42, None, None, None, ()), good[2]]
    missing_doc = good[:2]
    extra_tag = [("r1", "ann", None, None, 1.5, None, (("x", "hot"),)), *good[1:]]
    for i, docs in enumerate((wrong_value, missing_doc, extra_tag)):
        d = str(tmp_path / f"bad{i}")
        _write_index(d, docs)
        assert ref.index_digest(d) != rp.digest()


def test_injected_wrong_kept_set_counts_as_failed():
    """A near-dup op whose engine output differs from the DuckDB answer."""
    class Kept:
        def __init__(self, ids):
            self.ids = ids

        def collect(self):
            return [(i,) for i in self.ids]

    wl = object.__new__(workloads.NearDupCuration)
    wl.spark = types.SimpleNamespace(
        catalog=types.SimpleNamespace(clearCache=lambda: None))
    wl.tracer = tracing.NullTracer()
    wl.docs, wl.n = None, 0
    wl.m = {"docs": 5, "expected_kept": [1, 2, 4]}
    wl.dedup = types.SimpleNamespace(
        deduped_corpus=lambda docs, threshold: Kept([1, 2, 4]))
    assert wl.step()[0].ok
    wl.dedup = types.SimpleNamespace(
        deduped_corpus=lambda docs, threshold: Kept([1, 2, 3, 4]))
    assert not wl.step()[0].ok


class _Feed:
    """A workload with ``n`` inputs, ``per`` ops per step."""

    warmup_ops = 2

    def __init__(self, n: int, per: int = 1, ok=lambda i: True):
        self.n, self.ops_per_step, self.ok, self.i = n, per, ok, 0

    def exhausted(self) -> bool:
        return self.i >= self.n

    def step(self):
        ops = []
        for _ in range(min(self.ops_per_step, self.n - self.i)):
            ops.append(workloads.Op(1.0, 1, self.ok(self.i), 0.0, 1.0,
                                    f"op{self.i}"))
            self.i += 1
        return ops


def test_running_out_of_inputs_ends_the_window_without_failures():
    wl = _Feed(2 + child.MIN_TIMED + 3, per=5)
    warm, timed, mismatched, raised = child.run_window(
        wl, tracing.NullTracer(), 1e9, 0)
    assert (len(warm), len(timed), mismatched, raised) == (
        2, child.MIN_TIMED + 3, 0, 0)
    with pytest.raises(RuntimeError, match="inputs ran out"):
        child.run_window(_Feed(2 + child.MIN_TIMED - 1), tracing.NullTracer(),
                         1e9, 0)


def test_window_counts_mismatched_ops():
    warm, timed, mismatched, raised = child.run_window(
        _Feed(20, ok=lambda i: i != 7), tracing.NullTracer(), 0.0, 0)
    assert (len(warm), len(timed)) == (2, child.MIN_TIMED)
    assert (mismatched, raised) == (1, 0)


def test_snapshot_reference_keeps_latest_relevant_version():
    cells = [
        (ref.TABLE, "a", "info", "age", 10, ref.encode("int", 1)),
        (ref.TABLE, "a", "info", "age", 30, ref.encode("int", 3)),
        (ref.TABLE, "a", "info", "age", 20, ref.encode("int", 2)),
        (ref.TABLE, "b", "stats", "raw", 5, ref.encode("string", "x")),
        (ref.OTHER_TABLE, "c", "info", "age", 5, ref.encode("int", 9)),
    ]
    assert ref.snapshot_digest(cells) == ref.digest(
        [("a", None, 3, None, None, None, ())])


def test_cdc_generator_is_seeded(tmp_path):
    size = {"keys": 40, "files": 2, "events": 30, "wal_files": 3}
    os.makedirs(tmp_path / "a")
    os.makedirs(tmp_path / "b")
    a = gen.gen_cdc(str(tmp_path / "a"), 5, size)
    b = gen.gen_cdc(str(tmp_path / "b"), 5, size)
    assert a == b
    assert len(a["wal_files"]) == 3 and a["expected"]["count"] > 0
    for name in a["wal_files"]:
        with open(tmp_path / "a" / "wal" / name, "rb") as fa, \
                open(tmp_path / "b" / "wal" / name, "rb") as fb:
            assert fa.read() == fb.read()


def test_jaccard_of_word_trigram_sets():
    a = "a b c d e".split()
    assert gen.jaccard(a, a) == 1.0
    # one replaced word removes 3 of the 3 trigrams it sits in
    assert gen.jaccard(a, "a b X d e".split()) == 0.0
    assert gen.jaccard(a, "a b c d X".split()) == pytest.approx(2 / 4)


def test_tail_is_the_value_with_ten_beyond():
    vals = [float(i) for i in range(1, 41)]
    value, pct, beyond = stats.tail(vals)
    assert (value, pct, beyond) == (30.0, 75.0, 10)
    assert sum(v > value for v in vals) == stats.TAIL_BEYOND
    assert stats.tail([3.0, 1.0, 2.0]) == (1.0, 100.0 / 3, 2)


def test_drift_compares_halves():
    assert stats.drift([10, 10, 10, 12, 12, 12]) == pytest.approx(0.2)
    s = stats.summarize([100.0] * 12, [5] * 12, [250.0] * 12)
    assert s["throughput_per_s"] == pytest.approx(50.0)
    assert s["drift"] == 0.0
    assert s["cpu_ms_per_op"] == 250.0


def test_session_cpu_counts_this_process():
    c0 = child.session_cpu_ms()
    t = time.process_time() + 0.3
    while time.process_time() < t:
        pass
    assert child.session_cpu_ms() - c0 >= 250.0


def test_self_time_subtracts_concurrent_children():
    spans = [
        {"name": "sinks.index_store.merge", "op": "b1", "start_ms": 20, "end_ms": 60},
        {"name": "sinks.index_store.overwrite", "op": "b1", "start_ms": 30, "end_ms": 70},
        {"name": "plans.incremental.process_batch", "op": "b1", "start_ms": 10, "end_ms": 80},
        {"name": "streaming.stream.trigger", "op": "b1", "start_ms": 0, "end_ms": 100},
    ]
    st = tracing.self_times(spans)
    assert st["streaming.stream"] == 30
    assert st["plans.incremental"] == 20          # 70 minus the 50 covered
    assert st["sinks.index_store"] == 80          # both publishes, in full
    parents = {s["name"]: s["parent"] for s in tracing.with_parents(spans)}
    assert parents["sinks.index_store.merge"] == 2
    assert parents["streaming.stream.trigger"] is None


def test_event_log_and_gc_log_attribution(tmp_path):
    ev = tmp_path / "events"
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1005},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1006}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 5001}},
    ]
    for run_ms in (10, 30, 20):
        lines.append({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                      "Stage Attempt ID": 0, "Task Metrics": {
                          "Executor Run Time": run_ms,
                          "Executor CPU Time": 2_000_000,
                          "Input Metrics": {"Bytes Read": 100},
                          "Shuffle Read Metrics": {"Local Bytes Read": 7,
                                                   "Remote Bytes Read": 1},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 9},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 3}})
    lines.append({"Event": "SparkListenerTaskEnd", "Stage ID": 1,
                  "Stage Attempt ID": 0, "Task Metrics": {"Executor Run Time": 99}})
    ev.write_text("".join(json.dumps(x) + "\n" for x in lines))
    gc = tmp_path / "gc.log"
    gc.write_text("[1050ms] GC(0) Pause Young (Normal) (G1 Evacuation Pause) "
                  "20M->5M(64M) 4.250ms\n"
                  "[1060ms] GC(1) Concurrent Mark Cycle 3.000ms\n"
                  "[9000ms] GC(2) Pause Young (Normal) (G1 Evacuation Pause) "
                  "20M->5M(64M) 1.000ms\n")
    op = workloads.Op(100.0, 1, True, 1000.0, 1100.0, "op1")
    per = tracing.spark_per_op([op], tracing.parse_eventlog(str(ev)),
                               tracing.parse_gc_log(str(gc)))["op1"]
    assert (per["jobs"], per["stages"], per["tasks"]) == (1, 1, 3)
    assert per["run_ms"] == 60 and per["cpu_ms"] == pytest.approx(6.0)
    assert per["input_bytes"] == 300 and per["shuffle_read_bytes"] == 24
    assert per["shuffle_write_bytes"] == 27 and per["spill_bytes"] == 9
    assert per["gc_ms"] == pytest.approx(4.25)
    assert per["skew"] == pytest.approx(1.5)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == list(tracing.PER_LAYER)
    assert len({m["name"] for m in bench["per_layer"]}) == len(bench["per_layer"])
