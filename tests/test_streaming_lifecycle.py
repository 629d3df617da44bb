"""Streaming + lifecycle tests — ports of the SEP/consumer behavior
(SepConsumerTest, T1-T6) and the IndexerIT lifecycle scenarios
(IndexerIT.java:490-642: config reload, pause/resume, subscription ts)."""

import os

import pytest
from pyspark.sql import functions as F

from hbase_indexer_spark.config.indexer_conf import IndexerConf
from hbase_indexer_spark.lifecycle import (
    BUILD_COMPLETED,
    BUILD_REQUESTED,
    DELETE_REQUESTED,
    DO_NOT_SUBSCRIBE,
    INACTIVE,
    SUBSCRIBE_AND_CONSUME,
    SUBSCRIBE_DO_NOT_CONSUME,
    ConcurrentModificationError,
    IndexerDefinition,
    IndexerModel,
    IndexerSupervisor,
)
from hbase_indexer_spark.plans.incremental import IncrementalIndexer
from hbase_indexer_spark.streaming.stream import (
    EVENT_SCHEMA,
    IndexerStreamJob,
    read_event_stream,
)

EVENT_DDL = (
    "seq long, event_ts long, table string, row string, family string, "
    "qualifier string, ts long, op string, value binary"
)

CONF = {
    "table": "t",
    "fields": [{"name": "name_s", "value": "info:name"}],
}


def ev(seq, row, qualifier, value=None, op="put"):
    if isinstance(value, str):
        value = value.encode()
    return (seq, seq, "t", row, "info", qualifier, seq, op, value)


def write_chunk(spark, src_dir, rows, tag):
    df = spark.createDataFrame(rows, EVENT_DDL)
    stage = os.path.join(src_dir, f"_stage_{tag}")
    df.coalesce(1).write.parquet(stage)
    for f in os.listdir(stage):
        if f.endswith(".parquet"):
            os.rename(os.path.join(stage, f), os.path.join(src_dir, f"{tag}.parquet"))


@pytest.fixture()
def stream_env(spark, tmp_path):
    src = str(tmp_path / "events")
    os.makedirs(src)
    ix = IncrementalIndexer(
        spark, IndexerConf.from_dict(CONF),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
    )
    job = IndexerStreamJob(ix, str(tmp_path / "checkpoint"))
    return src, ix, job


def index_dict(ix, spark):
    df = ix.index.read(spark)
    return {} if df is None else {r["id"]: r["name_s"] for r in df.collect()}


def test_stream_drains_files_and_applies(spark, stream_env):
    src, ix, job = stream_env
    write_chunk(spark, src, [ev(1, "r1", "name", "alice"),
                             ev(2, "r2", "name", "bob")], "c0")
    job.run_available(read_event_stream(spark, src, max_files_per_trigger=1))
    assert index_dict(ix, spark) == {"r1": "alice", "r2": "bob"}


def test_stream_resume_processes_only_new_files(spark, stream_env):
    """T4 pause/resume: the checkpoint retains offsets; a restart consumes
    only files that arrived while paused."""
    src, ix, job = stream_env
    write_chunk(spark, src, [ev(1, "r1", "name", "alice")], "c0")
    job.run_available(read_event_stream(spark, src, max_files_per_trigger=1))
    assert index_dict(ix, spark) == {"r1": "alice"}

    # while "paused": a new file lands (update + a second row)
    write_chunk(spark, src, [ev(2, "r1", "name", "alicia"),
                             ev(3, "r2", "name", "bob"),
                             ev(4, "r2", "name", None, op="delete_row")], "c1")
    job.run_available(read_event_stream(spark, src, max_files_per_trigger=1))
    assert index_dict(ix, spark) == {"r1": "alicia"}


def test_batch_metrics_observed(spark, stream_env):
    """K3-analog counters: per-batch relevant-event and upserted-doc counts
    collected via observe (no extra action for the doc count)."""
    src, ix, job = stream_env
    write_chunk(spark, src, [ev(1, "r1", "name", "alice"),
                             ev(2, "r2", "name", "bob"),
                             ev(3, "r2", "other", "x")], "c0")
    job.run_available(read_event_stream(spark, src))
    assert len(ix.metrics_log) == 1
    m = ix.metrics_log[0]
    assert m["relevant_events"] == 2  # 'other' cell fails the relevance filter
    assert m["docs_upserted"] == 2


def test_event_schema_matches_fixture(spark, sf_dir):
    from hbase_indexer_spark.sources.fixtures import event_cells

    assert [f.name for f in EVENT_SCHEMA.fields] == event_cells(spark, sf_dir).columns


# -- lifecycle ---------------------------------------------------------------

def test_model_occ(tmp_path):
    model = IndexerModel(str(tmp_path / "model"))
    d = model.put(IndexerDefinition(name="ix1", conf=CONF))
    assert d.occ_version == 0
    d2 = model.put(d)
    assert d2.occ_version == 1
    with pytest.raises(ConcurrentModificationError):
        model.put(d)  # stale version
    assert model.get("ix1").occ_version == 1
    assert [x.name for x in model.list()] == ["ix1"]


def test_model_listener(tmp_path):
    model = IndexerModel(str(tmp_path / "model"))
    events = []
    model.add_listener(lambda name, d: events.append((name, d is None)))
    d = model.put(IndexerDefinition(name="ix1", conf=CONF))
    model.delete("ix1")
    assert events == [("ix1", False), ("ix1", True)]


@pytest.fixture()
def supervised(spark, tmp_path):
    src = str(tmp_path / "events")
    os.makedirs(src)
    model = IndexerModel(str(tmp_path / "model"))
    sup = IndexerSupervisor(
        spark, model, work_dir=str(tmp_path / "work"), events_path=src,
        max_files_per_trigger=1,
    )
    return src, model, sup


def test_supervisor_runs_and_pauses(spark, supervised):
    src, model, sup = supervised
    d = model.put(IndexerDefinition(name="ix1", conf=CONF))
    write_chunk(spark, src, [ev(1, "r1", "name", "alice")], "c0")
    sup.sync()
    got = {r["id"]: r["name_s"] for r in sup.read_index("ix1").collect()}
    assert got == {"r1": "alice"}

    # pause: new events are NOT consumed
    d = model.put(
        IndexerDefinition(**{**d.__dict__, "incremental_state": SUBSCRIBE_DO_NOT_CONSUME})
    )
    write_chunk(spark, src, [ev(2, "r2", "name", "bob")], "c1")
    sup.sync()
    assert {r["id"] for r in sup.read_index("ix1").collect()} == {"r1"}

    # resume: queued file is consumed from the retained checkpoint
    d = model.put(
        IndexerDefinition(**{**d.__dict__, "incremental_state": SUBSCRIBE_AND_CONSUME})
    )
    sup.sync()
    assert {r["id"] for r in sup.read_index("ix1").collect()} == {"r1", "r2"}


def test_supervisor_unsubscribe_drops_checkpoint(spark, supervised):
    src, model, sup = supervised
    d = model.put(IndexerDefinition(name="ix1", conf=CONF))
    write_chunk(spark, src, [ev(1, "r1", "name", "alice")], "c0")
    sup.sync()
    ckpt = sup._paths("ix1")["checkpoint"]
    assert os.path.exists(ckpt)
    d = model.put(
        IndexerDefinition(**{**d.__dict__, "incremental_state": DO_NOT_SUBSCRIBE})
    )
    sup.sync()
    assert not os.path.exists(ckpt)
    # index survives unsubscription
    assert {r["id"] for r in sup.read_index("ix1").collect()} == {"r1"}


def test_supervisor_batch_build(spark, supervised, tmp_path):
    src, model, sup = supervised
    cells = spark.createDataFrame(
        [ev(1, "r1", "name", "alice"), ev(2, "r2", "name", "bob")], EVENT_DDL
    ).select("table", "row", "family", "qualifier", "ts", "op", "value")
    snap = str(tmp_path / "snapshot")
    cells.write.parquet(snap)
    model.put(IndexerDefinition(
        name="ix1", conf={**CONF, "batch_snapshot_path": snap},
        incremental_state=DO_NOT_SUBSCRIBE, batch_build_state=BUILD_REQUESTED,
    ))
    sup.sync()
    assert model.get("ix1").batch_build_state == BUILD_COMPLETED
    got = {r["id"]: r["name_s"] for r in sup.read_index("ix1").collect()}
    assert got == {"r1": "alice", "r2": "bob"}


def test_supervisor_failed_batch_build_resets_state(spark, supervised, tmp_path):
    """A batch build that raises (here: a snapshot that is not parquet)
    must leave the definition INACTIVE, not stuck in BUILDING."""
    src, model, sup = supervised
    snap = tmp_path / "snapshot"
    snap.mkdir()
    (snap / "part-0.parquet").write_bytes(b"not a parquet file")
    model.put(IndexerDefinition(
        name="ix1", conf={**CONF, "batch_snapshot_path": str(snap)},
        incremental_state=DO_NOT_SUBSCRIBE, batch_build_state=BUILD_REQUESTED,
    ))
    with pytest.raises(Exception):
        sup.sync()
    assert model.get("ix1").batch_build_state == INACTIVE
    assert sup.read_index("ix1") is None


def test_supervisor_failed_stream_batch_raises_on_every_sync(
        spark, supervised, monkeypatch):
    """A foreachBatch that raises must not leave the job looking like a
    running query: every later sync retries the drain and raises again,
    and the indexer catches up once the batch succeeds."""
    src, model, sup = supervised
    model.put(IndexerDefinition(name="ix1", conf=CONF))
    write_chunk(spark, src, [ev(1, "r1", "name", "alice")], "c0")

    def fail(self, df, batch_id):
        raise RuntimeError("injected batch failure")

    monkeypatch.setattr(IncrementalIndexer, "process_batch", fail)
    for _ in range(2):
        with pytest.raises(Exception, match="injected batch failure"):
            sup.sync()
        assert sup.jobs["ix1"].query is None
    monkeypatch.undo()
    sup.sync()
    assert {r["id"] for r in sup.read_index("ix1").collect()} == {"r1"}


def test_supervisor_delete(spark, supervised):
    src, model, sup = supervised
    d = model.put(IndexerDefinition(name="ix1", conf=CONF))
    write_chunk(spark, src, [ev(1, "r1", "name", "alice")], "c0")
    sup.sync()
    model.put(IndexerDefinition(**{**model.get("ix1").__dict__,
                                   "lifecycle_state": DELETE_REQUESTED}))
    sup.sync()
    assert model.get("ix1") is None
    assert sup.read_index("ix1") is None


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_event_stream_formats(spark, tmp_path, fmt):
    """S1 source breadth: JSON and CSV WAL drops produce the same index as
    parquet (binary values ride base64 in both text formats)."""
    from hbase_indexer_spark.sinks.index_store import IndexStore

    src = str(tmp_path / f"events_{fmt}")
    os.makedirs(src)
    df = spark.createDataFrame(
        [ev(1, "r1", "name", "alice"), ev(2, "r2", "name", "bob"),
         ev(3, "r1", "name", "alice2")], EVENT_DDL)
    if fmt == "json":
        df.coalesce(1).write.mode("append").json(src)
    else:
        df.selectExpr("seq", "event_ts", "table", "row", "family",
                      "qualifier", "ts", "op",
                      "base64(value) AS value") \
          .coalesce(1).write.mode("append").csv(src)

    ix = IncrementalIndexer(
        spark, IndexerConf.from_dict(CONF),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
    )
    job = IndexerStreamJob(ix, str(tmp_path / "ckpt"))
    events = read_event_stream(spark, src, format=fmt)
    job.run_available(events)
    got = {r["id"]: r["name_s"]
           for r in IndexStore(str(tmp_path / "index")).read(spark).collect()}
    assert got == {"r1": "alice2", "r2": "bob"}


def test_stream_column_mode_with_delete_by_query(spark, tmp_path):
    """Column-mode through the REAL streaming path (checkpointed
    foreachBatch), including K8 delete-by-query arriving in a later
    micro-batch — the streaming analog of ColumnBasedIndexerTest."""
    col_conf = IndexerConf.from_dict({
        "table": "t", "mapping_type": "column",
        "row_field": "row_s", "column_family_field": "cf_s",
        "fields": [{"name": "val", "value": "info:*"}],
    })
    src = str(tmp_path / "events")
    os.makedirs(src)
    ix = IncrementalIndexer(
        spark, col_conf,
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
    )
    job = IndexerStreamJob(ix, str(tmp_path / "checkpoint"))
    write_chunk(spark, src, [ev(1, "r1", "m1", "hello"),
                             ev(2, "r1", "m2", "world"),
                             ev(3, "r2", "m1", "keep")], "c0")
    job.run_available(read_event_stream(spark, src, max_files_per_trigger=1))
    ids = {r["id"] for r in ix.index.read(spark).collect()}
    assert ids == {"r1-info-m1", "r1-info-m2", "r2-info-m1"}

    # later micro-batch: delete_column one cell, delete_row the other row
    write_chunk(spark, src, [ev(4, "r1", "m1", None, op="delete_column"),
                             ev(5, "r2", None, op="delete_row")], "c1")
    job.run_available(read_event_stream(spark, src, max_files_per_trigger=1))
    ids = {r["id"] for r in ix.index.read(spark).collect()}
    assert ids == {"r1-info-m2"}


def test_stream_row_mode_all_delete_batch(spark, tmp_path):
    """A micro-batch containing ONLY deletes must not wedge the stream:
    the adds-counter observation sits at the root of the merged plan, so
    AQE pruning the empty docs subtree cannot starve Observation.get
    (the row-mode twin of the column-mode all-delete hang)."""
    src = str(tmp_path / "events")
    os.makedirs(src)
    ix = IncrementalIndexer(
        spark, IndexerConf.from_dict(CONF),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
    )
    job = IndexerStreamJob(ix, str(tmp_path / "checkpoint"))
    write_chunk(spark, src, [ev(1, "r1", "name", "alice"),
                             ev(2, "r2", "name", "bob")], "c0")
    job.run_available(read_event_stream(spark, src, max_files_per_trigger=1))
    # all-delete follow-up batch: every touched row vanishes
    write_chunk(spark, src, [ev(3, "r1", "name", None, op="delete_row"),
                             ev(4, "r2", "name", None, op="delete_row")], "c1")
    job.run_available(read_event_stream(spark, src, max_files_per_trigger=1))
    assert index_dict(ix, spark) == {}
    assert ix.metrics["docs_upserted"] == 0
