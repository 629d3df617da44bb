"""Indexer lifecycle: definitions registry + supervisor (reference §3.3).

The reference stores IndexerDefinitions in ZooKeeper with optimistic
concurrency (IndexerDefinition.java:42-57, occVersion :149-160), a
leader-elected IndexerMaster reacts to model events
(IndexerMaster.java:434-564) and an IndexerSupervisor starts/stops a
SepConsumer+Indexer pair per definition (IndexerSupervisor.java:179-298).

Spark-first: the model is a JSON-file registry (one file per indexer,
optimistic concurrency via an embedded version number and atomic rename);
the master/supervisor collapse into one driver-side object that maps
lifecycle state to Structured Streaming query start/stop:

- SUBSCRIBE_AND_CONSUME  -> streaming query running
- SUBSCRIBE_DO_NOT_CONSUME -> query stopped, checkpoint retained (events
  queue in the source; T4 pause, IndexerDefinition.java:283-305)
- DO_NOT_SUBSCRIBE       -> query stopped, checkpoint dropped
- BUILD_REQUESTED        -> run the batch rebuild (§3.2) and publish, then
  mark BUILD_COMPLETED (IndexerMaster.java:288-329)

ZK, leader election and the REST server are deployment infrastructure the
single-driver design does not need.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass, field, replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from hbase_indexer_spark.config.indexer_conf import IndexerConf
from hbase_indexer_spark.plans.batch import build_index
from hbase_indexer_spark.plans.incremental import IncrementalIndexer
from hbase_indexer_spark.sinks.index_store import IndexStore
from hbase_indexer_spark.streaming.stream import IndexerStreamJob, read_event_stream

# lifecycle states (IndexerDefinition.java:248-331)
ACTIVE = "ACTIVE"
DELETE_REQUESTED = "DELETE_REQUESTED"
DELETED = "DELETED"

# incremental indexing states (IndexerDefinition.java:283-305)
SUBSCRIBE_AND_CONSUME = "SUBSCRIBE_AND_CONSUME"
SUBSCRIBE_DO_NOT_CONSUME = "SUBSCRIBE_DO_NOT_CONSUME"
DO_NOT_SUBSCRIBE = "DO_NOT_SUBSCRIBE"

# batch build states (IndexerDefinition.java BatchIndexingState)
BUILD_REQUESTED = "BUILD_REQUESTED"
BUILDING = "BUILDING"
BUILD_COMPLETED = "BUILD_COMPLETED"
INACTIVE = "INACTIVE"


@dataclass(frozen=True)
class IndexerDefinition:
    """One named indexer (IndexerDefinition.java:42-57)."""

    name: str
    conf: dict = field(default_factory=dict)
    lifecycle_state: str = ACTIVE
    incremental_state: str = SUBSCRIBE_AND_CONSUME
    batch_build_state: str = INACTIVE
    subscription_ts: int | None = None
    occ_version: int = -1  # -1 = not yet persisted

    def indexer_conf(self) -> IndexerConf:
        """Resolve the conf dict; a definition added from a reference-format
        indexerconf.xml file (via the CLI) embeds the XML verbatim under an
        ``xml`` key, mirroring how the reference stores the uploaded XML
        bytes in the ZK znode (IndexerDefinition.getConfiguration)."""
        if "xml" in self.conf:
            from hbase_indexer_spark.config.indexer_conf import conf_from_xml
            return conf_from_xml(self.conf["xml"])
        return IndexerConf.from_dict(self.conf)


class ConcurrentModificationError(RuntimeError):
    pass


class IndexerModel:
    """JSON-file definitions registry with optimistic concurrency — the
    WriteableIndexerModel analog (IndexerModelImpl.java; occ via ZK znode
    version there, via an embedded version + atomic rename here)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._listeners: list[Callable[[str, IndexerDefinition | None], None]] = []

    def _file(self, name: str) -> str:
        return os.path.join(self.path, f"{name}.json")

    def add_listener(self, fn: Callable[[str, "IndexerDefinition | None"], None]) -> None:
        """U6 lifecycle-listener analog (IndexerLifecycleListener.java:1-45):
        called with (name, definition-or-None) on every model change."""
        self._listeners.append(fn)

    def _notify(self, name: str, d: IndexerDefinition | None) -> None:
        for fn in self._listeners:
            fn(name, d)

    def get(self, name: str) -> IndexerDefinition | None:
        try:
            with open(self._file(name)) as f:
                return IndexerDefinition(**json.load(f))
        except FileNotFoundError:
            return None

    def list(self) -> list[IndexerDefinition]:
        out = []
        for fn in sorted(os.listdir(self.path)):
            if fn.endswith(".json"):
                d = self.get(fn[:-5])
                if d is not None:
                    out.append(d)
        return out

    def put(self, d: IndexerDefinition) -> IndexerDefinition:
        """Create or conditionally update: the stored occ_version must match
        the caller's copy (IndexerDefinition.java:149-160)."""
        current = self.get(d.name)
        current_v = -1 if current is None else current.occ_version
        if d.occ_version != current_v:
            raise ConcurrentModificationError(
                f"indexer {d.name!r}: expected version {current_v}, got {d.occ_version}"
            )
        new = replace(d, occ_version=current_v + 1)
        tmp = self._file(d.name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(new), f, indent=1)
        os.replace(tmp, self._file(d.name))
        self._notify(new.name, new)
        return new

    def delete(self, name: str) -> None:
        try:
            os.remove(self._file(name))
        except FileNotFoundError:
            pass
        self._notify(name, None)


class IndexerSupervisor:
    """Starts/stops one streaming query per definition and serves batch
    rebuild requests — IndexerMaster + IndexerSupervisor collapsed into a
    single driver-side loop (no ZK, no leader election)."""

    def __init__(self, spark: SparkSession, model: IndexerModel, work_dir: str,
                 events_path: str, max_files_per_trigger: int | None = None,
                 events_format: str = "parquet"):
        self.spark = spark
        self.model = model
        self.work_dir = work_dir
        self.events_path = events_path
        self.max_files_per_trigger = max_files_per_trigger
        self.events_format = events_format
        self.jobs: dict[str, IndexerStreamJob] = {}

    # -- paths -------------------------------------------------------------

    def _paths(self, name: str) -> dict[str, str]:
        base = os.path.join(self.work_dir, name)
        return {
            "state": os.path.join(base, "state"),
            "index": os.path.join(base, "index"),
            "checkpoint": os.path.join(base, "checkpoint"),
        }

    def index_store(self, name: str) -> IndexStore:
        d = self.model.get(name)
        key = "id" if d is None else d.indexer_conf().unique_key_field
        return IndexStore(self._paths(name)["index"], key=key)

    def read_index(self, name: str) -> DataFrame | None:
        return self.index_store(name).read(self.spark)

    # -- reconciliation (the master's event loop, IndexerMaster.java:434-564)

    def sync(self, available_now: bool = True) -> None:
        """Reconcile running queries with the model: start/stop/drop per
        definition state, run requested batch builds."""
        for d in self.model.list():
            if d.lifecycle_state == DELETE_REQUESTED:
                self._drop(d)
                continue
            if d.batch_build_state == BUILD_REQUESTED:
                self._batch_build(d)
                d = self.model.get(d.name) or d
            self._reconcile_stream(d, available_now)

    def _reconcile_stream(self, d: IndexerDefinition, available_now: bool) -> None:
        paths = self._paths(d.name)
        want_running = d.incremental_state == SUBSCRIBE_AND_CONSUME
        job = self.jobs.get(d.name)
        if want_running:
            if job is None:
                ix = IncrementalIndexer(
                    self.spark, d.indexer_conf(),
                    state_path=paths["state"], index_path=paths["index"],
                    subscription_ts=d.subscription_ts,
                )
                job = IndexerStreamJob(ix, paths["checkpoint"])
                self.jobs[d.name] = job
            if job.query is None:
                events = read_event_stream(
                    self.spark, self.events_path, self.max_files_per_trigger,
                    format=self.events_format,
                )
                if available_now:
                    job.run_available(events)
                else:
                    job.start(events)
        else:
            if job is not None:
                job.stop()
            if d.incremental_state == DO_NOT_SUBSCRIBE:
                # unsubscribe: forget offsets (checkpoint), keep the index
                shutil.rmtree(paths["checkpoint"], ignore_errors=True)
                self.jobs.pop(d.name, None)

    def _batch_build(self, d: IndexerDefinition) -> None:
        """§3.2 batch rebuild: scan a snapshot, rebuild, atomic publish
        (IndexerMaster.startFullIndexBuild, :288-329).  A build that
        raises puts the definition back to INACTIVE before re-raising, so
        it never stays BUILDING."""
        self.model.put(replace(d, batch_build_state=BUILDING))
        try:
            conf = d.indexer_conf()
            snapshot_path = d.conf.get("batch_snapshot_path")
            if snapshot_path is None:
                raise ValueError(
                    f"indexer {d.name!r}: no batch_snapshot_path configured")
            cells = self.spark.read.parquet(snapshot_path)
            docs = build_index(cells, conf)
            self.index_store(d.name).overwrite(docs, self.spark)
        except BaseException:
            latest = self.model.get(d.name)
            if latest is not None:
                self.model.put(replace(latest, batch_build_state=INACTIVE))
            raise
        latest = self.model.get(d.name)
        assert latest is not None
        self.model.put(replace(latest, batch_build_state=BUILD_COMPLETED))

    def _drop(self, d: IndexerDefinition) -> None:
        """DELETE_REQUESTED -> stop query, drop state/index/checkpoint,
        remove the definition (IndexerMaster.java:363-433)."""
        job = self.jobs.pop(d.name, None)
        if job is not None:
            job.stop()
        shutil.rmtree(os.path.join(self.work_dir, d.name), ignore_errors=True)
        self.model.delete(d.name)

    def stop_all(self) -> None:
        for job in self.jobs.values():
            job.stop()
