"""Structured Streaming wiring for the incremental path (reference §2.1 S1,
§2.8 T1-T6).

The reference ingests HBase WAL batches by posing as a regionserver
(SepConsumer.java:214-277).  The WAL itself is external infrastructure; the
Spark-native equivalent is any Structured Streaming source producing the
canonical event schema — in tests and the driver harness, a file stream over
parquet drops (each file = one shipped WAL batch).

Semantics mapping:

- T1 at-least-once -> checkpointed `foreachBatch`; the MERGE-on-unique-key
  sink makes redelivery idempotent (effectively exactly-once).
- T2 per-row ordering -> the explicit `seq` column orders events inside a
  batch (SepEventExecutor's hash-to-thread ordering made explicit).
- T4 pause/resume -> stop the query, keep the checkpoint
  (SUBSCRIBE_DO_NOT_CONSUME); drop the checkpoint to unsubscribe
  (DO_NOT_SUBSCRIBE) — IndexerDefinition.java:283-305.
- T5 backpressure -> `maxFilesPerTrigger` (the bounded worker queue,
  SepConsumer.java:159-163).
- T6 subscription timestamp -> the gate is applied inside process_batch
  (SepConsumer.java:227-228).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hbase_indexer_spark.plans.incremental import IncrementalIndexer

EVENT_SCHEMA = StructType([
    StructField("seq", LongType()),
    StructField("event_ts", LongType()),
    StructField("table", StringType()),
    StructField("row", StringType()),
    StructField("family", StringType()),
    StructField("qualifier", StringType()),
    StructField("ts", LongType()),
    StructField("op", StringType()),
    StructField("value", BinaryType()),
])


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None,
                      format: str = "parquet") -> DataFrame:
    """File-drop event stream: one file per shipped WAL batch.

    ``format`` may be ``parquet`` (default), ``json`` (newline-delimited;
    the binary ``value`` rides base64, Spark's JSON binary encoding), or
    ``csv`` (header-less, column order = EVENT_SCHEMA, value base64).
    Any Structured Streaming source producing the canonical schema works —
    these are the shapes WAL-shipping jobs commonly land."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if format == "parquet":
        return reader.schema(EVENT_SCHEMA).parquet(path)
    if format == "json":
        return reader.schema(EVENT_SCHEMA).json(path)
    if format == "csv":
        # CSV has no binary type: read value as base64 text and decode
        from pyspark.sql import functions as F

        csv_schema = StructType([
            StructField(f.name, StringType() if f.name == "value"
                        else f.dataType)
            for f in EVENT_SCHEMA.fields
        ])
        df = reader.schema(csv_schema).csv(path)
        return df.withColumn("value", F.unbase64(F.col("value")))
    raise ValueError(f"unsupported event stream format {format!r}")


class IndexerStreamJob:
    """One indexer definition's streaming query — the SepConsumer+Indexer
    pair (SepConsumer.java:214-304, Indexer.java:140-181) as a Structured
    Streaming query over `foreachBatch`."""

    def __init__(self, indexer: IncrementalIndexer, checkpoint_path: str):
        self.indexer = indexer
        self.checkpoint_path = checkpoint_path
        self.query: StreamingQuery | None = None

    def start(self, events: DataFrame, available_now: bool = False,
              processing_time: str | None = None) -> StreamingQuery:
        writer = (
            events.writeStream
            .foreachBatch(self.indexer.process_batch)
            .option("checkpointLocation", self.checkpoint_path)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        self.query = writer.start()
        return self.query

    def run_available(self, events: DataFrame) -> None:
        """Drain everything currently available, then stop (the batch-replay
        form of the continuous query; deterministic for tests).  A failed
        drain clears ``query`` too, so the next call retries and raises
        again instead of treating the dead query as running."""
        q = self.start(events, available_now=True)
        try:
            q.awaitTermination()
        finally:
            self.query = None

    def stop(self) -> None:
        """Pause (T4): offsets stay in the checkpoint; restart resumes."""
        if self.query is not None:
            self.query.stop()
            self.query = None


def dry_run(docs: DataFrame, n: int = 20) -> list:
    """S10 dry-run sink (IndexerDryRun.java:54-140): materialize the doc
    build without writing any index; returns the first n docs."""
    return docs.limit(n).collect()
