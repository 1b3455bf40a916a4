"""Flows — continuous queries as Structured Streaming (SURVEY.md §2.11).

Reference: ``CREATE FLOW f SINK TO out [EXPIRE AFTER d] AS SELECT …`` runs a
continuous materialized view (src/flow/src/lib.rs; batching mode
src/flow/src/batching_mode/task.rs:147 periodically re-evaluates dirty time
windows). Spark is strictly stronger here — Structured Streaming's
incremental state + update/append modes ARE the dirty-window recomputation:

- flow           → readStream → transform → writeStream (parquet sink table)
- EXPIRE AFTER   → withWatermark(time_col, expire_after): late data beyond
                   the horizon is dropped, state is GC'd (options.rs ttl analog)
- tumble window  → F.window(ts, size); the reference's flow engine supports
                   tumble only (src/flow/src/expr/func.rs:49-56); sliding and
                   session windows come free on Spark as a bonus
- ADMIN FLUSH_FLOW → flush() = one availableNow micro-batch, blocking

At scale the sink is a time-partitioned Parquet table; each micro-batch
appends only closed windows (append mode) so downstream readers never see
partial aggregates.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Flow:
    name: str
    source_path: str
    source_format: str
    source_schema: str
    transform: Callable[[DataFrame], DataFrame]
    sink_path: str
    checkpoint: str
    expire_after: str | None
    output_mode: str


class FlowEngine:
    """File-source flows (the JSON-lines/parquet ingest stand-in for the
    reference's gRPC write path, SURVEY.md §2.1 Ingest protocols)."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.flows: dict[str, Flow] = {}
        os.makedirs(base_dir, exist_ok=True)

    def create_flow(
        self,
        name: str,
        source_path: str,
        source_schema: str,
        transform: Callable[[DataFrame], DataFrame],
        source_format: str = "parquet",
        expire_after: str | None = None,
        output_mode: str = "append",
    ) -> Flow:
        flow = Flow(
            name=name,
            source_path=source_path,
            source_format=source_format,
            source_schema=source_schema,
            transform=transform,
            sink_path=os.path.join(self.base_dir, name, "sink"),
            checkpoint=os.path.join(self.base_dir, name, "checkpoint"),
            expire_after=expire_after,
            output_mode=output_mode,
        )
        self.flows[name] = flow
        return flow

    def _stream(self, flow: Flow) -> DataFrame:
        reader = (
            self.spark.readStream.format(flow.source_format)
            .schema(flow.source_schema)
            .option("path", flow.source_path)
        )
        df = reader.load()
        # Structured Streaming watermarks require TIMESTAMP (with timezone);
        # parquet sources may surface TIMESTAMP_NTZ — normalize up front.
        for f_ in df.schema.fields:
            if f_.dataType.typeName() == "timestamp_ntz":
                df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
        return df

    def flush_flow(self, name: str) -> None:
        """One blocking availableNow micro-batch (reference ADMIN FLUSH_FLOW,
        src/common/function/src/flush_flow.rs)."""
        flow = self.flows[name]
        df = flow.transform(self._stream(flow))
        q = (
            df.writeStream.format("parquet")
            .option("path", flow.sink_path)
            .option("checkpointLocation", flow.checkpoint)
            .outputMode(flow.output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def read_sink(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.flows[name].sink_path)


def tumble(ts_col: str, size: str, watermark: str | None = None):
    """Tumbling-window group key (reference TumbleWindow,
    src/flow/src/expr/func.rs:49-56). Use inside a transform:
    df.withWatermark(ts, expire).groupBy(tumble("ts", "1 hour"), ...)."""
    return F.window(ts_col, size)
