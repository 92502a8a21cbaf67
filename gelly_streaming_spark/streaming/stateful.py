"""Stateful streaming operators (keyed state).

Reference parity: the reference's continuous properties keep per-key
managed state and re-emit on every update — ``getDegrees`` is a keyed
stateful counter (REF:src/main/java/org/apache/flink/graph/streaming/
SimpleEdgeStream.java:~150-175 [H]). Spark equivalent for an algebraic
counter: a streaming ``groupBy().agg()``, whose running partial
aggregates Catalyst keeps in the executor-side state store — no user
code on the hot path, no Python worker. Emission is per micro-batch,
not per record (semantic delta D1, SURVEY.md §7.4).

Scale notes: the state store (RocksDB provider in production) is
partitioned by the group key — per-vertex counters shard across the
cluster exactly like the reference's keyed state shards across
TaskManagers. No driver involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gelly_streaming_spark.operators.graphstream import GraphStream


def running_degrees(edges: DataFrame) -> DataFrame:
    """A1 getDegrees, streaming-native: per-vertex running degree
    (``id, degree``), re-emitted in update mode each micro-batch the
    vertex appears in; the final state equals the batch degrees.

    This is ``GraphStream.degrees()`` run as a stream: the explode →
    ``groupBy(id).count`` plan becomes a stateful hash aggregate whose
    per-vertex counts live in the state store. ``id`` keeps the edge id
    type (``long`` for the engine's sources)."""
    return GraphStream(edges).degrees()


def streaming_distinct(edges: DataFrame, watermark_delay: str = "0 seconds",
                       ts_col: str = "ts") -> DataFrame:
    """T6 distinct on an unbounded stream with *bounded* state:
    duplicates are dropped within the watermark horizon and per-key state
    is evicted once the watermark passes (REF:.../SimpleEdgeStream.java:~330 [L]
    keeps unbounded dedup state — unusable at 100 TB; the watermark bound
    is the deliberate scale fix, delta D2)."""
    return edges.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        ["src", "dst"]
    )
