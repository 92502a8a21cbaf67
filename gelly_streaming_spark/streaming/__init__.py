"""Streaming layer (SURVEY.md §7.2 M4): sources, run-to-completion
harness, keyed-state operators, and incremental graph algorithms.

Every batch operator in this engine is written against DataFrame
operations valid in both batch and streaming mode; this package adds the
pieces that are streaming-*only*: replay/rate sources, available-now
drivers, keyed state held by Spark's native stateful aggregates and
watermarked dedup (running degrees, streaming distinct), and foreachBatch
refinement loops for the iterative algorithms Structured Streaming can't
express in-plan.
"""

from gelly_streaming_spark.streaming.cc import (
    IncrementalBipartiteness,
    IncrementalConnectedComponents,
)
from gelly_streaming_spark.streaming.runner import run_foreach_batch, run_to_memory
from gelly_streaming_spark.streaming.sources import (
    KAFKA_SOURCE_SCHEMA,
    edges_from_kafka,
    rate_edges,
    replay,
)
from gelly_streaming_spark.streaming.stateful import (
    running_degrees,
    streaming_distinct,
)
from gelly_streaming_spark.streaming.summary import (
    StreamingSummaryAggregation,
    streaming_spanner_aggregation,
)
from gelly_streaming_spark.streaming.triangles import IncrementalTriangleCount

__all__ = [
    "StreamingSummaryAggregation",
    "streaming_spanner_aggregation",
    "IncrementalBipartiteness",
    "IncrementalConnectedComponents",
    "IncrementalTriangleCount",
    "KAFKA_SOURCE_SCHEMA",
    "edges_from_kafka",
    "rate_edges",
    "replay",
    "run_foreach_batch",
    "run_to_memory",
    "running_degrees",
    "streaming_distinct",
]
