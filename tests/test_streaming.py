"""M4 streaming parity: every streaming operator's final state must equal
the batch answer over the same (replayed) edges — the engine's contract
for semantic delta D1 (SURVEY.md §5.2, §7.4)."""

import pandas as pd
import pytest

from gelly_streaming_spark import GraphStream
from gelly_streaming_spark.sources.edges import edges_cust_order
from gelly_streaming_spark.sources.fixtures import fixture_graph
from gelly_streaming_spark.streaming import (
    IncrementalBipartiteness,
    IncrementalConnectedComponents,
    replay,
    run_foreach_batch,
    run_to_memory,
    running_degrees,
    streaming_distinct,
)

pytestmark = pytest.mark.streaming


@pytest.fixture(scope="module")
def edge_replay(spark, sf_dir, tmp_path_factory):
    """sf0.001 customer→order edges as a 4-micro-batch stream."""
    batch = edges_cust_order(spark, sf_dir)
    stage = str(tmp_path_factory.mktemp("replay") / "edges")
    return batch, replay(batch, stage, num_batches=4)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_degrees_complete_mode(spark, edge_replay):
    batch, stream = edge_replay
    got = run_to_memory(GraphStream(stream).degrees(), "complete")
    want = GraphStream(batch).degrees()
    assert _sorted_rows(got) == _sorted_rows(want)


def test_streaming_counts(spark, edge_replay):
    batch, stream = edge_replay
    got = run_to_memory(GraphStream(stream).number_of_edges(), "complete")
    assert got.collect()[0]["m"] == batch.count()


def test_streaming_slice_reduce(spark, edge_replay):
    """W1/W2: tumbling per-vertex window agg, streaming vs batch."""
    batch, stream = edge_replay
    import pyspark.sql.functions as F

    agg = lambda gw: gw.reduce_on_edges(  # noqa: E731
        F.sum("val").alias("total"), F.count(F.lit(1)).alias("n")
    )
    got = run_to_memory(agg(GraphStream(stream).slice("30 days")), "complete")
    want = agg(GraphStream(batch).slice("30 days"))
    assert _sorted_rows(got) == _sorted_rows(want)


def test_streaming_distinct_drops_replayed_dupes(spark, tmp_path):
    """T6 with watermark-bounded state: g1 replayed twice dedups to g1."""
    g1 = fixture_graph(spark, "g1")
    doubled = g1.unionByName(g1)
    stream = replay(doubled, str(tmp_path / "dupes"), num_batches=2)
    out = run_to_memory(
        streaming_distinct(stream, "1 minute"), "append"
    ).select("src", "dst")
    assert _sorted_rows(out) == _sorted_rows(g1.select("src", "dst"))


def test_update_merge_upserts_across_batches(spark, edge_replay):
    """A1 in UPDATE output mode through run_update_merge: update mode
    re-emits a key whenever its aggregate changes, so a key spanning
    batches is emitted more than once — the keyed upsert must keep only
    the LAST value (a naive union would keep superseded rows and this
    assertion would fail on every multi-batch key)."""
    from gelly_streaming_spark.streaming.runner import run_update_merge

    batch, stream = edge_replay
    got = run_update_merge(GraphStream(stream).degrees(), ["id"])
    want = GraphStream(batch).degrees()
    assert _sorted_rows(got) == _sorted_rows(want)


def test_running_degrees_stateful(spark, edge_replay):
    """A1 via keyed state in the native state-store aggregate: last
    emitted degree per vertex == batch degree, through both a per-batch
    callback and the keyed upsert; schema ``id long, degree long``; no
    per-key pandas state function in the plan."""
    from gelly_streaming_spark.streaming.runner import run_update_merge

    batch, stream = edge_replay
    running = running_degrees(stream)
    assert running.schema.simpleString() == "struct<id:bigint,degree:bigint>"
    plan = running._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    assert "FlatMapGroupsInPandasWithState" not in plan
    final: dict = {}

    def collect_batch(bdf, bid):
        for row in bdf.collect():
            final[row["id"]] = row["degree"]

    run_foreach_batch(running, collect_batch)
    want = GraphStream(batch).degrees()
    assert final == {r["id"]: r["degree"] for r in want.collect()}
    merged = run_update_merge(running, ["id"])
    assert _sorted_rows(merged) == _sorted_rows(want)


def test_incremental_cc_matches_batch(spark, tmp_path):
    from gelly_streaming_spark.algos.connected_components import (
        connected_components,
    )

    g4 = fixture_graph(spark, "g4")
    stream = replay(g4, str(tmp_path / "g4"), num_batches=3)
    inc = IncrementalConnectedComponents()
    got = inc.run(stream)
    want = connected_components(GraphStream(g4))
    assert inc.batches >= 2, "replay must exercise >1 micro-batch"
    assert _sorted_rows(got) == _sorted_rows(want)


def test_incremental_cc_refines_across_batches(spark, tmp_path):
    """Edges arriving in separate batches must still merge components:
    a path graph split so every batch bridges two prior components."""
    rows = [(i, i + 1, None, pd.Timestamp("2024-01-01").to_pydatetime())
            for i in range(0, 12)]
    from gelly_streaming_spark.sources.fixtures import EDGE_SCHEMA

    path = spark.createDataFrame(rows, EDGE_SCHEMA)
    stream = replay(path, str(tmp_path / "path"), num_batches=4)
    got = IncrementalConnectedComponents().run(stream)
    assert {r["component"] for r in got.collect()} == {0}


def test_streaming_summary_cc(spark, tmp_path):
    """A8 SummaryBulkAggregation streaming: union-find folded per
    micro-batch, merged into the carried forest == batch CC."""
    from gelly_streaming_spark.algos.connected_components import (
        DisjointSet,
        connected_components,
    )
    from gelly_streaming_spark.operators.aggregation import SummaryAggregation
    from gelly_streaming_spark.streaming import StreamingSummaryAggregation
    import pyspark.sql.types as T

    def fold(s, pdf):
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            s.union(a, b)
        return s

    agg = SummaryAggregation(
        initial=DisjointSet,
        fold_pdf=fold,
        combine_fn=lambda a, b: a.merge(b),
        transform_fn=lambda s: sorted((x, s.find(x)) for x in s.parent),
        out_schema=T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("component", T.LongType())]
        ),
        num_buckets=4,
    )
    g4 = fixture_graph(spark, "g4")
    runner = StreamingSummaryAggregation(agg)
    got = runner.run(replay(g4, str(tmp_path / "g4s"), num_batches=3))
    want = connected_components(GraphStream(g4))
    assert runner.batches >= 2
    assert _sorted_rows(got) == _sorted_rows(want)


def test_streaming_spanner_p1(spark, tmp_path):
    """L3 spanner on a live stream: stretch ≤ k for every original edge
    (property P1 — arrival-order-dependent output, never hash-compared)."""
    import collections

    from gelly_streaming_spark.sources.fixtures import g5_powerlaw
    from gelly_streaming_spark.streaming import (
        StreamingSummaryAggregation,
        streaming_spanner_aggregation,
    )

    k = 3
    g = g5_powerlaw(spark, n_vertices=300, n_edges=1200)
    stream = replay(g, str(tmp_path / "g5s"), num_batches=3)
    kept = StreamingSummaryAggregation(
        streaming_spanner_aggregation(k=k, num_buckets=4)
    ).run(stream)
    span_adj = collections.defaultdict(set)
    for r in kept.collect():
        span_adj[r["src"]].add(r["dst"])
        span_adj[r["dst"]].add(r["src"])

    def bfs_leq(a, b):
        if a == b:
            return True
        seen, frontier = {a}, [a]
        for _ in range(k):
            nxt = []
            for u in frontier:
                for v in span_adj[u]:
                    if v == b:
                        return True
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            frontier = nxt
        return False

    orig = {(min(r.src, r.dst), max(r.src, r.dst)) for r in g.collect()
            if r.src != r.dst}
    for u, v in list(orig)[:300]:
        assert bfs_leq(u, v), f"stretch violated for edge ({u},{v})"


def test_incremental_triangles_g1(spark, tmp_path):
    """L4 streaming: delta-join running count == batch exact count, and
    the running total is monotone non-decreasing."""
    from gelly_streaming_spark.streaming import IncrementalTriangleCount

    g1 = fixture_graph(spark, "g1")
    inc = IncrementalTriangleCount()
    total = inc.run(replay(g1, str(tmp_path / "g1t"), num_batches=3))
    assert total == 3  # G1's triangles: {1,2,3} {3,4,5} {1,3,5}
    assert inc.history == sorted(inc.history)


def test_incremental_triangles_powerlaw(spark, tmp_path):
    from gelly_streaming_spark.algos.triangles import triangle_count
    from gelly_streaming_spark.sources.fixtures import g5_powerlaw
    from gelly_streaming_spark.streaming import IncrementalTriangleCount

    g = g5_powerlaw(spark, n_vertices=200, n_edges=1500)
    want = triangle_count(GraphStream(g)).collect()[0]["n_triangles"]
    inc = IncrementalTriangleCount()
    got = inc.run(replay(g, str(tmp_path / "g5t"), num_batches=4))
    assert got == want


def test_incremental_bipartiteness(spark, tmp_path):
    """G2 (bipartite) stays true; G3 (odd cycle) flips to false and the
    failure is absorbing across later batches."""
    g2 = fixture_graph(spark, "g2")
    got2 = IncrementalBipartiteness().run(
        replay(g2, str(tmp_path / "g2"), num_batches=3)
    )
    assert [r["is_bipartite"] for r in got2.collect()] == [True]

    g3 = fixture_graph(spark, "g3")
    got3 = IncrementalBipartiteness().run(
        replay(g3, str(tmp_path / "g3"), num_batches=2)
    )
    assert [r["is_bipartite"] for r in got3.collect()] == [False]


def test_incremental_bipartiteness_early_cycle_absorbs(spark, tmp_path):
    """An odd cycle completed in batch 1 of a 3-batch replay must still be
    reported after later batches grow AND re-label the component.

    Regression: virtual midpoints in the state contraction used negative
    ids, so from batch 2 on the min-label could be a virtual vertex —
    dropped from carried state and unmatchable in the failed-set remap,
    silently "healing" the odd cycle. Midpoints now live in a high
    positive namespace (ids < 2^40 contract), so labels stay real and the
    failure is remapped through component merges (1 → 0 here)."""
    rows = [
        # batch 1: odd triangle 1-2-3
        (1, 2, 0), (2, 3, 1), (3, 1, 2),
        # batch 2: even chain growing the component
        (3, 4, 3), (4, 5, 4), (5, 6, 5),
        # batch 3: merge with lower id 0 → component re-labels to 0
        (0, 1, 6), (6, 7, 7), (7, 8, 8),
    ]
    df = spark.createDataFrame(rows, "src long, dst long, ord long")
    got = IncrementalBipartiteness().run(
        replay(df, str(tmp_path / "early"), num_batches=3, order_by="ord")
    )
    assert [(r["component"], r["is_bipartite"]) for r in got.collect()] == [
        (0, False)
    ]


def test_streaming_windowed_append_with_watermark(spark, sf_dir, tmp_path):
    """Production path: watermarked tumbling agg in APPEND mode emits
    exactly the windows the watermark closed; with available-now over a
    bounded replay, that is every window except (possibly) the last
    open one — and each emitted window equals its batch twin."""
    import pyspark.sql.functions as F

    from gelly_streaming_spark.sources.edges import edges_events

    batch = edges_events(spark, sf_dir).select("src", "dst", "val", "ts")
    stream = replay(batch, str(tmp_path / "ev"), num_batches=3, order_by="ts")
    agg_s = (
        GraphStream(stream)
        .with_watermark("0 seconds")
        .slice("1 hour", "out")
        .reduce_on_edges(F.count(F.lit(1)).alias("cnt"))
    )
    got = {(r.bucket, r.id): r.cnt
           for r in run_to_memory(agg_s, "append").collect()}
    want = {(r.bucket, r.id): r.cnt
            for r in GraphStream(batch).slice("1 hour", "out")
            .reduce_on_edges(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got, "append mode emitted nothing — watermark never advanced"
    # emitted windows must agree exactly with the batch answer
    for k, v in got.items():
        assert want[k] == v
    # and only the final open window may be withheld
    missing_buckets = {b for (b, _) in set(want) - set(got)}
    assert len(missing_buckets) <= 1, missing_buckets


def test_rate_edges_produces_valid_stream(spark):
    """The synthetic rate source yields canonical edges with bounded
    vertex ids (one short processing-time micro-batch run)."""
    from gelly_streaming_spark.streaming import rate_edges

    edges = rate_edges(spark, rows_per_second=500, num_vertices=100)
    assert edges.isStreaming
    q = (
        edges.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.table("rate_smoke").count()
            if n > 0:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.table("rate_smoke").collect()
    assert rows, "rate source produced no rows in 20s"
    assert all(0 <= r.src < 100 and 0 <= r.dst < 100 for r in rows)


def test_kafka_shaped_source_adapts_to_edge_operators(spark, tmp_path):
    """Kafka-shape smoke (no broker): a stream carrying the EXACT column
    set `format("kafka")` produces — binary key/value, topic, partition,
    offset, timestamp — must adapt via edges_from_kafka and drive the
    standard operators to the batch answer."""
    import json

    import pyspark.sql.functions as F

    from gelly_streaming_spark.streaming import edges_from_kafka

    recs = [
        {"src": i % 7, "dst": (i * 3) % 11, "val": float(i),
         "ts": f"2026-01-01 00:{i:02d}:00"}
        for i in range(40)
    ]
    recs.append({"src": None, "dst": 5})  # poison pill: dropped, not fatal
    kafka_shaped = spark.createDataFrame(
        [
            (
                None,
                bytearray(json.dumps(r).encode()),
                "edges",
                i % 3,
                i,
                "2026-01-02 00:00:00",
                0,
            )
            for i, r in enumerate(recs)
        ],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp string, timestampType int",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    # batch adapter path (format("kafka") batch reads share the columns)
    batch_edges = edges_from_kafka(kafka_shaped)
    assert batch_edges.count() == 40
    want = _sorted_rows(GraphStream(batch_edges).degrees())

    stage = str(tmp_path / "kafka_shape")
    stream = replay(kafka_shaped, stage, num_batches=3)
    assert stream.isStreaming
    got = run_to_memory(GraphStream(edges_from_kafka(stream)).degrees(), "complete")
    assert _sorted_rows(got) == want


def _kafka_shaped(spark, values: list, broker_ts: str = "2026-01-02 03:04:05"):
    """Golden-bytes Kafka frame: each element of ``values`` is raw value
    bytes (or None), wrapped in the exact format('kafka') column set."""
    import pyspark.sql.functions as F

    return spark.createDataFrame(
        [
            (
                None,
                bytearray(v) if v is not None else None,
                "edges",
                i % 3,
                i,
                broker_ts,
                0,
            )
            for i, v in enumerate(values)
        ],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp string, timestampType int",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))


def test_kafka_payload_contract_json(spark):
    """Malformed-JSON contract (VERDICT r13 item 5): every malformed
    class either drops the row or degrades the field per the
    edges_from_kafka docstring table — never fails the query. Golden
    bytes, no broker."""
    import datetime

    from gelly_streaming_spark.streaming import edges_from_kafka

    broker = datetime.datetime(2026, 1, 2, 3, 4, 5)
    values = [
        b'{"src": 1, "dst": 2, "val": 3.5, "ts": "2026-01-01 00:00:01"}',  # clean
        b'{"src": 3, "dst": 4}',                    # missing val+ts -> 0.0 + broker ts
        b'{"src": 5, "dst": 6, "val": null, "ts": "not a time"}',  # bad ts -> broker
        b'{"src": 7, "dst": 8, "val": 1.0, "extra": "ignored", "ts": "2026-01-01 00:00:02"}',
        b'{"src": 9}',                              # missing dst -> dropped
        b'{"dst": 10}',                             # missing src -> dropped
        b'{"src": "abc", "dst": 11}',               # wrong type -> NULL src -> dropped
        b'{"src": 12, "dst": 13',                   # truncated JSON -> dropped
        b"not json at all",                         # garbage -> dropped
        b"\xff\xfe\x00\x9c",                        # non-UTF8 -> dropped
        b"",                                        # empty bytes -> dropped
        None,                                       # NULL value -> dropped
    ]
    out = {
        (r.src, r.dst): r
        for r in edges_from_kafka(_kafka_shaped(spark, values)).collect()
    }
    assert set(out) == {(1, 2), (3, 4), (5, 6), (7, 8)}, out
    assert out[(1, 2)].val == 3.5
    assert out[(1, 2)].ts == datetime.datetime(2026, 1, 1, 0, 0, 1)
    assert out[(3, 4)].val == 0.0          # missing val defaults
    assert out[(3, 4)].ts == broker        # missing ts -> broker append time
    assert out[(5, 6)].val == 0.0          # explicit null val defaults
    assert out[(5, 6)].ts == broker        # unparseable ts -> broker fallback
    assert out[(7, 8)].val == 1.0          # extra fields ignored


def test_kafka_payload_contract_csv(spark):
    """Malformed-CSV contract: short rows, non-numeric keys, and extra
    trailing fields follow the documented drop/degrade rules."""
    import datetime

    from gelly_streaming_spark.streaming import edges_from_kafka

    broker = datetime.datetime(2026, 1, 2, 3, 4, 5)
    values = [
        b"1,2,3.5,2026-01-01 00:00:01",   # clean
        b"3,4",                           # too few fields -> val/ts degrade
        b"5,6,oops,also-not-a-time",      # bad val+ts -> 0.0 + broker
        b"7,8,1.0,2026-01-01 00:00:02,surplus,fields",  # extras ignored
        b"abc,9,1.0,2026-01-01 00:00:03",  # non-numeric src -> dropped
        b"10",                            # dst missing -> dropped
        b"",                              # empty -> dropped
        None,                             # NULL value -> dropped
    ]
    out = {
        (r.src, r.dst): r
        for r in edges_from_kafka(
            _kafka_shaped(spark, values), value_format="csv"
        ).collect()
    }
    assert set(out) == {(1, 2), (3, 4), (5, 6), (7, 8)}, out
    assert out[(1, 2)].val == 3.5
    assert out[(3, 4)].val == 0.0 and out[(3, 4)].ts == broker
    assert out[(5, 6)].val == 0.0 and out[(5, 6)].ts == broker
    assert out[(7, 8)].val == 1.0
    assert out[(7, 8)].ts == datetime.datetime(2026, 1, 1, 0, 0, 2)


def test_kafka_payload_contract_streaming_partial_batch(spark, tmp_path):
    """A batch mixing poison pills with clean records must emit the
    clean records' answer — the malformed rows vanish without failing
    or stalling the micro-batch (the day-one production-ingest path)."""
    import json

    from gelly_streaming_spark.streaming import edges_from_kafka

    good = [
        json.dumps(
            {"src": i % 5, "dst": (i + 1) % 5, "val": 1.0,
             "ts": f"2026-01-01 00:00:{i:02d}"}
        ).encode()
        for i in range(20)
    ]
    poison = [b"{broken", b"\xff\xfe", None, b'{"src": null, "dst": 1}']
    # interleave so every micro-batch carries at least one poison pill
    values = [v for pair in zip(good, (poison * 5)[:20]) for v in pair]
    frame = _kafka_shaped(spark, values)

    want = _sorted_rows(GraphStream(edges_from_kafka(frame)).degrees())
    stream = replay(frame, str(tmp_path / "kafka_poison"), num_batches=4)
    got = run_to_memory(
        GraphStream(edges_from_kafka(stream)).degrees(), "complete"
    )
    assert _sorted_rows(got) == want
    assert want, "clean records must survive"


def test_replay_clears_stale_chunks(spark, tmp_path):
    """Reusing a stage dir must replay ONLY the new frame — stale chunk
    files from a previous call must not be unioned in."""
    import pyspark.sql.functions as F

    stage = str(tmp_path / "stage")
    big = spark.range(0, 100).select(
        F.col("id").alias("src"), F.col("id").alias("dst")
    )
    small = spark.range(0, 7).select(
        F.col("id").alias("src"), F.col("id").alias("dst")
    )
    replay(big, stage, num_batches=4)  # leaves 4 chunk files behind
    s = replay(small, stage, num_batches=2)
    got = run_to_memory(s.groupBy().count(), "complete")
    assert got.collect()[0][0] == 7


def test_run_to_memory_rejects_update_mode(spark, tmp_path):
    """update-mode unions keep superseded rows — the harness must refuse
    rather than return them as a 'final state'."""
    import pyspark.sql.functions as F

    import pytest as _pytest

    df = spark.range(0, 4).select(F.col("id").alias("src"), F.col("id").alias("dst"))
    s = replay(df, str(tmp_path / "upd"), num_batches=2)
    with _pytest.raises(ValueError, match="update"):
        run_to_memory(s.groupBy("src").count(), "update")


def test_parity_confs_restored_and_ckpt_removed_on_failure(spark):
    """VERDICT r5 #5: a streaming parity query that THROWS inside the
    conf context must still restore the session confs and remove the
    RAM-disk throwaway checkpoint dir — a failed query cannot leak
    either."""
    import os

    import pytest as _pytest

    from gelly_streaming_spark.queries import _parity_stream_confs

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ckpt = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    ctx = _parity_stream_confs(spark)
    with _pytest.raises(RuntimeError, match="boom"):
        with ctx:
            leaked_dir = ctx.ckpt_dir
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert (
        spark.conf.get("spark.sql.streaming.checkpointLocation", None)
        == prev_ckpt
    )
    if leaked_dir is not None:  # None when /dev/shm is unavailable
        assert not os.path.exists(leaked_dir), leaked_dir


def test_rocksdb_state_store_certifies_scale_confs(spark, sf_dir, tmp_path):
    """STREAMING_SCALE_CONFS (the 100 TB streaming configuration —
    RocksDB state store + changelog checkpointing) must actually run on
    this Spark build, not just be documented: execute a stateful
    streaming aggregation under the RocksDB provider and check parity
    with the batch answer. Confs are runtime-settable per query start;
    restored afterwards so the rest of the suite keeps the default
    HDFS-backed store."""
    from gelly_streaming_spark.session import STREAMING_SCALE_CONFS

    batch = edges_cust_order(spark, sf_dir)
    prev = {}
    for k, v in STREAMING_SCALE_CONFS.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        stream = replay(batch, str(tmp_path / "rocks"), num_batches=3)
        got = run_to_memory(GraphStream(stream).degrees(), "complete")
        want = GraphStream(batch).degrees()
        assert _sorted_rows(got) == _sorted_rows(want)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
