"""Reference-style golden tests on the canonical G1 fixture (the 5-vertex
Gelly test graph used by the reference's per-operator ITCases)."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from gelly_streaming_spark import GraphStream
from gelly_streaming_spark.sources.fixtures import fixture_graph


@pytest.fixture(scope="module")
def g1(spark):
    return GraphStream(fixture_graph(spark, "g1"))


def test_degrees_g1(g1):
    got = {r.id: r.degree for r in g1.degrees().collect()}
    assert got == {1: 3, 2: 2, 3: 4, 4: 2, 5: 3}


def test_in_out_degrees_g1(g1):
    assert {r.id: r.degree for r in g1.out_degrees().collect()} == {1: 2, 2: 1, 3: 2, 4: 1, 5: 1}
    assert {r.id: r.degree for r in g1.in_degrees().collect()} == {2: 1, 3: 2, 4: 1, 5: 2, 1: 1}


def test_reverse_undirected_counts(g1):
    assert g1.reverse().edges.count() == 7
    assert g1.undirected().edges.count() == 14
    rev = {(r.src, r.dst) for r in g1.reverse().edges.collect()}
    assert (2, 1) in rev and (1, 5) in rev


def test_map_filter(g1):
    doubled = g1.map_edges(F.col("val") * 2)
    assert {r.val for r in doubled.edges.collect()} == {24.0, 26.0, 46.0, 68.0, 70.0, 90.0, 102.0}
    assert g1.filter_edges(F.col("val") > 40).edges.count() == 2
    assert g1.filter_vertices(lambda v: v != 3).edges.count() == 3


def test_counts(g1):
    assert g1.number_of_edges().collect()[0].m == 7
    assert g1.number_of_vertices().collect()[0].n == 5


def test_union_distinct(g1, spark):
    doubled = g1.union(g1)
    assert doubled.edges.count() == 14
    assert doubled.distinct().edges.count() == 7


def test_slice_reduce_on_edges(g1):
    # 1-minute tumbling windows: each edge lands in its own window.
    out = g1.slice("1 minute", "out").reduce_on_edges(F.count(F.lit(1)).alias("cnt"))
    assert out.count() == 7
    assert all(r.cnt == 1 for r in out.collect())
    # One big window: per-src neighbor counts.
    big = g1.slice("1 day", "out").reduce_on_edges(F.count(F.lit(1)).alias("cnt"))
    got = {r.id: r.cnt for r in big.collect()}
    assert got == {1: 2, 2: 1, 3: 2, 4: 1, 5: 1}


def test_slice_all_duplicates_edges(g1):
    big = g1.slice("1 day", "all").reduce_on_edges(F.count(F.lit(1)).alias("cnt"))
    got = {r.id: r.cnt for r in big.collect()}
    assert got == {1: 3, 2: 2, 3: 4, 4: 2, 5: 3}


def test_neighborhood_fast_path(g1):
    nb = g1.slice("1 day", "all").neighborhood()
    got = {r.id: list(r.neighbors) for r in nb.collect()}
    assert got[3] == [1, 2, 4, 5]


def test_apply_on_neighbors_matches_declarative(spark, sf_dir):
    """The Arrow-UDTF path and the JVM fast path must agree (Q14 shape)."""
    from gelly_streaming_spark.queries import _Q14_SCHEMA, _q14_apply
    from gelly_streaming_spark.sources.edges import edges_events

    gs = GraphStream(edges_events(spark, sf_dir))
    w = gs.slice("1 hour", "out")
    fast = {(r.bucket, r.id): r.neighbors for r in w.neighborhood_concat(",").collect()}
    slow = {(r.bucket, r.id): r.neighbors
            for r in w.apply_on_neighbors(_q14_apply, _Q14_SCHEMA).collect()}
    assert fast == slow


def test_session_slice_merges_sessions(spark):
    """Events of one vertex closer than the gap share a session; a gap
    >= 30m starts a new one (extension beyond the tumbling-only reference)."""
    from gelly_streaming_spark.operators.windows import GraphWindowStream
    from gelly_streaming_spark.sources.fixtures import EDGE_SCHEMA

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 10, 1.0, t0),
        (1, 11, 1.0, t0 + dt.timedelta(minutes=20)),  # merges with first
        (1, 12, 1.0, t0 + dt.timedelta(minutes=90)),  # new session
        (2, 10, 1.0, t0),
    ]
    df = spark.createDataFrame(rows, EDGE_SCHEMA)
    gw = GraphWindowStream.session_slice(GraphStream(df), "30 minutes")
    got = {
        (r.id, r.bucket): r.n
        for r in gw.reduce_on_edges(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {
        (1, t0): 2,
        (1, t0 + dt.timedelta(minutes=90)): 1,
        (2, t0): 1,
    }


def test_text_sources_roundtrip(spark, tmp_path, g1):
    """S3 text-file parsing: csv + json + raw-line split all reproduce G1."""
    from gelly_streaming_spark.sources.text import (
        edges_from_csv,
        edges_from_json,
        parse_edge_lines,
    )

    want = sorted((r.src, r.dst, r.val) for r in g1.edges.collect())
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    g1.edges.write.mode("overwrite").csv(csv_dir)
    g1.edges.write.mode("overwrite").json(json_dir)

    got_csv = sorted((r.src, r.dst, r.val)
                     for r in edges_from_csv(spark, csv_dir).collect())
    got_json = sorted((r.src, r.dst, r.val)
                      for r in edges_from_json(spark, json_dir).collect())
    assert got_csv == want
    assert got_json == want

    lines = spark.createDataFrame(
        [(f"{r.src},{r.dst},{r.val}",) for r in g1.edges.collect()], "value string"
    )
    got_lines = sorted((r.src, r.dst, r.val)
                       for r in parse_edge_lines(lines).collect())
    assert got_lines == want


def test_neighborhood_salted_matches_unsalted(spark, sf_dir):
    """Skew treatment: sharded collect + merge must equal the direct
    collect for every (window, vertex)."""
    from gelly_streaming_spark.sources.edges import edges_events

    gs = GraphStream(edges_events(spark, sf_dir))
    w = gs.slice("1 hour", "out")
    plain = {(r.bucket, r.id): (list(r.neighbors), r.degree)
             for r in w.neighborhood().collect()}
    salted = {(r.bucket, r.id): (list(r.neighbors), r.degree)
              for r in w.neighborhood(salt=4).collect()}
    assert plain == salted


def test_intersect_difference_fused_matches_pair(spark):
    """The fused one-probe intersect_difference must partition the left
    set exactly as the separate semi-join intersect / anti-join
    difference pair does — including right-side DUPLICATES (a left join
    multiplies on them unless the operator dedups) and the
    assume_both_distinct fast path."""
    left = GraphStream(spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], "src long, dst long"))
    # (1, 2) duplicated on the right: must still tag once, not multiply
    right = GraphStream(spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (9, 9)], "src long, dst long"))

    from gelly_streaming_spark.operators.setops import intersect_difference

    fused = intersect_difference(left, right).edges
    got_in = {(r.src, r.dst) for r in fused.collect() if r.in_both}
    got_out = {(r.src, r.dst) for r in fused.collect() if not r.in_both}
    want_in = {(r.src, r.dst) for r in left.intersect(right).edges.collect()}
    want_out = {(r.src, r.dst) for r in left.difference(right).edges.collect()}
    assert got_in == want_in == {(1, 2), (2, 3)}
    assert got_out == want_out == {(1, 3), (4, 5)}
    assert fused.count() == 4  # one row per left edge, no dup blowup

    # assume_both_distinct path over genuinely-distinct inputs
    ld = GraphStream(left.edges.dropDuplicates(["src", "dst"]))
    rd = GraphStream(right.edges.dropDuplicates(["src", "dst"]))
    fused2 = intersect_difference(ld, rd, assume_both_distinct=True).edges
    assert {(r.src, r.dst, r.in_both) for r in fused2.collect()} == {
        (r.src, r.dst, r.in_both) for r in fused.collect()
    }
