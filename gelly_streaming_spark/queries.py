"""Declared query registry (SURVEY.md §2.10) — the t2 correctness contract.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB-runnable ANSI SQL string over the same parquet tables
(pre-registered views: region nation customer supplier part orders
lineitem events documents embeddings). Column names are aliased
identically on both sides — the driver's hash compare sorts columns by
name before hashing.

Determinism rules applied on BOTH sides:
- double sums go through DECIMAL(18,2) and back to DOUBLE, so aggregation
  order can never flip a 6th decimal (IEEE addition is not associative;
  decimal addition is exact);
- every float output is rounded; ratios of exact ints are bit-identical;
- event timestamps are truncated to microseconds (events parquet carries
  TIMESTAMP(NANOS): Spark reads nanos-as-long, DuckDB casts — FIXTURES.md §3);
- ties are totally ordered by explicit tie-break columns.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.operators.joins import asof_join, top_k
from gelly_streaming_spark.sources import edges as E
from gelly_streaming_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# DuckDB oracle view CTEs (must mirror sources/edges.py exactly)
# ---------------------------------------------------------------------------
_VIEW_SQL = {
    "edges_cust_order": (
        "SELECT o_custkey AS src, 1000000 + o_orderkey AS dst, "
        "o_totalprice AS val, o_orderdate AS ts FROM orders"
    ),
    "edges_order_part": (
        "SELECT 1000000 + l_orderkey AS src, 2000000 + l_partkey AS dst, "
        "l_extendedprice AS val, l_discount AS disc, l_shipdate AS ts FROM lineitem"
    ),
    "edges_copart": (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(1 AS DOUBLE) AS val, "
        "a.l_shipdate AS ts FROM lineitem a JOIN lineitem b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    ),
    "edges_events": (
        "SELECT user_id AS src, 100000 + (event_id % 50) AS dst, value AS val, "
        "CAST(ts AS TIMESTAMP) AS ts FROM events"
    ),
}


def _with(body: str, *views: str, recursive: bool = False) -> str:
    """Prefix ``body`` with the named edge-view CTEs. ``body`` either
    starts with a SELECT (joined with a space) or continues the CTE
    list (starts with an identifier — joined with ', '); with no views
    and no recursion there is nothing to add, so the body is returned
    verbatim rather than emitting invalid ``WITH SELECT``."""
    if not views and not recursive:
        return body
    kw = "WITH RECURSIVE " if recursive else "WITH "
    ctes = ", ".join(f"{v} AS ({_VIEW_SQL[v]})" for v in views)
    if not views:
        return f"{kw}{body}"
    sep = " " if body.lstrip().upper().startswith("SELECT") else ", "
    return f"{kw}{ctes}{sep}{body}"


def _dec_sum(col, alias: str):
    """Order-independent double sum: exact decimal accumulate, then double."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


_DEC_SUM_SQL = "CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS {a}"


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # None → non-SQL-expressible, rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def _memo_plan(name: str, fn):
    """Per-(session, sf_dir) analyzed-plan memo — the prepared-statement
    stance for the registry's fixed query shapes (VERDICT r13 item 2:
    re-calling the builder re-pays Python expression construction +
    Catalyst analysis on EVERY run; q44's 64-conditional-sum tree
    measured 5.6 s of the two combined at sf0.1 against 0.84 s of
    actual execution). The memo returns the same DataFrame object, so
    repeat invocations skip construction and analysis while every
    action still executes the full plan — scan, shuffles, write.

    OPT-IN, and only for PURELY DECLARATIVE builders: a memoized fn
    must not run driver-side loops, collects, or checkpoints, because
    re-executing the returned frame would then skip the measured work
    (the iterative algos, the lazy-checkpoint pipelines q40/q41/q42,
    and the ANN index builders all stay unmemoized). The memo is a
    plain plan cache — no storage blocks — and is drained by
    ``release_persisted`` with the rest of the session state (a
    surviving entry could outlive the restaged table dirs its scan
    references, the ADVICE r12 pq-memo lesson)."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        memo = getattr(spark, "_gss_query_plan", None)
        if memo is None:
            memo = {}
            spark._gss_query_plan = memo  # noqa: SLF001 — session memo
        df = memo.get((name, sf_dir))
        if df is None:
            df = fn(spark, sf_dir)
            memo[(name, sf_dir)] = df
        return df

    return wrapped


def _q(name: str, sql: Optional[str], doc: str = "", memo_plan: bool = False):
    def deco(fn):
        if name in REGISTRY:
            # a duplicate name would silently SHADOW the old query —
            # the correctness contract would shrink by one with no
            # failing test anywhere
            raise ValueError(f"duplicate query name {name!r} in REGISTRY")
        REGISTRY[name] = Query(
            fn=_memo_plan(name, fn) if memo_plan else fn, sql=sql, doc=doc
        )
        return fn

    return deco


# ---------------------------------------------------------------------------
# Q01–Q07: scan + transformations (reference T1–T6, S3)
# ---------------------------------------------------------------------------
@_q("q01_scan", _with("SELECT src, dst, val, ts FROM edges_cust_order", "edges_cust_order"),
    "S3 source parse → canonical edge schema", memo_plan=True)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GraphStream(E.edges_cust_order(spark, sf_dir)).edges.select("src", "dst", "val", "ts")


@_q("q02_reverse", _with("SELECT dst AS src, src AS dst, val FROM edges_cust_order", "edges_cust_order"),
    "T4 reverse", memo_plan=True)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GraphStream(E.edges_cust_order(spark, sf_dir)).reverse().edges.select("src", "dst", "val")


@_q("q03_undirected",
    _with("SELECT src, dst FROM edges_cust_order UNION ALL SELECT dst, src FROM edges_cust_order",
          "edges_cust_order"),
    "T5 undirected", memo_plan=True)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GraphStream(E.edges_cust_order(spark, sf_dir)).undirected().edges.select("src", "dst")


@_q("q04_filter_edges",
    _with("SELECT src, dst, val FROM edges_cust_order WHERE val > 150000", "edges_cust_order"),
    "T2 filterEdges — predicate pushes to parquet scan", memo_plan=True)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    gs = GraphStream(E.edges_cust_order(spark, sf_dir)).filter_edges(F.col("val") > 150000)
    return gs.edges.select("src", "dst", "val")


@_q("q05_filter_vertices",
    _with("SELECT src, dst FROM edges_cust_order WHERE src % 10 <> 0 AND dst % 10 <> 0",
          "edges_cust_order"),
    "T3 filterVertices — both endpoints must pass", memo_plan=True)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    gs = GraphStream(E.edges_cust_order(spark, sf_dir)).filter_vertices(lambda v: v % 10 != 0)
    return gs.edges.select("src", "dst")


@_q("q05b_filter_vertices_semi",
    _with(
        "SELECT e.src, e.dst FROM edges_cust_order e "
        "WHERE e.src IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)",
        "edges_cust_order"),
    "T3 attribute variant — semi-join against filtered vertex table (broadcast)", memo_plan=True)
def q05b(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("id"))
    )
    e = E.edges_cust_order(spark, sf_dir)
    # broadcast hint: the build side is a filtered DIMENSION table
    # (customer keys), bounded at any SF relative to the edge fact table
    # — the one case where a static hint beats waiting for AQE's runtime
    # size check. Data-dependent build sides (e.g. tfidf's df table)
    # leave the decision to AQE instead.
    out = e.join(cust.hint("broadcast"), e.src == cust.id, "left_semi")
    return out.select("src", "dst")


@_q("q06_map_edges",
    _with("SELECT src, dst, ROUND(val * (1 - disc), 4) AS mapped_val FROM edges_order_part",
          "edges_order_part"),
    "T1 mapEdges — pure column expression, whole-stage codegen", memo_plan=True)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    gs = GraphStream(E.edges_order_part(spark, sf_dir)).map_edges(
        F.round(F.col("val") * (1 - F.col("disc")), 4), as_col="mapped_val"
    )
    return gs.edges.select("src", "dst", "mapped_val")


@_q("q07_distinct",
    _with("SELECT DISTINCT src, dst FROM edges_copart", "edges_copart"),
    "T6 distinct — pre-join dedup + shared canonical copart materialization "
    "(the raw-bag self-join multiplicity is provably irrelevant post-DISTINCT)", memo_plan=True)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared view IS the distinct() result (built by one hash-agg
    # dedup); re-running the operator would just re-shuffle a dedup'd set
    return GraphStream(E.copart_canonical(spark, sf_dir)).edges.select("src", "dst")


# ---------------------------------------------------------------------------
# Q08–Q11: degrees / counts / set ops (reference A1–A4, U1)
# ---------------------------------------------------------------------------
@_q("q08_degrees",
    _with(
        "SELECT id, COUNT(*) AS degree FROM "
        "(SELECT src AS id FROM edges_cust_order UNION ALL SELECT dst FROM edges_cust_order) "
        "GROUP BY id", "edges_cust_order"),
    "A1 getDegrees — explode + partial/final hash agg", memo_plan=True)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GraphStream(E.edges_cust_order(spark, sf_dir)).degrees()


@_q("q09_in_out_degrees",
    _with(
        "SELECT COALESCE(i.id, o.id) AS id, COALESCE(i.in_degree, 0) AS in_degree, "
        "COALESCE(o.out_degree, 0) AS out_degree FROM "
        "(SELECT dst AS id, COUNT(*) AS in_degree FROM edges_cust_order GROUP BY dst) i "
        "FULL OUTER JOIN "
        "(SELECT src AS id, COUNT(*) AS out_degree FROM edges_cust_order GROUP BY src) o "
        "ON i.id = o.id", "edges_cust_order"),
    "A2 in/outDegrees — fused single-aggregation form (one shuffle; the "
    "oracle's two-agg + full-outer-join phrasing is the same relation)", memo_plan=True)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GraphStream(E.edges_cust_order(spark, sf_dir)).in_out_degrees()


@_q("q10_counts",
    _with(
        "SELECT (SELECT COUNT(*) FROM edges_cust_order) AS m, "
        "(SELECT COUNT(DISTINCT id) FROM (SELECT src AS id FROM edges_cust_order "
        "UNION ALL SELECT dst FROM edges_cust_order)) AS n", "edges_cust_order"),
    "A3/A4 numberOfEdges + numberOfVertices (exact batch) — fused into "
    "one aggregation pass (each endpoint row counts 1/2 edge)", memo_plan=True)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = E.edges_cust_order(spark, sf_dir).select(
        F.explode(F.array("src", "dst")).alias("id")
    )
    return ex.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("m"),
        F.count_distinct("id").alias("n"),
    )


_Q11_SQL = (
    "WITH "
    + f"edges_cust_order AS ({_VIEW_SQL['edges_cust_order']}), "
    + f"edges_order_part AS ({_VIEW_SQL['edges_order_part']}), "
    + "u AS (SELECT src, dst FROM edges_cust_order UNION ALL "
    + "SELECT src, dst FROM edges_order_part) "
    + "SELECT id, COUNT(*) AS degree FROM "
    + "(SELECT src AS id FROM u UNION ALL SELECT dst FROM u) GROUP BY id"
)


@_q("q11_union_degrees", _Q11_SQL, "U1 union → degrees over the union", memo_plan=True)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = GraphStream(E.edges_cust_order(spark, sf_dir))
    b = GraphStream(E.edges_order_part(spark, sf_dir))
    return a.union(b).degrees()


@_q("q11b_intersect_except",
    "WITH "
    + f"edges_copart AS ({_VIEW_SQL['edges_copart']}), "
    + "a AS (SELECT DISTINCT src, dst FROM edges_copart WHERE src % 2 = 0), "
    + "b AS (SELECT DISTINCT src, dst FROM edges_copart WHERE dst % 3 = 0) "
    + "SELECT 'intersect' AS which, src, dst FROM (SELECT * FROM a INTERSECT SELECT * FROM b) "
    + "UNION ALL SELECT 'except', src, dst FROM (SELECT * FROM a EXCEPT SELECT * FROM b)",
    "set-op extension (absent in reference): INTERSECT / EXCEPT as "
    "semi/anti joins — assume_both_distinct skips the dedup shuffle because "
    "both inputs filter the already-distinct materialized view", memo_plan=True)
def q11b(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the distinct co-purchase projection feeds both set-op sides:
    # the session-shared canonical materialization covers them all.
    # intersect_difference computes BOTH sides in one build + one probe
    # (r17 — the separate semi+anti pair built the same broadcast hash
    # relation twice and scanned the left twice; plan audit r16).
    from gelly_streaming_spark.operators.setops import intersect_difference

    e = E.copart_canonical(spark, sf_dir)
    a = GraphStream(e.where(F.col("src") % 2 == 0))
    b = GraphStream(e.where(F.col("dst") % 3 == 0))
    return intersect_difference(a, b, assume_both_distinct=True).edges.select(
        F.when(F.col("in_both"), F.lit("intersect"))
        .otherwise(F.lit("except"))
        .alias("which"),
        "src",
        "dst",
    )


# ---------------------------------------------------------------------------
# Q12–Q14: windowed neighborhood operators (reference W1–W4)
# ---------------------------------------------------------------------------
@_q("q12_slice_reduce",
    _with(
        "SELECT date_trunc('hour', ts) AS bucket, src AS id, "
        + _DEC_SUM_SQL.format(c="val", a="sum_val")
        + ", COUNT(*) AS cnt FROM edges_events GROUP BY 1, 2", "edges_events"),
    "W1+W2 slice(1h, OUT) → reduceOnEdges(sum, count)", memo_plan=True)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    gs = GraphStream(E.edges_events(spark, sf_dir))
    return gs.slice("1 hour", "out").reduce_on_edges(
        _dec_sum("val", "sum_val"), F.count(F.lit(1)).alias("cnt")
    )


@_q("q12c_sliding",
    "WITH "
    + f"edges_events AS ({_VIEW_SQL['edges_events']}) "
    + "SELECT time_bucket(INTERVAL 30 MINUTES, ts) - o.m * INTERVAL 30 MINUTES AS bucket, "
    + "src AS id, COUNT(*) AS cnt, "
    + _DEC_SUM_SQL.format(c="val", a="sum_val")
    + " FROM edges_events CROSS JOIN (VALUES (0), (1)) AS o(m) GROUP BY 1, 2",
    "sliding-window slice extension (1h window / 30m slide; reference is tumbling-only)", memo_plan=True)
def q12c(spark: SparkSession, sf_dir: str) -> DataFrame:
    gs = GraphStream(E.edges_events(spark, sf_dir))
    return gs.slice("1 hour", "out", slide="30 minutes").reduce_on_edges(
        F.count(F.lit(1)).alias("cnt"), _dec_sum("val", "sum_val")
    )


_Q12D_SQL = (
    "WITH "
    + f"edges_events AS ({_VIEW_SQL['edges_events']}), "
    # gaps-and-islands ≡ Spark session_window merging: a new session
    # starts when the gap to the previous event of the same vertex is
    # >= 30 minutes (Spark merges strictly-overlapping [ts, ts+gap)).
    + "marked AS (SELECT src, ts, val, CASE WHEN ts - LAG(ts) OVER "
    + "(PARTITION BY src ORDER BY ts) >= INTERVAL 30 MINUTES "
    + "OR LAG(ts) OVER (PARTITION BY src ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_s "
    + "FROM edges_events), "
    + "islands AS (SELECT src, ts, val, SUM(new_s) OVER "
    + "(PARTITION BY src ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM marked) "
    + "SELECT MIN(ts) AS bucket, src AS id, COUNT(*) AS cnt, "
    + _DEC_SUM_SQL.format(c="val", a="sum_val")
    + " FROM islands GROUP BY sid, src"
)


@_q("q12d_session", _Q12D_SQL,
    "session-window slice extension (30m gap; reference is tumbling-only) "
    "— Spark session_window merging ≡ DuckDB gaps-and-islands", memo_plan=True)
def q12d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.operators.windows import GraphWindowStream

    gs = GraphStream(E.edges_events(spark, sf_dir))
    gw = GraphWindowStream.session_slice(gs, "30 minutes", "out")
    return gw.reduce_on_edges(
        F.count(F.lit(1)).alias("cnt"), _dec_sum("val", "sum_val")
    )


@_q("q13_fold_neighbors",
    _with(
        "SELECT date_trunc('hour', ts) AS bucket, src AS id, COUNT(*) AS cnt, "
        + _DEC_SUM_SQL.format(c="val", a="sum_val")
        + ", MIN(dst) AS min_nbr FROM edges_events GROUP BY 1, 2", "edges_events"),
    "W3 foldNeighbors — algebraic fold = aggregate struct", memo_plan=True)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    gs = GraphStream(E.edges_events(spark, sf_dir))
    return gs.slice("1 hour", "out").fold_neighbors(
        F.count(F.lit(1)).alias("cnt"),
        _dec_sum("val", "sum_val"),
        F.min("nbr").alias("min_nbr"),
    )


_Q14_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.TimestampType()),
        T.StructField("id", T.LongType()),
        T.StructField("neighbors", T.StringType()),
    ]
)


def _q14_apply(pdf: pd.DataFrame) -> pd.DataFrame:
    nbrs = ",".join(str(x) for x in sorted(pdf["nbr"].tolist()))
    return pd.DataFrame(
        {"bucket": [pdf["bucket"].iloc[0]], "id": [pdf["id"].iloc[0]], "neighbors": [nbrs]}
    )


@_q("q14_apply_neighbors",
    _with(
        "SELECT date_trunc('hour', ts) AS bucket, src AS id, "
        "string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst) AS neighbors "
        "FROM edges_events GROUP BY 1, 2", "edges_events"),
    "W4 applyOnNeighbors — declarative neighborhood fast path (the Arrow "
    "UDTF route computes the same thing ~40x slower; kept for opaque fns "
    "and cross-checked in tests)", memo_plan=True)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    gs = GraphStream(E.edges_events(spark, sf_dir))
    return gs.slice("1 hour", "out").neighborhood_concat(",")


# ---------------------------------------------------------------------------
# Q15–Q18: library algorithms (reference L1–L5)
# ---------------------------------------------------------------------------
_Q15_SQL = """
WITH RECURSIVE
sub AS (
  SELECT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem WHERE l_orderkey < 200
),
eu AS (SELECT src AS u, dst AS v FROM sub UNION ALL SELECT dst, src FROM sub),
verts AS (SELECT DISTINCT u AS id FROM eu),
walk(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.v, w.comp FROM walk w JOIN eu e ON e.u = w.id
)
SELECT id, MIN(comp) AS component FROM walk GROUP BY id
"""


@_q("q15_connected_components", _Q15_SQL,
    "L1 connected components — min-label Pregel loop ≡ DuckDB WITH RECURSIVE")
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.connected_components import connected_components

    return connected_components(_q15_edges(spark, sf_dir))


def _q15_edges(spark: SparkSession, sf_dir: str) -> GraphStream:
    # filter on the RAW key, not the offset edge column: `1000000 +
    # o_orderkey < 1000200` is not a rewrite Catalyst pushes into the
    # parquet scan (ANSI arithmetic), `o_orderkey < 200` is — the
    # difference between reading ~200 rows and the whole table
    a = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 200)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(E.ORDER_OFFSET) + F.col("o_orderkey")).alias("dst"),
        )
    )
    b = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 200)
        .select(
            (F.lit(E.ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
            (F.lit(E.PART_OFFSET) + F.col("l_partkey")).alias("dst"),
        )
    )
    return GraphStream(a.unionByName(b))


@_q("q15b_cc_summary", _Q15_SQL,
    "L1 via the reference's EXACT SummaryAggregation shape: per-bucket "
    "union-find folds, executor tree-merge, O(√buckets) driver merge — "
    "same fixpoint as the recursive-CTE oracle")
def q15b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.connected_components import (
        connected_components_summary,
    )

    # buckets sized to the bounded q15 subgraph (the knob is partition
    # tuning, like shuffle.partitions); the 256-bucket + tree-merge path
    # is exercised by test_summary_tree_merge_bounds_driver_partials
    out = connected_components_summary(_q15_edges(spark, sf_dir), num_buckets=16)
    return out.select("id", "component")


@_q("q15c_cc_alternating", _Q15_SQL,
    "L1 via alternating large-star/small-star contraction (O(log n) "
    "rounds — the 100 TB long-diameter scale path)")
def q15c(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.connected_components import (
        connected_components_alternating,
    )

    return connected_components_alternating(_q15_edges(spark, sf_dir))


@_q("q15d_cc_distributed", _Q15_SQL,
    "L1 distributed-path certification: alternating star contraction with "
    "the small-graph fast path DISABLED (small_input_rows=0), so the "
    "DuckDB hash gate covers the plan a 100 TB run would execute — the "
    "q15/q15c rows certify the adaptive driver union-find fallback")
def q15d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.connected_components import (
        connected_components_alternating,
    )

    stats: dict = {}
    out = connected_components_alternating(
        _q15_edges(spark, sf_dir), stats=stats, small_input_rows=0
    )
    # explicit raise, not assert: python -O strips asserts, which would
    # silently void the distributed-path certification this query IS
    if stats["rounds"] <= 0:
        raise RuntimeError("fast path taken despite small_input_rows=0")
    return out


_Q15E_BODY = """
e AS (SELECT date_trunc('day', ts) AS bucket, src, dst
      FROM edges_events
      WHERE src < 120 AND ts < TIMESTAMP '2024-01-16'),
bks AS (SELECT DISTINCT bucket FROM e),
ce AS (SELECT b.bucket AS bucket, e.src, e.dst FROM bks b JOIN e ON e.bucket <= b.bucket),
eu AS (SELECT DISTINCT bucket, src AS u, dst AS v FROM ce
       UNION SELECT DISTINCT bucket, dst, src FROM ce),
verts AS (SELECT DISTINCT bucket, u AS id FROM eu),
walk(bucket, id, comp) AS (
  SELECT bucket, id, id FROM verts
  UNION
  SELECT w.bucket, e.v, w.comp FROM walk w
  JOIN eu e ON e.bucket = w.bucket AND e.u = w.id
)
SELECT bucket, id, MIN(comp) AS component FROM walk GROUP BY bucket, id
"""


@_q("q15e_cc_summary_windowed",
    _with(_Q15E_BODY, "edges_events", recursive=True),
    "A7 WindowGraphAggregation: per-tumbling-day CC summaries with state "
    "carried across windows (transientState=false, the reference CC ctor "
    "shape, REF:WindowGraphAggregation.java:~70 [M]) — one component "
    "mapping emitted per window over the cumulative edge set, hash-matched "
    "against a per-bucket recursive-CTE oracle. Vertex set bounded "
    "(user_id < 120, pushed into the scan): the oracle's recursive label "
    "walk materializes O(V^2) (id, comp) pairs per bucket, so an "
    "unbounded fixture made the DuckDB side quadratic (380 s+ at sf0.1) "
    "while the engine's union-find path stayed linear")
def q15e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.connected_components import (
        connected_components_summary,
    )

    edges = E.edges_events(spark, sf_dir).where(
        (F.col("src") < 120) & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    )
    # buckets sized to the bounded fixture (the knob is partition tuning,
    # like shuffle.partitions — a cluster run raises it to executor width)
    out = connected_components_summary(
        GraphStream(edges), window="1 day", num_buckets=8
    )
    return out.select("bucket", "id", "component")


@_q("q15f_cc_summary_bulk", _Q15_SQL,
    "A8 SummaryBulkAggregation (REF:SummaryBulkAggregation.java:~40 [M]): "
    "per-micro-batch distributed bucket folds merged into the carried "
    "global summary across TWO replayed batches — the cross-batch "
    "bulk-merge is the A8 semantics — with the final component mapping "
    "hash-matched against the Q15 recursive-CTE oracle (the last "
    "test-only aggregation row, promoted per VERDICT r7 #4)")
def q15f(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.connected_components import (
        cc_summary_aggregation,
    )
    from gelly_streaming_spark.streaming.summary import (
        StreamingSummaryAggregation,
    )

    edges = _q15_edges(spark, sf_dir).edges
    with _parity_stream_confs(spark):
        stream = _replay_tmp(
            edges.withColumn("ts", F.lit(None).cast("timestamp")),
            num_batches=2,
            key=f"q15f:{sf_dir}",
        )
        runner = StreamingSummaryAggregation(cc_summary_aggregation(num_buckets=8))
        out = runner.run(stream)
    if runner.batches < 2:
        raise RuntimeError(
            f"A8 bulk certification needs >=2 merged batches, got {runner.batches}"
        )
    return out.select("id", "component")


def _fixture_union_sql() -> str:
    from gelly_streaming_spark.sources.fixtures import fixture_rows

    parts = []
    for g in ("g2", "g3"):
        vals = ", ".join(f"({s}, {d})" for s, d, _, _ in fixture_rows(g))
        parts.append(f"SELECT '{g}' AS graph, src, dst FROM (VALUES {vals}) t(src, dst)")
    return " UNION ALL ".join(parts)


_Q16_SQL = f"""
WITH RECURSIVE
g AS ({_fixture_union_sql()}),
eu AS (SELECT graph, src AS u, dst AS v FROM g UNION ALL SELECT graph, dst, src FROM g),
walk(graph, root, id, parity) AS (
  SELECT DISTINCT graph, u, u, 0 FROM eu
  UNION
  SELECT w.graph, w.root, e.v, 1 - w.parity FROM walk w JOIN eu e ON e.graph = w.graph AND e.u = w.id
),
odd AS (SELECT DISTINCT graph, root FROM walk WHERE root = id AND parity = 1)
SELECT gl.graph, COUNT(o.root) = 0 AS is_bipartite, COUNT(o.root) AS odd_vertices
FROM (SELECT DISTINCT graph FROM g) gl LEFT JOIN odd o ON o.graph = gl.graph
GROUP BY gl.graph
"""


@_q("q16_bipartiteness", _Q16_SQL,
    "L2 bipartiteness — parity-reachability fixpoint on fixtures G2 (K3,3) / G3 (odd cycle)")
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.bipartiteness import odd_vertex_reach
    from gelly_streaming_spark.sources.fixtures import fixture_graph

    tagged = None
    for g in ("g2", "g3"):
        t = fixture_graph(spark, g).select(F.lit(g).alias("graph"), "src", "dst")
        tagged = t if tagged is None else tagged.unionByName(t)
    return odd_vertex_reach(tagged)


_Q17_SQL = _with(
    "SELECT COUNT(*) AS n_triangles FROM "
    "(SELECT DISTINCT src, dst FROM edges_copart) a "
    "JOIN (SELECT DISTINCT src, dst FROM edges_copart) b ON b.src = a.dst "
    "JOIN (SELECT DISTINCT src, dst FROM edges_copart) c "
    "ON c.src = a.src AND c.dst = b.dst",
    "edges_copart",
)


@_q("q17_triangles", _Q17_SQL, "L4 exact triangle count — canonical two-join plan "
    "over the shared pre-deduped copart materialization")
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.triangles import triangle_count

    return triangle_count(
        GraphStream(E.copart_canonical(spark, sf_dir)),
        canonical=True,
        materialized=True,
    )


_Q18_SQL = _with(
    "SELECT a.bucket, COUNT(*) AS n_triangles FROM "
    "(SELECT DISTINCT date_trunc('day', ts) AS bucket, src, dst FROM edges_copart) a "
    "JOIN (SELECT DISTINCT date_trunc('day', ts) AS bucket, src, dst FROM edges_copart) b "
    "ON b.bucket = a.bucket AND b.src = a.dst "
    "JOIN (SELECT DISTINCT date_trunc('day', ts) AS bucket, src, dst FROM edges_copart) c "
    "ON c.bucket = a.bucket AND c.src = a.src AND c.dst = b.dst "
    "GROUP BY a.bucket",
    "edges_copart",
)


@_q("q18_windowed_triangles", _Q18_SQL,
    "L5 windowed triangles — per tumbling day window on the co-purchase graph "
    "(shared bucketed canonical materialization, vectorized numpy kernel)")
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.triangles import triangle_count_windowed

    # stream omitted: the shared bucketed canonical view IS the input —
    # constructing the raw copart self-join plan just to fill the
    # parameter paid a full Catalyst analysis per call for a frame the
    # function never reads
    return triangle_count_windowed(
        size="1 day",
        canonical_bucketed=E.copart_canonical(spark, sf_dir, "1 day"),
    )


# ---------------------------------------------------------------------------
# Q19b: as-of join (extension)
# ---------------------------------------------------------------------------
_Q19B_SQL = """
WITH j AS (
  SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
)
SELECT event_id, ts, o_orderkey AS last_orderkey, o_orderdate AS last_orderdate
FROM j WHERE rn = 1 OR rn IS NULL
"""


@_q("q19b_asof_join", _Q19B_SQL,
    "as-of join extension — latest prior order per event, deterministic tie-break", memo_plan=True)
def q19b(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    out = asof_join(
        ev, orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        tie_breaker="o_orderkey",
    )
    return out.select(
        "event_id", "ts",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
    )


# ---------------------------------------------------------------------------
# Q20: sorts / top-k / rollup (absent in reference — Spark surface)
# ---------------------------------------------------------------------------
@_q("q20_topk_degrees",
    _with(
        "SELECT id, degree FROM (SELECT id, COUNT(*) AS degree FROM "
        "(SELECT src AS id FROM edges_cust_order UNION ALL SELECT dst FROM edges_cust_order) "
        "GROUP BY id) ORDER BY degree DESC, id LIMIT 10", "edges_cust_order"),
    "top-k — TakeOrderedAndProject (per-partition heaps, no full sort)", memo_plan=True)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = GraphStream(E.edges_cust_order(spark, sf_dir)).degrees()
    return top_k(deg, [F.desc("degree"), F.asc("id")], 10)


@_q("q20b_rollup",
    "SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, COUNT(*) AS cnt "
    "FROM events GROUP BY ROLLUP(event_type, hour)",
    "grouping-sets extension: rollup over (event_type, hour)", memo_plan=True)
def q20b(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .rollup("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Q21–Q24: training-data pipeline extensions (dedup / similarity /
# embeddings / text analysis) over the documents + embeddings tables
# ---------------------------------------------------------------------------
@_q("q21_exact_dedup",
    "SELECT COUNT(DISTINCT md5(text)) AS n_unique FROM documents",
    "exact dedup — distinct content hashes", memo_plan=True)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.count_distinct(F.md5(F.col("text").cast("binary"))).alias("n_unique")
    )


@_q("q21b_dedup_groups",
    "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count FROM documents GROUP BY md5(text)",
    "exact dedup groups — keep min-id representative per content hash", memo_plan=True)
def q21b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.dedup import exact_dedup_groups

    return exact_dedup_groups(load_table(spark, sf_dir, "documents"), "doc_id", "text")


_Q22_SQL = """
WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i FROM tok a
          JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT a, b, ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.95
"""


@_q("q22_jaccard_pairs", _Q22_SQL,
    "exact Jaccard ≥ 0.95 near-dup pairs via inverted-index join (no cross join)")
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.similarity import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", F.split(F.col("text"), " "), 0.95).select(
        "a", "b", "jaccard"
    )


# Oracle strategy, mirroring the engine's own contraction structure:
# (1) recurse over one REPRESENTATIVE per distinct text — identical text
# means identical token set means Jaccard 1, each md5 group's rep
# carries the group's MIN doc id; (2) THREE unrolled min-label adoption
# rounds (plain joins — each vertex takes the min label of its closed
# neighborhood) contract the dense near-dup clusters almost completely;
# (3) the recursive closure then runs on the CONTRACTED label graph.
# A naive recursive walk on the raw pair graph materializes
# O(sum-of-reachable-ids) rows — measured 118 s at sf0.1 where this
# formulation runs in seconds; the unrolled rounds are CC-preserving
# contractions, so the closure over contracted labels is exact for any
# residual diameter. Shared CTEs are AS MATERIALIZED: DuckDB inlines
# multiply-referenced CTEs by default, which re-expanded the all-pairs
# token join once per unrolled round.
_Q31_SQL = """
WITH RECURSIVE
grp AS MATERIALIZED (SELECT MIN(doc_id) AS rep_id, COUNT(*) AS grp_n FROM documents GROUP BY md5(text)),
rdoc AS (SELECT d.doc_id, d.text FROM documents d JOIN grp g ON g.rep_id = d.doc_id),
tok AS (SELECT DISTINCT doc_id,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS token FROM rdoc),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i FROM tok a
          JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS MATERIALIZED (SELECT a, b FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
          WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.95),
eu AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
l0 AS (SELECT rep_id AS id, rep_id AS lab FROM grp),
l1 AS MATERIALIZED (SELECT l.id, LEAST(l.lab, COALESCE(m.ml, l.lab)) AS lab FROM l0 l LEFT JOIN
       (SELECT e.v AS id, MIN(x.lab) AS ml FROM eu e JOIN l0 x ON x.id = e.u GROUP BY e.v) m
       ON m.id = l.id),
l2 AS MATERIALIZED (SELECT l.id, LEAST(l.lab, COALESCE(m.ml, l.lab)) AS lab FROM l1 l LEFT JOIN
       (SELECT e.v AS id, MIN(x.lab) AS ml FROM eu e JOIN l1 x ON x.id = e.u GROUP BY e.v) m
       ON m.id = l.id),
l3 AS MATERIALIZED (SELECT l.id, LEAST(l.lab, COALESCE(m.ml, l.lab)) AS lab FROM l2 l LEFT JOIN
       (SELECT e.v AS id, MIN(x.lab) AS ml FROM eu e JOIN l2 x ON x.id = e.u GROUP BY e.v) m
       ON m.id = l.id),
ce AS MATERIALIZED (SELECT DISTINCT la.lab AS u, lb.lab AS v FROM pairs p
       JOIN l3 la ON la.id = p.a JOIN l3 lb ON lb.id = p.b WHERE la.lab <> lb.lab),
ceu AS (SELECT u, v FROM ce UNION ALL SELECT v, u FROM ce),
walk(id, comp) AS (
  SELECT DISTINCT lab, lab FROM l3
  UNION
  SELECT e.v, w.comp FROM walk w JOIN ceu e ON e.u = w.id WHERE w.comp < e.v
),
cl AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id)
SELECT cl.comp AS keep_id, CAST(SUM(g.grp_n) AS BIGINT) AS cluster_size
FROM grp g JOIN l3 ON l3.id = g.rep_id JOIN cl ON cl.id = l3.lab
GROUP BY cl.comp
"""


@_q("q31_near_dup_collapse", _Q31_SQL,
    "near-dup dedup COLLAPSE: one kept representative per connected "
    "component of the exact-Jaccard >= 0.95 pair graph (pairwise "
    "similarity is not transitive, so the collapse needs CC, not a "
    "group-by on pair endpoints) - the dedup artifact a training-data "
    "pipeline consumes; composed entirely from certified operators "
    "(q22 pair scoring + q15 CC + one aggregation)")
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.dedup import near_dup_collapse

    return near_dup_collapse(load_table(spark, sf_dir, "documents"))


_Q23_SQL = """
WITH scored AS (
  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim
  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
  WHERE a.vec_id BETWEEN 1 AND 10
),
ranked AS (
  SELECT qid, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM scored
)
SELECT qid, vec_id, ROUND(sim, 6) AS sim FROM ranked WHERE rn <= 5
"""


@_q("q23_knn_cosine", _Q23_SQL,
    "top-5 cosine neighbors of vec_id 1..10 — brute-force baseline (JVM array folds)")
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import knn_bruteforce

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce(emb, emb.where(F.col("vec_id").between(1, 10)), k=5)


_Q24_SQL = """
WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
cnt AS (SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
top AS (SELECT lang, token AS top_token FROM
        (SELECT lang, token, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rn
         FROM cnt) WHERE rn = 1),
st AS (SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 6) AS avg_chars
       FROM documents GROUP BY lang)
SELECT st.lang, st.n_docs, st.avg_chars, top.top_token FROM st JOIN top ON st.lang = top.lang
"""


@_q("q24_text_analysis", _Q24_SQL,
    "per-language doc count, avg length, top token (deterministic tie-break)", memo_plan=True)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.operators.joins import top_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
    cnt = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    top = top_k_per_group(cnt, ["lang"], [F.desc("c"), F.asc("token")], 1).select(
        "lang", F.col("token").alias("top_token")
    )
    st = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("n_chars"), 6).alias("avg_chars")
    )
    return st.join(top, "lang")


_Q23B_SQL = """
SELECT a.vec_id AS a, b.vec_id AS b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.38
"""


@_q("q23b_embedding_near_dup", _Q23B_SQL,
    "embedding-cosine near-duplicate pairs, exact path (LSH multi-table "
    "variant recall-property-tested in tests/test_ext.py)")
def q23b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.38, exact=True)


# ---------------------------------------------------------------------------
# Q25s/Q26s: streaming operators (SURVEY.md §2 M4) — each replays the same
# bounded edge set as its batch twin through a real Structured Streaming
# query (file source, micro-batches, available-now trigger) and returns
# the FINAL state, which must hash-match the same DuckDB oracle. This
# pins semantic delta D1 (per-micro-batch emission, same fixpoint).
# ---------------------------------------------------------------------------
def _replay_tmp(
    df: DataFrame,
    num_batches: int = 2,
    order_by: Optional[str] = None,
    key: Optional[str] = None,
) -> DataFrame:
    from gelly_streaming_spark.streaming.sources import replay

    # replay() owns parameter folding: its memo key already includes
    # (num_batches, files_per_trigger, order_by) — re-encoding them here
    # would just be a second hand-maintained copy that could drift.
    # stage_dir is left to replay(): it allocates the temp dir only on a
    # memo miss, so memoized reruns create no orphan /tmp dirs.
    return replay(df, None, num_batches, order_by=order_by, cache_key=key)


class _parity_stream_confs:
    """Bounded-parity-replay tuning: stateful streaming operators fix
    their state partition count at query start from
    ``spark.sql.shuffle.partitions`` (AQE never re-plans it), and a
    2-micro-batch replay of a small fixture does not amortize 32 state
    stores per operator — measured 13.6 s → 7.6 s across the four
    streaming parity queries at 8, a further ~0.5 s/query at 4. Going
    BELOW 4 was measured and rejected: the state-store bookkeeping
    saved is ~0.06 s/query on a trivial fixture, but the same width
    also serializes the replay's DATA work (q27s's 190 k-row windowed
    agg ran 1.3–1.5 s at width 1 vs 0.85–0.95 s at 4; q28s 0.68 vs
    0.57). 4 is the measured basin for both regimes; the residual is
    the query start/stop floor (~0.5 s on this host). Production
    streams size this per deployment.

    The offset/commit/state checkpoint also goes to a RAM disk when one
    exists (measured ~0.2–0.4 s/query of fsync latency): a parity
    replay's checkpoint is throwaway by definition — the query is a
    bounded re-run whose results are lineage-severed before return — so
    durability buys nothing. Production streams size partitions per
    deployment and set an explicit durable checkpointLocation; batch
    queries are unaffected (confs restored and the RAM-disk dir removed
    on exit)."""

    _CKPT_CONF = "spark.sql.streaming.checkpointLocation"

    def __init__(self, spark: SparkSession, n: int = 4):
        self.spark, self.n = spark, n
        self.ckpt_dir: str | None = None

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        # anything fallible after the conf mutation must restore it:
        # Python does not call __exit__ when __enter__ raises, and a
        # leaked partitions=4 would silently serialize every later
        # batch query in the session
        try:
            self.prev_ckpt = self.spark.conf.get(self._CKPT_CONF, None)
            if self.prev_ckpt is None:
                # session_tmpdir, not a raw mkdtemp: it picks the
                # RAM-backed base when safe (plans.memory._staging_base)
                # and registers the dir, so bench.py's SIGTERM purge and
                # atexit remove it — a driver kill mid-query must not
                # leak checkpoint state on the shared tmpfs (observed:
                # gss_ckpt_* surviving a SIGTERM'd bench run). __exit__
                # still removes it eagerly on the normal path.
                from gelly_streaming_spark.plans.memory import session_tmpdir

                self.ckpt_dir = session_tmpdir("gss_ckpt_")
                self.spark.conf.set(self._CKPT_CONF, self.ckpt_dir)
        except BaseException:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
            raise

    def __exit__(self, *exc):
        import shutil

        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        if self.ckpt_dir is not None:
            self.spark.conf.unset(self._CKPT_CONF)
            shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        return False


@_q("q25s_streaming_degrees",
    _with(
        "SELECT id, COUNT(*) AS degree FROM "
        "(SELECT src AS id FROM edges_cust_order UNION ALL SELECT dst FROM edges_cust_order) "
        "GROUP BY id", "edges_cust_order"),
    "A1 getDegrees on a live micro-batched stream (complete mode) — final "
    "state ≡ batch degrees ≡ Q08 oracle")
def q25s(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.streaming.runner import run_to_memory

    with _parity_stream_confs(spark):
        # single batch: complete-mode final state is batch-count-invariant
        # (cross-batch state accumulation is pinned by q26s/q28s and
        # test_streaming's multi-batch cases), so the parity signal is
        # identical and the second state-store commit round is saved
        stream = _replay_tmp(
            E.edges_cust_order(spark, sf_dir), num_batches=1, key=f"q25s:{sf_dir}"
        )
        return run_to_memory(GraphStream(stream).degrees(), "complete")


@_q("q26s_streaming_cc", _Q15_SQL,
    "L1/L7 incremental connected components over micro-batches "
    "(foreachBatch contraction) — final mapping ≡ batch CC ≡ Q15 oracle")
def q26s(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.streaming.cc import IncrementalConnectedComponents

    edges = _q15_edges(spark, sf_dir).edges
    with _parity_stream_confs(spark):
        # single batch: the per-batch contraction (state ∪ new edges →
        # CC fixpoint) is what this query certifies against the oracle;
        # the cross-batch refinement invariant (batch-2 edges merging
        # components discovered in batch 1) is pinned by
        # test_streaming's test_incremental_cc_refines_across_batches,
        # and q29s remains the registry's multi-batch representative
        stream = _replay_tmp(
            edges.withColumn("ts", F.lit(None).cast("timestamp")),
            num_batches=1,
            key=f"q26s:{sf_dir}",
        )
        return IncrementalConnectedComponents().run(stream)


# Watermarked APPEND-mode windowed aggregation: with an in-order replay
# and a zero-delay watermark, available-now emits exactly the windows the
# final watermark closed — every window strictly before the hour of the
# max event time. The oracle applies the same cutoff.
_Q27S_SQL = _with(
    "SELECT date_trunc('hour', ts) AS bucket, src AS id, COUNT(*) AS cnt "
    "FROM edges_events "
    "WHERE date_trunc('hour', ts) < (SELECT date_trunc('hour', MAX(ts)) FROM edges_events) "
    "GROUP BY 1, 2",
    "edges_events",
)


@_q("q27s_streaming_window_append", _Q27S_SQL,
    "W1/W2 on a watermarked stream in APPEND mode — emitted windows are "
    "exactly those closed by the final watermark (last open window withheld)")
def q27s(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.streaming.runner import run_to_memory

    with _parity_stream_confs(spark):
        # single data batch (+ the trailing no-data batch that advances
        # the watermark): the APPEND emission contract — exactly the
        # windows the FINAL watermark closed — is batch-count-invariant,
        # and cross-batch watermark progression is pinned by
        # test_streaming's 3-batch ordered replays; the second
        # state-store commit round is saved
        stream = _replay_tmp(
            E.edges_events(spark, sf_dir).select("src", "dst", "val", "ts"),
            num_batches=1,
            order_by="ts",
            key=f"q27s:{sf_dir}",
        )
        agg = (
            GraphStream(stream)
            .with_watermark("0 seconds")
            .slice("1 hour", "out")
            .reduce_on_edges(F.count(F.lit(1)).alias("cnt"))
        )
        return run_to_memory(agg, "append")


@_q("q28s_streaming_dedup",
    _with("SELECT DISTINCT src, dst FROM edges_cust_order", "edges_cust_order"),
    "T6 streaming distinct with watermark-bounded state — horizon wider "
    "than the replayed range, so the final state equals batch DISTINCT")
def q28s(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.streaming.runner import run_to_memory
    from gelly_streaming_spark.streaming.stateful import streaming_distinct

    edges = E.edges_cust_order(spark, sf_dir).select(
        "src", "dst", F.col("ts").cast("timestamp").alias("ts")
    )
    with _parity_stream_confs(spark):
        # single batch: dedup state is per-key-sticky, so the final
        # APPEND output equals batch DISTINCT regardless of batch count;
        # cross-batch dedup state (a batch-2 duplicate of a batch-1 row
        # must be dropped) is pinned by test_streaming's 2-batch
        # doubled-edges case
        stream = _replay_tmp(
            edges, num_batches=1, order_by="ts", key=f"q28s:{sf_dir}"
        )
        out = run_to_memory(streaming_distinct(stream, "3650 days"), "append")
    return out.select("src", "dst")


@_q("q29s_streaming_degrees_update",
    _with(
        "SELECT id, COUNT(*) AS degree FROM "
        "(SELECT src AS id FROM edges_cust_order UNION ALL SELECT dst FROM edges_cust_order) "
        "GROUP BY id", "edges_cust_order"),
    "A1 getDegrees in UPDATE output mode — per-batch changed-key emission "
    "(reference delta D1's update-on-every-edge granularity, batched per "
    "trigger) keyed-upserted by run_update_merge; final state ≡ Q08 oracle")
def q29s(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.streaming.runner import run_update_merge

    with _parity_stream_confs(spark):
        # 2 batches so cross-batch UPSERTS happen: batch-2 re-emits every
        # key whose degree grew, and those rows must override batch-1's
        stream = _replay_tmp(
            E.edges_cust_order(spark, sf_dir), num_batches=2, key=f"q29s:{sf_dir}"
        )
        return run_update_merge(GraphStream(stream).degrees(), ["id"])


# ---------------------------------------------------------------------------
# Q30: bucketed-ingest certification — the 100 TB co-location convention
# answers a real query through the catalog, end-to-end oracle-checked.
# ---------------------------------------------------------------------------
_Q30_SQL = _with(
    "SELECT src AS id, COUNT(*) AS out_degree, COUNT(DISTINCT dst) AS n_dst "
    "FROM edges_cust_order GROUP BY src",
    "edges_cust_order",
)


@_q("q30_bucketed_ingest", _Q30_SQL,
    "ingest-time bucketing certified end-to-end: two aggregations and an "
    "equi-join over the src-bucketed catalog table compile with ZERO "
    "Exchange operators (asserted in tests/test_plans.py) and hash-match "
    "the same oracle as a plain scan — the co-location path is not just "
    "plan-shaped but answer-correct")
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.sources.ingest import edges_bucketed

    t = edges_bucketed(spark, sf_dir)
    # two independent aggregations + a join, all on the bucket key: on a
    # bucketed table every one of these is exchange-free — the shuffle
    # was paid once at ingest (write_bucketed), not here
    deg = t.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    nd = t.groupBy("src").agg(F.countDistinct("dst").alias("n_dst"))
    return deg.join(nd, "src").select(
        F.col("src").alias("id"), "out_degree", "n_dst"
    )


# ---------------------------------------------------------------------------
# Q32–Q34: dataset-split / vocabulary / deterministic-sample — the
# remaining training-data-pipeline primitives (SURVEY.md §2.11), each a
# pure-integer-output query so the oracle hash is exact.
# ---------------------------------------------------------------------------
def _q32_sql() -> str:
    from gelly_streaming_spark.ext.split import assign_split_sql

    case = assign_split_sql("doc_id")
    return (
        f"SELECT {case} AS split, lang, COUNT(*) AS n_docs "
        "FROM documents GROUP BY 1, 2"
    )


@_q("q32_stratified_split", _q32_sql(),
    "deterministic train/val/test assignment (portable multiplicative "
    "hash on doc_id — partitioning-independent, reproducible across "
    "engines) audited as per-(split, lang) counts; assignment is a "
    "zero-shuffle row-local projection, the audit one partial-agg shuffle", memo_plan=True)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.split import stratified_split_report

    docs = load_table(spark, sf_dir, "documents")
    return stratified_split_report(docs, "doc_id", ["lang"])


def _q34_sql() -> str:
    # ORDER BY is derived from the engine's own SPLIT_BUCKET_SQL so the
    # oracle can never desynchronize from ext/split's hash constants.
    from gelly_streaming_spark.ext.split import SPLIT_BUCKET_SQL

    bucket = SPLIT_BUCKET_SQL.format(key="doc_id")
    return (
        "SELECT doc_id, lang FROM ("
        "  SELECT doc_id, lang, ROW_NUMBER() OVER ("
        "    PARTITION BY lang "
        f"   ORDER BY {bucket}, doc_id"
        "  ) AS rn FROM documents) WHERE rn <= 25"
    )


@_q("q34_deterministic_sample", _q34_sql(),
    "per-language deterministic downsample (25 docs/lang by hash order — "
    "reservoir-sampling semantics without RNG state, stable under "
    "repartitioning and corpus growth); WindowGroupLimit trims map-side "
    "so the exchange moves O(groups*k) rows", memo_plan=True)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.split import deterministic_sample_per_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return deterministic_sample_per_group(docs, ["lang"], "doc_id", 25)


_Q33_SQL = """
WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
             FROM documents),
per_doc AS (SELECT doc_id, token, COUNT(*) AS occ FROM tok
            WHERE token <> '' GROUP BY 1, 2),
agg AS (SELECT token, SUM(occ) AS cf, COUNT(*) AS df FROM per_doc GROUP BY 1)
SELECT token, CAST(cf AS BIGINT) AS cf, df,
       CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, token) AS INT) AS rank
FROM agg ORDER BY cf DESC, token LIMIT 50
"""


@_q("q33_vocab", _Q33_SQL,
    "tokenizer-vocabulary build: top-50 tokens by collection frequency "
    "with exact document frequency — df via in-row array_distinct explode "
    "(ONE shuffle total, no count-distinct expand, no HOF lambdas), "
    "top-k as TakeOrdered not global sort", memo_plan=True)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import vocabulary

    docs = load_table(spark, sf_dir, "documents")
    return vocabulary(docs, k=50)


_Q35_SQL = """
WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
             FROM documents),
per_doc AS (SELECT doc_id, token, COUNT(*) AS occ FROM tok
            WHERE token <> '' GROUP BY 1, 2),
dft AS (SELECT token, COUNT(*) AS df FROM per_doc GROUP BY 1),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS (SELECT doc_id, per_doc.token AS token,
                  ROUND(occ * LN(n / df), 6) AS tfidf
           FROM per_doc JOIN dft ON per_doc.token = dft.token CROSS JOIN nd)
SELECT doc_id, token, tfidf FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rn
  FROM scored) WHERE rn <= 3
"""


@_q("q35_tfidf_keywords", _Q35_SQL,
    "top-3 TF-IDF keywords per document: word-count tf kernel (explode + "
    "partial-agg, full codegen) + one token-keyed shuffle for df + AQE "
    "runtime broadcast back + WindowGroupLimit per-doc top-k; scores "
    "rounded BEFORE ranking so cross-engine ordering is ulp-proof", memo_plan=True)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import tfidf_keywords

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(docs, k=3)


# Shared shingle CTE for q36/q37: positions matter, so empty tokens are
# filtered BEFORE slicing (Spark's tokenize() drops them in-array);
# t[p:p+n-1] is DuckDB's 1-based inclusive slice = n tokens. The engine
# side's n and the SQL side's slice bound derive from the SAME constant
# so the two widths can never silently desynchronize.
_SHINGLE_N = 3  # production runs 8-13; see q36's docstring for why 3 here
_SHINGLE_CTE = """
tok AS (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
sh AS (SELECT doc_id, array_to_string(t[p:p+{m}], ' ') AS shingle
       FROM tok, UNNEST(generate_series(1, greatest(len(t) - {m}, 0))) AS u(p))
""".replace("{m}", str(_SHINGLE_N - 1))

_Q36_SQL = (
    "WITH " + _SHINGLE_CTE + """,
block AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % 97 <> 0)
SELECT c.doc_id, COUNT(DISTINCT c.shingle) AS n_hits
FROM corpus c JOIN block b ON c.shingle = b.shingle
GROUP BY 1
"""
)


@_q("q36_decontaminate", _Q36_SQL,
    "benchmark decontamination: corpus docs sharing any n-token shingle "
    "with a held-out eval set (doc_id % 97 = 0 simulates the benchmark), "
    "n_hits = distinct shared shingles. n=3 here because the synthetic "
    "fixture's vocabulary has no exact >=5-gram cross-doc repeats "
    "(production runs 8-13-gram windows — same plan, one constant). One "
    "windowed shingle shuffle per side, eval-set shingles AQE-broadcast, "
    "partial-agg count — the pre-training n-gram overlap scan at its "
    "100 TB shape", memo_plan=True)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    block = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, block, n=_SHINGLE_N)


_Q37_SQL = (
    "WITH " + _SHINGLE_CTE + """,
per AS (SELECT doc_id, shingle, COUNT(*) AS c FROM sh GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
       COUNT(*) AS n_distinct
FROM per GROUP BY 1
"""
)


@_q("q37_ngram_repetition", _Q37_SQL,
    "within-document duplicate-trigram statistics (the Gopher/MassiveText "
    "boilerplate-repetition quality signal) as exact integers "
    "(n_ngrams, n_distinct per doc) — windowed shingles, two partial-agg "
    "rollups, no HOF lambdas", memo_plan=True)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import ngram_repetition

    docs = load_table(spark, sf_dir, "documents")
    return ngram_repetition(docs, n=_SHINGLE_N)


# Engine groups on HASHED shingles, the oracle on strings — identical
# counts modulo 64-bit collisions (the q36/q37 count-only-consumer
# precedent). The self-join's per-key fan-out is bounded by n_sources²
# by construction, so no df cap is needed.
_Q50_SQL = (
    "WITH " + _SHINGLE_CTE + """,
per AS (SELECT DISTINCT d.source AS grp, s.shingle
        FROM sh s JOIN documents d USING (doc_id))
SELECT a.grp AS src_a, b.grp AS src_b, COUNT(*) AS shared
FROM per a JOIN per b ON a.shingle = b.shingle AND a.grp < b.grp
GROUP BY 1, 2
"""
)


@_q("q50_source_overlap", _Q50_SQL,
    "cross-source content-overlap matrix: distinct shared n-token "
    "shingles per unordered source pair - the data-mixture diagnostic "
    "(two crawls sharing half their shingles are one source for dedup "
    "purposes). One hashed shingle window, one (group, shingle) "
    "distinct, one self-join with fan-out bounded by n_sources^2 by "
    "construction", memo_plan=True)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import source_overlap

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap(docs, n=_SHINGLE_N).select("src_a", "src_b", "shared")


# 16-token boilerplate headers (exactly two aligned 8-token passages)
# prepended to 2/3 of the corpus: the certified outcome covers both the
# drop path (headers repeat across ~1,600 docs each) and the keep path
# (organic passages survive except genuine short-tail collisions, which
# both engines count identically).
_Q51_HDR_A = (
    "hdr alpha beta gamma delta epsilon zeta eta "
    "theta iota kappa lam mu nu xi omicron"
)
_Q51_HDR_B = (
    "nav promo sale click here subscribe now banner "
    "footer terms privacy cookie accept close menu home"
)

_Q51_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN '{_Q51_HDR_A} ' || text
              WHEN doc_id % 3 = 1 THEN '{_Q51_HDR_B} ' || text
              ELSE text END AS text
  FROM documents),
lst AS (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l
        FROM base),
tok AS (SELECT doc_id, unnest(l) AS token,
               unnest(range(len(l))) AS pos
        FROM lst),
p AS (SELECT doc_id, pos // 8 AS pid,
             string_agg(token, ' ' ORDER BY pos) AS passage
      FROM tok GROUP BY 1, 2),
dup AS (SELECT passage FROM p GROUP BY 1
        HAVING COUNT(DISTINCT doc_id) >= 2),
f AS (SELECT p.doc_id, p.pid, p.passage,
             p.passage IN (SELECT passage FROM dup) AS is_dup
      FROM p)
SELECT doc_id,
       md5(COALESCE(string_agg(passage, ' ' ORDER BY pid)
                    FILTER (WHERE NOT is_dup), '')) AS dedup_md5,
       CAST(COUNT(*) FILTER (WHERE NOT is_dup) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dropped
FROM f GROUP BY doc_id
"""


@_q("q51_passage_dedup", _Q51_SQL,
    "cross-document exact passage dedup with document REWRITE (the "
    "RefinedWeb/C4 boilerplate-removal stage): aligned 8-token passages, "
    "a passage in >=2 distinct docs is dropped everywhere, survivors "
    "re-join in order — three key-partitioned shuffles, the dup set "
    "probes back as an AQE broadcast, the corpus never joins itself", memo_plan=True)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.dedup import dedup_passages

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    corpus = docs.select(
        "doc_id",
        F.when(d % 3 == 0, F.concat(F.lit(_Q51_HDR_A + " "), F.col("text")))
        .when(d % 3 == 1, F.concat(F.lit(_Q51_HDR_B + " "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = dedup_passages(corpus, n=8)
    return out.select(
        "doc_id",
        F.md5("text_dedup").alias("dedup_md5"),
        "n_kept",
        "n_dropped",
    )


_Q38_SQL = (
    "WITH " + _SHINGLE_CTE + """,
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
dfh AS (SELECT shingle, COUNT(*) AS df FROM d GROUP BY 1),
k AS (SELECT d.doc_id, d.shingle FROM d JOIN dfh USING (shingle) WHERE df <= 20),
p AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
      FROM k x JOIN k y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2)
SELECT a, b, shared FROM p WHERE shared >= 3
"""
)


@_q("q38_duplicate_passages", _Q38_SQL,
    "cross-document duplicated-passage pairs: docs sharing >= 3 distinct "
    "trigram shingles, with a df <= 20 hot-shingle guard applied "
    "identically on both sides (a boilerplate shingle in d docs emits "
    "d(d-1)/2 pairs — the cap is the C4/MassiveText-style scale move, "
    "and the guard is EXERCISED at sf0.1: max shingle df there is 25) — "
    "the within-corpus sibling of q36's eval-set decontamination", memo_plan=True)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import duplicate_passages

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_passages(docs, n=_SHINGLE_N, min_shared=3, max_df=20)


def _q39_sql() -> str:
    from gelly_streaming_spark.ext.text import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    e, p, i = pats["email"], pats["phone"], pats["ipv4"]
    scrub = "text"
    for name, pat in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '<{name.upper()}>', 'g')"
    return f"""
WITH inj AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
                 CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' call 415-555-' ||
                 printf('%04d', doc_id % 10000) ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.' ||
                 CAST(doc_id % 256 AS VARCHAR) || '.' ||
                 CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text, '{e}')) AS n_email,
       len(regexp_extract_all(text, '{p}')) AS n_phone,
       len(regexp_extract_all(text, '{i}')) AS n_ipv4,
       md5({scrub}) AS scrub_md5
FROM inj
"""


@_q("q39_pii_scrub", _q39_sql(),
    "PII detect + redact (emails / NANP phones / IPv4) over the corpus "
    "with deterministic in-query injection (doc_id % 7/11/13 plant known "
    "spans — the synthetic fixture has none, so without injection the "
    "hash gate would certify a no-op). Counts on the original text, "
    "ordered regexp_replace redaction, md5 of the scrubbed text hashed "
    "against the oracle. Pattern table is shared verbatim between engine "
    "and oracle (Java∩RE2 dialect); pure projection, zero shuffles", memo_plan=True)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 7 == 0,
                F.concat(F.lit(" contact user"), d.cast("string"),
                         F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                d % 11 == 0, F.format_string(" call 415-555-%04d", d % 10000)
            ).otherwise(F.lit("")),
            F.when(
                d % 13 == 0,
                F.concat(F.lit(" host 10.0."), (d % 256).cast("string"),
                         F.lit("."), (d % 100).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    s = scrub_pii(injected)
    return s.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


_PACK_BUDGET = 256  # tokens per context window; shared engine/oracle

_Q40_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS start_token,
       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) // {_PACK_BUDGET} AS seq_id
FROM tok
"""


@_q("q40_pack_sequences", _Q40_SQL,
    "concat-and-chunk sequence packing: each document's global token "
    "offset and context-window index (budget 256 tokens) when the corpus "
    "is concatenated in doc_id order — computed as a DISTRIBUTED prefix "
    "sum (range partitions -> per-partition window cumsum -> O(ranges) "
    "offset table broadcast back), never the oracle's single-task global "
    "window, which is the 100 TB anti-pattern")
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.split import pack_sequences
    from gelly_streaming_spark.ext.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(d, budget=_PACK_BUDGET).select(
        "doc_id", "n_tokens", "start_token", "seq_id"
    )


_MIX_BUDGETS = {"src0": 800, "src1": 400, "src2": 200}
_MIX_DEFAULT = 600


def _q41_sql() -> str:
    from gelly_streaming_spark.ext.split import SPLIT_BUCKET_SQL

    bkt = SPLIT_BUCKET_SQL.format(key="doc_id")
    cases = " ".join(
        f"WHEN '{s}' THEN {b}" for s, b in _MIX_BUDGETS.items()
    )
    return f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         {bkt} AS bkt
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                  ORDER BY bkt, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS start_token
  FROM tok)
SELECT doc_id, source, n_tokens, start_token
FROM c
WHERE start_token < CASE source {cases} ELSE {_MIX_DEFAULT} END
"""


@_q("q41_mixture_sample", _q41_sql(),
    "token-budget mixture sampling: fill each source's token budget "
    "(src0/1/2 explicit, 600 default) with a deterministic hash-ordered "
    "prefix of its documents — the pre-training data-mixture step. "
    "Engine runs the pack_sequences-style distributed prefix sum "
    "(range partitions over (source, bucket, key), per-partition local "
    "cumsum, O(ranges x sources) offset table broadcast back) — never "
    "the oracle's one-task-per-source global window")
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.split import mixture_sample
    from gelly_streaming_spark.ext.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return mixture_sample(
        d, _MIX_BUDGETS, default_budget=_MIX_DEFAULT
    ).select("doc_id", "source", "n_tokens", "start_token")


def _q42_sql() -> str:
    from gelly_streaming_spark.ext.text import PII_PATTERNS

    scrub = "text"
    for name, pat in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '<{name.upper()}>', 'g')"
    m = _SHINGLE_N - 1
    tok = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
    return f"""
WITH base AS (
  SELECT doc_id, source, lang, text FROM documents WHERE doc_id % 97 <> 0),
inj AS (
  SELECT doc_id, source, lang,
         text
         || CASE WHEN doc_id % 17 = 0
                 THEN repeat(' lorem ipsum dolor', 12) ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
                 CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END AS text
  FROM base),
corpus AS (
  SELECT * FROM inj
  UNION ALL
  SELECT doc_id + 10000000, source, lang, text FROM inj WHERE doc_id % 10 = 3),
qx AS (
  SELECT *, length(text) AS n_chars, {tok} AS toks,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
  FROM corpus),
q2 AS (
  SELECT doc_id, source, lang, text,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         ROUND((
           (CASE WHEN n_chars >= 20 AND n_chars <= 100000
                 THEN 1.0 ELSE 0.3 END)
           + (1.0 - LEAST(punct / GREATEST(n_chars, 1) * 4, 1.0))
           + (alpha / GREATEST(n_chars, 1))
           + (len(list_distinct(toks)) / GREATEST(len(toks), 1))
         ) / 4, 6) AS quality
  FROM qx),
pass_q AS (SELECT * FROM q2 WHERE quality >= 0.79),
dedup AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) AS rn
    FROM pass_q) WHERE rn = 1),
dtok AS (SELECT doc_id, {tok} AS t FROM dedup),
dsh AS (SELECT doc_id, array_to_string(t[p:p+{m}], ' ') AS shingle
        FROM dtok, UNNEST(generate_series(1, greatest(len(t) - {m}, 0))) AS u(p)),
rep AS (SELECT doc_id, COUNT(*) AS n_ngrams,
               COUNT(DISTINCT shingle) AS n_distinct
        FROM dsh GROUP BY 1),
pass_rep AS (
  SELECT d.* FROM dedup d LEFT JOIN rep r USING (doc_id)
  WHERE r.doc_id IS NULL
     OR (r.n_ngrams - r.n_distinct) * 1000 <= 200 * r.n_ngrams),
btok AS (SELECT {tok} AS t FROM documents WHERE doc_id % 97 = 0),
bsh AS (SELECT DISTINCT array_to_string(t[p:p+{m}], ' ') AS shingle
        FROM btok, UNNEST(generate_series(1, greatest(len(t) - {m}, 0))) AS u(p)),
ctok AS (SELECT doc_id, {tok} AS t FROM pass_rep),
csh AS (SELECT doc_id, array_to_string(t[p:p+{m}], ' ') AS shingle
        FROM ctok, UNNEST(generate_series(1, greatest(len(t) - {m}, 0))) AS u(p)),
hits AS (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh b USING (shingle))
SELECT doc_id, source, lang, n_tokens, quality, md5({scrub}) AS scrub_md5
FROM pass_rep ANTI JOIN hits USING (doc_id)
"""


@_q("q42_curate_corpus", _q42_sql(),
    "the capstone composition: quality filter -> exact dedup -> "
    "duplicate-trigram repetition filter (integer cross-multiplied, no "
    "float division) -> eval-set decontamination -> PII scrub, ONE "
    "declarative DAG over ~3 shuffles of monotonically shrinking data "
    "(ext/pipeline.curate_corpus). Deterministic injection makes every "
    "stage bite on the synthetic corpus: doc_id%10=3 duplicated (dedup), "
    "%17=0 boilerplate appended (repetition), %7=0 email planted "
    "(scrub), %97=0 held out as the eval blocklist (decontamination)", memo_plan=True)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.pipeline import curate_corpus
    from gelly_streaming_spark.ext.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    base = docs.where(d % 97 != 0)
    blocklist = docs.where(d % 97 == 0)
    inj = base.select(
        "doc_id", "source", "lang",
        F.concat(
            F.col("text"),
            F.when(
                d % 17 == 0, F.repeat(F.lit(" lorem ipsum dolor"), 12)
            ).otherwise(F.lit("")),
            F.when(
                d % 7 == 0,
                F.concat(F.lit(" contact user"), d.cast("string"),
                         F.lit("@example.com")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    # duplicate the %10==3 rows via a 1-2 element explode instead of a
    # self-union: the union scanned the documents parquet twice and
    # evaluated the injection CASE tree per branch; one Generate over a
    # literal array duplicates rows in-stream from a single scan
    # (set-identical to the oracle's UNION ALL)
    corpus = (
        inj.withColumn(
            "_copy",
            F.explode(
                F.when(d % 10 == 3, F.array(F.lit(0), F.lit(1)))
                .otherwise(F.array(F.lit(0)))
            ),
        )
        .withColumn("doc_id", d + F.col("_copy").cast("long") * 10_000_000)
        .drop("_copy")
    )
    out = curate_corpus(
        corpus, blocklist, min_quality=0.79, max_rep_permille=200,
        n=_SHINGLE_N,
    )
    return out.select(
        "doc_id", "source", "lang",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        "quality",
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


# The oracle replicates the ENTIRE LSH pipeline — portable md5-prefix
# MinHash signatures (md5_hash64: first 15 hex digits of md5('i:'||token)
# as BIGINT, identical in Spark and DuckDB), string-keyed band buckets,
# bucket self-join candidates, exact Jaccard verification — so the
# hash-match certifies candidate generation AND verification, not just
# the exact re-check. Production keeps the xxhash64 family (~3x cheaper,
# same plan shape); only the hash constants differ.
_Q43_SQL = """
WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents WHERE doc_id % 10 = 0),
hx AS (SELECT doc_id, t.i,
              MIN(CAST(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || token), 1, 15)) AS BIGINT)) AS h
       FROM tok CROSS JOIN range(16) t(i) GROUP BY doc_id, t.i),
band AS (SELECT doc_id, CAST(i // 4 AS INT) AS band,
                string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bucket
         FROM hx GROUP BY doc_id, i // 4),
cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                                AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
inter AS (SELECT c.a, c.b, COUNT(*) AS i
          FROM cand c JOIN tok ta ON ta.doc_id = c.a
                      JOIN tok tb ON tb.doc_id = c.b AND tb.token = ta.token
          GROUP BY c.a, c.b)
SELECT a, b, ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
"""


@_q("q43_minhash_lsh", _Q43_SQL,
    "MinHash-LSH near-dup pairs (16 hashes, 4 bands x 4 rows, Jaccard >= "
    "0.8) with the portable md5 hash family — the full "
    "sign->band->candidate->verify pipeline hash-certified against a "
    "DuckDB replica (promotes the LSH path from recall-property-only to "
    "an oracle row). O(num_hashes) work per doc, meets only within "
    "buckets — the 100 TB dedup default. Input bounded to a deterministic "
    "10% doc sample pushed into the scan: this synthetic corpus is so "
    "self-similar that the FULL table has 2.8M pairs at 0.8/sf0.1, which "
    "costs the single-process oracle 54 s on its candidateXtoken verify "
    "join (the engine side runs it in 15 s) — the sample bounds the "
    "intra-clique pair blow-up 100x while exercising the identical plan", memo_plan=True)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.similarity import md5_hash64, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return minhash_lsh_pairs(
        docs, "doc_id", F.split(F.col("text"), " "), threshold=0.8,
        num_hashes=16, bands=4, hash_fn=md5_hash64, portable_buckets=True,
    ).select("a", "b", "jaccard")


# The oracle is BRUTE-FORCE all-pairs hamming over portable simhash
# signatures, while the engine answers through its pigeonhole chunk
# blocking — so the hash-match certifies the blocking's recall
# COMPLETENESS (every true pair collides in >=1 chunk), the exact claim
# the r7 chunk-derivation fix made. Signatures use md5_hash64 seed 0:
# its 60-bit range leaves hash bits 60-63 always 0, so those simhash
# bit-sums are always negative (bit 0) on both engines and the oracle
# only needs to fold bits 0..59.
_Q44_SQL = r"""
WITH tok AS (SELECT doc_id AS id,
                    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
             FROM documents),
h AS (SELECT id, CAST(('0x' || substr(md5('0:' || token), 1, 15)) AS BIGINT) AS h FROM tok),
bits AS (SELECT id, b.i, SUM(CASE WHEN (h >> CAST(b.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM h CROSS JOIN range(60) b(i) GROUP BY id, b.i),
sig AS (SELECT id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END) AS simhash
        FROM bits GROUP BY id)
SELECT a.id AS a, b.id AS b, bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@_q("q44_simhash_pairs", _Q44_SQL,
    "SimHash near-dup pairs (hamming <= 3) over the full documents table "
    "with the portable md5 hash family: the engine runs its pigeonhole "
    "chunk-blocked join (4 chunks, no all-pairs), the oracle brute-forces "
    "all pairs — the hash-match certifies blocking recall-completeness, "
    "not just signature agreement", memo_plan=True)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.dedup import simhash, simhash_near_pairs
    from gelly_streaming_spark.ext.similarity import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash(docs, hash_fn=lambda c: md5_hash64(c, 0))
    return simhash_near_pairs(sigs, max_hamming=3).select("a", "b", "hamming")


# Cross-engine float discipline: both sides cosine over DOUBLE[] with
# per-vector sequential folds (the q23-verified equivalence); the only
# new drift source is centroid mean accumulation ORDER (distributed
# partial aggs vs single-process), bounded ~1e-13 — measured min
# top1-vs-top2 margin on this data is 1.1e-4, so the argmax is stable
# and the 6dp-rounded sim can't straddle a boundary.
_Q45_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v)+1)) AS d FROM e),
cent AS (SELECT label AS clabel, list(m ORDER BY d) AS c
         FROM (SELECT label, d, AVG(x) AS m FROM ex GROUP BY label, d) GROUP BY label),
scored AS (SELECT e.vec_id, e.label, cent.clabel, list_cosine_similarity(e.v, cent.c) AS sim
           FROM e CROSS JOIN cent),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, clabel) AS rn
           FROM scored)
SELECT vec_id, label, clabel AS assigned, ROUND(sim, 6) AS sim FROM ranked WHERE rn = 1
"""


@_q("q45_centroid_assign", _Q45_SQL,
    "nearest-centroid assignment over the embeddings table: distributed "
    "elementwise label-centroid means (one (label,dim) partial-agg "
    "shuffle), centroids broadcast, argmax cosine in ONE map pass over "
    "the corpus - the IVF coarse-assignment / classifier-inference "
    "kernel as a first-class certified operator (the IVF path itself "
    "remains property-tested; its assignment math is now under the "
    "oracle)")
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import centroid_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_assign(emb).select("vec_id", "label", "assigned", "sim")


# The oracle re-derives the SAME hyperplanes (bit 0 of the md5-prefix
# hash of 'p:j:d' -> ±1, rademacher_planes) and replicates the full
# bucket -> within-bucket rerank pipeline, so the hash-match certifies
# the LSH bucketing itself — queries in sparse buckets return < k rows
# on BOTH sides identically. Sign stability: measured min |dot| over
# all (vector, plane) pairs at sf0.1 is 1.1e-5, nine orders above
# cross-engine summation drift.
_Q46_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pm AS (SELECT j.j, d.d,
              CASE WHEN (CAST(('0x' || substr(md5('p:' || j.j || ':' || d.d), 1, 15)) AS BIGINT) & 1) = 1
                   THEN 1.0 ELSE -1.0 END AS w
       FROM range(8) j(j) CROSS JOIN range(64) d(d)),
ex AS (SELECT vec_id, unnest(v) AS x, unnest(range(0, len(v))) AS d FROM e),
dots AS (SELECT ex.vec_id, pm.j, SUM(ex.x * pm.w) AS s
         FROM ex JOIN pm ON pm.d = ex.d GROUP BY ex.vec_id, pm.j),
sig AS (SELECT vec_id, SUM(CASE WHEN s >= 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS bucket
        FROM dots GROUP BY vec_id),
scored AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
                  list_cosine_similarity(qe.v, ce.v) AS sim
           FROM sig q JOIN sig c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
           JOIN e qe ON qe.vec_id = q.vec_id JOIN e ce ON ce.vec_id = c.vec_id
           WHERE q.vec_id BETWEEN 1 AND 10),
ranked AS (SELECT qid, vec_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           FROM scored)
SELECT qid, vec_id, ROUND(sim, 6) AS sim FROM ranked WHERE rn <= 5
"""


@_q("q46_knn_lsh", _Q46_SQL,
    "LSH-bucketed approximate kNN (8 portable Rademacher hyperplanes, "
    "exact rerank within the query's bucket, top-5 for vec_id 1..10) "
    "hash-certified against a DuckDB replica of the identical "
    "bucket->rerank pipeline — promotes the hyperplane-LSH ANN path "
    "from recall-property-only to an oracle row (IVF stays "
    "property-tested: its k-means training is genuinely non-portable)")
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import knn_lsh, rademacher_planes

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_lsh(
        emb, emb.where(F.col("vec_id").between(1, 10)), k=5,
        planes=rademacher_planes(8, 64),
    ).select("qid", "vec_id", "sim")


# Multi-table LSH near-dup: 4 independent Rademacher tables (salts
# t0..t3), candidate = shared bucket in ANY table, exact rerank, filter
# on the ROUNDED sim (mirroring the engine's select-then-where order).
# With q47 every bucketed dedup/ANN path in the repo is hash-certified
# end to end (q43 minhash bands, q44 simhash chunks, q46 single-table
# kNN buckets, q47 multi-table pair buckets); only IVF's k-means
# training remains property-tested (genuinely non-portable).
_Q47_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pm AS (SELECT t.t, j.j, d.d,
              CASE WHEN (CAST(('0x' || substr(md5('t' || t.t || ':' || j.j || ':' || d.d), 1, 15)) AS BIGINT) & 1) = 1
                   THEN 1.0 ELSE -1.0 END AS w
       FROM range(4) t(t) CROSS JOIN range(8) j(j) CROSS JOIN range(64) d(d)),
ex AS (SELECT vec_id, unnest(v) AS x, unnest(range(0, len(v))) AS d FROM e),
dots AS (SELECT ex.vec_id, pm.t, pm.j, SUM(ex.x * pm.w) AS s
         FROM ex JOIN pm ON pm.d = ex.d GROUP BY ex.vec_id, pm.t, pm.j),
sig AS (SELECT vec_id, t, SUM(CASE WHEN s >= 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS bucket
        FROM dots GROUP BY vec_id, t),
cand AS (SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
         FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
scored AS (SELECT c.a, c.b, ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS sim
           FROM cand c JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b)
SELECT a, b, sim FROM scored WHERE sim >= 0.38
"""


@_q("q47_embedding_near_dup_lsh", _Q47_SQL,
    "multi-table LSH embedding near-dup pairs (4 portable Rademacher "
    "tables x 8 planes, candidate = shared bucket in ANY table, exact "
    "rerank at cosine >= 0.38 - q23b's threshold: this synthetic table "
    "has no pair above 0.51) hash-certified against a DuckDB replica - "
    "the scale path whose exact sibling is q23b; with this row every "
    "bucketed dedup/ANN path is under the oracle")
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import (
        embedding_near_dup_pairs,
        rademacher_planes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    tables = [rademacher_planes(8, 64, salt=f"t{t}") for t in range(4)]
    return embedding_near_dup_pairs(emb, threshold=0.38, tables=tables).select(
        "a", "b", "sim"
    )


# IVF SEARCH certification: the quantizer is FIXED (the q45 label
# centroids — 10 x 64 doubles, a bounded driver collect), under which
# assignment -> inverted lists -> nprobe probing -> exact rerank is
# fully deterministic and DuckDB-replicable. Cluster ids are join keys
# compared only within-engine, so the engine's array indices and the
# oracle's label values induce the same partition as long as both
# tie-break toward the smaller label (numpy stable argsort == ORDER BY
# sim DESC, clabel). Margins measured over the whole corpus at sf0.1:
# top1-vs-top2 centroid sim 2.8e-5, top2-vs-top3 (the nprobe=2 probe
# boundary) 2.9e-5 — eight orders above cross-engine float drift. Only
# k-means TRAINING remains property-tested (q23-family P-tests).
_Q48_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v)+1)) AS d FROM e),
cent AS (SELECT label AS clabel, list(m ORDER BY d) AS c
         FROM (SELECT label, d, AVG(x) AS m FROM ex GROUP BY label, d) GROUP BY label),
ca AS (SELECT vec_id, clabel AS cluster FROM (
         SELECT e.vec_id, cent.clabel,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                   ORDER BY list_cosine_similarity(e.v, cent.c) DESC, cent.clabel) AS rn
         FROM e CROSS JOIN cent) WHERE rn = 1),
qa AS (SELECT vec_id AS qid, clabel AS cluster FROM (
         SELECT e.vec_id, cent.clabel,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                   ORDER BY list_cosine_similarity(e.v, cent.c) DESC, cent.clabel) AS rn
         FROM e CROSS JOIN cent WHERE e.vec_id BETWEEN 1 AND 10) WHERE rn <= 2),
scored AS (SELECT qa.qid, ca.vec_id, list_cosine_similarity(eq.v, ec.v) AS sim
           FROM qa JOIN ca ON ca.cluster = qa.cluster AND ca.vec_id != qa.qid
           JOIN e eq ON eq.vec_id = qa.qid JOIN e ec ON ec.vec_id = ca.vec_id),
ranked AS (SELECT qid, vec_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           FROM scored)
SELECT qid, vec_id, ROUND(sim, 6) AS sim FROM ranked WHERE rn <= 5
"""


def _q49_sql() -> str:
    """Oracle for q49: the URL construction AND every canonicalization
    step replayed in DuckDB (all patterns lookaround-free; DuckDB's
    regexp_replace needs the explicit 'g' Spark applies implicitly).
    The suffix alternation AND the exception pre-check are generated by
    the SAME helpers the engine's Column path uses — one source of
    truth. The ENGINE side runs the broadcast-lookup path instead
    (registered_domain_lookup), so this oracle hash-certifies
    lookup ≡ regex equivalence on driver data on top of the unit
    differential tests."""
    from gelly_streaming_spark.ext.web import (
        exception_alternation,
        suffix_alternation,
    )

    alt = suffix_alternation()
    exc = exception_alternation()
    return rf"""
WITH raw AS (
  SELECT doc_id,
         (CASE doc_id % 4 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
                          WHEN 2 THEN 'http' ELSE 'HTTPS' END)
         || '://'
         || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'cdn.' END)
         || source
         || (CASE WHEN doc_id % 19 = 0 THEN '-news..COM'
                  WHEN doc_id % 13 = 0 THEN '-news.WWW.CK'
                  WHEN doc_id % 11 = 0 THEN '-news.Kawasaki.JP'
                  WHEN doc_id % 5 = 0 THEN '-News.CO.UK'
                  ELSE '-news.COM' END)
         || (CASE WHEN doc_id % 6 = 0 THEN
               (CASE WHEN doc_id % 4 IN (0, 2) THEN ':80' ELSE ':443' END)
             ELSE '' END)
         || (CASE WHEN doc_id % 9 = 0 THEN '/'
             ELSE '/Doc/' || CAST(doc_id AS VARCHAR)
                  || (CASE WHEN doc_id % 2 = 0
                      THEN '?utm_source=Feed&id=' || CAST(doc_id AS VARCHAR)
                      ELSE '?id=' || CAST(doc_id AS VARCHAR) END)
                  || (CASE WHEN doc_id % 10 = 0
                      THEN '&fbclid=AbC' || CAST(doc_id AS VARCHAR) ELSE '' END)
                  || (CASE WHEN doc_id % 7 = 0 THEN '#Section2' ELSE '' END)
             END) AS url
  FROM documents
),
canon AS (
  SELECT doc_id, url,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
             || substr(url, length(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) + 1),
           '#.*$', '', 'g'),
           '(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '', 'g'),
           '\?&', '?', 'g'),
           '&&+', '&', 'g'),
           '[?&]$', '', 'g'),
           '^(http://[^/:?#]+):80($|[/?#])', '\1\2', 'g'),
           '^(https://[^/:?#]+):443($|[/?#])', '\1\2', 'g'),
           '^([A-Za-z0-9+.-]+://[^/?#]+)/$', '\1', 'g') AS url_canon,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host
  FROM raw
),
dom AS (
  SELECT doc_id, url_canon,
         CASE WHEN host = '' OR regexp_matches(host, '^\.|\.\.|\.$') THEN ''
              WHEN regexp_extract(host, '(^|\.)({exc})$', 2) <> ''
              THEN regexp_extract(host, '(^|\.)({exc})$', 2)
              WHEN regexp_extract(host, '([^.]+\.({alt}))$', 1) <> ''
              THEN regexp_extract(host, '([^.]+\.({alt}))$', 1)
              ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS domain
  FROM canon
),
bl AS (SELECT * FROM (VALUES ('src1-news.com'), ('src1-news.co.uk'),
                             ('src7-news.com'), ('src7-news.co.uk')) t(domain))
SELECT d.doc_id, d.url_canon, d.domain,
       (bl.domain IS NOT NULL) AS blocked
FROM dom d LEFT JOIN bl ON bl.domain = d.domain
""".replace("{alt}", alt).replace("{exc}", exc)


@_q("q49_url_curation", _q49_sql(),
    "URL/domain curation (the web-provenance pipeline stage): "
    "deterministic in-query URL injection exercising EVERY "
    "canonicalization rule (scheme/host case, fragments, utm/fbclid "
    "tracking params, default ports, bare-host trailing slash, "
    "multi-part public suffixes), then registered-domain extraction and "
    "a broadcast domain-blocklist probe - per-doc canonical URLs "
    "hash-certified against a DuckDB replay of the identical regex "
    "pipeline (pure column expressions, zero shuffles over the corpus)", memo_plan=True)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.web import domain_filter

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    did = d.cast("string")
    scheme = (
        F.when(d % 4 == 0, "HTTP").when(d % 4 == 1, "https")
        .when(d % 4 == 2, "http").otherwise("HTTPS")
    )
    port = F.when(
        d % 6 == 0,
        F.when((d % 4).isin(0, 2), ":80").otherwise(":443"),
    ).otherwise("")
    tail = F.when(d % 9 == 0, F.lit("/")).otherwise(
        F.concat(
            F.lit("/Doc/"), did,
            F.when(d % 2 == 0, F.concat(F.lit("?utm_source=Feed&id="), did))
            .otherwise(F.concat(F.lit("?id="), did)),
            F.when(d % 10 == 0, F.concat(F.lit("&fbclid=AbC"), did)).otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit("#Section2")).otherwise(F.lit("")),
        )
    )
    url = F.concat(
        scheme, F.lit("://"),
        F.when(d % 3 == 0, "WWW.").otherwise("cdn."),
        F.col("source"),
        # %19 exercises the malformed-host rule (empty label → no
        # registered domain), %13 the !www.ck exception rule, %11 the
        # *.kawasaki.jp wildcard rule — the driver row certifies the
        # full PSL semantics including the malformed contract
        F.when(d % 19 == 0, "-news..COM")
        .when(d % 13 == 0, "-news.WWW.CK")
        .when(d % 11 == 0, "-news.Kawasaki.JP")
        .when(d % 5 == 0, "-News.CO.UK")
        .otherwise("-news.COM"),
        port, tail,
    )
    # VALUES LocalRelation, not createDataFrame: the first
    # createDataFrame in a session pays ~3.5 s of Python-conversion
    # machinery for 4 rows (same lesson as the r6 fixture rework)
    blocklist = spark.sql(
        "SELECT * FROM VALUES ('src1-news.com'), ('src1-news.co.uk'), "
        "('src7-news.com'), ('src7-news.co.uk') t(domain)"
    )
    # No codegen barrier: both r9-era barriers became net LOSSES once
    # the domain moved from the 539-branch regex alternation to the
    # broadcast PSL lookup. The r9 pin_derived barrier was dropped in
    # r10 (1.00 s with vs 0.68 s without); the remaining url-tree
    # localCheckpoint was dropped in r11 after measuring BOTH phases in
    # fresh sessions at sf0.1 — cold 6.9 s without vs 10.2 s with
    # (the inlined url CASE tree no longer explodes the compile), and
    # steady-state 0.52 s without vs 0.76 s with (the barrier's extra
    # job + materialization was pure overhead). The fused one-pass
    # projection is also the corpus-scale shape.
    out = domain_filter(docs.withColumn("url", url), blocklist)
    return out.select("doc_id", "url_canon", "domain", "blocked")


def _ivf_session_index(spark: SparkSession, sf_dir: str):
    """Session-lifetime IVF index over the immutable embeddings table
    (the same materialized-view doctrine as the copart edge cache and
    q17's prepped-broadcast memo): the label-centroid quantizer (one
    bounded collect) and the persisted inverted lists are built ONCE
    per (session, sf_dir) and serve BOTH consumers — q48's kNN probe
    path and q52's semantic dedup — exactly as one production IVF
    index serves search and curation. Returns (labels, centroids,
    lists): ``labels[i]`` is the label whose centroid sits at array
    index i (ivf_index cluster ids are array indices; q52 maps them
    back to label values for its certified output).
    release_persisted drains the memo; the lists frame is in the
    track_persist ledger."""
    import numpy as np

    from gelly_streaming_spark.ext.embeddings import ivf_index, label_centroids

    memo = getattr(spark, "_gss_ivf_index", None)
    if memo is None:
        memo = {}
        spark._gss_ivf_index = memo  # noqa: SLF001 — session memo
    key = ("ivf", sf_dir)
    hit = memo.get(key)
    if hit is None:
        emb = load_table(spark, sf_dir, "embeddings")
        rows = label_centroids(emb).orderBy("label").collect()  # one row/label
        labels = [r["label"] for r in rows]
        cents = np.array([r["centroid"] for r in rows])
        hit = (labels, cents, ivf_index(emb, cents))
        memo[key] = hit
    return hit


@_q("q48_knn_ivf_search", _Q48_SQL,
    "IVF approximate kNN with a FIXED quantizer (the q45 label "
    "centroids): GEMM assignment to inverted lists, nprobe=2 probing, "
    "exact rerank, top-5 for vec_id 1..10 - the entire IVF SEARCH path "
    "hash-certified against a DuckDB replica; only k-means training "
    "remains property-tested")
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import knn_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    # steady state = the probe path (query assignment, nprobe bucket
    # join, exact rerank, top-k), not per-search index reconstruction
    # (r12 decomposition: rebuild was 0.85 s of the 1.3 s total at
    # sf0.1); run 1 carries the shared index build.
    _labels, cents, lists = _ivf_session_index(spark, sf_dir)
    return knn_ivf(
        emb, emb.where(F.col("vec_id").between(1, 10)), k=5,
        nprobe=2, centroids=cents, corpus_lists=lists,
    ).select("qid", "vec_id", "sim")


# The oracle replicates the ENTIRE SemDeDup pipeline: label-centroid
# means (the q45-certified quantizer), argmax-cosine assignment (same
# sim DESC, clabel ASC tie rule), the within-cluster pair scan with
# round-6 HALF_UP thresholding (the q23b-certified kernel contract),
# and the greedy keep-smallest-id verdict via EXISTS. Margins measured
# r12: min top1-vs-top2 assignment gap 2.8e-5 (sf0.1), min raw-sim
# distance to a 0.5e-6 rounding boundary near theta 4.5e-10 — both
# many orders above the ~1e-15 cross-engine summation drift.
_Q52_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v)+1)) AS d FROM e),
cent AS (SELECT label AS clabel, list(m ORDER BY d) AS c
         FROM (SELECT label, d, AVG(x) AS m FROM ex GROUP BY label, d) GROUP BY label),
scored AS (SELECT e.vec_id, cent.clabel, list_cosine_similarity(e.v, cent.c) AS sim
           FROM e CROSS JOIN cent),
asg AS (SELECT vec_id, clabel AS cluster FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, clabel) AS rn
          FROM scored) WHERE rn = 1),
ev AS (SELECT e.vec_id, a.cluster, e.v FROM e JOIN asg a USING (vec_id)),
dropped AS (SELECT DISTINCT y.vec_id FROM ev x JOIN ev y
            ON x.cluster = y.cluster AND x.vec_id < y.vec_id
            WHERE ROUND(list_cosine_similarity(x.v, y.v), 6) >= 0.38)
SELECT ev.vec_id, ev.cluster, (d.vec_id IS NULL) AS kept
FROM ev LEFT JOIN dropped d ON ev.vec_id = d.vec_id
"""


@_q("q52_semantic_dedup", _Q52_SQL,
    "SemDeDup-style semantic dedup (public method, arXiv:2303.09540): "
    "fixed label-centroid quantizer bounds the quadratic, per-cluster "
    "block-pair GEMM scan (the q23b kernel), greedy keep-smallest-id "
    "within each cosine ball - the embedding-level curation step "
    "between exact near-dup pairs (q23b) and LSH collapse (q47)")
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    # One session IVF index, two consumers (q48 search, q52 dedup).
    # ivf_index cluster ids are centroid ARRAY INDICES; the certified
    # output reports label-valued clusters, so map index -> label with
    # a literal lookup (labels is bounded: one entry per label). The
    # argmax-dot assignment over unit-normed centroids equals the
    # oracle's argmax-cosine (q45/q48-certified formulation; min
    # top1-vs-top2 margin 2.8e-5 at sf0.1 >> cross-engine drift).
    labels, _cents, lists = _ivf_session_index(spark, sf_dir)
    out = semantic_dedup(emb, threshold=0.38, corpus_lists=lists)
    lab = F.array(*[F.lit(int(l)).cast("long") for l in labels])
    return out.select(
        "vec_id",
        F.element_at(lab, F.col("cluster").cast("int") + 1).alias("cluster"),
        "kept",
    )


# The oracle rebuilds the whole bigram LM: identical tokenization to
# the q33-certified convention (whitespace split, empties filtered),
# positional bigrams, add-0.5 smoothing with C1 = SUM(C2(w1,*)) and V
# the corpus-wide distinct token count, ln probabilities averaged per
# doc. Probability operands are integers (exact in doubles), so the
# only cross-engine divergence is ulp-level libm ln() and summation
# order in AVG — margins measured r12 (see ngram_lm_scores docstring).
_Q53_SQL = r"""
WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                                          x -> x <> '') AS t
              FROM documents),
bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       FROM toks, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT token) AS v
      FROM (SELECT unnest(t) AS token FROM toks)),
sc AS (SELECT bi.doc_id, ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)) AS lp
       FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 6) AS avg_logp,
       ROUND(EXP(-AVG(lp)), 2) AS ppl
FROM sc GROUP BY doc_id
"""


@_q("q53_lm_perplexity", _Q53_SQL,
    "bigram-LM perplexity scoring (CCNet/KenLM-style quality filter, "
    "public method): row-local bigram formation (no positional "
    "self-join), one (w1,w2)-keyed count shuffle, context counts "
    "derived from the bigram table, 1-row vocabulary crossJoin, "
    "per-doc mean log-prob + perplexity - the LM-based doc-quality "
    "signal next to the heuristic quality_score (q24)", memo_plan=True)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import ngram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return ngram_lm_scores(docs).select("doc_id", "n_bigrams", "avg_logp", "ppl")


# The oracle replicates the ENTIRE PQ/ADC pipeline: residue-class-mean
# codebooks (the q45 fixed-quantizer convention applied per dimension),
# per-(vector, subspace) argmin encoding (ties ORDER BY d2, k == numpy
# first-win argmin), per-query lookup tables (the same dist CTE serves
# codes AND LUTs), ADC sums, top-5 under (ad ASC, vec_id ASC). Distances
# are direct SUM((x-c)^2) in both engines — no GEMM expansion, whose
# cancellation error would eat the margins. Margins measured r12 at
# sf0.001/0.01/0.1: encoding argmin gap >= 2.4e-8, rank-5-vs-6 ADC gap
# >= 7.8e-6, min distance to a 0.5e-6 rounding boundary 4.5e-10 raw —
# all >= 5 orders above cross-engine summation drift; zero duplicate
# embeddings and zero full-code collisions at any SF.
_Q54_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT vec_id, unnest(v) AS x, unnest(range(0, len(v))) AS d FROM e),
cb AS (SELECT vec_id % 16 AS k, d, AVG(x) AS c FROM ex GROUP BY 1, 2),
dist AS (SELECT ex.vec_id, cb.d // 8 AS m, cb.k,
                SUM((ex.x - cb.c) * (ex.x - cb.c)) AS d2
         FROM ex JOIN cb USING (d) GROUP BY 1, 2, 3),
codes AS (SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
            FROM dist) WHERE rn = 1),
adc AS (SELECT d.vec_id AS qid, c.vec_id, SUM(d.d2) AS ad
        FROM codes c JOIN dist d ON d.m = c.m AND d.k = c.k
        WHERE d.vec_id BETWEEN 1 AND 10 AND c.vec_id <> d.vec_id
        GROUP BY 1, 2)
SELECT qid, vec_id, ROUND(ad, 6) AS adist FROM (
  SELECT qid, vec_id, ad, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
  FROM adc) WHERE rn <= 5
"""


def _pq_session_index(spark: SparkSession, sf_dir: str):
    """Session-lifetime PQ index over the immutable embeddings table
    (the _ivf_session_index doctrine): residue-class codebooks (one
    bounded 1024-double collect) and the persisted code table are built
    ONCE per (session, sf_dir); every q54 search serves from them —
    steady state is the ADC probe path only. release_persisted drains
    the memo; the code table is in the track_persist ledger."""
    from gelly_streaming_spark.ext.embeddings import pq_codebooks, pq_index

    memo = getattr(spark, "_gss_pq_index", None)
    if memo is None:
        memo = {}
        spark._gss_pq_index = memo  # noqa: SLF001 — session memo
    key = ("pq", sf_dir)
    hit = memo.get(key)
    if hit is None:
        emb = load_table(spark, sf_dir, "embeddings")
        cb = pq_codebooks(emb)
        hit = (cb, pq_index(emb, cb))
        memo[key] = hit
    return hit


@_q("q54_knn_pq_adc", _Q54_SQL,
    "product-quantization ADC kNN (the FAISS IVFPQ compressed-domain "
    "search path): residue-class-mean codebooks (the q45/q48 "
    "fixed-quantizer convention), 8-subspace x 16-codeword encoding, "
    "per-query distance lookup tables closing over one Arrow map pass "
    "across the CODE table with in-kernel per-partition top-k - the "
    "corpus vectors are never read at search time; the whole "
    "codebook->encode->LUT->ADC->top-5 path hash-certified; only "
    "per-subspace k-means training stays property-tested")
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import knn_pq

    emb = load_table(spark, sf_dir, "embeddings")
    # steady state = LUT build (one bounded collect) + ADC scan of the
    # persisted 8-byte code rows + top-k; run 1 carries the index build.
    cb, codes = _pq_session_index(spark, sf_dir)
    return knn_pq(
        emb, emb.where(F.col("vec_id").between(1, 10)), k=5,
        codebooks=cb, codes=codes,
    ).select("qid", "vec_id", "adist")


# The oracle replays the identical pipeline: held-out eval rows
# (vec_id % 97 — the q36 decontamination convention), cross join against
# the bounded eval side, list_cosine_similarity (bit-identical to the
# engine's JVM fold cosine — the q23 contract), ROUND HALF_UP to 6dp
# BEFORE the max/count (the q23b/q52 thresholding contract). Threshold
# margins measured r12: min |sim - 0.38| = 3.3e-4 in rounded units at
# sf0.1 (1.6e-2 / 4.6e-3 at sf0.001/0.01) — the verdicts cannot flip.
_Q55_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ev AS (SELECT vec_id AS eid, v AS evv FROM e WHERE vec_id % 97 = 0),
sc AS (SELECT e.vec_id, ROUND(list_cosine_similarity(e.v, ev.evv), 6) AS sim
       FROM e CROSS JOIN ev WHERE e.vec_id <> ev.eid)
SELECT vec_id, MAX(sim) AS max_sim,
       CAST(SUM(CASE WHEN sim >= 0.38 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       (SUM(CASE WHEN sim >= 0.38 THEN 1 ELSE 0 END) > 0) AS contaminated
FROM sc GROUP BY vec_id
"""


@_q("q55_semantic_decontaminate", _Q55_SQL,
    "embedding-level benchmark decontamination (the semantic sibling of "
    "q36's n-gram scan): held-out eval vectors (vec_id % 97) broadcast "
    "against the corpus, JVM fold-cosine scoring with round-6 HALF_UP "
    "thresholding, per-vector max-sim + hit count in ONE map-side-"
    "combined shuffle - the corpus never reshuffles and never leaves "
    "the JVM")
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.where(F.pmod(F.col("vec_id"), F.lit(97)) == 0)
    return semantic_decontaminate(emb, ev, threshold=0.38).select(
        "vec_id", "max_sim", "n_hits", "contaminated"
    )


# The oracle unrolls the identical 3-step damped power iteration over
# the q15 graph fixture (DISTINCT directed edges, uniform 1/n init,
# dangling mass dropped — the convention pagerank() documents). Float
# contract: per-vertex contribution sums diverge only by summation
# order (~1e-15 relative, ~1e-13 after 3 damped steps); ranks cluster
# at degree-pattern-discrete values, so the measured min distance to a
# 0.5e-6 rounding boundary is 4.4e-9 raw (sf0.01; 5.0e-9 / 3.3e-8 at
# sf0.001/0.1) — 4+ orders above drift.
_Q56_SQL = """
WITH
sub AS (SELECT DISTINCT src, dst FROM (
  SELECT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem WHERE l_orderkey < 200)),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM sub UNION ALL SELECT dst FROM sub)),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
od AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM sub GROUP BY src),
p0 AS (SELECT id, 1.0/n.n AS r FROM verts CROSS JOIN n),
p1 AS (SELECT v.id, 0.15/n.n + 0.85*COALESCE(SUM(p.r/od.deg), 0.0) AS r
       FROM verts v CROSS JOIN n
       LEFT JOIN sub e ON e.dst = v.id LEFT JOIN p0 p ON p.id = e.src
       LEFT JOIN od ON od.src = e.src GROUP BY v.id, n.n),
p2 AS (SELECT v.id, 0.15/n.n + 0.85*COALESCE(SUM(p.r/od.deg), 0.0) AS r
       FROM verts v CROSS JOIN n
       LEFT JOIN sub e ON e.dst = v.id LEFT JOIN p1 p ON p.id = e.src
       LEFT JOIN od ON od.src = e.src GROUP BY v.id, n.n),
p3 AS (SELECT v.id, 0.15/n.n + 0.85*COALESCE(SUM(p.r/od.deg), 0.0) AS r
       FROM verts v CROSS JOIN n
       LEFT JOIN sub e ON e.dst = v.id LEFT JOIN p2 p ON p.id = e.src
       LEFT JOIN od ON od.src = e.src GROUP BY v.id, n.n)
SELECT id, ROUND(r, 6) AS pr FROM p3
"""


@_q("q56_pagerank", _Q56_SQL,
    "PageRank (extension algorithm - the reference library ships none): "
    "3 damped power-iteration steps over the q15 graph fixture as a "
    "Pregel-style driver loop - loop-invariant (src,dst,outdeg) table "
    "materialized once, three keyed shuffles per round over |V|-bounded "
    "data, rank table checkpointed per round so plan depth stays O(1) - "
    "hash-certified against a DuckDB unrolled-iteration replica")
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.pagerank import pagerank

    return pagerank(_q15_edges(spark, sf_dir), iters=3).select("id", "pr")


@_q("q56d_pagerank_distributed", _Q56_SQL,
    "PageRank distributed-path certification (VERDICT r16 #2): the q56 "
    "Pregel loop with the driver fast path DISABLED "
    "(small_input_rows=0), so the bench TIMES — and the DuckDB hash "
    "gate covers — the three-keyed-shuffles-per-round plan a 100 TB "
    "run would execute; the q56/q68 rows certify the adaptive "
    "exact-rational driver fallback (the q15d convention)")
def q56d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.pagerank import pagerank

    stats: dict = {}
    out = pagerank(
        _q15_edges(spark, sf_dir), iters=3, small_input_rows=0, stats=stats
    ).select("id", "pr")
    # explicit raise, not assert (q15d convention): python -O strips
    # asserts, which would silently void the certification this query IS
    if stats["fast_path"]:
        raise RuntimeError("fast path taken despite small_input_rows=0")
    return out


# The oracle enumerates every walk of length <= 6 from the source set
# over the symmetrized distinct q15 edges (the q15 walk-CTE pattern,
# depth-bounded so cycles terminate: UNION dedups (id, d) pairs and
# d < 6 caps the recursion) and takes MIN(d) per vertex — exactly the
# bounded-horizon BFS distance. All-integer arithmetic: no float
# margins exist for this hash, unlike the cosine/PageRank families.
_Q57_SQL = """
WITH RECURSIVE
sub AS (SELECT DISTINCT src, dst FROM (
  SELECT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem WHERE l_orderkey < 200)
  WHERE src <> dst),
eu AS (SELECT DISTINCT u, v FROM (
  SELECT src AS u, dst AS v FROM sub UNION ALL SELECT dst, src FROM sub)),
verts AS (SELECT DISTINCT u AS id FROM eu),
walk(id, d) AS (
  SELECT id, 0 FROM verts WHERE id % 100 = 1
  UNION
  SELECT e.v, w.d + 1 FROM walk w JOIN eu e ON e.u = w.id WHERE w.d < 6
)
SELECT id, MIN(d) AS dist FROM walk GROUP BY id
"""


@_q("q57_bfs_khop", _Q57_SQL,
    "bounded-horizon BFS / k-hop distance map (extension - the "
    "reference exposes no shortest-path operator): frontier-parallel "
    "Pregel loop, each round joins edges against ONLY last round's "
    "frontier and anti-joins settled vertices, early exit the round "
    "the frontier empties (observed on the checkpoint job) - "
    "all-integer semantics, hash-certified against a depth-bounded "
    "recursive-CTE walk oracle")
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.bfs import bfs_distances

    gs = _q15_edges(spark, sf_dir)
    # Source-set vertices come from the SAME self-loop-filtered edge set
    # bfs_distances walks (the oracle's `sub ... WHERE src <> dst` CTE):
    # a vertex appearing only in self-loops would otherwise emit a
    # dist-0 engine row with no oracle counterpart (ADVICE r12 — latent
    # on the q15 fixture, whose offset id ranges cannot self-loop, but
    # the contract must not depend on the fixture's accident).
    e = gs.edges.where(F.col("src") != F.col("dst"))
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    sources = verts.where(F.pmod(F.col("id"), F.lit(100)) == 1)
    return bfs_distances(gs, sources, max_hops=6).select("id", "dist")


# The oracle replicates the WHOLE inference pipeline: the q33-certified
# vocabulary (top-500 by cf DESC, token ASC with row_number rank), the
# deterministic weight derivation (split.py's multiplicative-congruential
# constants on the rank, folded mod 4096 and centered — weights are
# k/4096 binary rationals, so the per-doc SUM is EXACT in doubles and
# summation order cannot drift across engines), the LEFT join that
# gives OOV tokens weight 0 while keeping them in the token count, and
# the logistic link. Float margins (measured r13, min over docs of
# distance from score*1e6 to a 0.5 rounding boundary): 3.5e-4 at
# sf0.001, 1.1e-3 at sf0.01, 1.0e-4 at sf0.1 — i.e. >=1.0e-10 on the
# raw score, at least 5 orders above the ~1e-15-relative
# one-division-one-exp libm drift surface (the sum itself is exact:
# k/4096 binary-rational weights).
_Q58_SQL = """
WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
             FROM documents),
tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
vocab AS (SELECT token, COUNT(*) AS cf FROM tok2 GROUP BY 1),
topv AS (SELECT token, ROW_NUMBER() OVER (ORDER BY cf DESC, token) AS rank
         FROM vocab ORDER BY cf DESC, token LIMIT 500),
w AS (SELECT token,
             ((((rank * 40503 + 30029) % 99991) % 4096) - 2048) / 4096.0 AS weight
      FROM topv),
per AS (SELECT t.doc_id, COUNT(*) AS n, SUM(COALESCE(w.weight, 0.0)) AS s
        FROM tok2 t LEFT JOIN w USING (token) GROUP BY 1)
SELECT d.doc_id,
       ROUND(1.0 / (1.0 + EXP(-(COALESCE(s, 0.0)
                                / GREATEST(COALESCE(n, 1), 1)))), 6) AS score
FROM documents d LEFT JOIN per USING (doc_id)
"""


@_q("q58_quality_classifier", _Q58_SQL,
    "fastText-style linear quality-classifier inference (the second "
    "CCNet quality signal, pairing q53's perplexity scorer): mean-pooled "
    "per-token weights through a logistic link - in-row token count "
    "before the explode, explode_outer so every doc emits, LEFT "
    "broadcast join against the (token, weight) table (AQE-sized, no "
    "hint), ONE doc-keyed partial-agg shuffle; the certified fixture "
    "derives exact-binary-rational weights from the q33-certified "
    "vocabulary so the whole pipeline is hash-certified", memo_plan=True)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import classifier_score, vocabulary

    docs = load_table(spark, sf_dir, "documents")
    weights = vocabulary(docs, k=500).select(
        "token",
        (
            ((F.col("rank") * 40503 + 30029) % 99991 % 4096 - 2048)
            / F.lit(4096.0)
        ).alias("weight"),
    )
    return classifier_score(docs, weights)


# The oracle shares the q53 bigram CTE (positional index unnest over the
# same list_filter tokenization) and replicates the marginal derivation
# (cl/cr from c2, T from c2 — no second corpus pass), the min-count
# floor, the PMI expression operand-for-operand (integer counts exact in
# doubles, one multiply/divide chain, one ln), the round-6-BEFORE-rank
# convention, and the (pmi DESC, w1, w2) total order. Float margins
# (measured r13): min distance of raw pmi*1e6 to a 0.5 rounding boundary
# 4.4e-4/1.1e-3/1.1e-3 at sf0.001/0.01/0.1 (i.e. >=4.4e-10 raw), and min
# gap between ADJACENT DISTINCT rounded pmi values in the top 60
# 2.1e-5 rounded units — both surfaces >=4 orders above the ~1e-14
# ln/divide drift.
_Q59_SQL = r"""
WITH toks AS (SELECT list_filter(string_split_regex(text, '\s+'),
                                 x -> x <> '') AS t
              FROM documents),
bi AS (SELECT t[i] AS w1, t[i+1] AS w2
       FROM toks, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
cl AS (SELECT w1, SUM(c2) AS cl FROM c2 GROUP BY 1),
cr AS (SELECT w2, SUM(c2) AS cr FROM c2 GROUP BY 1),
tt AS (SELECT CAST(SUM(c2) AS DOUBLE) AS t FROM c2)
SELECT w1, w2, c2, ROUND(LN(c2 * tt.t / (cl.cl * cr.cr)), 6) AS pmi
FROM c2 JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN tt
WHERE c2 >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 50
"""


@_q("q59_pmi_collocations", _Q59_SQL,
    "PMI collocation mining (Church-Hanks / the word2vec phrase pass): "
    "top-50 adjacent token pairs by pointwise mutual information with a "
    "min-count-5 floor - row-local bigram formation (the q53 arrays_zip "
    "kernel), ONE (w1,w2)-keyed count shuffle, BOTH marginals and the "
    "total derived from the bigram-vocabulary-sized count table (no "
    "second corpus pass), AQE-broadcast marginal joins, round-6-before-"
    "rank, TakeOrdered top-k - never a global sort", memo_plan=True)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs).select("w1", "w2", "c2", "pmi")


# The oracle unrolls 3 synchronous LPA rounds over the q15 graph fixture
# (the q56 unrolled-iteration convention): per round, neighbor labels
# count per vertex, ROW_NUMBER ORDER BY c DESC, lbl picks
# most-frequent-then-smallest (== the engine's max(struct(c, -lbl))
# fold), COALESCE keeps the previous label where no pick exists. All
# arithmetic is integer — no float margins exist for this hash, like
# q57. The deterministic min-label tie-break is what makes the classic
# randomized algorithm certifiable cross-engine.
_Q60_SQL = """
WITH
sub AS (SELECT DISTINCT src, dst FROM (
  SELECT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem WHERE l_orderkey < 200)
  WHERE src <> dst),
eu AS (SELECT DISTINCT u, v FROM (
  SELECT src AS u, dst AS v FROM sub UNION ALL SELECT dst, src FROM sub)),
l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM eu),
c1 AS (SELECT e.v AS id, l.lbl, COUNT(*) AS c FROM eu e JOIN l0 l ON l.id = e.u GROUP BY 1, 2),
p1 AS (SELECT id, lbl FROM (SELECT id, lbl,
        ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1),
l1 AS (SELECT l0.id, COALESCE(p1.lbl, l0.lbl) AS lbl FROM l0 LEFT JOIN p1 USING (id)),
c2 AS (SELECT e.v AS id, l.lbl, COUNT(*) AS c FROM eu e JOIN l1 l ON l.id = e.u GROUP BY 1, 2),
p2 AS (SELECT id, lbl FROM (SELECT id, lbl,
        ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1),
l2 AS (SELECT l1.id, COALESCE(p2.lbl, l1.lbl) AS lbl FROM l1 LEFT JOIN p2 USING (id)),
c3 AS (SELECT e.v AS id, l.lbl, COUNT(*) AS c FROM eu e JOIN l2 l ON l.id = e.u GROUP BY 1, 2),
p3 AS (SELECT id, lbl FROM (SELECT id, lbl,
        ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM c3) WHERE rn = 1),
l3 AS (SELECT l2.id, COALESCE(p3.lbl, l2.lbl) AS lbl FROM l2 LEFT JOIN p3 USING (id))
SELECT id, lbl FROM l3
"""


@_q("q60_label_propagation", _Q60_SQL,
    "label propagation community detection (extension - the reference "
    "ships no community detection): 3 synchronous rounds with the "
    "deterministic min-label tie-break over the q15 graph fixture - per "
    "round ONE (vertex, label)-keyed partial-agg count shuffle plus a "
    "windowless max(struct) argmax fold and a left join back to the "
    "|V|-row label table; per-round checkpoint carries the changed-label "
    "observation so early exit is free - hash-certified against a DuckDB "
    "unrolled-round replica, all-integer semantics")
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.lpa import label_propagation

    return label_propagation(_q15_edges(spark, sf_dir), iters=3).select("id", "lbl")


# ---------------------------------------------------------------------------
# Q61–Q64: adversarial-skew certification (VERDICT r13 item 1). Every
# scale claim in the CC/dedup/LSH family was proven only on benign
# distributions; these four derive a SKEWED input deterministically from
# the base tables INSIDE both the Spark query and the oracle SQL — same
# rows on both sides, so the standard hash gate certifies the skew path
# itself. The skew knobs are fixed-size (hub degree = |customer|/10, hot
# passage in half the corpus, one 200x mega-doc), chosen so the hot key
# is 2–3 orders of magnitude over the average key at sf0.1 while the
# recursive/quadratic ORACLE formulations stay tractable.
# ---------------------------------------------------------------------------
# Giant-component caution: the recursive label walk materializes
# O(V_comp^2) (id, comp) pairs for the hub component (every vertex
# accumulates every component label — the q15e lesson), so the hub fan
# is c_custkey % 10 (1.5k vertices at sf0.1, ~2.6M walk pairs), not the
# full customer table.
_Q61_SQL = """
WITH RECURSIVE
sub AS (
  SELECT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem WHERE l_orderkey < 200
  UNION ALL
  SELECT 0, c_custkey FROM customer WHERE c_custkey % 10 = 0
),
eu AS (SELECT src AS u, dst AS v FROM sub UNION ALL SELECT dst, src FROM sub),
verts AS (SELECT DISTINCT u AS id FROM eu),
walk(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.v, w.comp FROM walk w JOIN eu e ON e.u = w.id
)
SELECT id, MIN(comp) AS component FROM walk GROUP BY id
"""


@_q("q61_cc_skew_hub", _Q61_SQL,
    "adversarial-skew CC certification: the q15 fixture plus a hub "
    "vertex 0 fanned to every 10th customer (degree 1,500 at sf0.1 vs "
    "average ~2 — one shuffle key holding ~60% of the graph's edges), "
    "run with the small-graph fast path DISABLED and skew_safe=True "
    "FORCED, so the hash gate certifies the partial-agg groupBy-min + "
    "AQE-splittable sort-merge star-op form — the exact plan a 100 TB "
    "giant component's root key executes (SURVEY §2.9 L1 skew claim)")
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.connected_components import (
        connected_components_alternating,
    )

    hub = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 0)
        .select(
            F.lit(0).cast("long").alias("src"),
            F.col("c_custkey").cast("long").alias("dst"),
        )
    )
    edges = _q15_edges(spark, sf_dir).edges.unionByName(hub)
    stats: dict = {}
    out = connected_components_alternating(
        GraphStream(edges), stats=stats, small_input_rows=0, skew_safe=True
    )
    # explicit raises (q15d convention): the certification is OF the
    # distributed skew-safe path — silently falling back would void it
    if stats["rounds"] <= 0:
        raise RuntimeError("fast path taken despite small_input_rows=0")
    if not stats.get("skew_safe"):
        raise RuntimeError("skew-safe star-op form not taken despite skew_safe=True")
    return out


# 16-token boilerplate SUFFIX on every even doc: each internal trigram
# lands in ~half the corpus (df 2,500 at sf0.1 — 125x the max_df=20
# guard), so the df-cap must drop the hot shingles BEFORE the self-join
# or the pair fan-out is C(2500,2) ~ 3.1M junk pairs. Organic pairs and
# low-df boundary shingles (last two original tokens + boilerplate
# head) survive and are counted identically by both engines.
_Q62_HOT = (
    "cookie consent banner accept all manage preferences terms "
    "of service privacy policy all rights reserved today"
)

_Q62_SQL = f"""
WITH inj AS (SELECT doc_id,
                    CASE WHEN doc_id % 2 = 0 THEN text || ' {_Q62_HOT}'
                         ELSE text END AS text
             FROM documents),
tok AS (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM inj),
sh AS (SELECT doc_id, array_to_string(t[p:p+{_SHINGLE_N - 1}], ' ') AS shingle
       FROM tok, UNNEST(generate_series(1, greatest(len(t) - {_SHINGLE_N - 1}, 0))) AS u(p)),
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
dfh AS (SELECT shingle, COUNT(*) AS df FROM d GROUP BY 1),
k AS (SELECT d.doc_id, d.shingle FROM d JOIN dfh USING (shingle) WHERE df <= 20),
p AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
      FROM k x JOIN k y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2)
SELECT a, b, shared FROM p WHERE shared >= 3
"""


@_q("q62_hot_shingle_passages", _Q62_SQL,
    "adversarial-skew q38 certification: a 16-token boilerplate suffix "
    "injected into HALF the corpus puts ~14 shingles at df 2,500 "
    "(sf0.1) against the max_df=20 guard — the hash gate proves the "
    "df-cap drops the hot keys before the shingle self-join (no "
    "C(2500,2) pair blow-up) while every organic pair still matches", memo_plan=True)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import duplicate_passages

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    corpus = docs.select(
        "doc_id",
        F.when(d % 2 == 0, F.concat(F.col("text"), F.lit(" " + _Q62_HOT)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return duplicate_passages(corpus, n=_SHINGLE_N, min_shared=3, max_df=20)


# Half the q43 sample collapses onto ONE boilerplate template (20
# tokens, 17 distinct) plus a 5-way variant token: same-variant docs
# share identical signatures (one LSH bucket holding 50 docs at sf0.1
# vs the organic 1–2), cross-variant Jaccard = 17/19 = 0.894737 >= 0.8,
# so the hot cluster emits C(250,2) = 31,125 TRUE pairs through the
# bucket self-join + verify path. Margins: jaccard values here are
# single IEEE divisions of exact ints (bit-identical cross-engine;
# 17/19*1e6 sits 3.4e-1 ulp-equivalents from its round-6 boundary —
# measured 0.342 distance at 1e-6 scale, and identical inputs make the
# margin moot); organic pairs are the q43-certified path.
_Q63_BOIL = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "sat on the mat watching birds fly south"
)

_Q63_SQL = f"""
WITH base AS (SELECT doc_id,
                     CASE WHEN doc_id % 20 = 0
                          THEN '{_Q63_BOIL} v' || CAST((doc_id % 100) // 20 AS VARCHAR)
                          ELSE text END AS text
              FROM documents WHERE doc_id % 10 = 0),
tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM base),
hx AS (SELECT doc_id, t.i,
              MIN(CAST(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || token), 1, 15)) AS BIGINT)) AS h
       FROM tok CROSS JOIN range(16) t(i) GROUP BY doc_id, t.i),
band AS (SELECT doc_id, CAST(i // 4 AS INT) AS band,
                string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bucket
         FROM hx GROUP BY doc_id, i // 4),
cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                                AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
inter AS (SELECT c.a, c.b, COUNT(*) AS i
          FROM cand c JOIN tok ta ON ta.doc_id = c.a
                      JOIN tok tb ON tb.doc_id = c.b AND tb.token = ta.token
          GROUP BY c.a, c.b)
SELECT a, b, ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
"""


@_q("q63_lsh_hot_bucket", _Q63_SQL,
    "adversarial-skew q43 certification: half the sampled corpus "
    "rewritten onto one boilerplate template (5 variant groups of "
    "identical signatures) so single LSH buckets hold 50 docs at sf0.1 "
    "instead of 1–2 — the hash gate certifies the band self-join and "
    "the candidateXtoken verify join through a hot bucket emitting "
    "31k true pairs, the boilerplate-corpus worst case LSH dedup "
    "actually meets", memo_plan=True)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.similarity import md5_hash64, minhash_lsh_pairs

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").where(d % 10 == 0)
    base = docs.select(
        "doc_id",
        F.when(
            d % 20 == 0,
            F.concat(
                F.lit(_Q63_BOIL + " v"),
                F.floor((d % 100) / 20).cast("long").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return minhash_lsh_pairs(
        base, "doc_id", F.split(F.col("text"), " "), threshold=0.8,
        num_hashes=16, bands=4, hash_fn=md5_hash64, portable_buckets=True,
    ).select("a", "b", "jaccard")


# One 8-token header (so pid 0 IS the hot passage, aligned by
# construction) on every even doc -> one passage key with ~2,540 rows
# at sf0.1 (2,500 docs + 40 aligned copies inside the mega-doc); doc 8
# additionally repeats its whole headered text 200x -> ONE document
# whose rebuild group holds ~1.6k passages vs the average ~7. Certifies
# the dup-detection shuffle's map-side combine on the hot passage key
# and the per-doc rebuild aggregation under row-count skew.
_Q64_HDR = "cookie consent accept decline manage settings privacy terms"

_Q64_SQL = f"""
WITH b0 AS (SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN '{_Q64_HDR} ' || text
                        ELSE text END AS text
            FROM documents),
base AS (SELECT doc_id,
                CASE WHEN doc_id = 8 THEN rtrim(repeat(text || ' ', 200))
                     ELSE text END AS text
         FROM b0),
lst AS (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l
        FROM base),
tok AS (SELECT doc_id, unnest(l) AS token,
               unnest(range(len(l))) AS pos
        FROM lst),
p AS (SELECT doc_id, pos // 8 AS pid,
             string_agg(token, ' ' ORDER BY pos) AS passage
      FROM tok GROUP BY 1, 2),
dup AS (SELECT passage FROM p GROUP BY 1
        HAVING COUNT(DISTINCT doc_id) >= 2),
f AS (SELECT p.doc_id, p.pid, p.passage,
             p.passage IN (SELECT passage FROM dup) AS is_dup
      FROM p)
SELECT doc_id,
       md5(COALESCE(string_agg(passage, ' ' ORDER BY pid)
                    FILTER (WHERE NOT is_dup), '')) AS dedup_md5,
       CAST(COUNT(*) FILTER (WHERE NOT is_dup) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dropped
FROM f GROUP BY doc_id
"""


@_q("q64_passage_dedup_skew", _Q64_SQL,
    "adversarial-skew q51 certification: ONE aligned 8-token header on "
    "half the corpus (a single passage key holding ~2,540 rows at "
    "sf0.1) plus a 200x repeated mega-doc (~1.6k passages in one "
    "rebuild group vs average ~7) — the hash gate certifies the "
    "passage-keyed dup-detection shuffle and the doc-keyed rebuild "
    "under hot-key AND hot-group skew, including the dup-set AQE "
    "broadcast probe", memo_plan=True)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.dedup import dedup_passages

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    b0 = docs.select(
        "doc_id",
        F.when(d % 2 == 0, F.concat(F.lit(_Q64_HDR + " "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    corpus = b0.withColumn(
        "text",
        F.when(
            d == 8, F.concat_ws(" ", F.array_repeat(F.col("text"), 200))
        ).otherwise(F.col("text")),
    )
    out = dedup_passages(corpus, n=8)
    return out.select(
        "doc_id",
        F.md5("text_dedup").alias("dedup_md5"),
        "n_kept",
        "n_dropped",
    )


# The oracle unrolls the WHOLE distributed training pipeline (VERDICT
# r13 item 3): residue-class-mean init (vec_id % 16 — the q45/q48/q54
# fixed-quantizer convention, id-keyed so no label column is involved),
# ONE full-batch Lloyd's iteration (argmax-cosine assignment with the
# smallest-cluster tie-break, then per-(cluster, dim) AVG), then the
# q48 IVF search against the REFINED centroids. Engine assignment runs
# the GEMM Arrow kernel, duck runs list_cosine_similarity — the q23
# fold-cosine contract plus measured argmax margins make membership
# sets identical, after which both engines' AVGs see the same rows.
# Margins (measured r14, min over the corpus): init-assignment top1-
# top2 cosine gap 3.1e-4 / 2.0e-4 / 1.8e-6 at sf0.001/0.01/0.1;
# refined-assignment gap 3.9e-4 / 8.4e-5 / 6.1e-5; k=5 rank-boundary
# gap ≥4.8e-4; distance to the round-6 boundary ≥2.5e-3 (1e-6 units) —
# the tightest (1.8e-6 raw) sits ~9 orders above the ~1e-15-relative
# cross-engine drift of one fold-cosine + AVG chain.
_Q65_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex0 AS (SELECT vec_id % 16 AS k, unnest(v) AS x,
               unnest(range(1, len(v)+1)) AS d FROM e),
c0 AS (SELECT k, list(m ORDER BY d) AS c
       FROM (SELECT k, d, AVG(x) AS m FROM ex0 GROUP BY k, d) GROUP BY k),
a0 AS (SELECT vec_id, k AS cluster FROM (
         SELECT e.vec_id, c0.k,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                   ORDER BY list_cosine_similarity(e.v, c0.c) DESC, c0.k) AS rn
         FROM e CROSS JOIN c0) WHERE rn = 1),
ex1 AS (SELECT a0.cluster, unnest(e.v) AS x,
               unnest(range(1, len(e.v)+1)) AS d
        FROM e JOIN a0 USING (vec_id)),
c1 AS (SELECT cluster AS clabel, list(m ORDER BY d) AS c
       FROM (SELECT cluster, d, AVG(x) AS m FROM ex1 GROUP BY cluster, d)
       GROUP BY cluster),
ca AS (SELECT vec_id, clabel AS cluster FROM (
         SELECT e.vec_id, c1.clabel,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                   ORDER BY list_cosine_similarity(e.v, c1.c) DESC, c1.clabel) AS rn
         FROM e CROSS JOIN c1) WHERE rn = 1),
qa AS (SELECT vec_id AS qid, clabel AS cluster FROM (
         SELECT e.vec_id, c1.clabel,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                   ORDER BY list_cosine_similarity(e.v, c1.c) DESC, c1.clabel) AS rn
         FROM e CROSS JOIN c1 WHERE e.vec_id BETWEEN 1 AND 10) WHERE rn <= 2),
scored AS (SELECT qa.qid, ca.vec_id, list_cosine_similarity(eq.v, ec.v) AS sim
           FROM qa JOIN ca ON ca.cluster = qa.cluster AND ca.vec_id != qa.qid
           JOIN e eq ON eq.vec_id = qa.qid JOIN e ec ON ec.vec_id = ca.vec_id),
ranked AS (SELECT qid, vec_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           FROM scored)
SELECT qid, vec_id, ROUND(sim, 6) AS sim FROM ranked WHERE rn <= 5
"""


@_q("q65_ivf_train_distributed", _Q65_SQL,
    "distributed IVF quantizer training certification (VERDICT r13 "
    "item 3): residue-class-mean init -> ONE full-batch Lloyd's "
    "iteration as DataFrame ops (GEMM assign map pass, (cluster,dim) "
    "partial-agg mean shuffle, bounded k*d collect) -> q48-shaped "
    "nprobe-2 IVF search against the REFINED centroids — promotes "
    "quantizer training from driver-sample-only (property-tested) to "
    "a hash-certified distributed path")
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.embeddings import (
        kmeans_refine_distributed,
        knn_ivf,
        residue_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    init = residue_centroids(emb, n_clusters=16)
    cents = kmeans_refine_distributed(emb, init, iters=1)
    qs = emb.where(F.col("vec_id").between(1, 10))
    return knn_ivf(
        emb, qs, k=5, n_clusters=16, nprobe=2, centroids=cents
    ).select("qid", "vec_id", "sim")


# ---------------------------------------------------------------------------
# Q66s/Q67s: streaming late-data certification (VERDICT r13 item 4).
# Three micro-batches with deliberately OUT-OF-ORDER arrival: rows with
# ts before the cutoff are re-sequenced to arrive LAST (batch 3), by
# which point the watermark — advanced by the two preceding on-time
# batches to ~day 20 — has closed their windows, so Structured
# Streaming must DROP them (the withWatermark late-row contract). The
# oracle computes the post-drop answer, so the hash gate fails if late
# rows leak in OR if on-time rows are over-dropped. The cutoff sits
# mid-window (00:30) so the first surviving window's COUNT (not just
# row presence) proves the drop. Drop margins are ~18 days of watermark
# vs a 1-hour window — batch-boundary placement (ceil splits of the
# arrival-ordered table) cannot flip an outcome at any SF, because the
# late cohort is <4% of rows (always inside the final batch) and the
# on-time 1/3-quantile timestamp is ≥ day 9 at every SF.
# ---------------------------------------------------------------------------
_Q66S_CUTOFF = "2024-01-02 00:30:00"

_Q66S_SQL = _with(
    f"""
SELECT date_trunc('hour', ts) AS bucket, src AS id, COUNT(*) AS cnt
FROM edges_events
WHERE src < 120 AND ts >= TIMESTAMP '{_Q66S_CUTOFF}'
  AND date_trunc('hour', ts) < (SELECT date_trunc('hour', MAX(ts))
                                FROM edges_events WHERE src < 120)
GROUP BY 1, 2
""",
    "edges_events",
)


def _late_replay(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """3-batch out-of-order feed: on-time rows stream in event-time
    order, rows before the cutoff arrive LAST (their +1e12 arrival key
    sorts them after every on-time row)."""
    # vertex set bounded (src < 120, pushed into the scan) — the q15e
    # convention: the late-drop semantics are user-count-invariant, and
    # the unbounded fixture made the 3-batch stateful replay pay for
    # 92k output windows (7.4 s at sf0.1 vs ~2 s bounded)
    ev = (
        E.edges_events(spark, sf_dir)
        .where(F.col("src") < 120)
        .select("src", "dst", "val", "ts")
    )
    late = F.col("ts") < F.lit(_Q66S_CUTOFF).cast("timestamp")
    feed = ev.withColumn(
        "arrival",
        F.when(late, F.lit(10**12) + F.unix_timestamp("ts"))
        .otherwise(F.unix_timestamp("ts"))
        .cast("long"),
    )
    stream = _replay_tmp(
        feed, num_batches=3, order_by="arrival", key=f"{key}:{sf_dir}"
    )
    return stream.select("src", "dst", "val", "ts")


@_q("q66s_streaming_late_drop", _Q66S_SQL,
    "watermark late-row DROP certification, append mode (VERDICT r13 "
    "item 4): 3 micro-batches, pre-cutoff rows re-sequenced to arrive "
    "after the watermark closed their windows — final append output ≡ "
    "the batch answer over ON-TIME rows only, under the q27s final-"
    "watermark emission cutoff; the 00:30 mid-window cutoff makes the "
    "first surviving window a COUNT-level proof of the drop")
def q66s(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.streaming.runner import run_to_memory

    with _parity_stream_confs(spark):
        stream = _late_replay(spark, sf_dir, "q66s")
        agg = (
            GraphStream(stream)
            .with_watermark("0 seconds")
            .slice("1 hour", "out")
            .reduce_on_edges(F.count(F.lit(1)).alias("cnt"))
        )
        return run_to_memory(agg, "append")


# Update-mode sibling: no emission cutoff — update mode emits every
# changed window each batch and run_update_merge keeps the LAST upsert
# per (bucket, id), so the final state covers ALL surviving windows
# including the ones the watermark never closed. The oracle is the same
# on-time aggregation WITHOUT the max-ts clause; a late row leaking
# into batch 3 would re-emit its window with an inflated count and
# corrupt the upserted state — the hash gate certifies the merge AND
# the drop together.
_Q67S_SQL = _with(
    f"""
SELECT date_trunc('hour', ts) AS bucket, src AS id, COUNT(*) AS cnt
FROM edges_events
WHERE src < 120 AND ts >= TIMESTAMP '{_Q66S_CUTOFF}'
GROUP BY 1, 2
""",
    "edges_events",
)


@_q("q67s_streaming_late_drop_update", _Q67S_SQL,
    "watermark late-row DROP certification, update-merge mode (VERDICT "
    "r13 item 4): the same 3-batch out-of-order feed through an "
    "UPDATE-mode windowed aggregation with keyed upserts "
    "(run_update_merge) — final upserted state ≡ batch answer over "
    "on-time rows across every window, proving cross-batch upsert "
    "merging and late-row dropping compose")
def q67s(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.streaming.runner import run_update_merge

    with _parity_stream_confs(spark):
        stream = _late_replay(spark, sf_dir, "q67s")
        agg = (
            GraphStream(stream)
            .with_watermark("0 seconds")
            .slice("1 hour", "out")
            .reduce_on_edges(F.count(F.lit(1)).alias("cnt"))
        )
        return run_update_merge(agg, ["bucket", "id"])


# The oracle unrolls 3 personalized power-iteration steps (the q56
# convention) with the teleport vector concentrated uniformly on the
# q57 source set (id % 100 = 1): r0 = tele, r' = 0.15·tele + 0.85·Σ.
# The engine literal (1-0.85) = 0.15000000000000002 vs the SQL 0.15
# would differ by ~1.4e-17 relatively — fatal here, unlike q56: the
# concentrated teleport produces near-dyadic rank values landing
# EXACTLY on 6dp rounding boundaries (0.0053125 at sf0.001), where any
# ~1-ulp skew flips the digit. Two defenses, both matched engine-side:
# the base factor is spelled (1.0 - 0.85) so both engines evaluate the
# identical IEEE double, and the output double-rounds (9dp then 6dp) —
# measured 9dp margins 5.6e-11/1.7e-10/4.5e-11 raw at sf0.001/0.01/0.1
# (>= 500x the residual cross-engine drift), so ROUND(r, 9) is
# bit-identical cross-engine and the 6dp decision — including exact .5
# halves, which both engines round HALF-UP on identical inputs —
# cannot diverge. Post-9dp 6dp margins for non-boundary rows:
# 0.125/0.136 (1e-6 units) at sf0.01/0.1.
_Q68_SQL = """
WITH
sub AS (SELECT DISTINCT src, dst FROM (
  SELECT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem WHERE l_orderkey < 200)),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM sub UNION ALL SELECT dst FROM sub)),
s AS (SELECT id FROM verts WHERE id % 100 = 1),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM s),
t0 AS (SELECT v.id, CASE WHEN s.id IS NOT NULL THEN 1.0/ns.ns ELSE 0.0 END AS t
       FROM verts v CROSS JOIN ns LEFT JOIN s ON s.id = v.id),
od AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM sub GROUP BY src),
p0 AS (SELECT id, t AS r FROM t0),
p1 AS (SELECT v.id, (1.0 - 0.85)*t0.t + 0.85*COALESCE(SUM(p.r/od.deg), 0.0) AS r
       FROM verts v JOIN t0 ON t0.id = v.id
       LEFT JOIN sub e ON e.dst = v.id LEFT JOIN p0 p ON p.id = e.src
       LEFT JOIN od ON od.src = e.src GROUP BY v.id, t0.t),
p2 AS (SELECT v.id, (1.0 - 0.85)*t0.t + 0.85*COALESCE(SUM(p.r/od.deg), 0.0) AS r
       FROM verts v JOIN t0 ON t0.id = v.id
       LEFT JOIN sub e ON e.dst = v.id LEFT JOIN p1 p ON p.id = e.src
       LEFT JOIN od ON od.src = e.src GROUP BY v.id, t0.t),
p3 AS (SELECT v.id, (1.0 - 0.85)*t0.t + 0.85*COALESCE(SUM(p.r/od.deg), 0.0) AS r
       FROM verts v JOIN t0 ON t0.id = v.id
       LEFT JOIN sub e ON e.dst = v.id LEFT JOIN p2 p ON p.id = e.src
       LEFT JOIN od ON od.src = e.src GROUP BY v.id, t0.t)
SELECT id, ROUND(ROUND(r, 9), 6) AS pr FROM p3
"""


@_q("q68_personalized_pagerank", _Q68_SQL,
    "personalized PageRank / random-walk-with-restart (VERDICT r13 "
    "item 7): teleport mass concentrated uniformly on the q57 source "
    "set (id % 100 = 1) — the seed-based curation primitive (pages "
    "'near' a trusted seed set). Same 3-shuffle Pregel loop as q56 "
    "with one extra |V|-row teleport column on the checkpointed vertex "
    "table; hash-certified against a DuckDB unrolled-iteration replica")
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.pagerank import pagerank

    gs = _q15_edges(spark, sf_dir)
    e = gs.edges
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    sources = verts.where(F.pmod(F.col("id"), F.lit(100)) == 1)
    return pagerank(gs, iters=3, sources=sources).select("id", "pr")


# Weighted LPA oracle: the q60 3-round unroll with COUNT(*) replaced by
# SUM(DECIMAL weight) — weights go through DECIMAL(18,2) on both sides,
# so every score is exact and the hash needs no float margins (the q60
# integer-exactness property preserved under weighting). Parallel edges
# and both directions of a pair SUM into one symmetric weight first.
_Q69_SQL = """
WITH
sub AS (SELECT src, dst, w FROM (
  SELECT o_custkey AS src, 1000000 + o_orderkey AS dst,
         CAST(o_totalprice AS DECIMAL(18,2)) AS w
  FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey,
         CAST(l_extendedprice AS DECIMAL(18,2))
  FROM lineitem WHERE l_orderkey < 200)
  WHERE src <> dst),
eu AS (SELECT u, v, SUM(w) AS w FROM (
  SELECT src AS u, dst AS v, w FROM sub UNION ALL SELECT dst, src, w FROM sub)
  GROUP BY u, v),
l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM eu),
c1 AS (SELECT e.v AS id, l.lbl, SUM(e.w) AS c FROM eu e JOIN l0 l ON l.id = e.u GROUP BY 1, 2),
p1 AS (SELECT id, lbl FROM (SELECT id, lbl,
        ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1),
l1 AS (SELECT l0.id, COALESCE(p1.lbl, l0.lbl) AS lbl FROM l0 LEFT JOIN p1 USING (id)),
c2 AS (SELECT e.v AS id, l.lbl, SUM(e.w) AS c FROM eu e JOIN l1 l ON l.id = e.u GROUP BY 1, 2),
p2 AS (SELECT id, lbl FROM (SELECT id, lbl,
        ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1),
l2 AS (SELECT l1.id, COALESCE(p2.lbl, l1.lbl) AS lbl FROM l1 LEFT JOIN p2 USING (id)),
c3 AS (SELECT e.v AS id, l.lbl, SUM(e.w) AS c FROM eu e JOIN l2 l ON l.id = e.u GROUP BY 1, 2),
p3 AS (SELECT id, lbl FROM (SELECT id, lbl,
        ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM c3) WHERE rn = 1),
l3 AS (SELECT l2.id, COALESCE(p3.lbl, l2.lbl) AS lbl FROM l2 LEFT JOIN p3 USING (id))
SELECT id, lbl FROM l3
"""


@_q("q69_weighted_lpa", _Q69_SQL,
    "weighted label propagation (VERDICT r13 item 7): each vertex "
    "adopts the label with the LARGEST summed incident edge weight, "
    "ties to the smallest label — weights ride DECIMAL(18,2) sums so "
    "every score comparison is exact cross-engine (q60's no-float-"
    "margins property preserved under weighting); certified on BOTH "
    "the driver fast path and the distributed loop via the q15d "
    "convention in tests")
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.lpa import weighted_label_propagation

    a = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 200)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(E.ORDER_OFFSET) + F.col("o_orderkey")).alias("dst"),
            F.col("o_totalprice").alias("val"),
        )
    )
    b = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 200)
        .select(
            (F.lit(E.ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
            (F.lit(E.PART_OFFSET) + F.col("l_partkey")).alias("dst"),
            F.col("l_extendedprice").alias("val"),
        )
    )
    gs = GraphStream(a.unionByName(b))
    return weighted_label_propagation(gs, iters=3).select("id", "lbl")


# The oracle unrolls 4 BPE merge rounds: pair counts via the q59
# UNNEST(range) bigram kernel, winner by (count DESC, a, b), and the
# merge APPLICATION as a DuckDB list_reduce replaying the engine's
# exact greedy fold (string accumulator with a chr(31) separator —
# tokens containing a literal 0x1F are filtered out of the symbol
# alphabet on BOTH engines (ADVICE r14, _bpe_tokenize), so no symbol
# can ever contain the separator and the contract holds for any input,
# not just the 0x1F-free fixture). All-integer + string semantics — no
# float margins; round N's winning count transitively certifies round
# N-1's merge application across every document.
def _q70_sql(rounds: int = 4) -> str:
    # the 1-row winner CROSS JOINs into the merge scan: DuckDB lambdas
    # reject subqueries, but capture sibling columns fine
    merge = (
        "CASE WHEN len(l) < 2 THEN l ELSE string_split(list_reduce(l, "
        "(acc, x) -> CASE WHEN list_last(string_split(acc, chr(31))) = "
        "w{r}.a AND x = w{r}.b "
        "THEN left(acc, len(acc) - len(list_last(string_split(acc, chr(31))))) "
        "|| w{r}.a || ' ' || w{r}.b "
        "ELSE acc || chr(31) || x END), chr(31)) END"
    )
    parts = [
        "WITH t0 AS (SELECT doc_id, "
        # explicit class == Java/Python-ASCII \s (incl. \x0B, which RE2
        # \s lacks — ADVICE r15: a vertical-tab document tokenized
        # differently in the oracle than in BOTH engine kernels)
        "list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), "
        "x -> x <> '' AND NOT contains(x, chr(31))) AS l "
        "FROM documents)"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f", p{r} AS (SELECT l[i] AS a, l[i+1] AS b, COUNT(*) AS c "
            f"FROM t{r - 1}, UNNEST(range(1, len(l))) AS u(i) "
            f"WHERE len(l) >= 2 GROUP BY 1, 2)"
        )
        parts.append(
            f", w{r} AS (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1)"
        )
        if r < rounds:
            parts.append(
                f", t{r} AS (SELECT doc_id, "
                + merge.replace("{r}", str(r))
                + f" AS l FROM t{r - 1}, w{r})"
            )
    sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round, a || ' ' || b AS sym, "
        f"CAST(c AS BIGINT) AS cnt FROM w{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + " " + sel


@_q("q70_bpe_merges", _q70_sql(),
    "BPE-style merge-rule induction, 4 bounded rounds (VERDICT r13 "
    "item 7): per round ONE (a,b)-keyed partial-agg count shuffle over "
    "row-locally formed adjacent pairs, a 1-row bounded winner take, "
    "and a shuffle-free array-fold map pass applying the merge "
    "greedily left-to-right — learned merges are space-joined symbols, "
    "so later rounds merge merged symbols (true BPE recursion). "
    "All-integer semantics; the DuckDB oracle replays the exact fold "
    "via list_reduce")
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(docs, rounds=4).select("round", "sym", "cnt")


# Window 24 / stride 16 over ~54-token docs → 2-4 chunks each; the
# oracle mirrors the closed-form chunk count and 1-based list slicing.
# All-integer + string semantics — no float margins (ceil over an exact
# small-int division cannot straddle engines).
_Q71_SQL = r"""
WITH tok AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
             FROM documents),
t AS (SELECT doc_id, l FROM tok WHERE len(l) > 0),
ch AS (SELECT doc_id, CAST(s.i AS BIGINT) AS chunk_id,
              array_to_string(l[(s.i*16)+1 : (s.i*16)+24], ' ') AS chunk,
              LEAST(24, len(l) - s.i*16) AS n_tokens
       FROM t, UNNEST(range(0, CASE WHEN len(l) <= 24 THEN 1
                                    ELSE CAST(ceil((len(l) - 24) / 16.0) AS BIGINT) + 1 END)) AS s(i))
SELECT doc_id, chunk_id, chunk, CAST(n_tokens AS BIGINT) AS n_tokens FROM ch
"""


@_q("q71_chunk_documents", _Q71_SQL,
    "overlapping token-window chunking (RAG indexing / fixed-context "
    "pretraining splitter): window 24, stride 16 — ZERO shuffles, the "
    "chunk index and window slices are row-local sequence/slice column "
    "expressions with expansion bounded by ~len/stride per doc; "
    "all-integer semantics, hash-certified against a closed-form "
    "DuckDB replica", memo_plan=True)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, window=24, stride=16).select(
        "doc_id", "chunk_id", "chunk", "n_tokens"
    )


# The oracle unrolls 3 synchronous 2-core peel steps over the enlarged
# (o_orderkey < 2000) fixture: per step a degree count, a keep set
# (degree >= k), and an endpoint restriction — then the surviving
# degrees. All-integer; the engine's early exit is idempotence-safe
# (fixed-round convention shared with q56/q60). Fixture measured at
# sf0.01: 5040 -> 4339 -> 4289 -> 4286 vertices across the 3 peels —
# every step does real work, none converges early.
_Q72_SQL = """
WITH sub AS (SELECT DISTINCT src, dst FROM (
  SELECT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders WHERE o_orderkey < 2000
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem WHERE l_orderkey < 2000)
  WHERE src <> dst),
eu0 AS (SELECT u, v FROM (SELECT src AS u, dst AS v FROM sub UNION ALL SELECT dst, src FROM sub)),
d0 AS (SELECT u, COUNT(*) AS c FROM eu0 GROUP BY u),
k0 AS (SELECT u FROM d0 WHERE c >= 2),
e1 AS (SELECT eu0.u, eu0.v FROM eu0 JOIN k0 a ON a.u = eu0.u JOIN k0 b ON b.u = eu0.v),
d1 AS (SELECT u, COUNT(*) AS c FROM e1 GROUP BY u),
k1 AS (SELECT u FROM d1 WHERE c >= 2),
e2 AS (SELECT e1.u, e1.v FROM e1 JOIN k1 a ON a.u = e1.u JOIN k1 b ON b.u = e1.v),
d2 AS (SELECT u, COUNT(*) AS c FROM e2 GROUP BY u),
k2 AS (SELECT u FROM d2 WHERE c >= 2),
e3 AS (SELECT e2.u, e2.v FROM e2 JOIN k2 a ON a.u = e2.u JOIN k2 b ON b.u = e2.v)
SELECT u AS id, COUNT(*) AS degree FROM e3 GROUP BY u
"""


@_q("q72_k_core", _Q72_SQL,
    "k-core peeling, k=2 x 3 synchronous steps (extension — graph-side "
    "curation: spam farms and orphan pages peel away): bounded "
    "snapshots peel via the driver-local fast path (the q57/q60 "
    "bounded-collect doctrine — 1.6 s of distributed per-round job "
    "floors avoided, measured r15); at scale, per step ONE vertex-"
    "keyed partial-agg degree count and two AQE-splittable semi-join "
    "endpoint restrictions, edge list checkpointed per step with the "
    "surviving-edge count riding the checkpoint Observation (free "
    "early exit) — all-integer, hash-certified against a DuckDB "
    "unrolled-peel replica on BOTH paths (distributed forced in tests)")
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.kcore import k_core

    a = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(E.ORDER_OFFSET) + F.col("o_orderkey")).alias("dst"),
        )
    )
    b = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 2000)
        .select(
            (F.lit(E.ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
            (F.lit(E.PART_OFFSET) + F.col("l_partkey")).alias("dst"),
        )
    )
    return k_core(
        GraphStream(a.unionByName(b)), k=2, rounds=3
    ).select("id", "degree")


# The oracle unrolls 2 unnormalized HITS rounds over the q15 fixture:
# auth_t = in-sum of hub_{t-1}, hub_t = out-sum of auth_t, hub_0 = 1.
# All-integer (the unnormalized contract exists exactly so this hash
# needs no float margins — see algos/hits.py).
_Q73_SQL = """
WITH
sub AS (SELECT DISTINCT src, dst FROM (
  SELECT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem WHERE l_orderkey < 200)
  WHERE src <> dst),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM sub UNION ALL SELECT dst FROM sub)),
a1 AS (SELECT v.id, COALESCE(x.a, 0) AS a FROM verts v LEFT JOIN
       (SELECT dst AS id, COUNT(*) AS a FROM sub GROUP BY dst) x USING (id)),
h1 AS (SELECT v.id, COALESCE(s.h, 0) AS h FROM verts v LEFT JOIN
       (SELECT e.src AS id, SUM(a1.a) AS h FROM sub e JOIN a1 ON a1.id = e.dst GROUP BY e.src) s
       USING (id)),
a2 AS (SELECT v.id, COALESCE(s.a, 0) AS a FROM verts v LEFT JOIN
       (SELECT e.dst AS id, SUM(h1.h) AS a FROM sub e JOIN h1 ON h1.id = e.src GROUP BY e.dst) s
       USING (id)),
h2 AS (SELECT v.id, COALESCE(s.h, 0) AS h FROM verts v LEFT JOIN
       (SELECT e.src AS id, SUM(a2.a) AS h FROM sub e JOIN a2 ON a2.id = e.dst GROUP BY e.src) s
       USING (id))
SELECT h2.id, CAST(h2.h AS BIGINT) AS hub, CAST(a2.a AS BIGINT) AS auth
FROM h2 JOIN a2 ON a2.id = h2.id
"""


@_q("q73_hits", _Q73_SQL,
    "HITS hubs & authorities, 2 unnormalized rounds (extension — the "
    "query-dependent link-analysis signal next to PageRank): bounded "
    "snapshots run the driver-local fast path (bounded-collect "
    "doctrine, exact integers so bit-safe by construction — 2.9 -> "
    "0.45 s measured r15); at scale, per round two keyed shuffles "
    "(edge join vs the |V|-row score table + partial-agg sum, then "
    "the mirror) — UNNORMALIZED by contract so every score is an "
    "exact integer and the hash needs no float margins; "
    "hash-certified against a DuckDB unrolled replica on BOTH paths "
    "(distributed forced in tests)")
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.algos.hits import hits

    return hits(_q15_edges(spark, sf_dir), iters=2).select("id", "hub", "auth")


# Batched BPE (VERDICT r14 item 3). The oracle replays the engine's
# greedy symbol-disjoint selection EXACTLY: per round, pair counts (the
# q70 kernel), a top-(4*batch_k) candidate pool by (c DESC, a, b), then
# batch_k unrolled selection CTEs — each takes the lowest-ranked pool
# candidate sharing no symbol with any earlier selection — and ONE
# chained fold pass applying the selected rules in order (each rule a
# list_reduce through a 1-row MIN-padded table: an empty selection pads
# to NULL symbols, and a NULL-rule fold is the identity, matching the
# engine applying fewer than batch_k folds). All-integer + string — no
# float margins; disjointness makes the selected counts exact (see
# ext/text.py _pick_disjoint).
_Q74_FOLD = (
    "CASE WHEN len(l) < 2 THEN l ELSE string_split(list_reduce(l, "
    "(acc, x) -> CASE WHEN list_last(string_split(acc, chr(31))) = "
    "{w}.a AND x = {w}.b "
    "THEN left(acc, len(acc) - len(list_last(string_split(acc, chr(31))))) "
    "|| {w}.a || ' ' || {w}.b "
    "ELSE acc || chr(31) || x END), chr(31)) END"
)


def _q74_sql(rounds: int = 2, batch_k: int = 4) -> str:
    # t0/c{r}/fold CTEs are MATERIALIZED: the selection CTEs reference
    # the pool up to 3*(K-1) times and DuckDB's default inlining
    # re-expands each reference down to a fresh parquet scan —
    # exponential scan blowup (observed: 'Too many open files' at
    # sf0.001 with a 20k fd limit)
    parts = [
        "WITH t0 AS MATERIALIZED (SELECT doc_id, "
        # explicit class == Java/Python-ASCII \s (incl. \x0B, which RE2
        # \s lacks — ADVICE r15: a vertical-tab document tokenized
        # differently in the oracle than in BOTH engine kernels)
        "list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), "
        "x -> x <> '' AND NOT contains(x, chr(31))) AS l "
        "FROM documents)"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f", p{r} AS (SELECT l[i] AS a, l[i+1] AS b, COUNT(*) AS c "
            f"FROM t{r - 1}, UNNEST(range(1, len(l))) AS u(i) "
            f"WHERE len(l) >= 2 GROUP BY 1, 2)"
        )
        parts.append(
            f", c{r} AS MATERIALIZED (SELECT * FROM (SELECT a, b, c, "
            f"ROW_NUMBER() OVER (ORDER BY c DESC, a, b) AS rn FROM p{r}) "
            f"WHERE rn <= {4 * batch_k})"
        )
        for j in range(1, batch_k + 1):
            if j == 1:
                parts.append(
                    f", s{r}_1 AS (SELECT a, b, c, rn FROM c{r} "
                    f"ORDER BY rn LIMIT 1)"
                )
            else:
                used = " UNION ".join(
                    f"SELECT a AS s FROM s{r}_{i} UNION SELECT b FROM s{r}_{i}"
                    for i in range(1, j)
                )
                parts.append(
                    f", s{r}_{j} AS (SELECT a, b, c, rn FROM c{r} "
                    f"WHERE a NOT IN ({used}) AND b NOT IN ({used}) "
                    f"ORDER BY rn LIMIT 1)"
                )
            parts.append(
                f", w{r}_{j} AS (SELECT MIN(a) AS a, MIN(b) AS b FROM s{r}_{j})"
            )
        if r < rounds:
            # chained per-rule fold CTEs (t{r}_1..t{r}_K) instead of one
            # nested expression: each level would otherwise inline its
            # input three times (guard + both branches), 3^K blowup
            src = f"t{r - 1}"
            for j in range(1, batch_k + 1):
                tgt = f"t{r}" if j == batch_k else f"t{r}_{j}"
                parts.append(
                    f", {tgt} AS MATERIALIZED (SELECT doc_id, "
                    + _Q74_FOLD.replace("{w}", f"w{r}_{j}")
                    + f" AS l FROM {src}, w{r}_{j})"
                )
                src = tgt
    sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round, CAST({j} AS INT) AS rank, "
        f"a || ' ' || b AS sym, CAST(c AS BIGINT) AS cnt FROM s{r}_{j}"
        for r in range(1, rounds + 1)
        for j in range(1, batch_k + 1)
    )
    return "".join(parts) + " " + sel


@_q("q74_bpe_batched", _q74_sql(),
    "batched BPE merge induction (VERDICT r14 item 3 — production "
    "merge counts): per corpus pass, ONE pair-count shuffle, a bounded "
    "16-row candidate take, greedy selection of up to 4 mutually "
    "symbol-disjoint rules (disjointness keeps every selected count "
    "exact and lets the batch apply in one composed map pass), so 2 "
    "passes learn 8 rules where q70 learns 2 — the seconds/rule path "
    "to 32k-vocab tokenizers; hash-certified against a DuckDB replica "
    "replaying the identical pool cut, selection, and chained folds")
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(docs, rounds=2, batch_k=4).select(
        "round", "rank", "sym", "cnt"
    )


# Apply-side BPE (VERDICT r14 item 4): a FIXED literal merge table —
# the operator under test is corpus-scale APPLICATION of an
# already-learned table, so the rules are config constants replicated
# verbatim in both engines. The table exercises plain merges, a
# recursive rule consuming a previously merged symbol ('table hash' +
# 'value'), and a self-pair ('a a' — greedy non-overlapping). Output is
# the exploded (doc_id, pos, sym) encoding: any mis-merged document
# shifts positions for the rest of the doc, so the hash certifies the
# full fold. All-integer + string — no float margins.
_Q75_RULES = [
    ("table", "hash"), ("part", "filter"), ("customer", "join"),
    ("merge", "group"), ("table hash", "value"), ("a", "a"),
]


def _q75_sql() -> str:
    fold = (
        "CASE WHEN len(l) < 2 THEN l ELSE string_split(list_reduce(l, "
        "(acc, x) -> CASE WHEN list_last(string_split(acc, chr(31))) = "
        "'{a}' AND x = '{b}' "
        "THEN left(acc, len(acc) - len(list_last(string_split(acc, chr(31))))) "
        "|| '{a} {b}' "
        "ELSE acc || chr(31) || x END), chr(31)) END"
    )
    parts = [
        "WITH t0 AS (SELECT doc_id, "
        # explicit class == Java/Python-ASCII \s (incl. \x0B, which RE2
        # \s lacks — ADVICE r15: a vertical-tab document tokenized
        # differently in the oracle than in BOTH engine kernels)
        "list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), "
        "x -> x <> '' AND NOT contains(x, chr(31))) AS l "
        "FROM documents)"
    ]
    for i, (a, b) in enumerate(_Q75_RULES, 1):
        parts.append(
            f", t{i} AS (SELECT doc_id, "
            + fold.format(a=a, b=b)
            + f" AS l FROM t{i - 1})"
        )
    parts.append(
        f" SELECT doc_id, CAST(u.i AS BIGINT) AS pos, l[u.i + 1] AS sym "
        f"FROM t{len(_Q75_RULES)}, UNNEST(range(0, len(l))) AS u(i)"
    )
    return "".join(parts)


@_q("q75_bpe_encode", _q75_sql(),
    "apply-side BPE tokenization (VERDICT r14 item 4 — the operation "
    "pretraining pipelines run far more often than training): encode "
    "the corpus with a fixed 6-rule merge table including a recursive "
    "rule and a self-pair — ZERO shuffles, the entire encode is one "
    "narrow projection of composed row-local array folds over the "
    "document scan (each row executes once regardless of rule count); "
    "hash-certified per (doc_id, pos, sym) against a DuckDB "
    "list_reduce replay of the identical fold chain", memo_plan=True)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, _Q75_RULES)
    return enc.select(
        "doc_id", F.posexplode("toks").alias("pos", "sym")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "sym")


# Tokenizer evaluation: tokens-per-doc before/after applying the q75
# merge table. n_raw rides the encode pass at zero extra cost
# (with_raw_count); ratio = one IEEE division of exact BIGINTs — both
# engines divide the identical operands, so the 6dp round is applied to
# bit-identical doubles (the q63 exact-division argument; no measured
# margin needed). Token-free docs are excluded on both sides (0/0).
def _q76_sql() -> str:
    fold = (
        "CASE WHEN len(l) < 2 THEN l ELSE string_split(list_reduce(l, "
        "(acc, x) -> CASE WHEN list_last(string_split(acc, chr(31))) = "
        "'{a}' AND x = '{b}' "
        "THEN left(acc, len(acc) - len(list_last(string_split(acc, chr(31))))) "
        "|| '{a} {b}' "
        "ELSE acc || chr(31) || x END), chr(31)) END"
    )
    parts = [
        "WITH t0 AS (SELECT doc_id, "
        # explicit class == Java/Python-ASCII \s (incl. \x0B, which RE2
        # \s lacks — ADVICE r15: a vertical-tab document tokenized
        # differently in the oracle than in BOTH engine kernels)
        "list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), "
        "x -> x <> '' AND NOT contains(x, chr(31))) AS l "
        "FROM documents)"
    ]
    for i, (a, b) in enumerate(_Q75_RULES, 1):
        parts.append(
            f", t{i} AS (SELECT doc_id, "
            + fold.format(a=a, b=b)
            + f" AS l FROM t{i - 1})"
        )
    last = len(_Q75_RULES)
    parts.append(
        f" SELECT t0.doc_id, CAST(len(t0.l) AS BIGINT) AS n_raw, "
        f"CAST(len(t{last}.l) AS BIGINT) AS n_enc, "
        f"ROUND(CAST(len(t0.l) AS BIGINT) / CAST(len(t{last}.l) AS BIGINT), 6) "
        f"AS ratio "
        f"FROM t0 JOIN t{last} ON t0.doc_id = t{last}.doc_id "
        f"WHERE len(t{last}.l) > 0"
    )
    return "".join(parts)


@_q("q76_bpe_compression", _q76_sql(),
    "tokenizer evaluation — per-doc compression of the q75 merge table "
    "(tokens before/after, ratio): n_raw rides the single zero-shuffle "
    "encode pass at no extra cost (bpe_encode with_raw_count); ratio is "
    "one IEEE division of exact integers, so the hash needs no float "
    "margins; hash-certified against the q75 DuckDB fold replay "
    "extended with the t0 length join", memo_plan=True)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, _Q75_RULES, with_raw_count=True)
    return (
        enc.select(
            "doc_id",
            "n_raw",
            F.size("toks").cast("long").alias("n_enc"),
        )
        .where(F.col("n_enc") > 0)
        .withColumn("ratio", F.round(F.col("n_raw") / F.col("n_enc"), 6))
    )


# Exact top-fraction quality filter. The quality expression is the q42
# certified replica verbatim (bit-identical doubles cross-engine); the
# cutoff is an ACTUAL 6dp data value (order-statistic, no
# interpolation), found on both engines as the largest quality whose
# descending cumulative count reaches k = CEIL(0.7::DOUBLE * n) — the
# 0.7 multiplication is forced to the SAME IEEE double product on both
# sides (Python float * int vs DOUBLE * BIGINT), so k can never differ
# even when 0.7*n sits at an integer boundary. Ties at the cutoff are
# kept on both sides.
_Q77_SQL = r"""
WITH qx AS (SELECT doc_id, length(text) AS n_chars,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
                   length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
            FROM documents),
q2 AS (SELECT doc_id,
              ROUND((
                (CASE WHEN n_chars >= 20 AND n_chars <= 100000
                      THEN 1.0 ELSE 0.3 END)
                + (1.0 - LEAST(punct / GREATEST(n_chars, 1) * 4, 1.0))
                + (alpha / GREATEST(n_chars, 1))
                + (len(list_distinct(toks)) / GREATEST(len(toks), 1))
              ) / 4, 6) AS quality
       FROM qx),
kv AS (SELECT CAST(CEIL(CAST(0.7 AS DOUBLE) * COUNT(*)) AS BIGINT) AS k FROM q2),
qv AS (SELECT quality, COUNT(*) AS c FROM q2 GROUP BY 1),
cum AS (SELECT quality, SUM(c) OVER (ORDER BY quality DESC) AS cc FROM qv),
cut AS (SELECT MAX(quality) AS cutoff FROM cum, kv WHERE cc >= kv.k)
SELECT q2.doc_id, q2.quality FROM q2, cut WHERE q2.quality >= cut.cutoff
"""


@_q("q77_quality_fraction", _Q77_SQL,
    "budgeted quality curation — keep the top 70% of the corpus by "
    "quality_score (the Gopher/FineWeb 'keep the best X%' recipe, no "
    "hand-tuned absolute threshold): EXACT without a global corpus "
    "sort — round-6 quality has a <=1e6+1 value domain regardless of "
    "corpus size, so ONE quality-keyed partial-agg count shuffle "
    "collapses the corpus to a bounded table, the order-statistic "
    "cutoff comes from a window over that bounded table + a 1-value "
    "take, and the corpus is filtered by the broadcast scalar; ties "
    "kept, k parity via an IEEE-identical ceil product — "
    "hash-certified vs a DuckDB replica of the identical cumsum")
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gelly_streaming_spark.ext.text import quality_fraction_filter

    docs = load_table(spark, sf_dir, "documents")
    return quality_fraction_filter(docs, keep_frac=0.7).select(
        "doc_id", "quality"
    )


# Driver-certification export order. The correctness harness records the
# FIRST 50 entries of queries() in iteration order (CORRECTNESS_r08: 62
# registered, exactly the first 50 got rows). Since r10 the ordering is
# CHANGE-AWARE (VERDICT r9 item 1): gelly_streaming_spark.certify
# fingerprints every query (fn source + oracle SQL + transitive owner
# modules) against the committed cert_manifest.json, and any query whose
# fingerprint mismatches — or which has no manifest entry (new query,
# or one whose last driver row predates a code change, like
# q22/q31/q36/q37/q50 after r9) — sorts FIRST, ahead of this static
# tier list. The static list only breaks ties among NON-stale rows:
#   1. every SURVEY §2-mapped reference-operator row (36 names) — the
#      §2 coverage table re-certifies every round while slots allow;
#   2. extension rows by certification AGE, oldest evidence first
#      (r8-certified rows outrank r9-certified rows);
#   3. the r9-certified extension rows — freshest evidence, first to
#      rotate out when stale queries claim window slots.
_CERT_ORDER: list[str] = [
    # -- 1: SURVEY §2 reference-operator rows --
    "q01_scan", "q02_reverse", "q03_undirected", "q04_filter_edges",
    "q05_filter_vertices", "q05b_filter_vertices_semi", "q06_map_edges",
    "q07_distinct", "q08_degrees", "q09_in_out_degrees", "q10_counts",
    "q11_union_degrees", "q11b_intersect_except", "q12_slice_reduce",
    "q12c_sliding", "q12d_session", "q13_fold_neighbors",
    "q14_apply_neighbors", "q15_connected_components", "q15b_cc_summary",
    "q15c_cc_alternating", "q15d_cc_distributed", "q15e_cc_summary_windowed",
    "q15f_cc_summary_bulk", "q16_bipartiteness", "q17_triangles",
    "q18_windowed_triangles", "q19b_asof_join", "q20_topk_degrees",
    "q20b_rollup", "q25s_streaming_degrees", "q26s_streaming_cc",
    "q27s_streaming_window_append", "q28s_streaming_dedup",
    "q29s_streaming_degrees_update", "q30_bucketed_ingest",
    # -- 2: extension rows last certified in r8 (oldest evidence) --
    "q21b_dedup_groups", "q23b_embedding_near_dup", "q24_text_analysis",
    "q32_stratified_split", "q33_vocab", "q34_deterministic_sample",
    "q35_tfidf_keywords",
    # -- 3: extension rows certified in r9 (freshest evidence) --
    "q21_exact_dedup", "q22_jaccard_pairs", "q23_knn_cosine",
    "q31_near_dup_collapse", "q36_decontaminate", "q37_ngram_repetition",
    "q38_duplicate_passages", "q39_pii_scrub", "q40_pack_sequences",
    "q41_mixture_sample", "q42_curate_corpus", "q43_minhash_lsh",
    "q44_simhash_pairs", "q45_centroid_assign", "q46_knn_lsh",
    "q47_embedding_near_dup_lsh", "q48_knn_ivf_search", "q49_url_curation",
    "q50_source_overlap", "q51_passage_dedup", "q52_semantic_dedup",
    "q53_lm_perplexity", "q54_knn_pq_adc", "q55_semantic_decontaminate",
    "q56_pagerank", "q57_bfs_khop", "q58_quality_classifier",
    "q59_pmi_collocations", "q60_label_propagation",
    # -- r14 adversarial-skew certifications + distributed ANN training --
    "q61_cc_skew_hub", "q62_hot_shingle_passages", "q63_lsh_hot_bucket",
    "q64_passage_dedup_skew", "q65_ivf_train_distributed",
    "q66s_streaming_late_drop", "q67s_streaming_late_drop_update",
    "q68_personalized_pagerank", "q69_weighted_lpa", "q70_bpe_merges",
    "q71_chunk_documents", "q72_k_core", "q73_hits",
    # -- r15: batched BPE induction + apply-side tokenization +
    #    tokenizer evaluation + budgeted quality curation --
    "q74_bpe_batched", "q75_bpe_encode", "q76_bpe_compression",
    "q77_quality_fraction",
    # -- r17: forced-distributed bench lane for the driver-fast-path
    #    loop family (VERDICT r16 #2) --
    "q56d_pagerank_distributed",
]


def _export_order() -> list[str]:
    from gelly_streaming_spark.certify import (
        certified_rounds,
        self_stale_queries,
        stale_queries,
    )

    stale = stale_queries()
    urgent = self_stale_queries()
    rounds = certified_rounds()
    pos = {n: i for i, n in enumerate(_CERT_ORDER)}

    # three bands:
    #   0 — self-stale / never-certified: the query's own code or SQL
    #       changed; MUST re-certify this round;
    #   1 — needs-recert: owner-stale rows (a shared operator module
    #       changed underneath an otherwise-untouched query) AND fresh
    #       rows whose evidence is ≥2 rounds old — both re-certify
    #       while slots allow (overflow keeps its old manifest entry
    #       and rotates in next round);
    #   2 — fresh with recent evidence.
    # Band 1 sorts by EVIDENCE AGE first, then the static tier list
    # (r14: a wide owner-module change — e.g. registration plumbing
    # touching all memoized queries — used to fill the whole band with
    # round-(N-1) owner-stale rows and starve the oldest-evidence fresh
    # rows, so q22/q30 would have ridden r12 evidence through r14,
    # breaking the no-row-older-than-2-rounds freshness contract;
    # age-first ordering gives the oldest evidence the first claim
    # regardless of which band membership put it there). Band 2 keeps
    # the same age-first rotation (r12): whoever re-certified longest
    # ago claims the next free slot.
    max_round = max(rounds.values(), default=0)

    def key(n: str):
        if n in urgent:
            return (0, 0, pos.get(n, -1), n)
        if n in stale or rounds.get(n, 0) <= max_round - 1:
            return (1, rounds.get(n, 0), pos.get(n, -1), n)
        return (2, rounds.get(n, 0), pos.get(n, -1), n)

    return sorted(REGISTRY, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _export_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].sql
        for name in _export_order()
        if REGISTRY[name].sql is not None
    }
