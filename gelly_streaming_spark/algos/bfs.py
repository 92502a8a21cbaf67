"""Bounded-horizon BFS (k-hop distances) — extension algorithm.

The reference library has no shortest-path operator (SURVEY §2.9: CC /
bipartiteness / spanner; its spanner keeps a BFS inside the summary
merge but never exposes distances). This extension exposes the k-hop
neighborhood distance map — the graph-feature-extraction primitive
(hop-bounded reachability, influence radii, seed-set expansion) — as a
frontier-parallel Pregel loop on the batch-CC machinery.

Semantics (the certified q57 contract): undirected ("all"), out- or
in-directed hop distance from a source vertex set, bounded at
``max_hops``; rows (id, dist) for exactly the vertices reached, dist 0
for sources. All arithmetic is integer — no float margins exist for
the cross-engine hash, unlike the cosine/PageRank families.

100 TB shape: each round joins the edge table against ONLY the current
frontier (the rows discovered last round — frontier-bounded work,
never |V| per round), anti-joins out already-settled vertices, and
appends to the checkpointed distance table; the loop (a
``loop.supersteps`` loop) exits early the round the frontier empties,
detected as a side observation of the checkpoint job that runs
anyway. The frontier reads off a localCheckpoint, so AQE sees its
EXACT materialized size and picks broadcast-hash when it fits (no
static hint: a blanket ``F.broadcast(frontier)`` would pin a
billion-row mid-expansion frontier onto every executor at scale)."""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gelly_streaming_spark.algos.loop import supersteps, try_driver
from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.plans.memory import free_checkpoint


def _bfs_kernel(max_hops: int, tbl, stbl) -> list[tuple]:
    """Driver kernel: level-synchronous BFS over the collected adjacency
    from the collected source ids (both ride the same row bound, so a
    huge seed set over a tiny graph takes the distributed path)."""
    adj: dict = {}
    for a, b in zip(tbl.column("src").to_pylist(), tbl.column("dst").to_pylist()):
        adj.setdefault(a, []).append(b)
    dist = {v: 0 for v in stbl.column(0).to_pylist()}
    frontier = list(dist)
    for h in range(max_hops):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = h + 1
                    nxt.append(v)
        if not nxt:
            break
        frontier = nxt
    return sorted(dist.items())


def bfs_distances(
    stream: GraphStream,
    sources: DataFrame,
    max_hops: int = 6,
    direction: str = "all",
    small_input_rows: int = 100_000,
) -> DataFrame:
    """Rows (id, dist): minimum hop count from any vertex in ``sources``
    (a 1-column id frame), capped at ``max_hops``. Unreached vertices
    emit no row. Graphs whose adjacency fits ``small_input_rows`` run
    the driver-local BFS; ``small_input_rows=0`` forces the distributed
    frontier loop."""
    if max_hops < 0:
        raise ValueError(f"bfs_distances: max_hops must be >= 0, got {max_hops}")
    if direction not in ("out", "in", "all"):
        raise ValueError(f"bfs_distances: direction must be out/in/all, got {direction!r}")
    e = stream.edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    if direction == "all":
        eu = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    elif direction == "in":
        eu = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    else:
        eu = e
    small = try_driver(
        eu,
        small_input_rows,
        partial(_bfs_kernel, max_hops),
        "id {id}, dist int not null",
        sources.select(sources.columns[0]).distinct(),
    )
    if small is not None:
        return small

    # The edge and source counts ride their checkpoint jobs. The loop is
    # job-floor-bound: one eager checkpoint per hop, each hop's frontier
    # depending on the last. Measured and rejected: AQE off at tiny
    # widths (the frontier join wants AQE's empty/broadcast shortcuts)
    # and fusing two hops per checkpoint (the deeper plan and extra
    # exchanges ate the barrier savings).
    obs_e = Observation()
    eu = eu.observe(obs_e, F.count(F.lit(1)).alias("n")).localCheckpoint()
    obs0 = Observation()
    dist = (
        sources.select(F.col(sources.columns[0]).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n0 = int(obs0.get["n"])
    if n0 == 0:
        free_checkpoint(eu)
        return dist.select("id", "dist")

    def step(dist: DataFrame, h: int) -> DataFrame:
        # the frontier is exactly the rows discovered last hop, read off
        # the fresh checkpoint
        frontier = dist.where(F.col("dist") == h)
        msgs = (
            eu.join(frontier, eu["src"] == frontier["id"])
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        new = msgs.join(dist, "id", "left_anti").withColumn("dist", F.lit(h + 1))
        return dist.unionByName(new)

    # the distance table only grows: an unchanged row count means the
    # frontier emptied
    dist = supersteps(
        dist,
        step,
        max_hops,
        signal=F.count(F.lit(1)),
        start=n0,
        width=(eu.sparkSession, int(obs_e.get["n"])),
        held=[eu],
    )
    return dist.select("id", "dist")
