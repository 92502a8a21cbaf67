"""HITS hubs & authorities — extension algorithm (Kleinberg 1999).

The reference library ships no link-analysis operators (SURVEY §2.9);
this complements PageRank with the query-dependent hub/authority
decomposition — the other classical web-curation signal (a page that
LINKS TO many authorities is a hub; a page linked FROM many hubs is an
authority).

Semantics (the certified q73 contract): directed DISTINCT edges,
self-loops dropped; ``iters`` synchronous mutual-reinforcement rounds
from ``hub_0 = 1``:

    auth_t(v) = Σ_{(u,v) ∈ E} hub_{t-1}(u)
    hub_t(u)  = Σ_{(u,v) ∈ E} auth_t(v)

UNNORMALIZED — Kleinberg's per-round L2 normalization only rescales
(the ranking is identical), and dropping it makes every score an exact
INTEGER for unit init: the cross-engine hash needs no float margins at
all (the q57/q60 exactness class, where q56/q68 needed measured
margins and double-rounding). Production callers that want bounded
magnitudes normalize the returned columns once. Scores grow like
(singular value)^{2t}, so fixed small ``iters`` is also the numeric
contract — 64-bit sums overflow around iters ≈ 6 on dense graphs; the
certified contract is 2.

100 TB shape: per round two keyed shuffles (a src-keyed join of edges
against the |V|-row hub table + dst-keyed partial-agg sum; then the
mirror for hubs) over |V|/|E|-bounded data — the q56 loop shape without
the teleport column, run by ``loop.supersteps``; the final frame is
checkpointed so the returned plan is self-contained (2 rounds stay
shallow, so no mid-loop cuts).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gelly_streaming_spark.algos.loop import supersteps, try_driver
from gelly_streaming_spark.operators.graphstream import GraphStream


def _hits_kernel(iters: int, tbl) -> list[tuple]:
    """Driver kernel: the mutual-reinforcement rounds in exact Python
    integers (no overflow, matching the bounded-iters 64-bit contract on
    the JVM side), so the fast path is bit-safe by construction."""
    edges = list(
        zip(tbl.column("src").to_pylist(), tbl.column("dst").to_pylist())
    )
    verts = {u for u, _ in edges} | {v for _, v in edges}
    hub = {v: 1 for v in verts}
    auth = {v: 0 for v in verts}
    for _ in range(iters):
        auth = {v: 0 for v in verts}
        for u, v in edges:
            auth[v] += hub[u]
        hub = {v: 0 for v in verts}
        for u, v in edges:
            hub[u] += auth[v]
    return sorted((v, hub[v], auth[v]) for v in verts)


def hits(
    stream: GraphStream, iters: int = 2, small_input_rows: int = 100_000
) -> DataFrame:
    """Rows (id, hub, auth): unnormalized HITS scores after ``iters``
    synchronous rounds (exact integers — see module docstring). Inputs
    whose distinct edge list fits ``small_input_rows`` run the
    driver-local fast path; the distributed loop below is the scale
    path, forced in tests with ``small_input_rows=0``."""
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    e_plan = (
        stream.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    small = try_driver(
        e_plan, small_input_rows, partial(_hits_kernel, iters),
        "id {id}, hub bigint not null, auth bigint not null",
    )
    if small is not None:
        return small
    obs_e = Observation()
    e = e_plan.observe(obs_e, F.count(F.lit(1)).alias("m")).localCheckpoint()
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    zero = F.lit(0).cast("long")

    def step(hub: DataFrame, _i: int) -> DataFrame:
        a_sums = (
            e.join(hub, e["src"] == hub["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("h").alias("a"))
        )
        auth = verts.join(a_sums, "id", "left").select(
            "id", F.coalesce("a", zero).alias("a")
        )
        h_sums = (
            e.join(auth, e["dst"] == auth["id"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("h"))
        )
        # the |V|-row auth table carries the round's auth scores along
        return auth.join(h_sums, "id", "left").select(
            "id", F.coalesce("h", zero).alias("h"), "a"
        )

    # few rounds stay shallow: the only checkpoint is the final one
    out = supersteps(
        verts.withColumn("h", F.lit(1).cast("long")),
        step,
        iters,
        block=iters,
        width=(e.sparkSession, int(obs_e.get["m"])),
        held=[e, verts],
        free_init=False,
    )
    return out.select("id", F.col("h").alias("hub"), F.col("a").alias("auth"))
