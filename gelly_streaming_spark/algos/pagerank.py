"""PageRank — extension algorithm (beyond the reference library).

The reference's algorithm library is CC / bipartiteness / spanner plus
triangle examples (SURVEY §2.9); it ships no PageRank. This extension
rounds out the graph surface with the canonical damped power iteration,
built on the same driver-loop machinery as the batch CC path (SURVEY
§7.4.H2: Spark has no streaming/in-job iteration, so the fixpoint is a
Pregel-style loop with lineage cut by localCheckpoint).

Semantics (the certified q56 contract): directed DISTINCT edges (a
multigraph's parallel edges collapse — unweighted PageRank), uniform
init 1/n, fixed iteration count, per-step
``r'(v) = (1-d)/n + d * SUM_{(u,v) in E} r(u)/outdeg(u)``.
Dangling vertices (no out-edges) contribute nothing — the simplified
convention, replicated verbatim in the DuckDB oracle; ranks therefore
sum to < 1 on graphs with dangling mass, which is fine for the
relative-ordering uses PageRank serves in curation (domain authority
scoring over a link graph).

100 TB shape: the loop-invariant (src, dst, outdeg) edge table is
materialized ONCE (one agg + one co-keyed join, then localCheckpoint);
each iteration is one src-keyed join against the |V|-row rank table,
one dst-keyed partial/final sum, and one left join back to the vertex
set — three keyed shuffles over monotonically |V|-bounded data. The
loop is a ``loop.supersteps`` loop: the rank table checkpoints every
4th round and after the last, so the plan depth stays bounded however
many iterations run, and the shuffle width follows the measured edge
count with AQE off at ≤4 partitions. Small graphs take the
exact-rational driver fast path (``loop.try_driver``).
"""

from __future__ import annotations

import collections
from fractions import Fraction
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.algos.loop import supersteps, try_driver
from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.plans.memory import free_checkpoint

_NO_SOURCES = (
    "pagerank: sources is empty (or disjoint from the graph) "
    "— personalized teleport mass is undefined"
)


def _round_pr_exact(fr) -> float:
    """The output contract ``ROUND(ROUND(r, 9), 6)`` evaluated on the
    EXACT rational rank: HALF_UP quantize at 9dp then 6dp (Spark's
    ROUND on doubles is BigDecimal(shortest-repr).setScale(HALF_UP);
    a ≤9-significant-digit decimal survives the double round-trip
    verbatim, so quantizing the exact value twice is the same function
    wherever the 9dp decision margin exceeds the double path's drift —
    measured ≥4.5e-11 raw vs ≤~1e-13 drift, q56/q68 docstrings)."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    with localcontext() as ctx:
        ctx.prec = 50  # |error| ≤ ~1e-50 relative — far inside the margins
        x = Decimal(fr.numerator) / Decimal(fr.denominator)
    return float(
        x.quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
        .quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )


def _pagerank_kernel(iters: int, damping: float, tbl, stbl=None) -> list[tuple]:
    """Driver kernel: power iteration in EXACT rational arithmetic
    (``fractions.Fraction``). Damping enters as the exact binary value of
    the double literal the distributed plan uses, and teleport and 1/n
    are exact rationals, so the iterated rank is the true real number
    the JVM doubles approximate to ~1e-13. The output rounding
    (``_round_pr_exact``) therefore lands on the same 6dp value as the
    distributed plan and the DuckDB unrolled replica wherever the
    measured 9dp margins (≥4.5e-11 raw) hold — no float-summation-order
    hazard at all. Given a second table, its ids are the teleport
    sources."""
    edges = list(
        zip(tbl.column("src").to_pylist(), tbl.column("dst").to_pylist())
    )
    if not edges:
        return []
    verts = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(verts)
    tele: dict | None = None
    if stbl is not None:
        vset = set(verts)
        srcs = {x for x in stbl.column("id").to_pylist() if x in vset}
        if not srcs:
            raise ValueError(_NO_SOURCES)
        t_on = Fraction(1, len(srcs))
        tele = {v: (t_on if v in srcs else Fraction(0)) for v in verts}
    d = Fraction(damping)  # exact binary value of the plan's double literal
    outdeg = collections.Counter(u for u, _ in edges)
    if tele is None:
        base = (Fraction(1) - d) / n
        r = dict.fromkeys(verts, Fraction(1, n))
    else:
        one_minus_d = Fraction(1) - d
        r = dict(tele)
    for _ in range(iters):
        contrib = {u: r[u] / outdeg[u] for u in outdeg}
        sums = collections.defaultdict(Fraction)
        for u, v in edges:
            sums[v] += contrib[u]
        if tele is None:
            r = {v: base + d * sums[v] for v in verts}
        else:
            r = {v: one_minus_d * tele[v] + d * sums[v] for v in verts}
    return [(v, _round_pr_exact(r[v])) for v in verts]


def pagerank(
    stream: GraphStream,
    iters: int = 3,
    damping: float = 0.85,
    sources: DataFrame | None = None,
    small_input_rows: int = 100_000,
    stats: dict | None = None,
) -> DataFrame:
    """Rows (id, pr) — damped PageRank after ``iters`` power-iteration
    steps over the distinct directed edge set, pr rounded to 6dp (the
    certified cross-engine contract; margins measured in the q56
    docstring).

    The distributed loop cuts lineage every 4th round: each uncut round
    deepens the plan by two joins and one aggregate, which Catalyst
    absorbs comfortably for a handful of rounds, while every
    localCheckpoint is an eager materialization job — a 3-iteration
    run pays ZERO mid-loop materializations. The final rank table is
    always checkpointed — the returned plan must not reference the
    loop-invariant checkpoints the loop releases.

    ``sources``: PERSONALIZED PageRank — the teleport mass concentrates
    uniformly on the given source vertex set (first column, intersected
    with the graph's vertices) instead of all vertices: init r0 = tele,
    per step ``r'(v) = (1-d)·tele(v) + d·Σ r(u)/outdeg(u)`` with
    ``tele(v) = 1/|S|`` on sources, 0 elsewhere — the
    random-walk-with-restart similarity underlying seed-based curation
    (find pages 'near' a trusted seed set). One extra |V|-row teleport
    column carried on the checkpointed vertex table; the loop shape is
    unchanged. With ``sources=None`` the uniform path (and its certified
    q56 plan) runs.

    Graphs whose distinct edge list fits ``small_input_rows`` run the
    driver-local exact-rational fast path; the distributed loop below is
    the scale path, forced with ``small_input_rows=0``. ``stats``, if
    given, receives ``{"fast_path": bool}`` — the q56d distributed-path
    certification asserts on it."""
    if iters < 1:
        raise ValueError(f"pagerank: iters must be >= 1, got {iters}")
    e_plan = stream.edges.select("src", "dst").distinct()
    side = () if sources is None else (
        sources.select(F.col(sources.columns[0]).alias("id")).distinct(),
    )
    small = try_driver(
        e_plan, small_input_rows, partial(_pagerank_kernel, iters, damping),
        "id {id}, pr double", *side,
    )
    if stats is not None:
        stats["fast_path"] = small is not None
    if small is not None:
        return small
    e = e_plan.localCheckpoint()
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = verts.count()
    if n == 0:
        # Empty edge stream: 1/n and (1-d)/n are undefined — return the
        # empty (id, pr) frame; nothing downstream reads the checkpoints.
        free_checkpoint(e)
        free_checkpoint(verts)
        return verts.select(
            F.col("id"), F.lit(0.0).alias("pr")
        ).where(F.lit(False))
    held = [e, verts]
    eo = vt = None
    base = (1.0 - damping) / n

    def setup() -> DataFrame:
        # runs at the loop's shuffle width
        nonlocal eo, vt
        od = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
        eo = e.join(od, "src").localCheckpoint()  # loop-invariant
        held.append(eo)
        vt = verts
        if sources is None:
            return verts.withColumn("r", F.lit(1.0 / n))
        s = side[0].join(verts, "id", "left_semi")
        ns = s.count()
        if ns == 0:
            raise ValueError(_NO_SOURCES)
        # teleport column rides the checkpointed vertex table; the
        # per-round left join reads vt either way, so the personalized
        # loop costs no extra shuffle
        vt = verts.join(
            s.withColumn("_s", F.lit(True)), "id", "left"
        ).select(
            "id",
            F.when(F.col("_s"), F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("tele"),
        ).localCheckpoint()
        held.append(vt)
        return vt.select("id", F.col("tele").alias("r"))

    def step(ranks: DataFrame, _i: int) -> DataFrame:
        contribs = eo.join(ranks, eo["src"] == ranks["id"]).select(
            F.col("dst").alias("id"), (F.col("r") / F.col("deg")).alias("c")
        )
        sums = contribs.groupBy("id").agg(F.sum("c").alias("s"))
        propagated = F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
        return vt.join(sums, "id", "left").select(
            "id",
            (
                (
                    F.lit(base)
                    if sources is None
                    else F.lit(1.0 - damping) * F.col("tele")
                )
                + propagated
            ).alias("r"),
        )

    ranks = supersteps(
        setup,
        step,
        iters,
        block=4,
        width=(e.sparkSession, e.count()),
        aqe_off=True,
        held=held,
        free_init=False,
    )
    # Double-round (9dp then 6dp), matched verbatim in the oracles: a
    # concentrated teleport produces near-dyadic ranks landing EXACTLY
    # on 6dp boundaries (0.0053125 at q68/sf0.001), where a ~1-ulp
    # cross-engine drift flips the digit. Both engines' 9dp margins are
    # ≥4.5e-11 raw (measured, q68 docstring), so ROUND(r, 9) yields
    # bit-identical doubles and the 6dp decision — including the exact
    # .5 halves, which both engines round HALF-UP on identical inputs —
    # can no longer diverge. For the uniform path this is a no-op: the
    # q56 margin (4.4e-9 raw) exceeds the ≤0.5e-9 9dp perturbation.
    return ranks.select(
        "id", F.round(F.round("r", 9), 6).alias("pr")
    )
