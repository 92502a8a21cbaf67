"""k-core peeling — extension algorithm (graph curation primitive).

The reference library is CC / bipartiteness / spanner plus triangle
examples (SURVEY §2.9); it ships no coreness computation. The k-core —
the maximal subgraph where every vertex keeps degree ≥ k — is the
standard graph-side curation filter (link-spam farms and orphan pages
peel away; the web-graph analog of the text-side quality filters), and
the peeling loop is the same Pregel-style driver shape as the sibling
algorithms (SURVEY §7.4.H2).

Semantics (the certified q72 contract): undirected DISTINCT edges with
self-loops dropped; ``rounds`` synchronous peel steps, each removing
every vertex whose CURRENT degree is < k (and the edges touching it),
all removals within a step simultaneous; output is each surviving
vertex's degree in the subgraph after the final step. Fixed ``rounds``
with an early exit the step nothing peels (idempotent from then on, so
the exit cannot diverge from the fixed-round oracle — the LPA/PageRank
convention). Full convergence to the true k-core is ``converged=True``
(property-tested; bounded by |V| steps in theory, a handful in
practice).

100 TB shape: per step, ONE (vertex)-keyed partial-agg degree count
(map-side combine), then two semi-joins restricting the edge list to
surviving endpoints — sort-merge joins AQE can split on skew. The loop
is a ``loop.supersteps`` loop: the edge list checkpoints per step (plan
depth O(1), superseded blocks freed), and the step's surviving-edge
count rides the checkpoint job's Observation, so the early exit costs
no extra job. All arithmetic is integer — no float margins exist for
the cross-engine hash. Snapshots whose symmetrized edge list fits
``small_input_rows`` peel driver-locally instead (``loop.try_driver``):
the distributed loop's per-round floor is ~0.1 s job submit + ~0.2 s
compute and checkpoint at one partition, which the driver peel avoids.
"""

from __future__ import annotations

import collections
from functools import partial

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gelly_streaming_spark.algos.loop import supersteps, try_driver
from gelly_streaming_spark.operators.graphstream import GraphStream


def _peel_kernel(k: int, rounds: int, converged: bool, tbl) -> list[tuple]:
    """Driver kernel: synchronous peel of the collected symmetrized
    distinct adjacency."""
    pairs = list(
        zip(tbl.column("src").to_pylist(), tbl.column("dst").to_pylist())
    )
    step = 0
    while pairs:
        step += 1
        deg = collections.Counter(u for u, _v in pairs)
        keep = {v for v, d in deg.items() if d >= k}
        nxt = [(u, v) for u, v in pairs if u in keep and v in keep]
        if len(nxt) == len(pairs):
            break  # fixpoint — remaining steps are no-ops
        pairs = nxt
        if not converged and step >= rounds:
            break
    return sorted(collections.Counter(u for u, _v in pairs).items())


def k_core(
    stream: GraphStream,
    k: int = 2,
    rounds: int = 3,
    converged: bool = False,
    small_input_rows: int = 100_000,
) -> DataFrame:
    """Rows (id, degree): surviving vertices and their degrees after
    ``rounds`` synchronous k-core peel steps (``converged=True`` peels
    to the true k-core fixpoint instead). Inputs whose symmetrized
    distinct edge list fits ``small_input_rows`` peel driver-locally;
    the distributed loop below is the scale path, forced in tests with
    ``small_input_rows=0``."""
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"k_core: rounds must be >= 1, got {rounds}")
    e = (
        stream.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # symmetrize THEN distinct: an input holding both (a,b) and (b,a) is
    # one undirected edge, not two per direction
    eu = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    small = try_driver(
        eu, small_input_rows, partial(_peel_kernel, k, rounds, converged),
        "id {id}, degree bigint not null",
    )
    if small is not None:
        return small
    obs0 = Observation()
    eu = eu.observe(obs0, F.count(F.lit(1)).alias("m")).localCheckpoint()
    m0 = int(obs0.get["m"])

    def step(eu: DataFrame, _i: int) -> DataFrame:
        deg = eu.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.where(F.col("degree") >= k).select("src")
        return eu.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    if m0 > 0:
        # the edge list only shrinks: an unchanged count is the fixpoint
        eu = supersteps(
            eu,
            step,
            None if converged else rounds,
            signal=F.count(F.lit(1)),
            start=m0,
            width=(eu.sparkSession, m0),
        )
    return eu.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
