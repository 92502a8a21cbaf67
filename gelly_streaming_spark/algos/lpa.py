"""Label propagation community detection — extension algorithm.

The reference library is CC / bipartiteness / spanner plus triangle
examples (SURVEY §2.9); it ships no community detection. This extension
adds SYNCHRONOUS label propagation (Raghavan et al. 2007, public
method) with a deterministic tie-break, built on the same driver-loop
machinery as the batch CC / PageRank / BFS paths (SURVEY §7.4.H2: Spark
has no in-job iteration, so the fixpoint is a Pregel-style loop with
lineage cut by localCheckpoint).

Semantics (the certified q60 contract): undirected distinct edges with
self-loops dropped; labels initialize to the vertex id; each round
every vertex adopts the label most frequent among its neighbors' labels
from the PREVIOUS round (synchronous update), ties broken by the
SMALLEST label; an isolated vertex keeps its label. Fixed ``iters``
rounds with an early exit the round no label changes (idempotent from
then on, so the exit cannot diverge from the fixed-round oracle). All
arithmetic is integer — no float margins exist for the cross-engine
hash. The deterministic min-label tie-break is what makes the classic
randomized algorithm certifiable; it is also the standard
reproducibility variant.

100 TB shape: per round, ONE (dst, lbl)-keyed partial-agg count shuffle
over the neighbor-label stream (map-side combine compresses repeated
labels before the exchange) and one dst-keyed argmax fold —
``min(struct(-cnt, lbl))`` picks most-frequent-then-smallest WITHOUT a
window sort, for any orderable id type — then one left join back to the
|V|-row label table. Every per-round frame is |V|- or |E|-bounded. The
loop is a ``loop.supersteps`` loop: the label table checkpoints per
round, the changed-label count rides that job (the early exit costs no
extra job), and the shuffle width follows the measured edge count.
Weighted LPA (q69) runs the same loop and fast path with summed edge
weights as scores.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gelly_streaming_spark.algos.loop import supersteps, try_driver
from gelly_streaming_spark.operators.graphstream import GraphStream


def _lpa_kernel(iters: int, tbl) -> list[tuple]:
    """Driver kernel: synchronous LPA over the collected symmetrized
    adjacency. Weights, when collected, are exact decimals (Python
    Decimal), so score sums and comparisons match the distributed
    decimal path and the oracle's DECIMAL arithmetic."""
    src, dst = tbl.column("src").to_pylist(), tbl.column("dst").to_pylist()
    ws = tbl.column("w").to_pylist() if "w" in tbl.column_names else [1] * len(src)
    # the adjacency is symmetrized, so every vertex appears as a
    # source — adjacency keys ARE the vertex set
    adj: dict = {}
    for a, b, w in zip(src, dst, ws):
        adj.setdefault(a, []).append((b, w))
    lbl = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        changed = False
        for v, neigh in adj.items():
            scores: dict = {}
            for u, w in neigh:
                scores[lbl[u]] = scores.get(lbl[u], 0) + w
            # highest score, ties -> smallest label
            best = min(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[v] = best
            changed = changed or best != lbl[v]
        lbl = nxt
        if not changed:
            break
    return sorted(lbl.items())


def _lpa(
    stream: GraphStream, iters: int, small_input_rows: int, weight_col: str | None
) -> DataFrame:
    """The one LPA loop: neighbor labels scored by count, or by summed
    edge weight when ``weight_col`` is given."""
    if weight_col is None:
        e = (
            stream.edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        eu = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        score = F.count(F.lit(1))
    else:
        w = F.col(weight_col).cast("decimal(18,2)").alias("w")
        e = stream.edges.select("src", "dst", w).where(F.col("src") != F.col("dst"))
        eu = (
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
        score = F.sum("w")
    small = try_driver(eu, small_input_rows, partial(_lpa_kernel, iters), "id {id}, lbl {id}")
    if small is not None:
        return small

    obs_e = Observation()
    eu = eu.observe(obs_e, F.count(F.lit(1)).alias("n")).localCheckpoint()
    labels = (
        eu.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )

    def step(labels: DataFrame, _i: int) -> DataFrame:
        # neighbor labels arrive at dst; (dst, lbl) partial-agg score,
        # then the argmax fold: min(struct(-score, lbl)) is
        # highest-score-then-SMALLEST-label without a window sort, for
        # any orderable label type
        cnt = (
            eu.join(labels, eu["src"] == labels["id"])
            .select(F.col("dst").alias("vid"), "lbl", *(["w"] if weight_col else []))
            .groupBy("vid", "lbl")
            .agg(score.alias("c"))
        )
        pick = cnt.groupBy("vid").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("lbl")))["lbl"].alias("new_lbl")
        )
        new_lbl = F.coalesce(F.col("new_lbl"), F.col("lbl"))
        return labels.join(pick, labels["id"] == pick["vid"], "left").select(
            "id", new_lbl.alias("lbl"), (new_lbl != F.col("lbl")).alias("_chg")
        )

    # synchronous LPA is idempotent once no label changes, so the early
    # exit cannot diverge from the fixed-round contract
    return supersteps(
        labels,
        step,
        iters,
        signal=F.count_if(F.col("_chg")),
        width=(eu.sparkSession, int(obs_e.get["n"])),
        held=[eu],
    )


def label_propagation(
    stream: GraphStream,
    iters: int = 3,
    small_input_rows: int = 100_000,
) -> DataFrame:
    """Rows (id, lbl): each vertex's community label after ``iters``
    synchronous label-propagation rounds (min-label tie-break) over the
    undirected distinct edge set, self-loops dropped. Isolated-by-
    filtering vertices cannot occur (vertices are derived from the same
    filtered edge set), but a vertex whose neighbors all carry its own
    label simply keeps it."""
    if iters < 1:
        raise ValueError(f"label_propagation: iters must be >= 1, got {iters}")
    return _lpa(stream, iters, small_input_rows, None)


def weighted_label_propagation(
    stream: GraphStream,
    iters: int = 3,
    weight_col: str = "val",
    small_input_rows: int = 100_000,
) -> DataFrame:
    """Rows (id, lbl): weighted synchronous LPA — each vertex adopts the
    label with the LARGEST summed incident edge weight among its
    neighbors' previous-round labels, ties broken by the smallest label.

    Weight contract (exact, certifiable): weights go through
    DECIMAL(18,2) and every score is a decimal SUM — aggregation order
    cannot flip a comparison, so the cross-engine hash needs no float
    margins (the q60 integer-exactness property, kept under weighting).
    Parallel edges and both directions of an unordered pair SUM into
    one symmetric weight before the loop (one (src, dst) partial-agg
    shuffle); self-loops are dropped. Otherwise the loop and fast path
    are ``label_propagation``'s."""
    if iters < 1:
        raise ValueError(
            f"weighted_label_propagation: iters must be >= 1, got {iters}"
        )
    return _lpa(stream, iters, small_input_rows, weight_col)
