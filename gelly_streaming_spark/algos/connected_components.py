"""Connected components.

Reference parity: library/ConnectedComponents.java + summaries/DisjointSet.java
(REF:src/main/java/org/apache/flink/graph/streaming/library/ConnectedComponents.java:~30 [H];
REF:.../summaries/DisjointSet.java:~40 [H]) — a windowed union-find summary
aggregation — and example/IterativeConnectedComponents.java (streaming
min-label iteration, REF:.../example/IterativeConnectedComponents.java [M]).

Two Spark-native implementations:

1. ``connected_components`` — distributed min-label propagation to
   fixpoint (Pregel-style driver loop). Each round is one shuffle-join +
   one partial/final min-agg; lineage is cut with localCheckpoint so the
   plan doesn't grow with iterations. Converges in O(diameter) rounds —
   the right trade for the short-diameter graphs this engine targets.
   For 100 TB adversarial (long-path) graphs, switch to
   ``connected_components_alternating`` (O(log n) rounds). Both share
   the driver union-find fast path and the shuffle-width policy of
   ``loop.py``; the min-label loop is a ``loop.supersteps`` loop.

2. ``connected_components_summary`` — the reference's exact
   SummaryAggregation shape: per-bucket union-find folds merged globally
   (O(num_buckets) forest merge on the driver, never raw edges — fixes
   the reference's parallelism-1 timeWindowAll funnel, SURVEY.md §7.4.H1).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gelly_streaming_spark.algos.loop import shuffle_width, supersteps, try_driver
from gelly_streaming_spark.operators.aggregation import SummaryAggregation
from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.plans.memory import free_checkpoint, track_persist
from gelly_streaming_spark.plans.probe import _estimated_bytes

# Measured edge count above which the alternating-CC star operations
# switch to their skew-safe (partial-agg + AQE-splittable join) form.
_SKEW_SAFE_EDGES = 50_000_000
_CC_SCHEMA = "id {id}, component {id}"


def _union_find(tbl) -> list[tuple]:
    """Driver kernel: union-find needs no symmetrization (union(a, b) is
    direction-free), so the canonical edge set is folded as collected."""
    ds = DisjointSet()
    for a, b in zip(tbl.column("src").to_pylist(), tbl.column("dst").to_pylist()):
        ds.union(a, b)
    return sorted((x, ds.find(x)) for x in ds.parent)


def connected_components(
    stream: GraphStream,
    max_iter: int = 100,
    small_input_rows: int = 100_000,
) -> DataFrame:
    """Per-vertex minimum-reachable-id labels: rows (id, component).

    Adaptive execution (the same move as broadcast-join selection): a
    graph whose canonical edge list is under ``small_input_rows`` is
    solved with a driver-local union-find — O(E α(E)) in one task beats a
    multi-round distributed fixpoint whose per-round cost is all job
    overhead at that size. Larger inputs run the distributed min-label
    propagation; ``small_input_rows=0`` forces it (tests do).

    Two label-propagation rounds run between convergence checks — each
    check is a driver action, so batching rounds roughly halves
    wall-clock on short-diameter graphs at the cost of ≤1 wasted round
    after the fixpoint. Raises if ``max_iter`` rounds pass without the
    fixpoint (a partially-propagated labeling is WRONG components,
    never returned silently — min-label needs O(diameter) rounds, so a
    long-path graph should use ``connected_components_alternating``)."""
    e = (
        stream.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    small = try_driver(e, small_input_rows, _union_find, _CC_SCHEMA)
    if small is not None:
        return small
    # Symmetrize once; reuse across every iteration.
    eu = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    def step(lab: DataFrame, _i: int) -> DataFrame:
        if "_c0" not in lab.columns:
            # a block's first round carries the label it started from, so
            # the block's checkpoint job can count the labels it changed
            lab = lab.withColumn("_c0", F.col("comp"))
        msgs = eu.join(lab, eu.src == lab.id).select(
            F.col("dst").alias("id"), F.col("comp")
        )
        return (
            lab.unionByName(msgs, allowMissingColumns=True)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.max("_c0").alias("_c0"))
        )

    labels = supersteps(
        lambda: eu.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(),
        step,
        max_iter,
        block=2,
        signal=F.count_if(F.col("comp") != F.col("_c0")),
        fail=f"min-label CC did not converge within max_iter={max_iter} rounds "
        "(needs O(diameter)) — raise max_iter or use "
        "connected_components_alternating (O(log n) rounds)",
        width=(eu.sparkSession, eu.count()),
        aqe_off=True,
        held=[eu],
    )
    return labels.select("id", F.col("comp").alias("component"))


def connected_components_alternating(
    stream: GraphStream,
    max_iter: int = 50,
    stats: dict | None = None,
    small_input_rows: int = 100_000,
    skew_safe: bool | None = None,
) -> DataFrame:
    """CC via alternating large-star / small-star contractions — the
    O(log n)-round map-reduce formulation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014; public algorithm).

    Why it exists next to min-label: min-label propagation converges in
    O(diameter) rounds — fatal on a 100 TB path-shaped graph (millions of
    shuffle rounds); the star operations halve tree heights every other
    round regardless of diameter, so a path contracts in O(log n) rounds.
    Each round is two aggregation-shaped shuffles (a per-vertex min + an
    edge rewrite join); no driver materialization, lineage cut per round.

    - large-star: every node connects its LARGER neighbors to the minimum
      of its closed neighborhood;
    - small-star: every node connects its smaller-or-equal neighbors (and
      itself) to that minimum.

    At fixpoint the edge set is a forest of stars (child → component
    minimum). ``stats``, if given, receives ``{"rounds": N}`` — the
    convergence-rate property tests read it — and ``{"skew_safe": bool}``.

    Adaptive (same policy as ``connected_components``): inputs under
    ``small_input_rows`` canonical edges run a driver-local union-find —
    a multi-round distributed fixpoint over a bounded graph is pure job
    overhead; ``small_input_rows=0`` forces the distributed path.

    ``skew_safe`` picks the neighborhood-min formulation:

    - ``False`` — window aggregate over ``partitionBy(src)``: ONE
      shuffle per star op, but every row of a vertex's neighborhood
      lands in one window task, and AQE cannot split a window
      partition. Right for bounded/certification inputs.
    - ``True`` — partial-aggregated ``groupBy(src).min`` joined back to
      the rows: two shuffles per star op, but the min survives any
      degree skew via map-side combine, and the row-attach join is a
      sort-merge join AQE's skew handling CAN split. Star contraction
      concentrates edges onto component roots — at 100 TB a giant
      component's root is exactly the hub this formulation exists for.
    - ``None`` (default) — auto: windows while the measured edge count
      is bounded (≤ ``_SKEW_SAFE_EDGES``), the skew-safe form beyond;
      re-decided per round from the checkpoint observation's count, so
      a contracting graph can legitimately switch mid-run.
    """
    e = (
        stream.edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    small = try_driver(e, small_input_rows, _union_find, _CC_SCHEMA)
    if small is not None:
        if stats is not None:
            stats["rounds"] = 0
        return small
    # track_persist, not bare persist: a mid-loop failure unwinds past
    # the unpersist below, and an untracked frame would be invisible to
    # release_persisted for the rest of the session.
    e = track_persist(e)
    e0 = e  # the persisted base edge set (read again by the final verts)

    # Every helper references its CHECKPOINTED input exactly once on the
    # window path: symmetrization is an explode (not a union of two
    # scans), and the neighborhood minimum is a window aggregate over
    # the same shuffle. Catalyst does no common-subexpression sharing
    # across subtrees, so a naive join formulation once compiled each
    # round to ~24 duplicated scan subtrees of the checkpoint; the
    # skew-safe path below re-introduces the join deliberately but over
    # the cheap checkpoint scan (2 scans/op, not 24), trading one extra
    # shuffle per star op for skew immunity (see the docstring).
    def _sym(edges: DataFrame) -> DataFrame:
        return edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                    F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
                )
            ).alias("x")
        ).select(F.col("x.s").alias("src"), F.col("x.d").alias("dst"))

    _w = Window.partitionBy("src")
    skew = {"safe": bool(skew_safe)}

    def _with_nbr_min(rows: DataFrame) -> DataFrame:
        # attach min(dst) over each src group as `_mn`
        if skew["safe"]:
            mins = rows.groupBy("src").agg(F.min("dst").alias("_mn"))
            return rows.join(mins, "src")
        return rows.withColumn("_mn", F.min("dst").over(_w))

    def _large_star(edges: DataFrame) -> DataFrame:
        # min over the CLOSED neighborhood; no output dedup — duplicates
        # are bounded by |sym| and collapse in small-star's distinct
        return (
            _with_nbr_min(_sym(edges))
            .withColumn("mn", F.least(F.col("_mn"), F.col("src")))
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        # every node of a ≤-neighborhood (dst and src both) links to its
        # minimum: emit both endpoints via explode, dedup once
        le = _sym(edges).where(F.col("dst") <= F.col("src"))
        return (
            _with_nbr_min(le)
            .select(
                F.explode(F.array(F.col("dst"), F.col("src"))).alias("src"),
                F.col("_mn").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    rounds = 0
    converged = False
    # Right-size the shuffle width BEFORE any job runs, from Catalyst's
    # optimized-plan size estimate (parquet footer sizes — available
    # without running a job); once round 1's observation returns the
    # MEASURED contracted edge count, the loop re-sizes from that. On a
    # contracted/small graph each job at the session's full shuffle
    # width is pure task-launch + AQE-replan overhead (measured ~25% of
    # q15d wall-clock), and the width never exceeds the session's.
    est_bytes = _estimated_bytes(e)  # unknown → huge
    if skew_safe is None:
        # auto: ~16 bytes/canonical edge — flip to the skew-safe star
        # ops when the estimate clears the threshold; re-decided per
        # round below once measured counts exist
        skew["safe"] = est_bytes > _SKEW_SAFE_EDGES * 16
    with shuffle_width(stream.edges.sparkSession, aqe_off=True) as resize:
        resize(est_bytes // (64 << 20) + 1)
        # No up-front checksum job: round 1 both materializes the
        # persist and records the first (count, set-hash) signature via
        # its observe(), so convergence tracking starts one round in.
        # The only input that loses a round to this is one that is
        # ALREADY a star forest (detected after 2 rounds instead of 1).
        prev_sum = None
        # ONE job per contraction round: the round's eager
        # localCheckpoint both cuts lineage (mandatory — each star
        # operator references its input 3-4×, so two un-cut rounds
        # compile to hundreds of duplicated subtrees; measured 36 s vs
        # 7 s on the q15d graph) and, via observe(), computes the
        # convergence checksum as a side aggregation of the same
        # materialization. A set unchanged by large∘small is a fixpoint
        # of the round function, and that fixpoint is a star forest.
        while rounds < max_iter:
            obs = Observation()
            new_e = (
                _small_star(_large_star(e))
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(
                        F.bit_xor(
                            F.xxhash64(
                                F.least("src", "dst"), F.greatest("src", "dst")
                            )
                        ),
                        F.lit(0),
                    ).alias("h"),
                )
                .localCheckpoint()
            )
            rounds += 1
            m = obs.get  # populated by the checkpoint job's listener
            cur_sum = (m["n"], m["h"])
            if e is not e0:
                free_checkpoint(e)
            e = new_e
            if cur_sum == prev_sum:
                converged = True
                break
            if prev_sum is None:
                # first measured edge count — re-size to the data
                resize(cur_sum[0] // 250_000 + 1)
            if skew_safe is None:
                # a contracting graph legitimately shrinks back under the
                # threshold — fall back to the cheaper window form then
                skew["safe"] = cur_sum[0] > _SKEW_SAFE_EDGES
            prev_sum = cur_sum
        if stats is not None:
            stats["rounds"] = rounds
            stats["skew_safe"] = skew["safe"]
        if not converged:
            # a partially-contracted forest is WRONG components, not a
            # slower answer — never return it silently
            e0.unpersist()
            free_checkpoint(e)
            raise RuntimeError(
                f"alternating CC did not reach the checksum fixpoint within "
                f"max_iter={max_iter} rounds (O(log n) expected — raise max_iter)"
            )

        # Labels come straight from the CONTRACTED set — never from a
        # re-scan of e0. At the checksum fixpoint the set is a star
        # forest over exactly e0's vertex set (each round's small-star
        # re-emits both endpoints of every ≤-edge, so no vertex is ever
        # dropped): every non-root vertex appears EXACTLY ONCE as a src
        # with its component minimum as dst — small-star's per-src
        # window emits one (src, mn) row per group and a src with two
        # distinct parents could not be a round-function fixpoint (the
        # next min-window would rewrite it) — and every root appears
        # only as a dst. So children rows ARE label rows as-is, with no
        # groupBy (the oracle hash-parity and the min-label cross-check
        # property test would both catch a duplicate-src violation);
        # roots self-label via one distinct.
        labels = e.select(F.col("src").alias("id"), F.col("dst").alias("component")).unionByName(
            e.select(F.col("dst").alias("id"), F.col("dst").alias("component")).distinct()
        )
        out = labels.localCheckpoint()
    e0.unpersist()
    free_checkpoint(e)
    return out


# ---------------------------------------------------------------------------
# Union-find summary variant (reference SummaryAggregation shape)
# ---------------------------------------------------------------------------
class DisjointSet:
    """Mergeable union-find forest with path-halving finds and
    union-by-MIN-ID (NOT union-by-size: the min id must be the root so
    component labels are deterministic — the invariant the fast path,
    the summary variant, and the oracle hash parity all depend on;
    path-halving alone keeps finds amortized O(log n)). Role of
    REF:.../summaries/DisjointSet.java [H]; fresh dict-based
    implementation."""

    __slots__ = ("parent",)

    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return
        if ra > rb:  # min-id root ⇒ deterministic component labels
            ra, rb = rb, ra
        self.parent[rb] = ra

    def merge(self, other: "DisjointSet") -> "DisjointSet":
        for x, p in other.parent.items():
            self.union(x, p)
        return self


def cc_summary_aggregation(
    window: str | None = None,
    num_buckets: int = 64,
    merge_levels: int = 0,
) -> SummaryAggregation:
    """The CC summary aggregation itself (union-find fold / forest-merge
    combine / label transform) — shared by the batch A6/A7 runner below
    and the A8 streaming bulk runner
    (streaming.summary.StreamingSummaryAggregation, q15f)."""

    def fold(s: DisjointSet, pdf: pd.DataFrame) -> DisjointSet:
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            s.union(a, b)
        return s

    def transform(s: DisjointSet) -> list[tuple]:
        return sorted((x, s.find(x)) for x in s.parent)

    return SummaryAggregation(
        initial=DisjointSet,
        fold_pdf=fold,
        combine_fn=lambda a, b: a.merge(b),
        transform_fn=transform,
        out_schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("component", T.LongType()),
            ]
        ),
        num_buckets=num_buckets,
        window=window,
        transient_state=False,
        merge_levels=merge_levels,
        # union-find is order-free: skip the ts carry + per-group sort
        order_sensitive=False,
    )


def connected_components_summary(
    stream: GraphStream,
    window: str | None = None,
    num_buckets: int = 64,
    merge_levels: int = 0,
) -> DataFrame:
    """CC via the reference's partial-fold + merge pattern (A6/A7).

    With ``window`` set this is WindowGraphAggregation: one component
    mapping emitted per tumbling window, state carried across windows
    (transientState=false, as the reference CC uses). ``merge_levels``
    tree-reduces partial forests on executors before the driver merge."""
    return stream.aggregate(
        cc_summary_aggregation(window, num_buckets, merge_levels)
    )
