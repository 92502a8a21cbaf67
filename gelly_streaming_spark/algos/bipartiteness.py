"""Bipartiteness check (odd-cycle detection).

Reference parity: library/BipartitenessCheck.java + summaries/Candidates.java
(REF:src/main/java/org/apache/flink/graph/streaming/library/BipartitenessCheck.java:~30 [H];
REF:.../summaries/Candidates.java:~40-160 [H]; util/SignedVertex.java [M]).
The reference maintains per-component 2-colorings and fails a component
when an edge joins same-signed vertices.

Spark-native formulations:

- ``odd_vertex_reach`` — exact parity-reachability fixpoint matching the
  DuckDB recursive oracle (Q16): a vertex is "odd" iff it reaches itself
  over an odd-length walk ⇔ its component contains an odd cycle. Output
  per graph: (is_bipartite, odd_vertices). Intended for bounded fixture
  graphs (state is O(n²) pairs).

- ``bipartiteness_check`` — the scalable path: components via min-label
  propagation with parity carried along; a component is non-bipartite iff
  some edge closes equal parities. O(diameter) joins, state O(V).

Both distributed loops run on ``loop.supersteps``; the driver fast path
is ``loop.try_driver``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gelly_streaming_spark.algos.loop import supersteps, try_driver
from gelly_streaming_spark.operators.graphstream import GraphStream


def _symmetrize(edges: DataFrame) -> DataFrame:
    e = edges.select("graph", "src", "dst").distinct()
    return e.unionByName(
        e.select("graph", F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _odd_vertices(tbl) -> list[tuple]:
    """Driver kernel: 2-coloring over collected (graph, src, dst) rows —
    symmetrization and dedup happen as dict inserts, then one BFS per
    component: odd vertex ⇔ lies in a non-bipartite component."""
    import collections as _c

    adj: dict = _c.defaultdict(lambda: _c.defaultdict(set))
    for g, a, b in zip(*(tbl.column(c).to_pylist() for c in ("graph", "src", "dst"))):
        adj[g][a].add(b)
        adj[g][b].add(a)
    out = []
    for g in sorted(adj):
        nbrs = adj[g]
        odd_vertices = 0
        color: dict = {}
        for v in sorted(nbrs):
            if v in color:
                continue
            comp, ok = [v], True
            color[v] = 0
            q = _c.deque([v])
            while q:
                u = q.popleft()
                for w in nbrs[u]:
                    if w not in color:
                        color[w] = 1 - color[u]
                        comp.append(w)
                        q.append(w)
                    elif color[w] == color[u]:
                        ok = False
            if not ok:
                odd_vertices += len(comp)
        out.append((g, odd_vertices == 0, odd_vertices))
    return out


def odd_vertex_reach(
    tagged_edges: DataFrame, max_iter: int = 64, small_input_rows: int = 100_000
) -> DataFrame:
    """``tagged_edges``: (graph, src, dst). Returns one row per graph:
    (graph, is_bipartite, odd_vertices).

    Adaptive: under ``small_input_rows`` raw edges the parity closure
    runs driver-local (per-graph BFS 2-coloring, ``loop.try_driver``)
    instead of the distributed pair fixpoint, whose O(n²) pair state is
    pure job overhead at fixture sizes; ``small_input_rows=0`` forces
    the distributed path. The probe collects the raw input: symmetrization
    and dedup are O(E) dict inserts on the driver."""
    g = tagged_edges.schema["graph"]
    small = try_driver(
        tagged_edges.select("graph", "src", "dst"),
        small_input_rows,
        _odd_vertices,
        f"graph {g.dataType.simpleString()}{'' if g.nullable else ' not null'}, "
        "is_bipartite boolean not null, odd_vertices bigint not null",
    )
    if small is not None:
        return small
    eu = _symmetrize(tagged_edges).localCheckpoint()
    obs0 = Observation()
    walk = (
        eu.select("graph", F.col("src").alias("root"))
        .distinct()
        .select("graph", "root", F.col("root").alias("id"), F.lit(0).alias("parity"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )

    def step(walk: DataFrame, _i: int) -> DataFrame:
        nxt = walk.join(eu, (walk.graph == eu.graph) & (walk.id == eu.src)).select(
            walk.graph, "root", F.col("dst").alias("id"),
            (F.lit(1) - F.col("parity")).alias("parity"),
        )
        return walk.unionByName(nxt).distinct()

    # two expansion steps per convergence check; the closure only grows,
    # so an unchanged row count is the fixpoint
    walk = supersteps(
        walk,
        step,
        2 * max_iter,
        block=2,
        signal=F.count(F.lit(1)),
        start=int(obs0.get["n"]),
        # a truncated parity closure can MISS odd vertices — reporting
        # is_bipartite=true from it would be a silent false negative
        fail=f"parity closure still growing after max_iter={max_iter} "
        "double-steps — raise max_iter or use bipartiteness_check "
        "(O(V) state) for long-diameter graphs",
        held=[eu],
    )
    odd = (
        walk.where((F.col("root") == F.col("id")) & (F.col("parity") == 1))
        .select("graph", "root")
        .distinct()
    )
    graphs = tagged_edges.select("graph").distinct()
    return (
        graphs.join(odd, "graph", "left")
        .groupBy("graph")
        .agg(F.count("root").alias("odd_vertices"))
        .select(
            "graph",
            (F.col("odd_vertices") == 0).alias("is_bipartite"),
            "odd_vertices",
        )
    )


def bipartiteness_check(
    stream: GraphStream, max_iter: int = 100, return_labels: bool = False
):
    """Scalable check: rows (component, is_bipartite, conflict_edges).
    With ``return_labels`` also returns the (id, comp, parity) coloring —
    the certificate the streaming incremental check carries as state.

    Propagates (component, parity) labels: each vertex adopts the min
    reachable id with the parity of the adopting path. On convergence an
    edge whose endpoints share component and parity certifies an odd
    cycle. Same shuffle profile as connected_components (join + min-agg
    per round), and the same ``loop.supersteps`` convergence test: the
    count of vertices whose (comp, parity) changed in the round rides
    the round's checkpoint job."""
    e = (
        stream.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    eu = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    def step(lab: DataFrame, _i: int) -> DataFrame:
        # state: (id, comp, parity) — parity of some shortest adoption
        # path; `_c0` carries the round's starting label
        lab = lab.withColumn("_c0", F.struct("comp", "parity"))
        msgs = eu.join(lab, eu.src == lab.id).select(
            F.col("dst").alias("id"),
            F.col("comp"),
            (F.lit(1) - F.col("parity")).alias("parity"),
        )
        return (
            lab.unionByName(msgs, allowMissingColumns=True)
            .groupBy("id")
            .agg(F.min(F.struct("comp", "parity")).alias("s"), F.max("_c0").alias("_c0"))
            .select("id", F.col("s.comp").alias("comp"), F.col("s.parity").alias("parity"), "_c0")
        )

    labels = supersteps(
        eu.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"), F.lit(0).alias("parity"))
        .localCheckpoint(),
        step,
        max_iter,
        signal=F.count_if(F.struct("comp", "parity") != F.col("_c0")),
        # truncated propagation = wrong components AND possibly missed
        # odd cycles — never return it silently
        fail=f"(comp, parity) propagation did not converge within "
        f"max_iter={max_iter} rounds (needs O(diameter)) — raise max_iter",
        held=[eu],
    )

    lab = labels.select("id", "comp", "parity")
    conflicts = (
        e.join(lab.withColumnsRenamed({"id": "src", "comp": "c1", "parity": "p1"}), "src")
        .join(lab.withColumnsRenamed({"id": "dst", "comp": "c2", "parity": "p2"}), "dst")
        .where((F.col("c1") == F.col("c2")) & (F.col("p1") == F.col("p2")))
        .groupBy(F.col("c1").alias("component"))
        .agg(F.count(F.lit(1)).alias("conflict_edges"))
    )
    comps = lab.select(F.col("comp").alias("component")).distinct()
    verdict = comps.join(conflicts, "component", "left").select(
        "component",
        F.col("conflict_edges").isNull().alias("is_bipartite"),
        F.coalesce("conflict_edges", F.lit(0)).alias("conflict_edges"),
    )
    if return_labels:
        return lab, verdict
    return verdict
