"""Triangle counting — exact, windowed, and sampled-estimate.

Reference parity: example/ExactTriangleCount.java (per-vertex adjacency
state + neighborhood intersection, REF:.../example/ExactTriangleCount.java:~40-160 [M]),
example/WindowTriangles.java (per-window candidate/closing-edge matching,
REF:.../example/WindowTriangles.java:~60-170 [M]), and the one-pass
sampling estimators (BroadcastTriangleCount / IncidenceSamplingTriangleCount
[M], Buriol-style).

Spark-first: the exact plan is DEGREE-ORDERED edge-iterator counting
(compact-forward / Latapy orientation): orient each canonical edge from
its lower-(degree, id) endpoint to the higher one, build each vertex's
sorted higher-neighbor array once, then count per edge (u,v) the size of
N⁺(u) ∩ N⁺(v) with a JVM array_intersect — every triangle x≺y≺z is
found exactly once, at its (x,y) edge. The orientation bounds every
adjacency array at O(√m) entries regardless of hub skew, and — unlike
the join-based wedge plan, which materialized 41M wedge rows at sf0.1
(measured: 25 s naive, 10 s degree-ordered) — nothing wider than the
edge list is ever shuffled: the adjacency table (one row per vertex) is
broadcast and edges stream through two hash probes + an in-core
intersection. The windowed variant adds the window bucket to every key,
which also co-partitions by window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.plans.memory import track_persist


def _canonical(edges: DataFrame, extra_keys: list[str] | None = None) -> DataFrame:
    keys = extra_keys or []
    return (
        edges.select(
            *keys,
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _oriented_triangles(
    e: DataFrame, keys: list[str], materialized: bool = False
) -> DataFrame:
    """Rows = one per triangle (keyed by ``keys``), via degree orientation.
    ``e`` must be canonical (src<dst, distinct) with ``keys`` columns."""
    # e feeds degrees + both wedge sides: materialize once instead of
    # re-deriving the upstream plan (e.g. the co-purchase self-join) 5x.
    # Callers holding an already-materialized frame (the shared copart
    # view in sources/edges.py) pass materialized=True. persist (not
    # localCheckpoint): evictable under memory pressure and freed by the
    # ContextCleaner once unreferenced — these paths are non-iterative,
    # so there is no lineage growth to cut.
    if not materialized:
        e = track_persist(e)
    deg = (
        e.select(*keys, F.explode(F.array("src", "dst")).alias("id"))
        .groupBy(*keys, "id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # NO static broadcast hints here: this path is selected precisely
    # when the edge set exceeds broadcast_limit, so the adjacency table
    # (whose arrays carry the WHOLE oriented edge list) and the O(V) deg
    # table can both exceed the broadcast hard limit at scale — a forced
    # hint would drive the 100 TB path into a driver OOM. AQE's runtime
    # size check broadcasts them when (and only when) they actually fit.
    ed = (
        e.join(
            deg.select(*keys, F.col("id").alias("src"), F.col("d").alias("ds")),
            [*keys, "src"],
        )
        .join(
            deg.select(*keys, F.col("id").alias("dst"), F.col("d").alias("dd")),
            [*keys, "dst"],
        )
    )
    low_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    o = ed.select(
        *keys,
        F.when(low_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(low_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )
    o = track_persist(o)  # feeds the adjacency build + the edge stream
    adj = o.groupBy(*keys, "u").agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
    au = adj.select(*keys, "u", F.col("nbrs").alias("nu"))
    av = adj.select(*keys, F.col("u").alias("v"), F.col("nbrs").alias("nv"))
    per_edge = (
        o.join(au, [*keys, "u"])
        .join(av, [*keys, "v"], "left")
        .select(
            *keys,
            F.when(F.col("nv").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect(F.col("nu"), F.col("nv"))))
            .alias("tri"),
        )
    )
    return per_edge


def triangle_count(
    stream: GraphStream,
    *,
    canonical: bool = False,
    materialized: bool = False,
    strategy: str = "auto",
    broadcast_limit: int = 5_000_000,
) -> DataFrame:
    """Exact global triangle count: one row (n_triangles).

    ``canonical=True`` asserts the input is already (src<dst, distinct) —
    e.g. the shared copart materialization — skipping a redundant dedup
    shuffle; ``materialized=True`` additionally skips the persist.

    Physical strategies (the global analog of the windowed auto-pick):

    - ``"broadcast_kernel"``: build the canonical edge arrays driver-side
      (exactly a broadcast hash join's build: bounded by
      ``broadcast_limit`` edges ≈ 16 B/edge), broadcast them, and run the
      vectorized numpy kernel in parallel slices — task *i* generates the
      wedges of pivot vertices with ``u % P == i`` and probes the shared
      membership array. Replaces 3 shuffles + 4 broadcast builds with one
      broadcast + one P-task stage (measured 4.2 s → ~1 s at sf0.1,
      m=1.2 M, 41 M wedges). Forced over more than ``broadcast_limit``
      edges it raises ``ValueError`` after a bounded collect.
    - ``"joins"``: the degree-ordered broadcast-join plan — the scale
      path when the edge set itself is too large to broadcast.
    - ``"auto"``: pick by edge count (one cheap count on the — usually
      already materialized — canonical set).
    """
    from gelly_streaming_spark.plans.probe import bounded_take

    e = stream.edges if canonical else _canonical(stream.edges)
    tbl = None
    spark = stream.edges.sparkSession
    # Probe + prepped-broadcast memo per (session, frame identity) — the
    # same immutable-input materialized-view doctrine as the copart edge
    # cache and the windowed strategy memo: a repeated count over an
    # unchanged session-lifetime edge set must not re-collect the
    # build side (the probe toArrow of ~1.2M rows was the dominant
    # repeat cost) nor re-derive the oriented/sorted build. The held
    # frame reference keeps id() stable for the session. ONLY frames the
    # CALLER declared materialized (genuine session-lifetime views, e.g.
    # the copart cache) are memoized: a call-local frame persisted just
    # below has a transient id(), so a memo entry for it could never hit
    # again — it would only pin the frame and its ~15 MB broadcast until
    # session end. release_persisted() drains this memo.
    memo = getattr(spark, "_gss_tri_prep", None)
    if memo is None:
        memo = {}
        spark._gss_tri_prep = memo  # noqa: SLF001 — session memo
    mkey = id(e) if materialized else None
    cached = memo.get(mkey) if mkey is not None else None
    if strategy == "auto":
        if not materialized:
            e = track_persist(e)
            materialized = True
        if cached is not None:
            nrows = cached[1]
        else:
            # the size probe IS the build-side collect: grab at most
            # broadcast_limit+1 rows — if the limit spills over, fall to
            # the joins plan having transferred a bounded amount, else
            # the arrow table is already in hand (no separate count job)
            tbl = bounded_take(
                e.select("src", "dst"), broadcast_limit, as_arrow=True
            )
            nrows = tbl.num_rows
            if mkey is not None and nrows > broadcast_limit:
                # memoize the joins decision too: the next call must not
                # re-collect broadcast_limit rows just to re-learn it
                memo[mkey] = (e, nrows, None)
        strategy = "broadcast_kernel" if nrows <= broadcast_limit else "joins"

    if strategy == "broadcast_kernel":
        if cached is not None and cached[2] is not None:
            nrows, bc = cached[1], cached[2]
        else:
            if tbl is None:
                tbl = bounded_take(
                    e.select("src", "dst"), broadcast_limit, as_arrow=True
                )
            nrows = tbl.num_rows
            if nrows > broadcast_limit:
                raise ValueError(
                    "strategy='broadcast_kernel' needs at most broadcast_limit="
                    f"{broadcast_limit} edges; the edge set has more — raise "
                    "broadcast_limit or use strategy='joins' or 'auto'"
                )
            if nrows < 3:
                prep = None
            else:
                # Driver-side vectorized prep over the ALREADY-collected
                # Arrow table (the strategy probe's bounded_take IS the
                # build-side collect, capped at broadcast_limit edges).
                # The r16 _tri_prep_spark variant ran the degree/orient/
                # sort work as two distributed sort jobs + two MORE full
                # Arrow collects of the same m rows — measured r17 on the
                # 1.2M-edge copart set: 3.5-5.9 s vs 0.4-1.2 s for this
                # numpy path (np.bincount + np.lexsort on <=5M bounded
                # rows), and each extra driver-visible job was one more
                # window for a host-steal burst to land in (the q17
                # first-run blowout mechanism, BASELINE r8/r12 rows).
                import numpy as np

                prep = _tri_prep(
                    tbl["src"].to_numpy().astype(np.int64),
                    tbl["dst"].to_numpy().astype(np.int64),
                )
            bc = spark.sparkContext.broadcast(prep)
            if mkey is not None:
                memo[mkey] = (e, nrows, bc)
        # 2 slices per core for stragglers: slice work is skew-prone
        # (pivot degree varies); each local python worker deserializes
        # the broadcast once (~15 MB), negligible vs the wedge work
        nparts = max(1, min(2 * spark.sparkContext.defaultParallelism,
                            nrows // 20_000 + 1))

        def count_slices(batches):
            import pandas as pd

            from gelly_streaming_spark.blas import pin_blas_threads

            pin_blas_threads()
            p = bc.value
            for pdf in batches:
                t = 0 if p is None else sum(
                    _tri_count_slice(*p, part=int(i), nparts=nparts)
                    for i in pdf["id"]
                )
                yield pd.DataFrame({"tri": [t]})

        per_slice = spark.range(0, nparts, 1, nparts).mapInPandas(
            count_slices, "tri long"
        )
        return per_slice.groupBy().agg(
            F.coalesce(F.sum("tri"), F.lit(0)).alias("n_triangles")
        )

    per_edge = _oriented_triangles(e, keys=[], materialized=materialized)
    return per_edge.groupBy().agg(
        F.coalesce(F.sum("tri"), F.lit(0)).alias("n_triangles")
    )


def _tri_prep(src, dst):
    """Shared kernel setup: degree-orient canonical edges and build the
    sorted membership array. Returns ``(u, v, edge_code, n)`` with (u, v)
    lexsorted by (u, v) and ``edge_code`` the sorted canonical
    ``min*n+max`` codes of ALL edges.

    Dense-id fast path: when the max vertex id is within a small factor
    of the edge count (ids are actually dense), skip the O(m log m)
    ``np.unique`` remap and index directly (bincount over raw ids). The
    cutoff is RELATIVE to m, not an absolute constant: a window holding
    a handful of edges with one id near 50M would otherwise allocate an
    O(max_id) deg array (8 B x 50M = 400 MB) in EVERY kernel task —
    several concurrent window tasks of that shape OOM an executor where
    the sparse remap uses O(m). Compact arrays are downcast to int32
    when the code space fits — halves the broadcast payload the
    distributed slices pull."""
    import numpy as np

    from gelly_streaming_spark.blas import pin_blas_threads

    pin_blas_threads()
    m = len(src)
    max_id = int(max(src.max(), dst.max()))
    # relative density test for small windows, absolute 50M cap for large
    # batches: max(8m, 64k) alone let a 100M-edge batch allocate O(8m)
    # int64 deg/bincount arrays (~6.4 GB) per task (ADVICE r7)
    if max_id <= min(max(8 * m, 1 << 16), 50_000_000):
        s0, d0 = src.astype(np.int64), dst.astype(np.int64)
        n = max_id + 1
    else:
        ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        s0, d0 = inv[:m].astype(np.int64), inv[m:].astype(np.int64)
        n = len(ids)
    deg = np.bincount(np.concatenate([s0, d0]), minlength=n)
    low_first = (deg[s0] < deg[d0]) | ((deg[s0] == deg[d0]) & (s0 < d0))
    u = np.where(low_first, s0, d0)
    v = np.where(low_first, d0, s0)
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    edge_code = np.sort(np.minimum(s0, d0) * n + np.maximum(s0, d0))
    if n <= 46_340:  # n*n < 2**31: codes (and ids) fit int32
        u, v = u.astype(np.int32), v.astype(np.int32)
        edge_code = edge_code.astype(np.int32)
    return u, v, edge_code, n


def _tri_count_slice(u, v, edge_code, n, part: int = 0, nparts: int = 1) -> int:
    """Count the triangles whose degree-minimal pivot satisfies
    ``u % nparts == part``. Wedges are generated with repeat/cumsum index
    arithmetic and closed with one sorted-array membership probe
    (searchsorted) — no Python-level per-edge loop; generation is chunked
    so peak memory stays bounded even for a pathological window. Summing
    over all parts equals the full count: each triangle is found exactly
    once, at its unique pivot."""
    import numpy as np

    from gelly_streaming_spark.blas import pin_blas_threads

    pin_blas_threads()
    if nparts > 1:
        # slice on the REMAPPED pivot id — u-groups stay contiguous
        keep = (u % nparts) == part
        u, v = u[keep], v[keep]
    mu = len(u)
    if mu == 0:
        return 0
    # per-edge-row wedge fanout: row i pairs with the rem[i] rows after it
    # in its own u-group (v is sorted within the group)
    starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
    counts = np.diff(np.r_[starts, mu])
    grp_size = np.repeat(counts, counts)
    pos = np.arange(mu) - np.repeat(starts, counts)
    rem = grp_size - 1 - pos
    total = int(rem.sum())
    if total == 0:
        return 0
    tri = 0
    bounds = np.searchsorted(np.cumsum(rem), np.arange(0, total, 8_000_000))
    cuts = list(np.unique(np.r_[bounds, mu]))
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        r = rem[lo:hi]
        t = int(r.sum())
        if t == 0:
            continue
        w_i = np.repeat(np.arange(lo, hi), r)
        offs = np.arange(t) - np.repeat(np.cumsum(r) - r, r)
        w_j = w_i + 1 + offs
        x, y = v[w_i], v[w_j]
        code = np.minimum(x, y) * n + np.maximum(x, y)
        idx = np.searchsorted(edge_code, code)
        idx_c = np.minimum(idx, len(edge_code) - 1)
        tri += int((edge_code[idx_c] == code).sum())
    return tri


def _count_triangles_numpy(src, dst) -> int:
    """Degree-oriented, fully vectorized in-core triangle count of one
    canonical (src<dst, distinct) edge array (prep + full-slice count)."""
    if len(src) < 3:
        return 0
    u, v, edge_code, n = _tri_prep(src, dst)
    return _tri_count_slice(u, v, edge_code, n)


def triangle_count_windowed(
    stream: GraphStream | None = None,
    size: str = "1 day",
    strategy: str = "auto",
    per_window_limit: int = 500_000,
    canonical_bucketed: DataFrame | None = None,
) -> DataFrame:
    """Triangles whose three edges share one tumbling window:
    rows (bucket, n_triangles).

    Windows are independent subproblems, so two physical strategies:

    - ``"partitioned"``: one shuffle on the window key, count each
      window in-task (vectorized numpy degree-oriented intersection over
      Arrow batches). Optimal while every window fits a task.
    - ``"joins"``: the degree-ordered broadcast-join plan (shared with
      the global count) — windows larger than a task's memory stay
      distributed. The scale-safe default for unbounded window sizes.
    - ``"auto"``: one cheap max-window-size aggregation picks between
      them (the AQE move: choose the physical plan from data stats).

    ``canonical_bucketed`` short-circuits edge preparation with an
    already-(bucket, src<dst, distinct) materialized frame (the shared
    copart view) — no re-dedup, no extra checkpoint; ``stream`` is then
    unused and may be omitted (building a raw edge plan just to fill the
    parameter would cost a full Catalyst analysis per call for nothing).
    """
    if canonical_bucketed is not None:
        e, materialized = canonical_bucketed, True
    else:
        if stream is None:
            raise ValueError(
                "triangle_count_windowed needs `stream` when no "
                "canonical_bucketed frame is supplied"
            )
        e = _canonical(
            stream.edges.withColumn("bucket", F.window("ts", size).start),
            extra_keys=["bucket"],
        )
        materialized = False
    if strategy == "auto":
        # materialize once: the stats probe and the chosen strategy both
        # consume the canonicalized edges (else the dedup runs twice)
        caller_materialized = materialized
        if not materialized:
            e = track_persist(e)
            materialized = True
        # The probe is memoized per (session, frame identity) ONLY for
        # caller-materialized session-lifetime views (the shared copart
        # frame): a repeated call over one re-derives identical stats, so
        # the probe job would be pure repeat cost, and the caller's held
        # reference keeps id() stable. A call-local frame's id() can
        # never hit again — memoizing it would only pin the frame until
        # session end. release_persisted() drains this memo.
        spark = e.sparkSession
        memo = getattr(spark, "_gss_tri_window_stats", None)
        if memo is None:
            memo = {}
            spark._gss_tri_window_stats = memo  # noqa: SLF001 — session memo
        key = id(e) if caller_materialized else None
        if key is None or key not in memo:
            mx = (
                e.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
                .agg(F.max("c").alias("m"))
                .collect()[0]["m"]
            )
            if key is not None:
                memo[key] = (e, mx)
        else:
            mx = memo[key][1]
        strategy = "partitioned" if (mx or 0) <= per_window_limit else "joins"

    if strategy == "partitioned":
        import pandas as pd

        def count_tri(pdf: pd.DataFrame) -> pd.DataFrame:
            t = _count_triangles_numpy(
                pdf["src"].to_numpy(), pdf["dst"].to_numpy()
            )
            return pd.DataFrame(
                {"bucket": [pdf["bucket"].iloc[0]], "n_triangles": [t]}
            )

        out = e.groupBy("bucket").applyInPandas(
            count_tri, "bucket timestamp, n_triangles long"
        )
    else:
        per_edge = _oriented_triangles(e, keys=["bucket"], materialized=materialized)
        out = per_edge.groupBy("bucket").agg(F.sum("tri").alias("n_triangles"))
    return out.where(F.col("n_triangles") > 0)


def triangle_count_estimate(
    stream: GraphStream, sample_fraction: float = 0.1, seed: int = 42
) -> DataFrame:
    """One-pass style estimate (reference sampling examples, P2):
    sample edges Bernoulli(p), count triangles with ≥1 sampled base edge
    closed by full edges, scale by 1/p. Stochastic — property-tested with
    a tolerance, never hash-compared. Scale: the sampled side is tiny ⇒
    broadcast join against the full edge set (the reference's
    BroadcastTriangleCount pattern)."""
    e = track_persist(_canonical(stream.edges))
    s = e.sample(fraction=sample_fraction, seed=seed)
    a, b, c = s.alias("a"), e.alias("b"), e.alias("c")
    wedges = a.hint("broadcast").join(b, F.col("a.dst") == F.col("b.src"))
    tri = wedges.join(
        c,
        (F.col("c.src") == F.col("a.src")) & (F.col("c.dst") == F.col("b.dst")),
        "left_semi",
    )
    return tri.groupBy().agg(
        F.round(F.count(F.lit(1)) / sample_fraction, 2).alias("est_triangles")
    )
