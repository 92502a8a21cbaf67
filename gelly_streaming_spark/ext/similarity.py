"""Set-similarity search (exact Jaccard + MinHash-LSH candidates).

North-star extension (BASELINE.json) — no reference counterpart.

Scale design: the exact path is a PREFIX-FILTERED inverted-index
self-join (the ppjoin/AllPairs family): tokens are globally ordered by
(document frequency, token); a pair with Jaccard ≥ θ must share a token
inside both documents' first ``n - ⌈θ·n⌉ + 1`` tokens of that order
(else all ⌈θ·n⌉ common tokens would have to fit in a suffix of size
⌈θ·n⌉ − 1). Only prefix tokens — by construction the *rarest* — enter
the candidate join, so hot stopwords never explode the shuffle; the
exact verification join then computes true intersections for candidates
only. Measured at sf0.1 (5k docs, θ=0.95): 134 s unfiltered → the
prefix plan cuts the candidate join by ~the prefix/size ratio while
staying exact. A size filter (⌈θ·|A|⌉ ≤ |B| ≤ ⌊|A|/θ⌋) prunes further.
The MinHash-LSH path bounds work per document at O(num_hashes) and meets
only within LSH buckets — the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gelly_streaming_spark.plans.memory import track_persist


def token_sets(docs: DataFrame, id_col: str, tokens: Column) -> DataFrame:
    """(id, token) distinct pairs — the inverted index input."""
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(tokens).alias("token"))
        .distinct()
    )


def _round_half_up6(arr):
    """Round a NON-NEGATIVE float array to 6 decimals with ties away
    from zero — the rounding both Spark's F.round (HALF_UP) and DuckDB's
    ROUND apply. np.round is half-to-even, so an exactly-representable
    tie like 125/128 = 0.9765625 rounded differently depending on which
    kernel produced it, making the emitted value strategy-dependent and
    breaking the bit-identical oracle parity the module promises."""
    import numpy as np

    return np.floor(arr * 1e6 + 0.5) / 1e6


def _verify_intersections(
    tok: DataFrame, cand: DataFrame, arrs: DataFrame | None = None
) -> DataFrame:
    """Exact |A ∩ B| per candidate pair via per-doc sorted token arrays +
    JVM array_intersect: two joins carrying one array per side, instead
    of re-exploding every candidate to |tokens| rows and re-grouping
    (the row formulation shuffled ~candidates x doc-size rows — 38M at
    sf0.1 — and dominated the query; arrays cut it to one row per pair).
    AQE broadcasts the array table when it fits. Callers that already
    hold the (id, sorted toks) table pass it via ``arrs`` — rebuilding it
    here costs a full-index aggregation + per-doc sort."""
    if arrs is None:
        arrs = tok.groupBy("id").agg(
            F.array_sort(F.collect_list("token")).alias("toks")
        )
    return (
        cand.join(arrs.select(F.col("id").alias("a"), F.col("toks").alias("_ta")), "a")
        .join(arrs.select(F.col("id").alias("b"), F.col("toks").alias("_tb")), "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_ta", "_tb")).alias("i"),
            # set sizes ride along for free — both arrays are already in
            # the row, so callers needing |A|/|B| for the Jaccard
            # denominator skip a separate size aggregation + two joins
            F.size("_ta").alias("na"),
            F.size("_tb").alias("nb"),
        )
    )


_BITSET_VOCAB_LIMIT = 4096
_BITSET_SETS_LIMIT = 65_536


def _popcount(a):
    """Per-element popcount of a uint64 array (numpy<2 has no
    bitwise_count): byte-view through a 256-entry LUT."""
    import numpy as np

    lut = np.array([bin(x).count("1") for x in range(256)], dtype=np.uint8)
    return lut[a.view(np.uint8)].reshape(*a.shape, 8).sum(-1, dtype=np.int64)


def _bitset_rep_pairs(spark, reps: DataFrame, threshold: float, vocab) -> DataFrame:
    """Exact all-pairs Jaccard over DISTINCT token sets, small-vocabulary
    strategy: each set becomes a |vocab|-bit mask; intersections are
    bitwise-AND popcounts. The mask matrix is built driver-side (bounded
    by _BITSET_SETS_LIMIT × _BITSET_VOCAB_LIMIT/8 bytes — broadcast-join
    build-side territory) and broadcast; tasks score disjoint row slices
    against the full matrix, so the O(S²) pair space never materializes
    as rows anywhere. Picked over the prefix-filter index join when a
    vocabulary probe shows prefix tokens cannot be selective (a corpus
    drawn from a few thousand distinct tokens leaves every prefix hot —
    measured 960 k candidates from 3 935 collapsed docs at sf0.1)."""
    import numpy as np
    import pandas as pd

    tbl = reps.select("id", "toks").toArrow()
    ids = np.asarray(tbl["id"].to_pylist(), dtype=np.int64)
    toks = tbl["toks"].to_pylist()
    s_count = len(ids)
    words = (len(vocab) + 63) // 64 or 1
    # Vectorized mask build: flatten all (row, token) pairs once, map
    # tokens to bit positions with a binary search over the (already
    # sorted) vocab, and scatter with a single bitwise_or.at — the
    # per-token Python loop this replaces boxed a np.uint64 per token
    # (~0.5 s driver time at sf0.1's ~400 k tokens).
    lens = np.fromiter((len(ts) for ts in toks), dtype=np.int64, count=s_count)
    masks = np.zeros((s_count, words), dtype=np.uint64)
    if lens.sum():
        rows = np.repeat(np.arange(s_count), lens)
        flat = np.asarray([t for ts in toks for t in ts])
        bits = np.searchsorted(np.asarray(vocab), flat)
        np.bitwise_or.at(
            masks,
            (rows, bits >> 6),
            np.left_shift(np.uint64(1), (bits & 63).astype(np.uint64)),
        )
    na = _popcount(masks).sum(-1)
    bc = spark.sparkContext.broadcast((ids, masks, na))
    # ~2M scored pairs per task: the O(S²)/2 pair space must spread
    # across the cluster — the old 50M-per-task budget left sf0.1's
    # 15.5M-pair matrix in ONE task, serializing the whole kernel.
    nparts = max(1, min(spark.sparkContext.defaultParallelism,
                        s_count * s_count // 4_000_000 + 1))

    def score(batches):
        from gelly_streaming_spark.blas import pin_blas_threads

        pin_blas_threads()
        b_ids, b_masks, b_na = bc.value
        n = len(b_ids)
        for pdf in batches:
            out_a, out_b, out_j = [], [], []
            for part in pdf["id"]:
                for i in range(int(part), n - 1, nparts):
                    inter = _popcount(b_masks[i] & b_masks[i + 1:]).sum(-1)
                    jac = inter / (b_na[i] + b_na[i + 1:] - inter)
                    hit = np.flatnonzero(jac >= threshold)
                    if len(hit):
                        out_a.append(np.full(len(hit), b_ids[i]))
                        out_b.append(b_ids[i + 1:][hit])
                        out_j.append(_round_half_up6(jac[hit]))
            if out_a:
                # canonical a < b: the kernel pairs by MATRIX position
                # (collection order), not id order — rep-level consumers
                # (near_dup_collapse) see these rows directly
                ca, cb = np.concatenate(out_a), np.concatenate(out_b)
                yield pd.DataFrame(
                    {
                        "a": np.minimum(ca, cb),
                        "b": np.maximum(ca, cb),
                        "jaccard": np.concatenate(out_j),
                    }
                )

    return spark.range(0, nparts, 1, nparts).mapInPandas(
        score, "a long, b long, jaccard double"
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    tokens: Column,
    threshold: float,
    prefix_filter: bool = True,
    prefix_order: str = "df",
    strategy: str = "auto",
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ threshold: rows (a, b, jaccard), a < b.
    Thin wrapper over ``jaccard_rep_pairs`` that expands representative
    pairs back to every cluster member (the pair-EVIDENCE surface, q22);
    consumers that only need cluster-level structure — near_dup_collapse
    runs connected components over the pair graph — use the rep-level
    output directly and skip the clique expansion entirely.

    jaccard is computed from exact integer set sizes ⇒ bit-identical
    across engines (int ratio in IEEE double). ``prefix_filter=False``
    falls back to the naive full inverted-index join (testing aid).

    ``prefix_order`` picks the global token order behind the prefix
    filter — ANY total order is exact; the choice trades candidate count
    against ordering cost:
    - ``"df"``: rare-first (document frequency) — fewest candidates, but
      pays a token-frequency aggregation + join over the full index;
    - ``"hash"``: xxhash64 order — pseudo-random, zero extra passes;
      right when prefixes are short (high thresholds) so candidate
      inflation is bounded anyway.

    Exact-duplicate collapse (the standard first pass of any dedup
    pipeline, and the part that survives a duplicate-heavy 100 TB
    corpus): documents with IDENTICAL token sets are grouped — keyed by
    the sorted token array itself, no hashing, so the collapse is exact —
    and only one representative per set enters the index join. Duplicate
    clusters otherwise explode the candidate space quadratically:
    measured at sf0.1 (5 k docs in ~500 identical-set clusters) the
    prefix join emitted 1.8 M candidate pairs, almost all between copies.
    Pairs are expanded back exactly afterwards: within-cluster pairs have
    Jaccard exactly 1, cross-cluster pairs inherit their representatives'
    value (Jaccard is a function of the token sets alone).
    """
    grp, rep_pairs = jaccard_rep_pairs(
        docs, id_col, tokens, threshold, prefix_filter, prefix_order, strategy
    )
    return _expand_rep_pairs(grp, rep_pairs, threshold)


def jaccard_rep_pairs(
    docs: DataFrame,
    id_col: str,
    tokens: Column,
    threshold: float,
    prefix_filter: bool = True,
    prefix_order: str = "df",
    strategy: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Cluster-level core of ``jaccard_pairs``: returns
    ``(grp, rep_pairs)`` where ``grp`` is the identical-token-set
    cluster table (toks, ids — ids sorted ascending, persisted) and
    ``rep_pairs`` the exact Jaccard ≥ threshold pairs (a, b, jaccard)
    over per-cluster minimum-id REPRESENTATIVES only.

    Exposed because the member-level expansion is a clique generator:
    an identical-set cluster of size k re-emits k(k−1)/2 pairs that
    carry no information beyond the cluster row itself. Consumers that
    reduce over cluster structure (near_dup_collapse's connected
    components) stay at rep level — measured at sf0.1/θ=0.95: 2,049
    rep pairs vs 190,910 expanded pairs, a 93× smaller CC input."""
    if strategy not in ("auto", "ppjoin", "bitset"):
        raise ValueError(
            f"unknown strategy {strategy!r} (auto|ppjoin|bitset)"
        )
    # Per-doc sorted distinct token arrays ROW-LOCALLY:
    # array_sort(array_distinct(...)) needs no shuffle at all, where the
    # old explode → distinct → groupBy/collect_list chain moved the full
    # token stream through two wide shuffles to build the same arrays.
    # Token-LESS docs (null / empty / whitespace-only text) are excluded
    # here exactly as the explode path excluded them (explode of an
    # empty array emits no rows): they can never share a token, so they
    # belong to no pair — collapse-level consumers must handle them
    # separately (near_dup_collapse's md5 complement).
    # array_compact first: collect_list on the old explode path SKIPPED
    # null elements, so a custom token expression emitting null elements
    # must not inflate set sizes (and shift Jaccard) here (ADVICE r8).
    arrs = docs.select(
        F.col(id_col).alias("id"),
        F.array_sort(F.array_distinct(F.array_compact(tokens))).alias("toks"),
    ).where(F.size("toks") > 0)
    grp = (
        arrs.groupBy("toks")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    grp = track_persist(grp)
    reps = grp.select(F.element_at("ids", 1).alias("id"), "toks")

    # strategy probe: a corpus drawn from a small vocabulary defeats
    # prefix filtering (every prefix token is hot), but admits the exact
    # bitset all-pairs kernel — pick by the measured vocabulary size,
    # the same stats-driven plan choice AQE makes for joins. The bitset
    # kernel additionally needs integral ids (they travel through int64
    # numpy arrays) — non-integral ids stay on the ppjoin path, which is
    # id-type-agnostic.
    id_integral = reps.schema["id"].dataType.typeName() in (
        "long", "integer", "short", "byte"
    )
    vocab = None
    if strategy in ("auto", "bitset"):
        from gelly_streaming_spark.plans.probe import bounded_take

        vocab_rows = bounded_take(
            reps.select(F.explode("toks").alias("token")).distinct(),
            _BITSET_VOCAB_LIMIT,
        )
        if len(vocab_rows) <= _BITSET_VOCAB_LIMIT:
            vocab = sorted(r["token"] for r in vocab_rows)
    if strategy == "auto":
        strategy = (
            "bitset"
            if vocab is not None and id_integral
            and grp.count() <= _BITSET_SETS_LIMIT
            else "ppjoin"
        )
    if strategy == "bitset":
        # forced bitset keeps the SAME bounds the auto path enforces:
        # reps.toArrow() below is a driver collect, legal only under the
        # documented set/vocab limits.
        if vocab is None:
            raise ValueError(
                f"bitset strategy requires ≤{_BITSET_VOCAB_LIMIT} distinct tokens"
            )
        if not id_integral:
            raise ValueError(
                "bitset strategy requires an integral id column "
                f"(got {reps.schema['id'].dataType.simpleString()})"
            )
        if grp.count() > _BITSET_SETS_LIMIT:
            raise ValueError(
                f"bitset strategy bounded at {_BITSET_SETS_LIMIT} distinct "
                "token sets (driver-collected mask matrix) — use "
                "strategy='ppjoin' past that"
            )
        return grp, _bitset_rep_pairs(docs.sparkSession, reps, threshold, vocab)

    tok = track_persist(reps.select("id", F.explode("toks").alias("token")))
    sizes = reps.select("id", F.size("toks").alias("n"))

    if prefix_filter:
        # Per-doc position by the chosen global order; keep the first
        # n - ceil(t*n) + 1 tokens.
        if prefix_order == "df":
            tdf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
            ranked = tok.join(tdf, "token")
            pos_w = Window.partitionBy("id").orderBy("df", "token")
        else:
            ranked = tok.withColumn("_h", F.xxhash64("token"))
            pos_w = Window.partitionBy("id").orderBy("_h", "token")
        n_w = Window.partitionBy("id")
        # checkpoint: both sides of the candidate self-join scan the
        # prefix — without the cut, the double-window subtree runs twice
        pref = (
            ranked
            .withColumn("pos", F.row_number().over(pos_w))
            .withColumn("n", F.count(F.lit(1)).over(n_w))
            .where(
                F.col("pos")
                <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
            )
            .select("id", "token", "pos", "n")
        )
        pref = track_persist(pref)
        pa = pref.select(
            F.col("id").alias("a"), "token",
            F.col("pos").alias("pa"), F.col("n").alias("na"),
        )
        pb = pref.select(
            F.col("id").alias("b"), "token",
            F.col("pos").alias("pb"), F.col("n").alias("nb"),
        )
        # overlap lower bound α = ceil(t/(1+t)·(na+nb)); the positional
        # (ppjoin) filter drops a shared prefix token that cannot be the
        # start of α common tokens given what remains after each position
        alpha = F.ceil(
            F.lit(threshold) / F.lit(1.0 + threshold) * (F.col("na") + F.col("nb"))
        )
        cand = (
            pa.join(pb, "token")
            .where(
                (F.col("a") < F.col("b"))
                & (F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na")))
                & (F.col("nb") <= F.floor(F.col("na") / F.lit(threshold)))
                & (
                    F.least(
                        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
                    )
                    + 1
                    >= alpha
                )
            )
            .select("a", "b")
            .distinct()
        )
        # reps already holds the sorted (id, toks) arrays — reuse them
        # instead of letting the verify step re-aggregate the index
        inter = _verify_intersections(tok, cand, arrs=reps.select("id", "toks"))
    else:
        ta = tok.select(F.col("id").alias("a"), "token")
        tb = tok.select(F.col("id").alias("b"), "token")
        sa = sizes.select(F.col("id").alias("a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("id").alias("b"), F.col("n").alias("nb"))
        inter = (
            ta.join(tb, "token")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("i"))
            .join(sa, "a")
            .join(sb, "b")
        )

    # the verify branch's na/nb ride out of _verify_intersections (array
    # sizes of the same distinct token sets `sizes` counts) — no extra
    # size joins there
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    rep_pairs = (
        inter.where(jac >= threshold)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )
    return grp, rep_pairs


def _expand_rep_pairs(
    grp: DataFrame, rep_pairs: DataFrame, threshold: float
) -> DataFrame:
    """Expand representative pairs back to all cluster members: pairs
    inside one identical-token-set cluster have Jaccard exactly 1; pairs
    across clusters inherit their representatives' value (Jaccard is a
    function of the token sets alone)."""
    mem = grp.select(F.element_at("ids", 1).alias("rep"), "ids")
    within = (
        grp.where(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x as a, y as b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b", F.lit(1.0).alias("jaccard"))
    )
    if threshold > 1.0:  # degenerate: even identity pairs excluded
        within = within.where(F.lit(False))
    cross = (
        rep_pairs
        .join(
            mem.select(F.col("rep").alias("a"), F.col("ids").alias("ids_a"))
            .hint("broadcast"),
            "a",
        )
        .join(
            mem.select(F.col("rep").alias("b"), F.col("ids").alias("ids_b"))
            .hint("broadcast"),
            "b",
        )
        .select(F.explode("ids_a").alias("ma"), "ids_b", "jaccard")
        .select("ma", F.explode("ids_b").alias("mb"), "jaccard")
        # clusters are disjoint, so least/greatest restores global a < b
        .select(
            F.least("ma", "mb").alias("a"),
            F.greatest("ma", "mb").alias("b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def _xxhash_family(col: Column, seed: int) -> Column:
    """Default MinHash hash family: xxhash64 seeded by index — the cheap
    JVM-side production choice (no string building, no md5)."""
    return F.xxhash64(col, F.lit(seed))


def md5_hash64(col: Column, seed: int) -> Column:
    """Portable 60-bit hash: the first 15 hex digits of md5(seed ':' col)
    as a BIGINT. Every engine with md5() computes the identical value —
    Spark via conv(substr(md5,1,15),16,10), DuckDB via
    CAST('0x'||substr(md5,1,15) AS BIGINT) — which makes a full
    MinHash-LSH run oracle-checkable end to end (q43). ~3x the cost of
    xxhash64 (string concat + md5 + hex parse), so production keeps the
    default family; the LSH *plan* is identical either way."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    portable_buckets: bool = False,
) -> DataFrame:
    """Band the signatures and emit candidate pairs that collide in ≥1
    band: rows (a, b), a < b. Work is per-bucket ⇒ no all-pairs blow-up.

    ``portable_buckets=True`` keys buckets by the comma-joined band mins
    (a plain string any SQL engine reproduces with string_agg) instead of
    xxhash64 of the mins — same grouping semantics, used by the
    oracle-certified path (q43)."""

    def _bucket(b: int) -> Column:
        mins = [
            F.element_at("sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if portable_buckets:
            return F.concat_ws(",", *[m.cast("string") for m in mins])
        return F.xxhash64(*mins)  # 8-byte key — keep the shuffle narrow

    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a = banded.select(F.col("id").alias("a"), "band", "bucket")
    b = banded.select(F.col("id").alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    tokens: Column,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn=_xxhash_family,
    portable_buckets: bool = False,
) -> DataFrame:
    """Near-dup pairs at Jaccard ≥ threshold via LSH candidates + exact
    verification of candidates only (verify joins token sets back, so
    reported pairs are exact — LSH affects recall, not precision).
    ``hash_fn=md5_hash64, portable_buckets=True`` makes the whole run
    reproducible in any md5-capable SQL engine (the q43 oracle)."""
    rows_per_band = num_hashes // bands
    # ONE aggregation serves both halves of the query: the per-doc sorted
    # distinct-token array feeds exact verification AND the signatures —
    # min-hash over a row-local array (array_min∘transform) equals the
    # grouped column-min over exploded tokens, with zero extra shuffle.
    # (Row-local HOFs, no Generate in between — the staged-projection
    # re-inlining trap doesn't apply: each token is hashed once per i.)
    tok = token_sets(docs, id_col, tokens)
    arrs = track_persist(
        tok.groupBy("id").agg(F.array_sort(F.collect_list("token")).alias("toks"))
    )
    sig = arrs.select(
        "id",
        F.array(
            *[
                F.array_min(F.transform("toks", lambda t: hash_fn(t, i)))
                for i in range(num_hashes)
            ]
        ).alias("sig"),
    )
    cand = lsh_candidate_pairs(sig, bands, rows_per_band, portable_buckets)
    inter = _verify_intersections(tok, cand, arrs=arrs)
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.where(jac >= threshold)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )
