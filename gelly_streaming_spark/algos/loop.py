"""The superstep driver shared by the iterative graph algorithms.

Every iterative entry point in ``algos/`` runs in one of two shapes:

- ``try_driver`` — the small-graph fast path. One bounded Arrow collect
  (``plans.probe.bounded_take``) of the input, a driver-local kernel
  (union-find, peel, BFS, exact-rational PageRank, ...), and one
  ``createDataFrame``. A multi-round distributed loop over a graph that
  fits the bound is all job-floor overhead. The output ``id`` type is
  the type ``src ∪ dst`` widens to — the type the distributed path
  returns — so both shapes give the same schema for any id type.
- ``supersteps`` — the Pregel-style distributed loop (SURVEY §7.4.H2:
  Spark has no in-job iteration). Rounds run in blocks; each block ends
  in one eager ``localCheckpoint`` that cuts the lineage, so the plan
  stays O(1) deep, and an optional ``observe``d count rides that same
  job as the convergence test. The superseded checkpoint is freed as
  soon as its successor lands (a leaked block per round is storage
  pressure now and an OOM at scale).

``shuffle_width`` is the only code in ``algos/`` that changes session
conf. A loop's shuffles run at ``min(session, rows // 500_000 + 1)``
partitions: full-width exchanges over a small graph are pure task
overhead. Some loops also turn AQE off at ≤4 partitions, where its
re-planning costs more than anything it could re-decide. Both settings
are restored when the loop ends.
"""

from __future__ import annotations

from contextlib import contextmanager, nullcontext
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gelly_streaming_spark.plans import probe
from gelly_streaming_spark.plans.memory import free_checkpoint

_PARTS = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"
_ROWS_PER_PARTITION = 500_000


def _id_type(plan: DataFrame) -> str:
    """DDL type of the vertex ids: what ``src ∪ dst`` widens to."""
    schema = plan.schema
    t = schema["src"].dataType
    if t != schema["dst"].dataType:
        ids = plan.select("src").unionByName(plan.select(F.col("dst").alias("src")))
        t = ids.schema["src"].dataType
    return t.simpleString()


def try_driver(
    plan: DataFrame, limit: int, kernel: Callable, schema: str, *side: DataFrame
) -> DataFrame | None:
    """Run ``kernel`` on the driver when ``plan`` (and every ``side``
    input) has at most ``limit`` rows; else return None and let the
    caller run its distributed loop. ``limit <= 0`` forces that loop.

    ``kernel`` gets one ``pyarrow.Table`` per input and returns the
    output rows; ``schema`` is their DDL, where ``{id}`` stands for the
    input's id type."""
    if limit <= 0:
        return None
    tables = []
    for df in (plan, *side):
        # looked up at call time, so a wrapped probe (tracing) is the one called
        tbl = probe.bounded_take(df, limit, as_arrow=True)
        if tbl.num_rows > limit:
            return None
        tables.append(tbl)
    rows = kernel(*tables)
    # pandas rides Arrow; an empty frame has no columns to match the schema
    data = pd.DataFrame(rows) if rows else []
    return plan.sparkSession.createDataFrame(data, schema.format(id=_id_type(plan)))


@contextmanager
def shuffle_width(spark, rows: int | None = None, aqe_off: bool = False):
    """Size the shuffles run inside the block to ``rows`` edges (none
    given: leave them as they are), then restore the session's settings.
    Yields ``resize(parts)`` for loops that re-size mid-run."""
    conf = spark.conf
    old_parts, old_aqe = conf.get(_PARTS), conf.get(_AQE)

    def resize(parts: int) -> None:
        parts = max(1, min(int(old_parts), parts))
        conf.set(_PARTS, str(parts))
        if aqe_off:
            conf.set(_AQE, "false" if parts <= 4 else old_aqe)

    try:
        if rows is not None:
            resize(rows // _ROWS_PER_PARTITION + 1)
        yield resize
    finally:
        conf.set(_PARTS, old_parts)
        if aqe_off:
            conf.set(_AQE, old_aqe)


def supersteps(
    state: DataFrame | Callable[[], DataFrame],
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int | None,
    *,
    block: int = 1,
    signal=None,
    start: int | None = None,
    fail: str | None = None,
    width: tuple | None = None,
    aqe_off: bool = False,
    held: list | tuple = (),
    free_init: bool = True,
) -> DataFrame:
    """Apply ``step(state, i)`` for i = 0, 1, ... and return the final,
    checkpointed state.

    - ``rounds``: the most steps to run (None: no cap).
    - ``block``: steps per checkpoint; the last step always checkpoints.
    - ``signal``: an aggregate observed on each block's output. The loop
      stops when it reads 0 or, given ``start`` (the reading before the
      first block), when it repeats the previous block's reading — a
      table that only grows or only shrinks has settled. Columns whose
      name starts with ``_`` are the block's scratch columns: the signal
      may read them, the checkpoint drops them.
    - ``fail``: raise ``RuntimeError(fail)`` if ``rounds`` run out before
      the signal stops the loop (a truncated fixpoint is a wrong answer).
    - ``width``: ``(spark, rows)`` sizes the loop's shuffles (see
      ``shuffle_width``); a callable ``state`` is built inside that scope.
    - ``held``: loop-invariant checkpoints, freed when the loop ends
      however it ends. ``free_init=False`` keeps the initial state, for
      one that is a plan over a held checkpoint rather than its own.
    """
    spark, rows = width if width is not None else (None, None)
    scope = shuffle_width(spark, rows, aqe_off) if spark is not None else nullcontext()
    try:
        with scope:
            state = state() if callable(state) else state
            owned = free_init
            prev = start
            i = 0
            while rounds is None or i < rounds:
                nxt = state
                end = i + block if rounds is None else min(i + block, rounds)
                for i in range(i, end):
                    nxt = step(nxt, i)
                i = end
                obs = Observation() if signal is not None else None
                if obs is not None:
                    nxt = nxt.observe(obs, signal.alias("n"))
                    scratch = [c for c in nxt.columns if c.startswith("_")]
                    nxt = nxt.drop(*scratch) if scratch else nxt
                nxt = nxt.localCheckpoint()
                if owned:
                    free_checkpoint(state)
                state, owned = nxt, True
                if obs is not None:
                    n = int(obs.get["n"])
                    if n == 0 or n == prev:
                        return state
                    prev = n if start is not None else None
            if fail is not None:
                free_checkpoint(state)
                raise RuntimeError(fail)
            return state
    finally:
        for df in held:
            free_checkpoint(df)
