"""Iterative fixpoint driver (SURVEY.md §7 step 5, §4 conclusion (a)).

Spark has no fixpoint operator; the reference got iteration "for free" from
mutable KV objects (`kv->append` loops, e.g. oink/sssp.cpp:112-137,
oink/cc_find.cpp:64-103 `while (!done)`). The Spark-native equivalent is a
driver-side loop whose per-iteration state is `localCheckpoint`ed:

  - localCheckpoint truncates lineage — without it the plan doubles every
    iteration and Catalyst analysis time alone goes super-linear by ~iter 15.
    Eager=True also pins the iteration's result so the convergence action and
    the next step don't recompute it.
  - Convergence is a driver-side `count` action per iteration — same contract
    as the reference's per-iteration MPI_Allreduce pair count.

Scale notes (1000 executors / 100 TB): localCheckpoint stores to executor
block storage (memory then disk) — for TB-scale iteration state prefer
`reliable=True`-style checkpointing to a cluster FS (spark.checkpoint.dir) at
a less frequent cadence; the loop structure is unchanged. The per-iteration
work here is one key-partitioned join + one partially-aggregated groupBy, so
each round is a single shuffle of the frontier, and map-side combine bounds
hot keys (the reference needed hand-rolled zone splitting for this,
oink/cc_find.cpp:43-55 — Spark's partial aggregation + AQE subsume it).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NoReturn

from pyspark.sql import Column, DataFrame, Observation


def unpersist_checkpoint(df: DataFrame) -> None:
    """Free the block-manager storage of a `localCheckpoint`ed DataFrame.

    `DataFrame.unpersist()` only talks to the SQL CacheManager, which knows
    nothing about checkpoint RDDs — their blocks otherwise live until the JVM
    garbage-collects the RDD object (which Py4J references keep alive long
    past the Python scope) and the async ContextCleaner gets around to it.
    A 50-round fixpoint would stack 50 dead state snapshots in the block
    manager; measured effect of the leak is 2-4x run-to-run variance on every
    later query in the session. The checkpointed data sits in the LogicalRDD
    at the root of the analyzed plan; unpersist that RDD directly.

    Only call on a superseded state a caller can never touch again:
    localCheckpoint truncates lineage, so the data is unrecoverable after
    this."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: a leaked block is a perf wart, not an error


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    converged: Callable[[DataFrame, DataFrame], bool],
    max_iter: int = 50,
) -> tuple[DataFrame, int]:
    """Iterate `state = step(state)` until `converged(prev, cur)`.
    Returns (fixpoint DataFrame — checkpointed, iterations run). Raises
    RuntimeError naming `max_iter` when the bound runs out first: the
    partial state is not a fixpoint, and a returned round count of
    `max_iter` could not tell it apart from convergence in the last round.
    Superseded per-round snapshots are unpersisted as soon as the convergence
    check has consumed them; only the returned fixpoint stays materialized.

    `converged` should be an existence probe (`df.filter(...).isEmpty()`),
    not a count: isEmpty stops at the first non-empty partition of the
    already-checkpointed state, so every NON-final round — the common case —
    pays a near-zero check, while a count scans all partitions every round
    (the reference pays a full MPI_Allreduce per round instead,
    oink/cc_find.cpp:64-103)."""
    cur = state.localCheckpoint(eager=True)
    for i in range(1, max_iter + 1):
        nxt = step(cur).localCheckpoint(eager=True)
        done = converged(cur, nxt)
        unpersist_checkpoint(cur)
        if done:
            return nxt, i
        cur = nxt
    _exhausted("fixpoint", max_iter, cur)


def fixpoint_observed(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    done_metric: Callable[[], Column],
    done: Callable[[int], bool],
    max_iter: int = 50,
) -> tuple[DataFrame, int]:
    """`fixpoint` with the convergence probe FUSED into the checkpoint
    (r14 optimization): `done_metric()` builds an aggregate Column that is
    observed (`Dataset.observe` / CollectMetrics) while the round's new
    state materializes under `localCheckpoint(eager=True)` — the eager
    checkpoint is a Spark action, so the metric is available immediately
    and convergence costs ZERO extra jobs. The classic loop paid one
    scheduled probe job per round (isEmpty/count over the just-
    checkpointed state — cheap per round, but it is a driver-blocking
    scheduling barrier × rounds, and at 100 TB a count probe re-reads the
    whole cached state); here the metric rides the materialization pass
    map-side for free.

    `done_metric` is a THUNK (a fresh Column per round — Observation
    rejects reuse of a consumed observation, and a fresh alias keeps each
    round's CollectMetrics node independent); `done(value)` decides
    convergence from the observed scalar. Rows are untouched:
    CollectMetrics is a transparent pass-through node, so results are
    bit-identical to the probe form — including the RuntimeError when
    `max_iter` runs out unconverged."""
    cur = state.localCheckpoint(eager=True)
    for i in range(1, max_iter + 1):
        obs = Observation()
        nxt = (
            step(cur)
            .observe(obs, done_metric().alias("m"))
            .localCheckpoint(eager=True)
        )
        val = obs.get["m"]
        unpersist_checkpoint(cur)
        if done(val):
            return nxt, i
        cur = nxt
    _exhausted("fixpoint_observed", max_iter, cur)


def _exhausted(name: str, max_iter: int, cur: DataFrame) -> NoReturn:
    unpersist_checkpoint(cur)  # the partial state is never handed out
    raise RuntimeError(
        f"{name}: not converged within max_iter={max_iter} rounds — the"
        " partial state is not a fixpoint, so it is never returned; raise"
        " max_iter"
    )


def iterate_n(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    n: int,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Run exactly n iterations (no convergence action — for algorithms whose
    semantics are round-bounded, e.g. K-round Bellman-Ford or fixed-iteration
    pagerank, where the round count IS the spec and oracle parity requires it).
    """
    cur = state.localCheckpoint(eager=True)
    last_ckpt = cur
    for i in range(1, n + 1):
        cur = step(cur)
        if i % checkpoint_every == 0 or i == n:
            cur = cur.localCheckpoint(eager=True)
            unpersist_checkpoint(last_ckpt)
            last_ckpt = cur
    return cur
