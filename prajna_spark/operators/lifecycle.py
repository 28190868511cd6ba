"""Persist lifecycle for operators that cache internally.

``cascade_rollup``, ``DSet.bypass`` and ``zip_with_index`` persist
intermediates by design (their plans read the same partials more than
once). Persisted blocks outlive the returned DataFrame — in a long-lived
driver (a service, the driver's repeated catalog runs) every call leaks
executor storage for the session lifetime.

``persist_scope`` is the ownership contract: operators route their
internal ``persist`` through ``scoped_persist``, and a caller who wants
deterministic release wraps use in the scope::

    with persist_scope():
        out = cascade_rollup(events, "ts", ["event_type"], "value", RES)
        out.write.parquet(...)          # consume INSIDE the scope
    # exit -> every internal persist is unpersisted

Outside any scope the behavior is unchanged (the session owns the cache
until it dies — fine for one-shot jobs, the driver gate, and tests that
reuse the frames). Scopes nest; each persist belongs to the innermost
active scope.
"""

from __future__ import annotations

import logging
import operator
from collections.abc import Callable
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation

_log = logging.getLogger(__name__)

_ACTIVE: list[list[DataFrame]] = []
_ACTIVE_CKPT: list[list[DataFrame]] = []


def scoped_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """persist() that registers with the innermost persist_scope (no-op
    registration when no scope is active)."""
    p = df.persist(level)
    if _ACTIVE:
        _ACTIVE[-1].append(p)
    return p


def scoped_local_checkpoint(
    df: DataFrame, eager: bool = True, parent: bool = False
) -> DataFrame:
    """localCheckpoint() that registers with the innermost persist_scope.

    ``unpersist`` is a silent no-op for checkpointed frames (see
    :func:`release_local_checkpoint`), so scope exit releases these via
    the LogicalRDD leaf directly. Every generation of an iterative
    operator goes through this (see :func:`iterate`), so the FINAL
    generation — which once outlived the query until an eventual JVM GC,
    the exact mechanism behind the r7 label-propagation leak — is freed
    deterministically at scope exit. Outside any scope the behavior is
    plain localCheckpoint (session-lifetime blocks), as before.

    ``parent=True`` registers with the ENCLOSING scope instead: for a
    checkpoint that materializes a function's RETURN VALUE inside that
    function's own persist_scope — a checkpointed frame CANNOT be
    recomputed (lineage is truncated), so releasing it at the inner
    scope's exit would break the caller; its lifetime belongs to the
    caller's scope.

    Storage level: SERIALIZED memory+disk, overriding localCheckpoint's
    JVM-side default of DESERIALIZED object caching. A checkpointed
    UnsafeRow cached as a JVM object graph costs ~5x its data bytes and
    — decisively — its block size is only ESTIMATED by the memory
    manager, so a corpus-sized edge checkpoint blows the heap past the
    unified-memory accounting entirely: kcore at 100x died with raw
    java.lang.OutOfMemoryError inside MemoryStore's unroll of a
    Java-serialized checkpoint partition (r9 probe), unreachable by
    eviction tuning because the overrun was never accounted. Serialized
    blocks are exact byte buffers: compact, evictable, and deserialized
    incrementally on read."""
    c = df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)
    bags = _ACTIVE_CKPT[:-1] if parent else _ACTIVE_CKPT
    if bags:
        bags[-1].append(c)
    return c


def _release_tolerant(release) -> None:
    """Blocking release that tolerates CONCURRENT removal.

    Under ``spark.cleaner.periodicGC.interval`` the ContextCleaner can
    remove the very blocks a scope is releasing, between the blocking
    ``removeRdd`` RPC's enumeration and its per-block removal — the RPC
    then fails with "Block rdd_N_M does not exist" and ``awaitResult``
    rethrows at scope exit, failing a query whose WORK already succeeded
    (observed live: labelprop at 100x with periodicGC=300s; BASELINE.md
    round-10 appendix). The end state — blocks gone — is exactly what
    the scope wanted, so on failure retry non-blocking (async removal;
    Spark logs-and-ignores its errors) and continue.

    Only the KNOWN race is downgraded silently: any other blocking
    failure (dead gateway, leaked handle) still retries non-blocking —
    best-effort release is the scope's contract either way — but logs a
    warning with the swallowed exception, so a genuine release failure
    that leaves storage above baseline has a signal (r10 advisory)."""
    try:
        release(True)
    except Exception as exc:
        if "does not exist" not in str(exc):
            _log.warning(
                "persist_scope: blocking release failed (%r); "
                "retrying non-blocking", exc,
            )
        try:
            release(False)
        except Exception as exc2:
            _log.warning(
                "persist_scope: non-blocking release also failed (%r); "
                "storage may stay above baseline until ContextCleaner "
                "acts", exc2,
            )


@contextmanager
def persist_scope():
    """Unpersist every scoped_persist and release every
    scoped_local_checkpoint made inside the block on exit."""
    bag: list[DataFrame] = []
    ckpts: list[DataFrame] = []
    _ACTIVE.append(bag)
    _ACTIVE_CKPT.append(ckpts)
    try:
        yield bag
    finally:
        _ACTIVE.pop()
        _ACTIVE_CKPT.pop()
        for df in bag:
            # blocking: scope exit is the deterministic release point —
            # callers rely on storage being back at baseline right after
            _release_tolerant(lambda b, d=df: d.unpersist(blocking=b))
        for df in ckpts:
            _release_tolerant(
                lambda b, d=df: release_local_checkpoint(d, blocking=b)
            )


def release_local_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Actually free the storage blocks behind a ``localCheckpoint``'d
    DataFrame.

    ``Dataset.unpersist()`` is a silent NO-OP for checkpointed frames: it
    only consults the CacheManager, which never registered the checkpoint
    RDD (probed empirically on this Spark — the RDD stays in
    ``getPersistentRDDs`` after ``unpersist(blocking=True)``). The blocks
    belong to the ``LogicalRDD`` leaf the checkpoint planted, so release
    goes through that leaf's RDD directly.

    Call it on the checkpointed frame (or a narrow projection of one)
    once nothing reachable needs it — :func:`iterate` does, for each
    superseded generation of an iterative operator.

    Only ``LogicalRDD`` leaves are touched; any other plan shape is left
    alone. Do NOT call it on a frame that JOINS a still-needed
    checkpoint — every LogicalRDD leaf in the plan is released.
    """
    logical = df._jdf.queryExecution().analyzed()
    leaves = logical.collectLeaves()
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if node.getClass().getSimpleName() == "LogicalRDD":
            node.rdd().unpersist(blocking)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    *,
    counter: Column | None = None,
    converged: Callable[[int, int], bool] = operator.eq,
    must_converge: bool = True,
    checkpoint_every: int = 1,
) -> DataFrame:
    """The driver-side fixpoint loop of every iterative operator (Prajna's
    DSet fold loops, DSetGenerics.fs:1127; a Pregel superstep per round):
    ``state`` is generation 0, ``step`` maps one generation to the next,
    for at most ``max_rounds`` rounds. Returns the last generation.

    Checkpoints. Generations are materialized through
    :func:`scoped_local_checkpoint`: persist alone does not truncate the
    logical plan, and Catalyst stack-overflows around 15 chained join
    rounds. ``checkpoint_every=k`` materializes only every k-th
    generation (and the last); the ones between stay lazy and run inside
    the next checkpoint's job — valid only when each generation has ONE
    consumer, the next step. A superseded checkpoint is released as soon
    as its successor exists, so at most two generations are pinned: in
    local mode driver and executors share one heap, and unbounded pinned
    generations starved AQE broadcast builds at 10x (commit be7318d).

    Ownership. Call it inside the operator's own :func:`persist_scope`,
    which also owns the operator's loop-invariant checkpoints and frees
    them when the operator returns. Generations register with the
    ENCLOSING scope (``parent=True``), so the returned one belongs to the
    operator's caller, like any operator result.

    Convergence. ``counter`` is an aggregate observed on every
    materialized generation (generation 0 included) by ``observe()``, so
    it rides the checkpoint job — no extra ``count()`` job. The loop stops
    once ``converged(previous, current)`` holds (default: the counter
    stopped moving). A budget that runs out first raises RuntimeError —
    unconverged state must not pass for a fixpoint — unless
    ``must_converge=False``, for a bound that is part of the result's
    definition (BFS's hop bound). Without a counter the loop runs exactly
    ``max_rounds`` rounds."""

    def materialize(df: DataFrame) -> tuple[DataFrame, int | None]:
        if counter is None:
            return scoped_local_checkpoint(df, parent=True), None
        obs = Observation()
        ckpt = scoped_local_checkpoint(df.observe(obs, counter.alias("n")), parent=True)
        return ckpt, obs.get["n"] or 0

    def release(df: DataFrame) -> None:
        release_local_checkpoint(df)
        for bag in _ACTIVE_CKPT:
            bag[:] = [d for d in bag if d is not df]

    live, n_prev = materialize(state)
    gen = live
    for i in range(max_rounds):
        gen = step(gen)
        if (i + 1) % checkpoint_every and i < max_rounds - 1:
            continue
        gen, n = materialize(gen)
        release(live)
        live = gen
        if counter is not None and converged(n_prev, n):
            return live
        n_prev = n
    if counter is not None and must_converge:
        release(live)
        name = step.__qualname__.replace(".<locals>", "")
        raise RuntimeError(f"{name} did not converge within {max_rounds} rounds")
    return live
