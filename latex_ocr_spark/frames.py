"""One owner for every frame the engine persists or checkpoints.

``persist(df)`` and ``local_checkpoint(df)`` (always eager) record the frame
in the innermost open ``scope()`` and return it. When the scope closes —
normally or on error — it releases every frame recorded under it and not
yet released, last recorded first: a persisted frame is unpersisted, a
checkpointed frame's block-manager storage is freed. ``release(df)`` frees
one frame now; the per-round loops (``dedup_components``,
``learn_bpe_merges``) use it to keep their storage O(1) in rounds.

A scope belongs where the ACTION runs: a stage that writes its output, a
tool that collects a query, a test. Lazy frames read their caches and
checkpoints when the action runs, so the action must run inside the scope.
A lazy frame that outlives its scope still computes from a released cache,
but cannot read a checkpoint whose storage was freed.

Outside any scope the helpers act exactly like the bare calls: a persisted
frame lives until the caller unpersists it or calls ``clearCache()``, and a
checkpoint's storage lives until the JVM's ContextCleaner collects it —
``clearCache()`` does not free it. Scopes are per context (``contextvars``),
so a frame persisted on another thread is not recorded in this one's scope.
"""

from __future__ import annotations

import contextlib
import contextvars
import warnings
import weakref

from pyspark.sql import DataFrame

# the open scopes, outermost first; each is the list of frames recorded
# under it and not yet released
_open: contextvars.ContextVar[tuple[list[DataFrame], ...]] = contextvars.ContextVar(
    "frames_open", default=()
)
# frames made by local_checkpoint: released through their RDD, not unpersist
_checkpoints: weakref.WeakSet[DataFrame] = weakref.WeakSet()
_FREE_CKPT_WARNED = False


def _record(df: DataFrame) -> DataFrame:
    scopes = _open.get()
    if scopes:
        scopes[-1].append(df)
    return df


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released when the innermost open scope closes."""
    return _record(df.persist())


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, freed when the innermost open
    scope closes."""
    out = df.localCheckpoint(eager=True)
    _checkpoints.add(out)
    return _record(out)


def release(df: DataFrame) -> None:
    """Free ``df`` now and drop it from the open scopes."""
    for frames in _open.get():
        frames[:] = [f for f in frames if f is not df]
    _free(df)


@contextlib.contextmanager
def scope():
    """Release, on exit, every frame persisted or checkpointed inside.
    Works as ``with scope():`` and as the decorator ``@scope()``."""
    frames: list[DataFrame] = []
    token = _open.set(_open.get() + (frames,))
    try:
        yield
    finally:
        _open.reset(token)
        for df in reversed(frames):
            _free(df)


def _free(df: DataFrame) -> None:
    if df in _checkpoints:
        _free_local_checkpoint(df)
    else:
        df.unpersist()


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage behind a localCheckpoint'd frame.

    ``DataFrame.unpersist()`` only clears cache-manager entries, not
    checkpoint RDD blocks; those otherwise live until the JVM's
    ContextCleaner notices the RDD is unreachable — on a long iterative job
    that means monotonic storage growth across rounds. The plan of a
    localCheckpoint'd DataFrame is a single LogicalRDD leaf whose ``rdd`` is
    exactly the persisted RDD; unpersist it directly (blocking — the label
    frames are tiny, and synchronous release keeps getRDDStorageInfo
    deterministic for callers/tests). Best-effort: if the plan shape ever
    differs (Spark Connect, a future analyzer change) we fall back to
    GC-driven cleanup and warn ONCE so the regression is visible instead of
    silently reinstating unbounded per-round checkpoint-storage growth.
    """
    global _FREE_CKPT_WARNED
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
            return
        reason = f"plan leaf is {plan.getClass().getSimpleName()}"
    except Exception as exc:  # pragma: no cover - internals moved
        reason = repr(exc)
    if not _FREE_CKPT_WARNED:
        _FREE_CKPT_WARNED = True
        warnings.warn(
            "frames: LogicalRDD fast-path for releasing "
            f"localCheckpoint storage did not apply ({reason}); falling "
            "back to GC-driven cleanup — checkpoint blocks may accumulate "
            "across rounds on long jobs.",
            RuntimeWarning,
            stacklevel=2,
        )
