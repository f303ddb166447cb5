"""Process-wide memo registry with an explicit lifetime hook.

Several operator families memoize expensive localCheckpoint'd
intermediates per (applicationId, sf_dir) — dedup's verified-pair /
LSH-candidate / CC-label tables (operators/dedup.py), the ANN top-k
result tables (operators/similarity.py), and the shared changefeed
fixture dirs (sources/changefeed.py). The memos are the materialized-
view idiom that makes the bench honest (shared subtrees computed once),
but they pin block-manager storage (and, for the changefeed dirs,
/dev/shm space) for the life of the process (r4 verdict directive #7).

`clear_memos()` is the bound: dropping the dict entries releases the
last references to the checkpointed DataFrames, so Spark's
ContextCleaner unpersists their RDD blocks at the next GC; on-disk
scratch dirs are removed eagerly. Call it between bench phases or
whenever a long-lived session switches sf_dir. Memos rebuild lazily on
next use, so clearing is always safe — only the next consumer pays the
rebuild.
"""

from __future__ import annotations

from collections.abc import Callable

# (name, dict, on_evict) — on_evict is called with each removed value.
_REGISTRY: list[tuple[str, dict, Callable | None]] = []


def register_memo(
    name: str, memo: dict, on_evict: Callable | None = None
) -> dict:
    """Register a module-level memo dict for central clearing."""
    _REGISTRY.append((name, memo, on_evict))
    return memo


def clear_memos(spark=None) -> dict[str, int]:
    """Drop every registered memo entry; returns {name: n_cleared}.

    If ``spark`` is given, also nudges the JVM GC so ContextCleaner
    releases the now-unreferenced localCheckpoint blocks promptly
    instead of at an arbitrary later collection.
    """
    cleared: dict[str, int] = {}
    for name, memo, on_evict in _REGISTRY:
        cleared[name] = cleared.get(name, 0) + len(memo)
        if on_evict is not None:
            for v in memo.values():
                on_evict(v)
        memo.clear()
    if spark is not None:
        try:
            spark._jvm.System.gc()  # noqa: SLF001 — prompt block cleanup
        except Exception:  # pragma: no cover — GC nudge is best-effort
            pass
    return cleared
