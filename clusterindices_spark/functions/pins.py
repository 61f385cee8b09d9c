"""One-generation cache pins for lazily-returned persisted frames.

Persisted intermediates in lazy pipelines have a lifetime problem: an eager
unpersist-on-return defeats the cache, persist-and-forget leaks a generation
per invocation. A pin keeps ONE persisted generation per tag: a new
invocation releases the previous pin, and when the incoming plan is
IDENTICAL (``LogicalPlan.sameResult``) the already-materialized generation
is returned instead of being torn down and rebuilt.

The same-plan check is not just an optimization — it is required for
correctness of the replacement: CacheManager keys cached plans by
sameResult, so two pins with equivalent plans share ONE cache entry, and
blindly unpersisting the old generation destroys the new generation's cache
with it, leaving a dead InMemoryRelation that recomputes on every action
(the r3 `connected_components` regression: 0.5 s cached → 14–16 s dead,
compounding per invocation — BASELINE.md).

ASSUMPTION: fixture files are immutable within a session. sameResult
compares plans, not data — after regenerating files under the same path,
call clear_pins().
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINNED: dict[str, DataFrame] = {}


def clear_pins() -> None:
    """Unpersist and forget every cached generation — required after
    regenerating fixture files mid-session."""
    for tag in list(_PINNED):
        df = _PINNED.pop(tag)
        try:
            df.unpersist()
        except Exception:
            pass


def same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return bool(
            a._jdf.queryExecution().analyzed().sameResult(
                b._jdf.queryExecution().analyzed()
            )
        )
    except Exception:
        return False


def repin(tag: str, df: DataFrame, storage_level=None) -> DataFrame:
    """Register ``df`` (unpersisted) as tag's cache generation and return
    the persisted frame — either ``df`` newly pinned, or the previous
    generation when its plan is identical."""
    from pyspark.storagelevel import StorageLevel

    old = _PINNED.get(tag)
    if old is not None:
        if same_plan(old, df):
            return old
        _PINNED.pop(tag, None)
        try:
            old.unpersist()
        except Exception:
            pass
    pinned = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    _PINNED[tag] = pinned
    return pinned


def pin_materialized(tag: str, df: DataFrame) -> DataFrame:
    """Pin an ALREADY-persisted, already-materialized frame (e.g. the
    output of a driver loop). Same-plan-aware like repin: when the old
    generation's plan is identical the two share one CacheManager entry,
    so the old frame is returned and nothing is unpersisted."""
    old = _PINNED.pop(tag, None)
    if old is not None:
        if same_plan(old, df):
            _PINNED[tag] = old
            return old
        try:
            old.unpersist()
        except Exception:
            pass
    _PINNED[tag] = df
    return df
