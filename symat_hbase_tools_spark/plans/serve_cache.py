"""Serve-many persist hygiene: the one pin facility for every operator that
persists an intermediate DataFrame per call (shingle and hash tables, IVF
probe tables, perceptual-hash fingerprints, range-join intervals, ...).

The pattern: a long-lived session calls the same operator repeatedly; each
call persists a small intermediate referenced more than once inside ONE
call's plan. Without explicit release the cached blocks accumulate until
the context cleaner happens to GC them. ``pin(df, site)`` keeps one slot per
PIN SITE and releases the site's previous entry right before persisting the
new one, so outstanding state is bounded at one table per site.

Release lives at the pin site, never at an operator entry point (the
round-16 lesson, caught by the HOF plan gate). Spark's CacheManager matches
entries by analyzed plan, and several operators pin the SAME shared subplan
(``dedup._doc_shingles`` serves incremental_dedup AND the contamination
family; ``dedup._window_hashes_of`` serves the whole span family). An
entry-point release therefore removed the InMemoryRelation pushdown barrier
from another operator's plan, and Catalyst re-inlined the interpreted
shingle HOF into a Filter (the round-9 double-eval class). For the same
reason each pin records its plan's semantic hash: a release is skipped
while another site still holds the same plan, and the last holder's release
unpersists it.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: site -> (pinned DataFrame, semantic hash of its analyzed plan)
_PINS: dict[str, tuple[DataFrame, int]] = {}


def pin(df: DataFrame, site: str) -> DataFrame:
    """Release ``site``'s previous pin, then persist ``df`` with
    MEMORY_AND_DISK and hold it as the site's entry.

    A pin is per CALL, not per DataFrame: callers materialize each result
    before the next call that reaches the same site (the CLI, entry and
    bench paths all do). Lazily composing two results that pin the same
    site keeps only the later call's cache; the earlier one recomputes its
    intermediate (slower, never wrong).

    Refcount rule: sites that pin the same plan share one CacheManager
    entry, so releasing one site's pin leaves the entry cached while any
    other site holds a pin with the same ``semanticHash``."""
    prev = _PINS.pop(site, None)
    # skip the unpersist while another site still holds the same plan
    if prev is not None and all(h != prev[1] for _, h in _PINS.values()):
        try:
            prev[0].unpersist(blocking=False)
        except Exception:
            # the session that persisted it was stopped — its cached blocks
            # died with the context; a throw here would wedge the next pin
            # in the NEW session until process restart
            pass
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINS[site] = (df, df.semanticHash())
    return df


def outstanding() -> dict[str, int]:
    """Pins currently held, per site (at most one each)."""
    return {site: 1 for site in _PINS}
