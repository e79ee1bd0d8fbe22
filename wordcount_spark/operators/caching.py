"""Query-scoped cache pinning.

Query functions cache shared sub-frames (a tokenized corpus consumed by
two branches, an O(groups) count table read twice) because Spark does not
reuse exchanges across DataFrame branches. Each ``.cache()`` pins blocks
in the block manager until explicitly unpersisted — and query functions
return lazy frames, so they cannot unpersist after the consuming job.

``bounded_cache`` records every pin; :func:`release_pins` unpersists them
all. ``registry.get_queries()`` calls it before each build, so a pin lives
exactly as long as the query that made it. The contract every caller
keeps is build → action → next build: sharing inside one query is
unchanged, and a frame executed after the next build just recomputes its
lineage (correctness is unaffected — only the reuse is lost).

Scoping is also what keeps plans independent of session order. Spark's
CacheManager substitutes any live pin into ANY later plan that matches it
semantically, so a pin that outlived its query rewrote unrelated queries
(dropped pushdowns, moved shuffles, leaked column names). With no pin
surviving into the next build there is nothing to substitute and nothing
to deduplicate: two pins of one plan inside one query map to the same
CacheManager entry, and unpersisting it twice is harmless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: frames pinned since the last :func:`release_pins`
_pins: list[DataFrame] = []


def bounded_cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, released before the next registry build."""
    df = df.cache()
    _pins.append(df)
    return df


def release_pins() -> None:
    """Unpersist every pin made since the last release."""
    for df in _pins:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped / frame already unpersisted
    _pins.clear()
