"""Bounded plan-keyed cache slots: the engine's one way to persist an
intermediate that a lazy plan reads more than once.

Several operators are algebraically forced to scan the same derived frame
multiple times — PageRank reads the edge list once per iteration, triangle
counting reads the canonical edge set for degrees AND the closing join,
TF-IDF reads postings for norms AND scores, association rules read the
(basket, item) pairs for marginals AND the pair join, and the set-similarity
joins read their hashed shingle sets for candidates AND both verify sides.
Without a cache, Spark's lazy evaluation recomputes the full upstream
pipeline per read, and the returned plan is lazy, so the caller cannot
unpersist what the operator persisted.

``cached_once(df, slot)`` applies one policy to every slot:

- **reuse** when the analyzed plan ``sameResult``s the cached one and the
  column names match (``sameResult`` ignores names), so repeated calls —
  bench warm runs, successive admission batches — hit the cache;
- **evict** the old frame when the plan is new, before persisting the new
  one (unpersisting after would drop a plan-equal shared entry);
- **one frame per slot**, so memory stays bounded by the slot count;
- **slots end with their SparkContext**: a frame from a stopped context is
  dropped without ``unpersist`` (its blocks died with the context), so a
  driver that stops and restarts sessions never gets a dead frame back.

Slot owners (``<module>.<operator>.<frame>``, or ``<query>_<frame>``):
``graph.pagerank.{edges,deg,base}``, ``graph.lpa.edges``,
``graph.triangles.canon``, ``rules.association.bi``,
``retrieval.postings``, ``dedup.pairs.shingle_sets`` (shared by
``ngram_jaccard_pairs`` and ``minhash_lsh_pairs``),
``dedup.ngram_jaccard_pairs.prefixes``,
``dedup.minhash_lsh_lookup.postings``, ``text.winnow_pairs.fingerprints``,
``q45_{index,hot_buckets}`` and ``q180_{index,hot_buckets,dup_ids,
contam_ids}``.

At 100 TB the cached frames here are the SMALL deriveds (edge lists,
postings, dictionaries) — never raw fact tables; `StorageLevel` stays the
default MEMORY_AND_DISK-spillable so an oversized cache degrades to disk,
not OOM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["cached_once", "clear_slot"]

_SLOTS: dict[str, DataFrame] = {}


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    return a.columns == b.columns and bool(
        a._jdf.queryExecution()
        .analyzed()
        .sameResult(b._jdf.queryExecution().analyzed())
    )


def _pop_live(slot: str) -> DataFrame | None:
    """Remove ``slot`` and return its frame, or None when the slot is
    empty or its SparkContext has been stopped."""
    old = _SLOTS.pop(slot, None)
    if old is None or old.sparkSession.sparkContext._jsc is None:
        return None
    return old


def cached_once(df: DataFrame, slot: str) -> DataFrame:
    """Persist ``df`` under ``slot``, reusing the existing cache when the
    analyzed plan is semantically identical and evicting it otherwise."""
    old = _pop_live(slot)
    if old is not None:
        if _same_plan(old, df):
            _SLOTS[slot] = old
            return old
        old.unpersist()
    df = df.persist()
    _SLOTS[slot] = df
    return df


def clear_slot(slot: str) -> None:
    """Drop and unpersist a slot (tests / explicit lifecycle control)."""
    old = _pop_live(slot)
    if old is not None:
        old.unpersist()
