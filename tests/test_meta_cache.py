"""tables.MetaCache — the one bounded LRU for immutable metadata. A
long-running ingest adds keys on every landing, so the caches keyed on
generation paths must stay at their bound and drop the least recently
used entry first. No Spark needed: load() is any callable."""

from __future__ import annotations

from batch_processing_etl_orchestration_spark.operators import genstore, similarity
from batch_processing_etl_orchestration_spark.tables import (
    _FIXTURE_SCHEMA_CACHE,
    MetaCache,
)


def test_fill_past_bound_evicts_least_recently_used(monkeypatch):
    monkeypatch.setattr(MetaCache, "BOUND", 3)
    cache = MetaCache()
    for k in range(5):
        cache.get(k, lambda k=k: f"v{k}")
    assert len(cache) == 3
    assert cache.get(4, lambda: "reloaded") == "v4"  # held
    assert cache.get(0, lambda: "reloaded") == "reloaded"  # evicted first


def test_recent_hit_survives_eviction(monkeypatch):
    monkeypatch.setattr(MetaCache, "BOUND", 2)
    cache = MetaCache()
    cache.get("a", lambda: 1)
    cache.get("b", lambda: 2)
    cache.get("a", lambda: 0)  # hit: "a" becomes the most recent
    cache.get("c", lambda: 3)  # evicts "b", not "a"
    assert cache.get("a", lambda: 0) == 1
    assert cache.get("b", lambda: "reloaded") == "reloaded"


def test_load_runs_once_per_held_key():
    cache = MetaCache()
    loads = []

    def load():
        loads.append(1)
        return "schema"

    for _ in range(3):
        assert cache.get(("dir", "store"), load) == "schema"
    assert len(loads) == 1 and len(cache) == 1


def test_named_caches_share_the_class():
    for cache in (
        _FIXTURE_SCHEMA_CACHE,
        genstore._STORE_SCHEMA_CACHE,
        similarity.IvfIndex._CENTROIDS_CACHE,
    ):
        assert type(cache) is MetaCache
