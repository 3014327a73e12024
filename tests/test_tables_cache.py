"""tables.build_once — the self-validating build-once cache guard.

VERDICT r6 Wrong #3: build-once caches validated themselves piecemeal
(some checked _SUCCESS, some checked version lists that can't tell
"built by current code" from "built by any prior layout", and an
interrupted build left no tombstone). build_once centralizes the rule:
path = f(fixture mtime_ns, size, layout version), completion marker
written only after the builder returns, anything unmarked is rebuilt.
"""

from __future__ import annotations

import os

from batch_processing_etl_orchestration_spark.tables import (
    _BUILD_OK,
    build_once,
    fixture_cache_dir,
)

SF = "/root/testdata/sf0.001"


def _patch_tmp(monkeypatch, tmp_path):
    import batch_processing_etl_orchestration_spark.tables as tables

    orig = tables.fixture_cache_dir

    def patched(sf_dir, fixture_file, name, layout=1):
        return orig(sf_dir, fixture_file, name, layout).replace(
            tables.STATE_ROOT, str(tmp_path)
        )

    monkeypatch.setattr(tables, "fixture_cache_dir", patched)


def test_builds_once_then_serves_cache(tmp_path, monkeypatch):
    _patch_tmp(monkeypatch, tmp_path)
    calls = []

    def build(path):
        calls.append(path)
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "data"), "w").write("v1")

    p1 = build_once(SF, "nation.parquet", "bo_test", build)
    p2 = build_once(SF, "nation.parquet", "bo_test", build)
    assert p1 == p2 and len(calls) == 1
    assert os.path.isfile(os.path.join(p1, _BUILD_OK))


def test_interrupted_build_is_rebuilt(tmp_path, monkeypatch):
    """A directory without the completion marker — a crashed builder —
    is removed and rebuilt, contents discarded."""
    _patch_tmp(monkeypatch, tmp_path)

    import batch_processing_etl_orchestration_spark.tables as tables

    half = tables.fixture_cache_dir(SF, "nation.parquet", "bo_half")
    os.makedirs(half)
    open(os.path.join(half, "stale"), "w").write("from a crash")

    def build(path):
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "fresh"), "w").write("ok")

    p = build_once(SF, "nation.parquet", "bo_half", build)
    assert os.path.isfile(os.path.join(p, "fresh"))
    assert not os.path.exists(os.path.join(p, "stale"))


def test_layout_bump_changes_path(tmp_path, monkeypatch):
    """A layout-version bump can never read a prior layout's directory
    — the version is part of the path."""
    _patch_tmp(monkeypatch, tmp_path)
    built = []

    def build(path):
        built.append(path)
        os.makedirs(path, exist_ok=True)

    p1 = build_once(SF, "nation.parquet", "bo_layout", build, layout=1)
    p2 = build_once(SF, "nation.parquet", "bo_layout", build, layout=2)
    assert p1 != p2 and len(built) == 2
    assert p1.endswith("-v1") and p2.endswith("-v2")


def test_tag_uses_nanosecond_mtime():
    """Cache keys carry st_mtime_ns: a same-second same-size fixture
    rewrite still invalidates (ADVICE r6)."""
    st = os.stat(os.path.join(SF, "nation.parquet"))
    tag = os.path.basename(fixture_cache_dir(SF, "nation.parquet", "x"))
    assert str(st.st_mtime_ns) in tag and str(st.st_size) in tag


def test_stale_sibling_tags_reaped(tmp_path, monkeypatch):
    """A fresh build retires same-sf sibling tags (older fixture
    mtimes / layouts — unreadable by any current code path) ONLY once
    they have sat idle past the reap age (ADVICE r7: a concurrent
    worker mid-build on a sibling must keep its files), while leaving
    other sf dirs' caches — including ones whose tag merely starts
    with this sf's basename — alone."""
    _patch_tmp(monkeypatch, tmp_path)

    import batch_processing_etl_orchestration_spark.tables as tables

    base = os.path.basename(os.path.normpath(SF))
    live = tables.fixture_cache_dir(SF, "nation.parquet", "bo_reap")
    parent = os.path.dirname(live)
    old = os.path.join(parent, base + "-111-222-v1")
    fresh = os.path.join(parent, base + "-333-444-v1")
    other_sf = os.path.join(parent, "sf0.01-111-222-v1")
    # an sf dir whose basename EXTENDS this one's ("<base>-x") used to
    # be collaterally matched by the bare prefix check
    extending = os.path.join(parent, base + "-x-555-666-v1")
    for d in (old, fresh, other_sf, extending):
        os.makedirs(d)
    past = __import__("time").time() - 2 * tables._REAP_AGE_SEC
    os.utime(old, (past, past))
    os.utime(extending, (past, past))

    def build(path):
        os.makedirs(path, exist_ok=True)

    build_once(SF, "nation.parquet", "bo_reap", build)
    assert not os.path.exists(old)
    assert os.path.exists(fresh)  # too young: a concurrent build owns it
    assert os.path.exists(other_sf)
    assert os.path.exists(extending)  # full-tag match, not bare prefix
