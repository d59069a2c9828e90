"""The asserted rotation-queue invariant (r12 verdict ask #2).

Every registry query whose transitive source hash differs from the
committed manifest — i.e. whose PLAN changed since it was last queued
for driver verification — MUST appear in `_PRIORITY`, the block the
external correctness gate checks first. This is the invariant whose
absence let r11 ship seven rewritten plans and r12 ship graph_k_core
with only pre-rewrite green rows.

No Spark session needed: the hash walks python source only.
"""

from __future__ import annotations

import json

import pytest

from flink_1_11_2_with_comments_spark import queries as q

from .query_manifest import (MANIFEST_PATH, PKG, compute_manifest,
                             load_manifest, reachable_sources)


@pytest.fixture(scope="module")
def manifest() -> dict[str, str]:
    try:
        return load_manifest()
    except FileNotFoundError:
        pytest.fail(
            f"missing {MANIFEST_PATH} — regenerate with "
            "`python -m tests.query_manifest --bootstrap`")


def test_changed_queries_are_windowed(manifest):
    current = compute_manifest()
    window = set(q._PRIORITY)
    stale = sorted(
        name for name, h in current.items()
        if manifest.get(name) != h and name not in window)
    assert not stale, (
        "these registry queries' source (or a package-internal "
        "function they call, or their oracle SQL) changed since the "
        "manifest was written, but they are NOT queued in _PRIORITY "
        "for re-verification — add them to the window front block "
        "AND regenerate the manifest "
        f"(python -m tests.query_manifest): {stale}")


def test_window_names_resolve():
    """_PRIORITY must only name real registry entries (a typo here
    silently shrinks the driver window)."""
    specs = q.all_specs()
    unknown = [n for n in q._PRIORITY if n not in specs]
    assert not unknown, f"_PRIORITY names not in registry: {unknown}"


def test_manifest_covers_registry(manifest):
    """Every registry query has a manifest row (a new query with no
    row is treated as changed by test_changed_queries_are_windowed,
    but the manifest must be regenerated before shipping so the NEXT
    round's diff is meaningful)."""
    specs = q.all_specs()
    missing = sorted(set(specs) - set(manifest))
    assert not missing, (
        "registry queries missing from the manifest — regenerate "
        f"(python -m tests.query_manifest): {missing}")
    orphans = sorted(set(manifest) - set(specs))
    assert not orphans, f"manifest rows for deleted queries: {orphans}"


def test_manifest_is_current(manifest):
    """The committed manifest must match the shipped source exactly:
    stale rows for windowed queries would make the next round's
    changed-set computation wrong."""
    current = compute_manifest()
    drift = sorted(n for n in current
                   if manifest.get(n) != current[n])
    assert not drift, (
        "manifest out of date (regenerate with "
        f"python -m tests.query_manifest): {drift}")


def test_manifest_file_is_valid_json():
    with open(MANIFEST_PATH) as fh:
        data = json.load(fh)
    assert all(isinstance(v, str) and len(v) == 64
               for v in data.values())


def test_hash_follows_class_methods():
    """match_recognize_sql reaches the table read and the CEP planner
    only through TableEnvironment's methods (__init__ -> register_views
    -> load_table; sql_query -> match_recognize), so the walk must
    follow a referenced class's methods."""
    keys = reachable_sources(q.all_specs()["match_recognize_sql"].fn)
    assert f"{PKG}.catalog.TableEnvironment.__init__" in keys
    assert f"{PKG}.catalog.load_table" in keys
    assert f"{PKG}.plans.match_recognize.match_recognize" in keys
