"""The session-artifact store (plans/artifacts.py): release frees what
memo values pinned, and no module keeps a memo of its own."""

from __future__ import annotations

import ast
import pathlib

import presto_cached_examples_spark
from presto_cached_examples_spark.plans import artifacts
from presto_cached_examples_spark.registry import all_specs
from tests.conftest import SF_TINY
from tests.util import assert_frames_match

PACKAGE = pathlib.Path(presto_cached_examples_spark.__file__).parent


def _held(spark, name):
    """The session's current entry for ``name``; fails on a miss."""

    def miss():
        raise AssertionError(f"{name} is not in the store")

    return artifacts.memo(spark, SF_TINY, name, miss)


def test_memo_builds_once_and_forget_rebuilds(spark):
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    name = ("probe", "memo-once")
    assert artifacts.memo(spark, SF_TINY, name, build) == 1
    assert artifacts.memo(spark, SF_TINY, name, build) == 1
    artifacts.forget(spark, SF_TINY, name)
    assert artifacts.memo(spark, SF_TINY, name, build) == 2
    assert len(calls) == 2
    artifacts.forget(spark, SF_TINY, name)


def test_release_unpersists_hourly_tier_and_rebuild_matches_oracle(spark, duck):
    """q_events_rollup persist()s its hourly tier as a session artifact.
    release must take it out of memory and out of the store; the next
    build misses, pins a fresh tier, and still matches the oracle."""
    spec = all_specs()["q_events_rollup"]
    spec.fn(spark, SF_TINY).collect()
    hourly = _held(spark, "hourly_tier")
    assert hourly.storageLevel.useMemory

    assert artifacts.release(spark, blocking=True) >= 1
    assert not hourly.storageLevel.useMemory, "release left the hourly tier cached"

    assert_frames_match(spec.fn(spark, SF_TINY), duck.sql(spec.oracle), context="q_events_rollup")
    rebuilt = _held(spark, "hourly_tier")
    assert rebuilt is not hourly, "the build after release hit a stale memo"
    assert rebuilt.storageLevel.useMemory


def test_session_token_is_called_only_by_the_store():
    """Every session memo goes through plans/artifacts.py. session.py
    defines the token; sources/layouts.py names staging dirs after it."""
    allowed = {"session.py", "plans/artifacts.py", "sources/layouts.py"}
    callers = sorted(
        p.relative_to(PACKAGE).as_posix()
        for p in PACKAGE.rglob("*.py")
        if "session_token(" in p.read_text()
    )
    assert set(callers) <= allowed, f"hand-rolled session memo in {set(callers) - allowed}"


def test_no_module_level_memo_dicts():
    """A module-level ``{}``/``dict()``/``set()`` is how the old memos
    started. Besides the store's own, the one left is not a session
    memo: the registry itself."""
    allowed = {
        "plans/artifacts.py:_ENTRIES",
        "registry.py:_REGISTRY",
    }
    found = set()
    for p in PACKAGE.rglob("*.py"):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.AnnAssign):
                target, value = node.target, node.value
            elif isinstance(node, ast.Assign) and len(node.targets) == 1:
                target, value = node.targets[0], node.value
            else:
                continue
            empty = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id in ("dict", "set")
                and not value.args
            )
            if empty and isinstance(target, ast.Name):
                found.add(f"{p.relative_to(PACKAGE).as_posix()}:{target.id}")
    assert found <= allowed, f"module-level memo outside the store: {found - allowed}"
