"""Session-artifact store: the one memo for everything a query builder
derives once per session and reuses on later builds.

Artifacts are loaded tables, trained codebooks, split points, model
tables, materialized tiers and written landing files. Each entry is
keyed on ``(session_token(spark), sf_dir, name)``. ``name`` is any
hashable; parameterised artifacts use a tuple such as
``("codebook", sub, k, iters)``. The session token is the context's
``applicationId``, which a restart never reuses, so a new session
always misses and rebuilds instead of reading a dead context's blocks.

The store runs no Spark action of its own. A builder decides whether
its artifact is an eager or lazy checkpoint, a ``persist()`` or a
plain value; the store only keeps what the builder returned.

The store also records which fixture directory the session's temp
views name (``bind``), so the SQL binder re-registers them only when
that directory changes.

Query plans are artifacts too: the registry keeps each query's analyzed
logical plan under the name ``(PLAN, query_name)``, so a repeated build
skips the Python builder. A plan embeds the values of the artifacts its
builder read, so ``forget`` drops the session's plans for the same
``sf_dir`` along with the named entry.

Lifecycle: ``release(spark)`` unpersists every persisted DataFrame memo
value the session holds and drops all of the session's entries.
Long-running drivers call it between query batches; the next build of
each artifact rebuilds it.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

from presto_cached_examples_spark.session import session_token

T = TypeVar("T")

PLAN = "plan"  # first element of a cached query plan's name

_ENTRIES: dict[tuple[str, str | None, Hashable], Any] = {}
_MISSING = object()


def memo(spark: SparkSession, sf_dir: str, name: Hashable, build: Callable[[], T]) -> T:
    """Return the session's artifact ``name`` for ``sf_dir``, calling
    ``build()`` only when the session does not hold it yet.

    Two threads that miss on one key together both build, and the later
    result is kept; builders are deterministic, so either is correct."""
    key = (session_token(spark), sf_dir, name)
    value = _ENTRIES.get(key, _MISSING)
    if value is _MISSING:
        value = _ENTRIES[key] = build()
    return value


def forget(spark: SparkSession, sf_dir: str, name: Hashable) -> None:
    """Drop one entry, so the next ``memo`` call rebuilds it, and the
    session's cached query plans for ``sf_dir``, so the next build of
    each query runs its builder against the rebuilt artifact."""
    token = session_token(spark)
    _ENTRIES.pop((token, sf_dir, name), None)
    for key in [k for k in list(_ENTRIES) if k[:2] == (token, sf_dir) and _is_plan(k[2])]:
        _ENTRIES.pop(key, None)


def _is_plan(name: Hashable) -> bool:
    return isinstance(name, tuple) and name[:1] == (PLAN,)


def bind(spark: SparkSession, sf_dir: str, register: Callable[[], None]) -> None:
    """Call ``register()`` unless ``sf_dir`` is the fixture directory the
    session's temp views were last bound to, then record ``sf_dir``.

    The record is one entry per session token: binding another
    directory replaces it, and ``release`` drops it, so the next bind
    registers again."""
    key = (session_token(spark), None, "bound_sf_dir")
    if _ENTRIES.get(key) != sf_dir:
        register()
        _ENTRIES[key] = sf_dir


def release(spark: SparkSession, blocking: bool = False) -> int:
    """Unpersist every persisted DataFrame memo value the session holds,
    then drop all of its entries. Returns how many DataFrames were
    unpersisted."""
    token = session_token(spark)
    freed = 0
    for key in [k for k in list(_ENTRIES) if k[0] == token]:
        value = _ENTRIES.pop(key, None)
        if isinstance(value, DataFrame) and value.is_cached:
            value.unpersist(blocking=blocking)
            freed += 1
    return freed
