"""Regression tests for the round-4 negative-zero hash-fail class.

Round 4 shipped the engine's first two driver hash mismatches
(q_text_pmi, q_embed_outliers): DuckDB's ROUND is IEEE sign-preserving
(tiny negative double -> -0.0) while Spark's ROUND goes through
BigDecimal (-> +0.0), and the then-local checker silently normalized
`v == 0 -> 0.0` so local green didn't predict driver red. Two fixes,
both pinned here:

1. `registry.neutralize_negative_zero` rewrites every oracle
   ``ROUND(...)`` to ``(ROUND(...) + 0.0)`` at registration (IEEE:
   ``-0.0 + 0.0 == +0.0``, a no-op for every other value incl. NULL).
2. The local canonicalizer hashes the raw float repr — signed zero and
   full precision intact — so it is at least as strict as the driver's.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from presto_cached_examples_spark import registry
from presto_cached_examples_spark.registry import neutralize_negative_zero


def test_canon_cell_distinguishes_signed_zero():
    """The checker that let -0.0 ship must never do so again: the local
    canonicalization of -0.0 and +0.0 must differ (driver parity)."""
    from tests.util import _canon_cell as t_canon

    import tools.check_oracles as co

    for canon in (t_canon, co._canon_cell):
        assert canon(-0.0) != canon(0.0)
        # and full precision is hashed — no 6dp forgiveness either
        assert canon(0.12345649) != canon(0.12345651)
        assert canon(float("nan")) == "<null>"


def test_duckdb_round_produces_negative_zero_without_fix():
    """The raw engine behavior that caused the r4 failures: DuckDB's
    ROUND preserves the sign of a tiny negative double. If this ever
    stops reproducing, the neutralization layer is dead weight."""
    raw = duckdb.sql("SELECT ROUND(-1e-9::DOUBLE, 4) AS r").fetchone()[0]
    assert raw == 0.0 and math.copysign(1.0, raw) == -1.0


def test_neutralized_sql_kills_negative_zero():
    fixed_sql = neutralize_negative_zero("SELECT ROUND(-1e-9::DOUBLE, 4) AS r")
    fixed = duckdb.sql(fixed_sql).fetchone()[0]
    assert fixed == 0.0 and math.copysign(1.0, fixed) == 1.0


@pytest.mark.parametrize(
    ("sql", "expect"),
    [
        ("SELECT ROUND(x, 2) AS a", "SELECT (ROUND(x, 2) + 0.0) AS a"),
        # case-insensitive, nested parens inside the call
        (
            "SELECT round(LOG2((a/b) / (c*d)), 4) AS pmi",
            "SELECT (round(LOG2((a/b) / (c*d)), 4) + 0.0) AS pmi",
        ),
        # nested ROUNDs are each wrapped
        (
            "SELECT ROUND(ROUND(x,4)/y, 3) AS r",
            "SELECT (ROUND((ROUND(x,4) + 0.0)/y, 3) + 0.0) AS r",
        ),
        # parens inside string literals must not derail the scan
        (
            "SELECT ROUND(x, 2), 'a ) stray' AS s",
            "SELECT (ROUND(x, 2) + 0.0), 'a ) stray' AS s",
        ),
        # word boundary: AROUND is not ROUND
        ("SELECT AROUND(x) FROM t", "SELECT AROUND(x) FROM t"),
        # whitespace between ROUND and its paren
        ("SELECT ROUND (x, 2) AS a", "SELECT (ROUND (x, 2) + 0.0) AS a"),
        # NULL passthrough is preserved by + 0.0 (semantic no-op)
        ("SELECT ROUND(NULL::DOUBLE, 2) AS r", "SELECT (ROUND(NULL::DOUBLE, 2) + 0.0) AS r"),
        # a paren inside a line comment does not close the call
        (
            "SELECT ROUND(a -- closes early)\n, 2) AS r FROM t",
            "SELECT (ROUND(a -- closes early)\n, 2) + 0.0) AS r FROM t",
        ),
    ],
)
def test_neutralize_rewrite_shapes(sql, expect):
    assert neutralize_negative_zero(sql) == expect


def test_missing_query_module_fails_loudly(monkeypatch):
    """A renamed or deleted operator module must fail the registry load,
    not silently shrink the query surface."""
    missing = "presto_cached_examples_spark.operators.no_such_module"
    monkeypatch.setattr(registry, "_QUERY_MODULES", (*registry._QUERY_MODULES, missing))
    monkeypatch.setattr(registry, "_LOADED", False)
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        registry.all_specs()


def test_all_registered_oracles_are_neutralized():
    """Every ROUND in every registered oracle must already carry the
    `+ 0.0` wrap (registration applies the transform); a bare ROUND
    whose close paren isn't followed by ` + 0.0)` is a regression."""
    import re

    bare = []
    for name, spec in registry.all_specs().items():
        if spec.oracle is None:
            continue
        sql = spec.oracle
        for m in re.finditer(r"\bROUND\s*\(", sql, re.IGNORECASE):
            depth, i = 0, m.end() - 1
            while i < len(sql):
                c = sql[i]
                if c == "'":
                    i += 1
                    while i < len(sql) and sql[i] != "'":
                        i += 1
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        break
                i += 1
            if not sql[i + 1 :].lstrip().startswith("+ 0.0)"):
                bare.append(name)
                break
    assert not bare, f"oracles with un-neutralized ROUND: {bare}"


def test_r4_failures_fixed_at_tiny_sf(spark, duck):
    """End-to-end repro of the two r4 hash-fails at sf0.001 under the
    strict (driver-parity) canonicalizer: Spark vs neutralized oracle."""
    from tests.conftest import SF_TINY
    from tests.util import assert_frames_match

    specs = registry.all_specs()
    for name in ("q_text_pmi", "q_embed_outliers"):
        spec = specs[name]
        assert_frames_match(spec.fn(spark, SF_TINY), duck.sql(spec.oracle), context=name)


# ---- property fuzz: the transform is now load-bearing for all 191
# oracles, so its paren/literal scanner gets a hypothesis workout ----

from hypothesis import given, settings
from hypothesis import strategies as st

_expr = st.recursive(
    st.sampled_from(["x", "y + 1", "f(a, b)", "'lit with ) paren'", "1.5", "t.c"]),
    lambda child: st.builds(
        lambda inner, n: f"ROUND({inner}, {n})", child, st.integers(0, 6)
    )
    | st.builds(lambda inner: f"g({inner})", child)
    | st.builds(lambda a, b: f"({a} / {b})", child, child),
    max_leaves=8,
)


@given(st.lists(_expr, min_size=1, max_size=4))
@settings(max_examples=200, deadline=None, derandomize=True)
def test_neutralize_fuzz_balanced_and_wrapped(exprs):
    """For any nesting of ROUND / calls / string literals: the output
    keeps balanced parens, every ROUND's close paren is followed by the
    ` + 0.0)` wrap, and non-ROUND text survives verbatim (checked by
    stripping the wrap back out)."""
    sql = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    out = neutralize_negative_zero(sql)

    def depth_ok(s: str) -> bool:
        d, i, n = 0, 0, len(s)
        while i < n:
            c = s[i]
            if c == "'":
                i += 1
                while i < n and s[i] != "'":
                    i += 1
            elif c == "(":
                d += 1
            elif c == ")":
                d -= 1
                if d < 0:
                    return False
            i += 1
        return d == 0

    assert depth_ok(out), out

    # invertibility: stripping every "(ROUND(...) + 0.0)" wrap layer
    # recovers the input verbatim — i.e. the transform added the wraps
    # and nothing else. A "(ROUND(" occurrence is only a wrap if its
    # ROUND call's close paren is followed by " + 0.0)"; original SQL
    # can legitimately contain the pattern too (ROUND(ROUND(..)),
    # g(ROUND(..))), so non-wrap matches are skipped, not failed.
    import re as _re

    def close_of_call(s: str, open_idx: int) -> int:
        d, i = 0, open_idx
        while i < len(s):
            c = s[i]
            if c == "'":
                i += 1
                while i < len(s) and s[i] != "'":
                    i += 1
            elif c == "(":
                d += 1
            elif c == ")":
                d -= 1
                if d == 0:
                    return i
            i += 1
        raise AssertionError(f"unbalanced: {s!r}")

    undone = out
    while True:
        unwrapped_one = False
        for m in _re.finditer(r"\(ROUND\(", undone, _re.IGNORECASE):
            i = close_of_call(undone, m.start() + 1 + len("ROUND"))
            if undone[i + 1 : i + 8] == " + 0.0)":
                undone = (
                    undone[: m.start()]
                    + undone[m.start() + 1 : i + 1]
                    + undone[i + 8 :]
                )
                unwrapped_one = True
                break
        if not unwrapped_one:
            break
    assert undone == sql, (sql, out, undone)
