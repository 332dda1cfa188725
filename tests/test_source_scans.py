"""Source scans that need no Spark session.

- Padding: no ``raise NotImplementedError`` or bare ``pass`` in package
  source outside the documented exceptions.
- Citations: every reference path cited in package source, SURVEY.md
  or NOTES.md exists, and every ``:N-M`` line anchor falls inside the
  cited file.
"""

from __future__ import annotations

import pathlib
import re

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "presto_cached_examples_spark"

# documented exceptions for the padding scan: (path suffix, pattern)
PADDING_ALLOWED = {
    ("llm/multimodal.py", "NotImplementedError"),  # honest decoder stub
    ("llm/jpeg.py", "NotImplementedError"),  # fail-loud non-baseline gates (progressive/12-bit)
    ("streaming/stateful.py", "pass"),  # required no-op close()
}

# the checkout the package's design citations point into
REFERENCE = pathlib.Path("/root/reference")
_CITE_RE = re.compile(
    re.escape(str(REFERENCE)) + r"/[A-Za-z0-9_./-]*[A-Za-z0-9_]"  # path (no trailing dot)
    r"(?::((?:\d+(?:-\d+)?)(?:,\d+(?:-\d+)?)*))?"  # :N-M[,N-M...] anchors
)


def test_no_undocumented_padding():
    problems = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            stripped = line.strip()
            hit = None
            if "raise NotImplementedError" in stripped:
                hit = "NotImplementedError"
            elif stripped == "pass":
                hit = "pass"
            if hit and (rel, hit) not in PADDING_ALLOWED:
                problems.append(f"{rel}:{lineno}: undocumented {hit}")
    assert not problems, problems


@pytest.mark.skipif(not REFERENCE.is_dir(), reason="reference checkout not present")
def test_reference_citations_resolve():
    """Multi-line docstring citations split the path from its ``:N-M``
    anchor across a line break, so the scan is file-wise (continuation
    lines joined), not line-wise."""
    problems = []
    targets = sorted(PKG.rglob("*.py")) + [REPO / "SURVEY.md", REPO / "NOTES.md"]
    for path in targets:
        if not path.exists():
            continue
        src = re.sub(
            "(" + re.escape(str(REFERENCE)) + r"\S*)\n\s+", r"\1", path.read_text()
        )
        rel = path.relative_to(REPO)
        for m in _CITE_RE.finditer(src):
            cited = m.group(0)
            fpath = pathlib.Path(cited.split(":", 1)[0])
            if not fpath.exists():
                problems.append(f"{rel}: cited path does not exist: {cited}")
                continue
            if m.group(1) and fpath.is_file():
                n_lines = len(fpath.read_text(errors="replace").splitlines())
                # every comma-separated range, not just the first
                for rng in m.group(1).split(","):
                    if int(rng.split("-")[-1]) > n_lines:
                        problems.append(f"{rel}: anchor past EOF ({n_lines} lines): {cited}")
    assert not problems, problems
