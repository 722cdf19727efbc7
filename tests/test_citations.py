"""Reference citations in the engine package point at real files.

Docstrings and comments cite the reference platform as
``/root/reference/<path>:<lines>``. Where the reference checkout is
present every cited path must exist in it; where it is absent, every
cited path must at least be one SURVEY.md (the digest of the reference)
cites, so a citation cannot name a file nobody ever surveyed."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_ingestion_resolution_platform_spark"
REFERENCE = Path("/root/reference")
# a citation may wrap after a slash onto the next docstring/comment line
_WRAP = re.compile(r"/\n\s*(?:#\s*)?")
_CITED = re.compile(r"/root/reference/([\w./-]*)")
_SURVEYED = re.compile(r"(?:[\w.-]+/)*[\w.-]+\.\w+")


def _cited() -> dict[str, set[str]]:
    """cited reference path → package files citing it"""
    out: dict[str, set[str]] = {}
    for p in sorted(PACKAGE.rglob("*.py")):
        text = _WRAP.sub("/", p.read_text())
        for m in _CITED.finditer(text):
            out.setdefault(m.group(1).rstrip(".-"), set()).add(str(p.relative_to(ROOT)))
    return out


def test_package_cites_the_reference():
    assert _cited(), "no /root/reference citations found — the scan is broken"


def test_cited_reference_paths_are_real():
    cited = _cited()
    if REFERENCE.is_dir():
        missing = {c: f for c, f in cited.items() if not (REFERENCE / c).exists()}
    else:
        surveyed = set(_SURVEYED.findall((ROOT / "SURVEY.md").read_text()))
        missing = {
            c: f
            for c, f in cited.items()
            if c not in surveyed and not any(s.startswith(c) for s in surveyed)
        }
    assert not missing, f"citations of unknown reference files: {missing}"


def test_scan_joins_citations_wrapped_across_lines():
    text = _WRAP.sub("/", "# see (/root/reference/backend/\n#   services/nope.py:1-2)\n")
    assert [m.group(1) for m in _CITED.finditer(text)] == ["backend/services/nope.py"]
