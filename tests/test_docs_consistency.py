"""COVERAGE.md is the judge-facing operator checklist — keep it
mechanically in sync with the registry so tally drift (the recurring
review nit) is structurally impossible."""

import re
from pathlib import Path

import __spark_entry__ as entry

COVERAGE = Path(__file__).resolve().parent.parent / "COVERAGE.md"


def test_every_query_is_documented():
    text = COVERAGE.read_text()
    missing = [
        n
        for n in entry.queries()
        if not re.search(rf"\b{re.escape(n)}\b", text)
    ]
    assert not missing, f"queries absent from COVERAGE.md: {missing}"


def test_totals_line_matches_registry():
    text = COVERAGE.read_text()
    m = re.search(r"Totals: (\d+) `queries\(\)` entries, ALL (\d+)", text)
    assert m, "totals line missing from COVERAGE.md"
    n = len(entry.queries())
    assert int(m.group(1)) == n == int(m.group(2)), (
        f"COVERAGE.md says {m.group(1)}/{m.group(2)}, registry has {n}"
    )


def test_survey_and_notes_tallies_match_registry():
    """SURVEY.md's and NOTES.md's '<N> oracle-paired queries' claims
    must equal the registry — tally drift was flagged by two review
    passes before this test existed."""
    n = len(entry.queries())
    root = COVERAGE.parent
    survey = (root / "SURVEY.md").read_text()
    m = re.search(r"(\d+)\s*\noracle-paired queries total", survey) or re.search(
        r"(\d+) oracle-paired queries total", survey
    )
    assert m, "SURVEY.md total claim missing"
    assert int(m.group(1)) == n, f"SURVEY.md says {m.group(1)}, registry {n}"
    notes = (root / "NOTES.md").read_text()
    m2 = re.search(r"\((\d+) total\)", notes)
    assert m2, "NOTES.md tally missing"
    assert int(m2.group(1)) == n, f"NOTES.md says {m2.group(1)}, registry {n}"


def test_priority_covers_registry_exactly_once():
    """_PRIORITY drives the driver's rotating 50-query correctness
    window; a duplicate entry silently shifts every later row up and
    skews the staleness-rotation bookkeeping (r12 advisor finding:
    six dirty-promoted rows kept their stale tail copies)."""
    prio = entry._PRIORITY
    reg = set(entry.queries())
    dupes = [n for n in set(prio) if prio.count(n) > 1]
    assert not dupes, f"duplicate _PRIORITY entries: {sorted(dupes)}"
    assert len(prio) == len(reg), (
        f"_PRIORITY has {len(prio)} entries, registry {len(reg)}"
    )
    assert set(prio) == reg, (
        f"missing={sorted(reg - set(prio))[:5]} "
        f"extra={sorted(set(prio) - reg)[:5]}"
    )


def test_rotate_priority_refuses_dirty_past_window(monkeypatch):
    """A dirty set longer than the correctness window would push dirty
    operators past it, unchecked — the rotation tool must refuse."""
    import importlib.util

    import pytest

    path = COVERAGE.parent / "tools" / "rotate_priority.py"
    spec = importlib.util.spec_from_file_location("rotate_priority", path)
    rot = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rot)
    monkeypatch.setattr(rot, "DIRTY", [f"q{i}" for i in range(rot.WINDOW + 1)])
    with pytest.raises(SystemExit, match="correctness window"):
        rot.main()
