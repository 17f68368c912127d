"""Registry-count freshness: the three documents that state registry
sizes (REGISTRY.md header, README.md tree annotation, COVERAGE.md
header) must agree with the live registry — len(QUERIES) /
len(ORACLES) / rows-only count — and PLANS.md must audit exactly the
live registry, with a measured-bounds table of live queries whose
result line counts that table. tools/plan_audit.py's config may name
only live queries. Counts drifted twice during round 3
before being caught by hand; this makes a stale count a red test
instead of an advisor finding.

No Spark session needed — pure text vs introspection.
"""

from __future__ import annotations

import os
import re

import pytest

from documentai_ocr_spark.queries import ORACLES, QUERIES, ROWS_ONLY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(name: str) -> str:
    with open(os.path.join(REPO, name), encoding="utf-8") as f:
        return f.read()


def test_live_registry_internally_consistent():
    # every oracle belongs to a registered query; rows-only ∪ oracled
    # partitions the registry exactly
    assert set(ORACLES) <= set(QUERIES)
    assert set(ROWS_ONLY) == set(QUERIES) - set(ORACLES)


def test_registry_md_header_counts():
    m = re.search(
        r"(\d+) queries, (\d+) DuckDB value-hash gated, (\d+) rows-only",
        _read("REGISTRY.md"),
    )
    assert m, "REGISTRY.md header count line missing"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLES)
    assert int(m.group(3)) == len(ROWS_ONLY)


def test_registry_md_row_per_query():
    body = _read("REGISTRY.md")
    rows = re.findall(r"^\| (\w+) \|", body, re.M)
    rows = [r for r in rows if r != "query"]
    assert sorted(rows) == sorted(QUERIES), (
        "REGISTRY.md rows drifted from the live registry — "
        "regenerate with tools/registry_index.py"
    )


def test_plans_md_pinned_to_registry():
    text = _read("PLANS.md")
    audit, _, measured = text.partition("## Measured bounds")
    rows = re.findall(r"^\| (\w+) \|", audit, re.M)
    assert sorted(r for r in rows if r != "query") == sorted(QUERIES), (
        "PLANS.md audit rows drifted from the live registry — "
        "regenerate with tools/plan_audit.py"
    )
    if not measured:
        return
    header = re.search(r"^\| query \|(.*)$", measured, re.M)
    assert header, "PLANS.md measured-bounds table header missing"
    n_sf = header.group(1).count("measured @")
    m_rows = [
        [c.strip() for c in line.strip().strip("|").split("|")]
        for line in measured.splitlines()
        if re.match(r"^\| [qx]_\w+ \|", line)
    ]
    assert {r[0] for r in m_rows} <= set(QUERIES), (
        "PLANS.md measured-bounds rows name queries no longer registered"
    )
    m = re.search(
        r"Measured-bounds result: (\d+) violated / (\d+) measured "
        r"\((\d+) queries × (\d+) sf\)",
        measured,
    )
    assert m, "PLANS.md measured-bounds result line missing"
    cells = [c for r in m_rows for c in r[1 : 1 + n_sf] if c != "—"]
    assert int(m.group(2)) == len(cells)
    assert int(m.group(3)) == len(m_rows)
    assert int(m.group(4)) == n_sf


def test_readme_count():
    m = re.search(
        r"operator registry: (\d+) queries, (\d+) with a DuckDB oracle",
        _read("README.md"),
    )
    assert m, "README.md registry count line missing"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLES)


def test_coverage_md_count():
    text = _read("COVERAGE.md")
    m = re.search(
        r"\*\*(\d+) queries — (\d+) DuckDB value-hash gated,\s+(\d+) rows-only",
        text,
    )
    assert m, "COVERAGE.md header count line missing"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLES)
    assert int(m.group(3)) == len(ROWS_ONLY)


def test_plan_audit_config_names_live_queries():
    """Every query the plan audit's config names (guarded anchors,
    bounded-shape notes, measured row bounds) is still registered, so
    deleting an entry cannot leave a note that excuses nothing."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(REPO, "tools", "plan_audit.py")
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)
    for table in ("GUARDED_ANCHORS", "BOUNDED_OK", "MEASURED_MAX_ROWS"):
        ghosts = sorted(set(getattr(pa, table)) - set(QUERIES))
        assert not ghosts, f"plan_audit.{table} names unregistered {ghosts}"


def test_driver_entrypoint_mirrors_registry():
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) == set(QUERIES)
    assert set(o) == set(ORACLES)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
