"""Registry-count freshness: the three documents that state registry
sizes (REGISTRY.md header, README.md tree annotation, COVERAGE.md
header) must agree with the live registry — len(QUERIES) /
len(ORACLES) / rows-only count. Counts drifted twice during round 3
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


def test_driver_entrypoint_mirrors_registry():
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) == set(QUERIES)
    assert set(o) == set(ORACLES)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
