"""q_weighted_median: a pure-Python replay over the full sf0.001
documents table plus an engineered fixture hitting every branch — the
exact 2·cum ≥ total crossing, including the all-mass-in-one-length and
two-equal-halves ties."""

from __future__ import annotations

import pandas as pd
import pytest

from documentai_ocr_spark.queries.textstats import q_weighted_median

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- weighted median


def test_weighted_median_replay_sf0001(spark):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source", "n_chars")
        .toPandas()
    )
    want = {}
    for src, g in docs.groupby("source"):
        tot = int(g["n_chars"].sum())
        cum = 0
        wm = None
        for L, chars in sorted(
            g.groupby("n_chars")["n_chars"].sum().items()
        ):
            cum += int(chars)
            if 2 * cum >= tot:
                wm = int(L)
                break
        want[src] = (len(g), tot, wm)
    got = {
        r.source: (r.n_docs, r.total_chars, r.wmedian_len)
        for r in q_weighted_median(spark, SF).collect()
    }
    assert got == want


def test_weighted_median_fixture(spark, tmp_path):
    """Engineered ties: source A = lengths [1,1,1,97] (total 100 —
    the 97-char doc holds the median char: wmedian 97); source B =
    [50, 50] (two equal halves: 2·50 ≥ 100 already at the FIRST
    length — wmedian 50); source C = single doc."""
    rows = (
        [("A", 1)] * 3 + [("A", 97)] + [("B", 50)] * 2 + [("C", 9)]
    )
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(rows)),
            "text": ["x" * n for _, n in rows],
            "lang": ["en"] * len(rows),
            "source": [s for s, _ in rows],
            "n_chars": [n for _, n in rows],
        }
    )
    pdf.to_parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.source: (r.n_docs, r.total_chars, r.wmedian_len)
        for r in q_weighted_median(spark, str(tmp_path)).collect()
    }
    assert got == {"A": (4, 100, 97), "B": (2, 100, 50), "C": (1, 9, 9)}


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
