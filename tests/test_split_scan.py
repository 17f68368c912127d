"""q_split_scan: the exact decision-stump scan table against a pure-pandas
replay over the full sf0.001 documents table, with the row invariants
(left + right = N; at the largest threshold the right side is empty)."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def test_split_scan_replay_sf0001(spark):
    """Exact stump-scan table vs a pure-pandas replay, plus the
    invariants every row must satisfy: n_left + n_right == N, and at
    the max threshold the right side is empty with sumsq_left ==
    sum of squared class totals."""
    from documentai_ocr_spark.queries.textstats import q_split_scan

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("n_chars", "lang")
        .toPandas()
    )
    want = {}
    thresholds = sorted(docs["n_chars"].unique())
    class_tot = docs.groupby("lang").size()
    for t in thresholds:
        left = docs[docs["n_chars"] <= t].groupby("lang").size()
        right = class_tot.sub(left, fill_value=0)
        want[int(t)] = (
            int(left.sum()),
            int(right.sum()),
            int((left**2).sum()),
            int((right**2).sum()),
        )
    got = {
        int(r.threshold): (
            int(r.n_left),
            int(r.n_right),
            int(r.sumsq_left),
            int(r.sumsq_right),
        )
        for r in q_split_scan(spark, SF).collect()
    }
    assert got == want
    n = len(docs)
    for t, (nl, nr, sl, sr) in got.items():
        assert nl + nr == n
    tmax = max(got)
    assert got[tmax][1] == 0
    assert got[tmax][2] == int((class_tot**2).sum())


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
