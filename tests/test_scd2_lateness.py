"""q_scd2_intervals + q_weighted_median: pure-Python replays over the
full sf0.001 tables plus engineered fixtures hitting every branch —
SCD2's collapse-consecutive rule and open current interval, the
weighted median's exact 2·cum ≥ total crossing (including the
all-mass-in-one-length and two-equal-halves ties)."""

from __future__ import annotations

import pandas as pd
import pytest

from documentai_ocr_spark.queries.relational import q_scd2_intervals
from documentai_ocr_spark.queries.textstats import q_weighted_median

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- SCD2


def _scd2_python(ev: pd.DataFrame):
    out = []
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ms", "event_id"]).reset_index(drop=True)
        runs = []
        for _, r in g.iterrows():
            if not runs or runs[-1][0] != r["event_type"]:
                runs.append((r["event_type"], int(r["ms"])))
        for i, (status, ms) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            out.append(
                (uid, status, ms, nxt, i + 1, nxt is None)
            )
    return sorted(out)


def test_scd2_replay_sf0001(spark):
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .selectExpr(
            "user_id",
            "event_type",
            "unix_millis(cast(ts as timestamp)) as ms",
            "event_id",
        )
        .toPandas()
    )
    want = _scd2_python(ev)
    got = sorted(
        (
            r.user_id,
            r.status,
            r.valid_from_ms,
            r.valid_to_ms,
            r.version,
            r.is_current,
        )
        for r in q_scd2_intervals(spark, SF).collect()
    )
    assert got == want


def test_scd2_fixture_branches(spark, tmp_path):
    """One user: A A B A (collapse, reopen); another: single event
    (immediately current, version 1)."""
    rows = [
        # user 1: A@0 A@10 B@20 A@30 → intervals A[0,20) B[20,30) A[30,∞)
        (1, "A", 0), (1, "A", 10), (1, "B", 20), (1, "A", 30),
        # user 2: single
        (2, "X", 5),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "user_id": [r[0] for r in rows],
            "event_type": [r[1] for r in rows],
            "ts": [pd.Timestamp(r[2] * 1_000_000, unit="ns", tz=None)
                   + pd.Timedelta(0) for r in rows],
            "value": [0.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    # ms-precision timestamps: r[2] interpreted as ms (datetime64[ms]
    # dtype — Spark cannot read parquet TIMESTAMP(NANOS))
    pdf["ts"] = pd.Series(
        [pd.Timestamp(r[2], unit="ms") for r in rows],
        dtype="datetime64[ms]",
    )
    p = str(tmp_path / "events.parquet")
    pdf.to_parquet(p)
    out = sorted(
        (
            r.user_id,
            r.status,
            r.valid_from_ms,
            r.valid_to_ms,
            r.version,
            r.is_current,
        )
        for r in q_scd2_intervals(spark, str(tmp_path)).collect()
    )
    assert out == [
        (1, "A", 0, 20, 1, False),
        (1, "A", 30, None, 3, True),
        (1, "B", 20, 30, 2, False),
        (2, "X", 5, None, 1, True),
    ]


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
