"""q_activity_bitmap + q_fd_audit + q_split_scan: pure-Python replays
over the full sf0.001 tables plus engineered fixtures — the bitmap's
64-day horizon edge (day 63 uses the sign bit; day ≥ 64 contributes
nothing) and the FD audit's majority tie-break."""

from __future__ import annotations

import pandas as pd
import pytest

from documentai_ocr_spark.queries.relational import q_activity_bitmap
from documentai_ocr_spark.queries.webtext import q_fd_audit

SF = "/root/testdata/sf0.001"


def _events_pdf(rows, tmp_path):
    """rows: (event_id, user_id, event_type, ms)."""
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "user_id": [r[1] for r in rows],
            "event_type": [r[2] for r in rows],
            "ts": pd.Series(
                [pd.Timestamp(r[3], unit="ms") for r in rows],
                dtype="datetime64[ms]",
            ),
            "value": [0.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    pdf.to_parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


# --------------------------------------------------- activity bitmap


def _bitmap_python(ev: pd.DataFrame):
    from collections import defaultdict

    masks = {}
    days = defaultdict(set)
    for _, r in ev.iterrows():
        days[r["user_id"]].add(int(r["ms"]) // 86400000)
    for u, ds in days.items():
        base = min(ds)
        m = 0
        for d in ds:
            if d - base < 64:
                m |= 1 << (d - base)
        masks[u] = m & (2**64 - 1)
    hist = defaultdict(lambda: [0, 0])
    for m in masks.values():
        h = hist[bin(m).count("1")]
        h[0] += 1
        h[1] += (m >> 7) & 1
    return sorted((k, v[0], v[1]) for k, v in hist.items())


def test_activity_bitmap_replay_sf0001(spark):
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .selectExpr(
            "user_id", "unix_millis(cast(ts as timestamp)) as ms"
        )
        .toPandas()
    )
    want = _bitmap_python(ev)
    got = sorted(
        (int(r.n_active_64), int(r.n_users), int(r.n_d7_active))
        for r in q_activity_bitmap(spark, SF).collect()
    )
    assert got == want


def test_activity_bitmap_horizon_edges(spark, tmp_path):
    """One user active on days 0, 7, 63 and 64: day 63 sets the SIGN
    bit, day 64 contributes nothing → 3 active days, d7 retained.
    A second user active only on day 0 → 1 active day, not d7."""
    day = 86400000
    rows = [
        (0, 1, "view", 0),
        (1, 1, "view", 7 * day),
        (2, 1, "view", 63 * day),
        (3, 1, "view", 64 * day),
        (4, 2, "view", 5 * day),
    ]
    sf = _events_pdf(rows, tmp_path)
    got = {
        int(r.n_active_64): (int(r.n_users), int(r.n_d7_active))
        for r in q_activity_bitmap(spark, sf).collect()
    }
    assert got == {3: (1, 1), 1: (1, 0)}


# --------------------------------------------------------- FD audit


def test_fd_audit_replay_sf0001(spark):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source", "lang")
        .toPandas()
    )
    want = {}
    for src, g in docs.groupby("source"):
        counts = g.groupby("lang").size().sort_index()
        top_n = int(counts.max())
        top_lang = min(l for l, n in counts.items() if n == top_n)
        want[src] = (
            len(g),
            g["lang"].nunique(),
            top_lang,
            top_n,
            1000 * top_n // len(g),
        )
    got = {
        r.source: (
            int(r.n_docs),
            int(r.n_langs),
            r.top_lang,
            int(r.top_n),
            int(r.fd_milli),
        )
        for r in q_fd_audit(spark, SF).collect()
    }
    assert got == want


def test_fd_audit_tiebreak_and_exact_fd(spark, tmp_path):
    """Source A: 2×en / 2×de → tie broken to 'de' (lexicographic);
    source B monolingual → fd_milli exactly 1000."""
    rows = [("A", "en")] * 2 + [("A", "de")] * 2 + [("B", "fr")] * 3
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(rows)),
            "text": ["x"] * len(rows),
            "lang": [l for _, l in rows],
            "source": [s for s, _ in rows],
            "n_chars": [1] * len(rows),
        }
    )
    pdf.to_parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.source: (r.n_langs, r.top_lang, r.fd_milli)
        for r in q_fd_audit(spark, str(tmp_path)).collect()
    }
    assert got == {"A": (2, "de", 500), "B": (1, "fr", 1000)}


# ----------------------------------------------------- split scan


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
