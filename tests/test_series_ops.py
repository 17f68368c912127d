"""Skyline and value profile: engineered closed-form fixtures plus
whole-corpus python replays at sf0.001 (recounted from the physical
values the parquet stores)."""

import datetime as dt
import math

import pandas as pd

from documentai_ocr_spark.queries.corpusops import q_skyline_docs

SF = "/root/testdata/sf0.001"

_EV_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _write_events(spark, tmp_path, rows, name):
    d = str(tmp_path / name)
    pdf = pd.DataFrame(rows, columns=_EV_COLS)
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    return d


def _doc(doc_id, source, n, alnum):
    assert alnum <= n
    return (doc_id, "a" * alnum + "!" * (n - alnum), "en", source, n)


def test_skyline_engineered(spark, tmp_path):
    """Hand frontier: dominated points drop, same-length lower-purity
    collapses away, duplicate frontier points count as n_docs."""
    rows = [
        _doc(1, "A", 10, 10),   # (10, 1000) frontier
        _doc(2, "A", 20, 10),   # (20, 500) frontier
        _doc(3, "A", 20, 10),   # duplicate point -> n_docs 2
        _doc(4, "A", 30, 6),    # (30, 200) frontier (longest)
        _doc(5, "A", 15, 9),    # (15, 600) frontier (beats runmax 500)
        _doc(6, "A", 10, 3),    # (10, 300) collapsed by (10, 1000)
        _doc(7, "A", 14, 7),    # (14, 500) dominated by (15, 600)
        _doc(8, "B", 5, 5),     # second source: its own frontier
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = str(tmp_path / "sky")
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
    got = sorted(
        (r["source"], r["n_chars"], r["purity_milli"], r["n_docs"])
        for r in q_skyline_docs(spark, d).collect()
    )
    assert got == [
        ("A", 10, 1000, 1),
        ("A", 15, 600, 1),
        ("A", 20, 500, 2),
        ("A", 30, 200, 1),
        ("B", 5, 1000, 1),
    ]


def test_skyline_replay(spark):
    """sf0.001 replay: quadratic dominance over the collapsed
    (source, length, best-purity) points — the oracle's NOT EXISTS in
    python, proving the linear scan on real data."""
    import re

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    pts: dict[str, dict[int, int]] = {}
    cnt: dict[tuple, int] = {}
    for t, src, n in zip(docs["text"], docs["source"], docs["n_chars"]):
        if n <= 0:
            continue
        y = 1000 * len(re.sub(r"[^a-zA-Z0-9]", "", t)) // int(n)
        m = pts.setdefault(src, {})
        m[int(n)] = max(m.get(int(n), -1), y)
        cnt[(src, int(n), y)] = cnt.get((src, int(n), y), 0) + 1
    want = set()
    for src, m in pts.items():
        for x, y in m.items():
            if not any(x2 > x and y2 >= y for x2, y2 in m.items()):
                want.add((src, x, y, cnt[(src, x, y)]))
    got = {
        (r["source"], r["n_chars"], r["purity_milli"], r["n_docs"])
        for r in q_skyline_docs(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_value_profile_engineered_and_replay(spark, tmp_path):
    """Engineered cents pin exact min/max/sum/mean-millicents and the
    sketch estimates' strongest claim — each p is the exact BUCKET of
    the exact order statistic; then the sf0.001 replay of both
    halves."""
    import math

    from documentai_ocr_spark.queries.corpusops import q_value_profile

    t0 = dt.datetime(2024, 8, 1)
    # values 0.01..1.00; expectations via the SAME IEEE floor(v*100)
    # the engines apply (0.07*100 floors to 6 — the rule, not a bug)
    vals100 = [(i + 1) / 100.0 for i in range(100)]
    rows = [(i, t0, 1, "a", v, "{}") for i, v in enumerate(vals100)]
    cents = sorted(int(math.floor(v * 100)) for v in vals100)
    d = _write_events(spark, tmp_path, rows, "vp")
    got = {r["event_type"]: r for r in q_value_profile(spark, d).collect()}
    a = got["a"]
    assert (a["n"], a["min_cents"], a["max_cents"]) == (
        100, cents[0], cents[-1],
    )
    assert a["sum_cents"] == sum(cents)
    assert a["mean_millicents"] == 1000 * sum(cents) // 100
    # ranks ceil(q*n/100): the 50th/90th/99th smallest cents (≤3
    # digits = their own buckets)
    assert (a["p50_est"], a["p90_est"], a["p99_est"]) == (
        cents[49], cents[89], cents[98],
    )

    def bucket(v):
        s = str(v)
        return v if len(s) <= 3 else int(s[:3] + "0" * (len(s) - 3))

    ev = pd.read_parquet(f"{SF}/events.parquet")
    per: dict[str, list] = {}
    for et, v in zip(ev["event_type"], ev["value"]):
        per.setdefault(et, []).append(int(math.floor(v * 100)))
    got = {r["event_type"]: r for r in q_value_profile(spark, SF).collect()}
    assert set(got) == set(per)
    for et, vals in per.items():
        vals.sort()
        n = len(vals)
        g = got[et]
        assert (g["n"], g["min_cents"], g["max_cents"]) == (
            n, vals[0], vals[-1],
        )
        assert g["sum_cents"] == sum(vals)
        assert g["mean_millicents"] == 1000 * sum(vals) // n
        for q100, est in zip(
            (50, 90, 99), (g["p50_est"], g["p90_est"], g["p99_est"])
        ):
            assert est == bucket(vals[(q100 * n + 99) // 100 - 1]), (
                et,
                q100,
            )
