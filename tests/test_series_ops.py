"""Day-of-week seasonality, autocorrelation and skyline:
engineered closed-form fixtures plus whole-corpus python replays at
sf0.001 (the test_events_ops discipline — recount from the physical
values the parquet stores)."""

import datetime as dt
import math

import pandas as pd

from documentai_ocr_spark.queries.corpusops import q_skyline_docs
from documentai_ocr_spark.queries.relational import (
    q_autocorr,
    q_dow_seasonality,
)

SF = "/root/testdata/sf0.001"

_EV_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _day(ms):
    return ms // 86400000


def _epoch_ms(series):
    return series.astype("int64") // 1000


def _write_events(spark, tmp_path, rows, name):
    d = str(tmp_path / name)
    pdf = pd.DataFrame(rows, columns=_EV_COLS)
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    return d


def _dense_series(sf):
    """Per-type densified daily-count series over the corpus span."""
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ms = _epoch_ms(ev["ts"])
    days = ms // 86400000
    lo, hi = int(days.min()), int(days.max())
    out = {}
    for et in sorted(ev["event_type"].unique()):
        cnt = days[ev["event_type"] == et].value_counts()
        out[et] = [int(cnt.get(d, 0)) for d in range(lo, hi + 1)]
    return lo, out


def test_dow_seasonality_engineered(spark, tmp_path):
    """14 dense days: a flat type pins dev_milli == 0 with the tie
    broken to the smallest dow; a one-dow spike type pins the exact
    cross-multiplied L1 and the peak/trough argmax."""
    base = dt.datetime(2024, 1, 1)
    base_day = int(base.timestamp() * 1000) // 86400000
    rows, eid = [], 0
    for d in range(14):  # flat: one event every day
        rows.append((eid, base + dt.timedelta(days=d), 1, "flat", 0.0, "{}"))
        eid += 1
    for d in (0, 7):  # spiky: 5 events, only on dow(base_day)
        for _ in range(5):
            rows.append(
                (eid, base + dt.timedelta(days=d), 2, "spiky", 0.0, "{}")
            )
            eid += 1
    d = _write_events(spark, tmp_path, rows, "dow")
    got = {r["event_type"]: r for r in q_dow_seasonality(spark, d).collect()}

    flat = got["flat"]
    assert flat["n_days"] == 14 and flat["total"] == 14
    assert flat["dev_milli"] == 0
    assert flat["peak_mean_milli"] == flat["trough_mean_milli"] == 1000
    # all-ties: both argmaxes break to the smallest dow value
    assert flat["peak_dow"] == flat["trough_dow"] == 0

    sp = got["spiky"]
    # N=14, S=10; the spike dow has nd=2, sd=10, the other six 0
    dev = abs(14 * 10 - 2 * 10) + 6 * abs(0 - 2 * 10)
    assert sp["dev_milli"] == 1000 * dev // (14 * 10) == 1714
    assert sp["peak_dow"] == base_day % 7
    assert sp["peak_mean_milli"] == 5000
    assert sp["trough_mean_milli"] == 0
    # six dows tie at 0 — the smallest non-spike dow wins
    assert sp["trough_dow"] == min(
        k for k in range(7) if k != base_day % 7
    )


def test_autocorr_engineered(spark, tmp_path):
    """A perfectly period-7 series pins lag-7 r² == 1.0 with positive
    sign; a constant series pins cov_num == 0, sign 0, r² NULL."""
    base = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    pat = [5, 1, 1, 1, 1, 1, 1]
    for d in range(28):  # weekly: pattern repeated 4x
        for _ in range(pat[d % 7]):
            rows.append(
                (eid, base + dt.timedelta(days=d), 1, "weekly", 0.0, "{}")
            )
            eid += 1
    for d in range(28):  # constant: 2 every day
        for _ in range(2):
            rows.append(
                (eid, base + dt.timedelta(days=d), 2, "const", 0.0, "{}")
            )
            eid += 1
    d = _write_events(spark, tmp_path, rows, "ac")
    got = {
        (r["event_type"], r["lag"]): r for r in q_autocorr(spark, d).collect()
    }
    w7 = got[("weekly", 7)]
    assert w7["n_pairs"] == 21
    assert w7["r_sign"] == 1 and w7["cov_num"] > 0
    assert w7["r2"] == 1.0
    w1 = got[("weekly", 1)]
    assert w1["n_pairs"] == 27 and w1["r2"] < 1.0
    for lag in (1, 7):
        c = got[("const", lag)]
        assert c["cov_num"] == 0 and c["r_sign"] == 0
        assert c["r2"] is None


def test_autocorr_replay(spark):
    """sf0.001 replay: exact integer sums over the densified series,
    r² re-derived in python floats."""
    lo, series = _dense_series(SF)
    got = {
        (r["event_type"], r["lag"]): r
        for r in q_autocorr(spark, SF).collect()
    }
    want_keys = set()
    for et, ys in series.items():
        for lag in (1, 7):
            pairs = [
                (ys[i - lag], ys[i]) for i in range(lag, len(ys))
            ]
            if not pairs:
                continue
            want_keys.add((et, lag))
            n = len(pairs)
            sx = sum(x for x, _ in pairs)
            sy = sum(y for _, y in pairs)
            sxy = sum(x * y for x, y in pairs)
            sxx = sum(x * x for x, _ in pairs)
            syy = sum(y * y for _, y in pairs)
            num = n * sxy - sx * sy
            den = (n * sxx - sx * sx) * (n * syy - sy * sy)
            g = got[(et, lag)]
            assert g["n_pairs"] == n and g["cov_num"] == num
            assert g["r_sign"] == (num > 0) - (num < 0)
            if den == 0:
                assert g["r2"] is None
            else:
                assert abs(g["r2"] - num * num / den) <= 1e-6, (et, lag)
    assert set(got) == want_keys


def test_dow_seasonality_replay(spark):
    """sf0.001 replay of every published column from the densified
    series, argmaxes re-derived with the same integer-encoded keys."""
    lo, series = _dense_series(SF)
    got = {
        r["event_type"]: r for r in q_dow_seasonality(spark, SF).collect()
    }
    assert set(got) == set(series)
    for et, ys in series.items():
        nd = [0] * 7
        sd = [0] * 7
        for i, y in enumerate(ys):
            k = (lo + i) % 7
            nd[k] += 1
            sd[k] += y
        n, s = len(ys), sum(ys)
        dows = [k for k in range(7) if nd[k] > 0]
        mean = {k: 1000 * sd[k] // nd[k] for k in dows}
        dev = 1000 * sum(
            abs(n * sd[k] - nd[k] * s) for k in dows
        ) // (n * s)
        peak = max(dows, key=lambda k: (mean[k] * 8 + (7 - k)))
        trough = min(dows, key=lambda k: (mean[k] * 8 + k))
        g = got[et]
        assert (g["n_days"], g["total"], g["dev_milli"]) == (n, s, dev)
        assert (g["peak_dow"], g["peak_mean_milli"]) == (peak, mean[peak])
        assert (g["trough_dow"], g["trough_mean_milli"]) == (
            trough,
            mean[trough],
        )


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


def test_slo_burn_engineered(spark, tmp_path):
    """10 dense days, errors only on the last three: pins the exact
    daily shares, the trailing-7 burn, the partial-window guard, and
    the single breach day."""
    from documentai_ocr_spark.queries.relational import q_slo_burn

    base = dt.datetime(2024, 6, 1)
    rows, eid = [], 0
    for d in range(10):
        for _ in range(10):
            rows.append((eid, base + dt.timedelta(days=d), 1, "view", 0.0, "{}"))
            eid += 1
        if d >= 7:
            for _ in range(10):
                rows.append(
                    (eid, base + dt.timedelta(days=d), 1, "error", 0.0, "{}")
                )
                eid += 1
    d = _write_events(spark, tmp_path, rows, "slo")
    got = sorted(q_slo_burn(spark, d).collect(), key=lambda r: r["day"])
    assert len(got) == 10
    day0 = got[0]["day"]
    for r in got:
        i = r["day"] - day0
        assert r["window_days"] == min(i + 1, 7)
        assert (r["total"], r["err"]) == ((20, 10) if i >= 7 else (10, 0))
        assert r["err_milli"] == (500 if i >= 7 else 0)
    # hand burns: day7 = 10/80, day8 = 20/90, day9 = 30/100
    assert [r["burn7_milli"] for r in got[6:]] == [0, 125, 222, 300]
    assert [r["breach"] for r in got] == [False] * 9 + [True]


def test_slo_burn_replay(spark):
    """sf0.001 replay of every column from the densified series."""
    from documentai_ocr_spark.queries.relational import q_slo_burn

    lo, series = _dense_series(SF)
    ndays = len(next(iter(series.values())))
    tot = [sum(series[et][i] for et in series) for i in range(ndays)]
    err = series.get("error", [0] * ndays)
    got = sorted(q_slo_burn(spark, SF).collect(), key=lambda r: r["day"])
    assert len(got) == ndays
    for i, r in enumerate(got):
        assert r["day"] == lo + i
        assert (r["total"], r["err"]) == (tot[i], err[i])
        assert r["err_milli"] == (1000 * err[i] // tot[i] if tot[i] else 0)
        j = max(0, i - 6)
        t7, e7 = sum(tot[j : i + 1]), sum(err[j : i + 1])
        assert r["window_days"] == i - j + 1
        burn = 1000 * e7 // t7 if t7 else 0
        assert r["burn7_milli"] == burn
        assert r["breach"] == (i - j + 1 == 7 and t7 > 0 and burn > 250)


def test_attribution_engineered(spark, tmp_path):
    """Hand sequence pins the carry-forward: purchases attribute to
    the LATEST prior view (resets on each view), a purchase before
    any view lands in the -1 bucket, other event types are invisible
    to the window."""
    from documentai_ocr_spark.queries.relational import q_attribution

    t0 = dt.datetime(2024, 7, 1, 12, 0, 0)
    s = dt.timedelta(seconds=1)
    rows = [
        (0, t0, 1, "purchase", 0.0, "{}"),          # no prior view -> -1
        (1, t0 + 1 * s, 1, "view", 0.0, "{}"),
        (2, t0 + 2 * s, 1, "click", 0.0, "{}"),     # invisible
        (3, t0 + 3 * s, 1, "purchase", 0.0, "{}"),  # lag 2000 -> 4 digits
        (4, t0 + 10 * s, 1, "view", 0.0, "{}"),     # resets
        (5, t0 + 11 * s, 1, "purchase", 0.0, "{}"), # lag 1000 -> 4 digits
        (6, t0 + 20 * s, 2, "view", 0.0, "{}"),
        (7, t0 + 120 * s, 2, "purchase", 0.0, "{}"),# lag 100000 -> 6
    ]
    d = _write_events(spark, tmp_path, rows, "attr")
    got = {r["lag_digits"]: r for r in q_attribution(spark, d).collect()}
    assert set(got) == {-1, 4, 6}
    assert got[-1]["n"] == 1
    assert got[-1]["min_lag_ms"] is None and got[-1]["max_lag_ms"] is None
    assert got[4]["n"] == 2
    assert (got[4]["min_lag_ms"], got[4]["max_lag_ms"]) == (1000, 2000)
    assert got[6]["n"] == 1 and got[6]["min_lag_ms"] == 100000
    assert got[-1]["share_milli"] == 1000 * 1 // 4
    assert got[4]["share_milli"] == 1000 * 2 // 4


def test_attribution_replay(spark):
    """sf0.001 replay of the carry-forward and the histogram."""
    from documentai_ocr_spark.queries.relational import q_attribution

    ev = pd.read_parquet(f"{SF}/events.parquet")
    ms = _epoch_ms(ev["ts"])
    per: dict[int, list] = {}
    for m, uid, eid, et in zip(
        ms, ev["user_id"], ev["event_id"], ev["event_type"]
    ):
        if et in ("view", "purchase"):
            per.setdefault(uid, []).append((int(m), int(eid), et))
    buckets: dict[int, list] = {}
    for uid, evs in per.items():
        evs.sort()
        last_view = None
        for m, eid, et in evs:
            if et == "purchase":
                if last_view is None:
                    buckets.setdefault(-1, []).append(None)
                else:
                    lag = m - last_view
                    buckets.setdefault(len(str(lag)), []).append(lag)
            else:
                last_view = m
    tot = sum(len(v) for v in buckets.values())
    got = {
        r["lag_digits"]: r for r in q_attribution(spark, SF).collect()
    }
    assert set(got) == set(buckets)
    for k, lags in buckets.items():
        g = got[k]
        assert g["n"] == len(lags)
        assert g["share_milli"] == 1000 * len(lags) // tot
        if k != -1:
            assert (g["min_lag_ms"], g["max_lag_ms"]) == (
                min(lags),
                max(lags),
            )


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
