"""Event-stream analytics: tz-free hour histogram and per-user
activity-span rate — both recounted in pure Python from the physical
epoch milliseconds the parquet file stores."""

import pandas as pd

from documentai_ocr_spark.queries.relational import (
    q_activity_span,
    q_hour_mix,
)

SF = "/root/testdata/sf0.001"


def _epoch_ms(series):
    # datetime64[us] → physical epoch milliseconds (the int64 the
    # parquet stores, divided down) — no timezone interpretation.
    return series.astype("int64") // 1000


def test_hour_mix_python_recount(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ms = _epoch_ms(ev["ts"])
    want: dict[tuple, list] = {}
    for m, et, uid in zip(ms, ev["event_type"], ev["user_id"]):
        k = (int((m // 3600000) % 24), et)
        a = want.setdefault(k, [0, set()])
        a[0] += 1
        a[1].add(uid)
    got = {
        (r["hour_utc"], r["event_type"]): (r["n_events"], r["n_users"])
        for r in q_hour_mix(spark, SF).collect()
    }
    assert got == {k: (a[0], len(a[1])) for k, a in want.items()}
    # every hour of the synthetic day is populated
    assert {h for h, _ in got} == set(range(24))


def test_activity_span_python_recount(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ms = _epoch_ms(ev["ts"])
    per: dict[int, list] = {}
    for m, uid in zip(ms, ev["user_id"]):
        a = per.setdefault(uid, [0, m, m])
        a[0] += 1
        a[1] = min(a[1], m)
        a[2] = max(a[2], m)
    got = {r["user_id"]: r for r in q_activity_span(spark, SF).collect()}
    assert set(got) == set(per)
    for uid, (n, lo, hi) in per.items():
        g = got[uid]
        span = hi - lo
        rate = 0 if span == 0 else n * 86400000 * 1000 // span
        assert (g["n_events"], g["span_ms"], g["rate_per_day_milli"]) == (
            n,
            int(span),
            rate,
        ), uid


def test_event_overlap_python_recount(spark):
    """Whole-corpus set-algebra replay of q_event_overlap on sf0.001:
    exact user-set Jaccard per co-observed type pair, canonical pair
    orientation, and the subset bound n_both <= min(n_a, n_b)."""
    import pandas as pd

    from documentai_ocr_spark.queries.relational import q_event_overlap

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    users = {}
    for t, u in zip(ev["event_type"], ev["user_id"]):
        users.setdefault(t, set()).add(u)
    types = sorted(users)
    want = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            both = len(users[ta] & users[tb])
            if both == 0:
                continue
            union = len(users[ta] | users[tb])
            want[(ta, tb)] = (
                both,
                len(users[ta]),
                len(users[tb]),
                1000 * both // union,
            )

    rows = q_event_overlap(spark, "/root/testdata/sf0.001").collect()
    got = {
        (r["type_a"], r["type_b"]): (
            r["n_both"],
            r["n_a"],
            r["n_b"],
            r["jaccard_milli"],
        )
        for r in rows
    }
    assert got == want
    for (ta, tb), (both, na, nb, _) in got.items():
        assert ta < tb
        assert both <= min(na, nb)


def test_gini_activity_python_recount_and_bounds(spark):
    """Whole-corpus replay of the exact rank-formula Gini on sf0.001
    plus the degenerate bound: an engineered uniform corpus reads
    exactly 0, a one-whale corpus reads near 1000."""
    from documentai_ocr_spark.queries.relational import q_gini_activity

    ev = pd.read_parquet(f"{SF}/events.parquet")
    cnt = {}
    for t, u in zip(ev["event_type"], ev["user_id"]):
        cnt[(t, u)] = cnt.get((t, u), 0) + 1
    per_type = {}
    for (t, u), x in cnt.items():
        per_type.setdefault(t, []).append((x, u))
    want = {}
    for t, xs in per_type.items():
        xs.sort()
        n = len(xs)
        tot = sum(x for x, _ in xs)
        srx = sum((i + 1) * x for i, (x, _) in enumerate(xs))
        want[t] = (n, tot, (1000 * (2 * srx - (n + 1) * tot)) // (n * tot))

    got = {
        r["event_type"]: (r["n_users"], r["n_events"], r["gini_milli"])
        for r in q_gini_activity(spark, SF).collect()
    }
    assert got == want
    for _, _, g in got.values():
        assert 0 <= g < 1000


def test_gini_activity_degenerate_corpora(spark, tmp_path):
    """Uniform usage pins gini_milli == 0 exactly; a single whale among
    minimal users drives it high — through the real two-phase path."""
    import datetime as dt

    from documentai_ocr_spark.queries.relational import q_gini_activity

    rows = []
    ts = dt.datetime(2024, 1, 1)
    eid = 0
    for u in range(10):  # uniform: 10 users x 3 events
        for _ in range(3):
            rows.append((eid, ts, u, "uni", 0.0, "{}")); eid += 1
    for u in range(9):   # whale type: 9 users x 1 + 1 user x 91
        rows.append((eid, ts, 100 + u, "whale", 0.0, "{}")); eid += 1
    for _ in range(91):
        rows.append((eid, ts, 999, "whale", 0.0, "{}")); eid += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = str(tmp_path / "gini")
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    got = {r["event_type"]: r for r in q_gini_activity(spark, d).collect()}
    assert got["uni"]["gini_milli"] == 0
    # whale: n=10, tot=100, sorted x = [1]*9 + [91]
    srx = sum((i + 1) * 1 for i in range(9)) + 10 * 91
    expect = (1000 * (2 * srx - 11 * 100)) // (10 * 100)
    assert got["whale"]["gini_milli"] == expect and expect > 700


def test_dau_wau_recount_and_pins(spark, tmp_path):
    """Whole-corpus replay at sf0.001 from the physical epoch ms, plus
    engineered pins: an every-day user scores stickiness 1000; a
    once-a-week user pulls the shared window's ratio down to the exact
    closed form."""
    from documentai_ocr_spark.queries.relational import q_dau_wau

    ev = pd.read_parquet(f"{SF}/events.parquet")
    day = _epoch_ms(ev["ts"]) // 86400000
    pairs = set(zip(day, ev["user_id"]))
    dau: dict = {}
    for d, u in pairs:
        dau.setdefault(d, set()).add(u)
    wau: dict = {}
    for d, u in pairs:
        for t in range(d, d + 7):
            wau.setdefault(t, set()).add(u)
    got = {r["day"]: r for r in q_dau_wau(spark, SF).collect()}
    assert set(got) == set(dau)
    for d in dau:
        r = got[d]
        assert (r["dau"], r["wau"]) == (len(dau[d]), len(wau[d]))
        assert r["stickiness_milli"] == 1000 * len(dau[d]) // len(wau[d])

    # engineered: user 1 fires daily for 14 days; user 2 only on day 7
    import datetime

    rows = []
    base = datetime.datetime(2024, 1, 1)
    eid = 0
    for d in range(14):
        rows.append(
            (eid, base + datetime.timedelta(days=d), 1, "click", 0.0, "{}")
        )
        eid += 1
    rows.append(
        (eid, base + datetime.timedelta(days=7), 2, "click", 0.0, "{}")
    )
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    dd = str(tmp_path / "dau")
    spark.createDataFrame(pdf).write.parquet(f"{dd}/events.parquet")
    g2 = {r["day"]: r for r in q_dau_wau(spark, dd).collect()}
    days = sorted(g2)
    # day 0..6: only user 1 in the window → stickiness 1000
    assert g2[days[0]]["stickiness_milli"] == 1000
    # days 7..13: user 2 is in the trailing week → dau 1, wau 2 → 500
    assert g2[days[7]]["dau"] == 2  # both fired on day 7 itself
    assert g2[days[8]]["dau"] == 1 and g2[days[8]]["wau"] == 2
    assert g2[days[8]]["stickiness_milli"] == 500


# ----------------------------------------------------- activity streaks
def test_user_streaks_engineered(spark, tmp_path):
    """Hand-pinned islands: user 1 is active on days {0,1,2,5,6} (three
    events on day 0 collapse to one active day) → 5 active days, 2
    streaks, longest 3 starting day 0; user 2 has a TIE of two 2-day
    streaks ({10,11} and {20,21}) → the earliest start (10) wins; user
    3 has a single event → the degenerate 1/1/1 profile."""
    from documentai_ocr_spark.queries.relational import q_user_streaks

    def ts(day, off=3600000):
        return pd.Timestamp(day * 86400000 + off, unit="ms")

    rows = []
    for d in [0, 0, 0, 1, 2, 5, 6]:
        rows.append((1, ts(d)))
    for d in [10, 11, 20, 21]:
        rows.append((2, ts(d)))
    rows.append((3, ts(100)))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    d = str(tmp_path / "streaks")
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    got = {r["user_id"]: r for r in q_user_streaks(spark, d).collect()}
    assert got[1]["n_active_days"] == 5
    assert got[1]["n_streaks"] == 2
    assert got[1]["longest"] == 3
    assert got[1]["longest_start_day"] == 0
    assert (got[2]["longest"], got[2]["longest_start_day"]) == (2, 10)
    assert got[2]["n_streaks"] == 2
    assert (
        got[3]["n_active_days"],
        got[3]["n_streaks"],
        got[3]["longest"],
        got[3]["longest_start_day"],
    ) == (1, 1, 1, 100)


def test_user_streaks_python_recount(spark):
    """sf0.001 replay from physical epoch ms: distinct day sets →
    islands → longest + earliest-start, exact on every column."""
    from documentai_ocr_spark.queries.relational import q_user_streaks

    ev = pd.read_parquet(f"{SF}/events.parquet")
    days_ms = _epoch_ms(ev["ts"]) // 86400000
    per: dict[int, set] = {}
    for uid, d in zip(ev["user_id"], days_ms):
        per.setdefault(int(uid), set()).add(int(d))
    want = {}
    for uid, ds in per.items():
        days = sorted(ds)
        islands = []
        start = prev = days[0]
        for d in days[1:]:
            if d == prev + 1:
                prev = d
            else:
                islands.append((prev - start + 1, start))
                start = prev = d
        islands.append((prev - start + 1, start))
        longest = max(ln for ln, _ in islands)
        first = min(st for ln, st in islands if ln == longest)
        want[uid] = (len(days), len(islands), longest, first)
    got = {
        r["user_id"]: (
            r["n_active_days"],
            r["n_streaks"],
            r["longest"],
            r["longest_start_day"],
        )
        for r in q_user_streaks(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_user_streaks_single_exchange(spark):
    """collect_set's map-side partial dedup makes the one user_id
    exchange the ONLY shuffle, and the in-row island fold means the
    oracle's window + double rollup + join-back never materialize:
    the plan has exactly 1 Exchange and zero Sort/Window/Join nodes."""
    from documentai_ocr_spark.queries.relational import q_user_streaks
    from planutil import n_exchanges, plan

    p = plan(q_user_streaks(spark, SF))
    assert n_exchanges(p) == 1, p
    assert "Join" not in p and "Window" not in p, p
    import re

    assert not re.search(r"^\(\d+\) Sort", p, re.MULTILINE), p


# --------------------------------------------------------- event gaps
def test_event_gaps_python_recount(spark):
    """sf0.001 replay: per-user (ms, event_id) sort, lag gaps, decimal-
    digit buckets keyed by the LATER event's type, exact min/max."""
    from documentai_ocr_spark.queries.relational import q_event_gaps

    ev = pd.read_parquet(f"{SF}/events.parquet")
    ms = _epoch_ms(ev["ts"])
    per: dict[int, list] = {}
    for m, eid, et, uid in zip(
        ms, ev["event_id"], ev["event_type"], ev["user_id"]
    ):
        per.setdefault(int(uid), []).append((int(m), int(eid), et))
    want: dict[tuple, list] = {}
    for rows in per.values():
        rows.sort()
        for (pm, _, _), (m, _, et) in zip(rows, rows[1:]):
            gap = m - pm
            k = (et, len(str(gap)))
            a = want.setdefault(k, [0, gap, gap])
            a[0] += 1
            a[1] = min(a[1], gap)
            a[2] = max(a[2], gap)
    got = {
        (r["event_type"], r["gap_digits"]): (
            r["n"],
            r["min_gap_ms"],
            r["max_gap_ms"],
        )
        for r in q_event_gaps(spark, SF).collect()
    }
    assert got == {k: tuple(a) for k, a in want.items()} and len(got) > 0


def test_event_gaps_bucket_edges(spark, tmp_path):
    """Digit-bucket boundaries hand-pinned: gaps of 9 vs 10 ms land in
    buckets 1 vs 2; a zero gap (two events in the same ms, ordered by
    event_id) is bucket 1; the first event of each user produces no
    gap; users never leak gaps into each other."""
    from documentai_ocr_spark.queries.relational import q_event_gaps

    base = 1_000_000_000
    rows = [
        # user 1: events at base, +9, +19 -> gaps 9 (b1) and 10 (b2)
        (1, 1, base, "a"),
        (2, 1, base + 9, "a"),
        (3, 1, base + 19, "b"),
        # user 2: two events in the SAME ms -> gap 0, bucket 1
        (4, 2, base, "a"),
        (5, 2, base, "a"),
    ]
    pdf = pd.DataFrame(
        [
            (eid, uid, pd.Timestamp(m, unit="ms"), et, 0.0, "{}")
            for eid, uid, m, et in rows
        ],
        columns=["event_id", "user_id", "ts", "event_type", "value", "props"],
    )
    d = str(tmp_path / "gaps")
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    got = {
        (r["event_type"], r["gap_digits"]): (
            r["n"],
            r["min_gap_ms"],
            r["max_gap_ms"],
        )
        for r in q_event_gaps(spark, d).collect()
    }
    assert got == {
        ("a", 1): (2, 0, 9),
        ("b", 2): (1, 10, 10),
    }


# ----------------------------------------------------- tool stationary
def test_stationary_hand_derived_chains():
    """Two hand-solvable chains: the self-looping a (P=[[.75,.25],[1,0]])
    has the closed form π = (0.8, 0.2); a chain whose only edge is
    a→c makes c dangling (uniform redistribution row), closed form
    π = (1/3, 2/3)."""
    from documentai_ocr_spark.queries.relational import stationary_dist

    pi = stationary_dist([("a", "a", 3), ("a", "b", 1), ("b", "a", 1)])
    assert abs(pi["a"] - 0.8) < 1e-9 and abs(pi["b"] - 0.2) < 1e-9

    pi2 = stationary_dist([("a", "c", 1)])
    assert abs(pi2["a"] - 1 / 3) < 1e-9 and abs(pi2["c"] - 2 / 3) < 1e-9


def test_tool_stationary_replay_and_fixed_point(spark):
    """The operator's output equals the spec applied to the collected
    transition matrix EXACTLY, sums to 1, satisfies πP = π to 1e-10,
    and n_out matches the per-tool out-edge totals."""
    import numpy as np

    from documentai_ocr_spark.queries import QUERIES
    from documentai_ocr_spark.queries.relational import (
        q_tool_transitions,
        stationary_dist,
    )

    trans = [
        (r["prev_tool"], r["next_tool"], int(r["n"]))
        for r in q_tool_transitions(spark, SF).collect()
    ]
    want = stationary_dist(trans)
    rows = QUERIES["x_tool_stationary"](spark, SF).collect()
    got = {r["tool"]: r["stationary"] for r in rows}
    assert got == want  # same float64 pipeline -> exact equality
    assert abs(sum(got.values()) - 1.0) < 1e-12

    tools = sorted(got)
    idx = {t: i for i, t in enumerate(tools)}
    k = len(tools)
    c = np.zeros((k, k))
    n_out = {t: 0 for t in tools}
    for a, b, n in trans:
        c[idx[a], idx[b]] += n
        n_out[a] += n
    rows_sum = c.sum(axis=1)
    p = np.where(
        rows_sum[:, None] > 0,
        c / np.where(rows_sum[:, None] > 0, rows_sum[:, None], 1),
        1.0 / k,
    )
    pi = np.array([got[t] for t in tools])
    assert np.abs(pi @ p - pi).sum() < 1e-10
    assert {r["tool"]: r["n_out"] for r in rows} == n_out


# -------------------------------------------------- growth accounting
def test_growth_accounting_fixture(spark, tmp_path):
    """Hand-pinned timeline: user A active on days {0,1,3} → new@0,
    retained@1, churned@2 (the gap), resurrected@3, churned@4 (the
    tail); user B active only on day 1 → new@1, churned@2. Every cell
    of the per-day matrix is asserted."""
    from documentai_ocr_spark.queries.relational import q_growth_accounting

    def ts(day):
        return pd.Timestamp(day * 86400000 + 1000, unit="ms")

    rows = [(1, ts(0)), (1, ts(1)), (1, ts(3)), (2, ts(1))]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    d = str(tmp_path / "growth")
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    got = {
        (r["day"], r["klass"]): r["n"]
        for r in q_growth_accounting(spark, d).collect()
    }
    assert got == {
        (0, "new"): 1,
        (1, "retained"): 1,
        (1, "new"): 1,
        (2, "churned"): 2,
        (3, "resurrected"): 1,
        (4, "churned"): 1,
    }


def test_growth_accounting_replay_and_identities(spark):
    """sf0.001 replay in pure Python, plus the accounting identities
    that make the decomposition trustworthy: for every day,
    new + retained + resurrected == DAU, and retained + churned ==
    yesterday's DAU."""
    from documentai_ocr_spark.queries.relational import q_growth_accounting

    ev = pd.read_parquet(f"{SF}/events.parquet")
    day = _epoch_ms(ev["ts"]) // 86400000
    per: dict[int, set] = {}
    for uid, d in zip(ev["user_id"], day):
        per.setdefault(int(uid), set()).add(int(d))
    want: dict[tuple, int] = {}

    def bump(k):
        want[k] = want.get(k, 0) + 1

    for ds in per.values():
        days = sorted(ds)
        for i, d in enumerate(days):
            if i == 0:
                bump((d, "new"))
            elif d == days[i - 1] + 1:
                bump((d, "retained"))
            else:
                bump((d, "resurrected"))
            if i == len(days) - 1 or days[i + 1] > d + 1:
                bump((d + 1, "churned"))
    got = {
        (r["day"], r["klass"]): r["n"]
        for r in q_growth_accounting(spark, SF).collect()
    }
    assert got == want and len(got) > 0

    dau: dict[int, int] = {}
    for ds in per.values():
        for d in ds:
            dau[d] = dau.get(d, 0) + 1
    all_days = range(min(dau), max(dau) + 2)
    for d in all_days:
        active = (
            got.get((d, "new"), 0)
            + got.get((d, "retained"), 0)
            + got.get((d, "resurrected"), 0)
        )
        assert active == dau.get(d, 0), d
        assert got.get((d, "retained"), 0) + got.get(
            (d, "churned"), 0
        ) == dau.get(d - 1, 0), d


def test_growth_accounting_plan(spark):
    """Two exchanges only (the calendar-bounded user rollup and the
    O(days×classes) count); the oracle's lag/lead windows and the
    day-level self-join never materialize."""
    from documentai_ocr_spark.queries.relational import q_growth_accounting
    from planutil import n_exchanges, plan

    p = plan(q_growth_accounting(spark, SF))
    assert n_exchanges(p) == 2, p
    assert "Window" not in p and "Join" not in p, p


# ---------------------------------------------------- forecast backtest
def test_forecast_backtest_python_recount(spark):
    """sf0.001 replay on the densified grid: per-type daily counts with
    zeros filled across the corpus span, lag-7 and lag-1 absolute
    errors summed exactly, both scored on the identical day set."""
    from documentai_ocr_spark.queries.relational import q_forecast_backtest

    ev = pd.read_parquet(f"{SF}/events.parquet")
    day = _epoch_ms(ev["ts"]) // 86400000
    lo, hi = int(day.min()), int(day.max())
    cnt: dict[tuple, int] = {}
    for et, d in zip(ev["event_type"], day):
        cnt[(et, int(d))] = cnt.get((et, int(d)), 0) + 1
    want = {}
    for et in sorted({t for t, _ in cnt}):
        series = [cnt.get((et, d), 0) for d in range(lo, hi + 1)]
        scored = range(7, len(series))
        sae7 = sum(abs(series[i] - series[i - 7]) for i in scored)
        sae1 = sum(abs(series[i] - series[i - 1]) for i in scored)
        n = len(list(scored))
        want[et] = (
            n,
            sae7,
            1000 * sae7 // n,
            sae1,
            1000 * sae1 // n,
            sae7 < sae1,
        )
    got = {
        r["event_type"]: (
            r["n_scored"],
            r["sae7"],
            r["mae7_milli"],
            r["sae1"],
            r["mae1_milli"],
            r["seasonal_better"],
        )
        for r in q_forecast_backtest(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_forecast_backtest_engineered_seasonality(spark, tmp_path):
    """A corpus with perfect weekly seasonality (weekday pattern
    repeats exactly) scores sae7 == 0 while the day-to-day deltas make
    sae1 > 0 → seasonal_better; a constant series ties both at 0 (not
    'better'); the DENSE grid is pinned by a type that skips days —
    the zero days must score, not vanish."""
    from documentai_ocr_spark.queries.relational import q_forecast_backtest

    def ts(d):
        return pd.Timestamp(d * 86400000 + 1000, unit="ms")

    rows = []
    eid = 0
    # 'weekly': counts cycle [3,1,1,1,1,1,1] over 21 days
    for d in range(21):
        for _ in range(3 if d % 7 == 0 else 1):
            rows.append((eid, ts(d), 1, "weekly", 0.0, "{}"))
            eid += 1
    # 'flat': one event every day
    for d in range(21):
        rows.append((eid, ts(d), 2, "flat", 0.0, "{}"))
        eid += 1
    # 'sparse': events only on days 0 and 20 -> dense zeros between
    for d in (0, 20):
        rows.append((eid, ts(d), 3, "sparse", 0.0, "{}"))
        eid += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = str(tmp_path / "fcst")
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    got = {
        r["event_type"]: r for r in q_forecast_backtest(spark, d).collect()
    }
    w = got["weekly"]
    assert w["sae7"] == 0 and w["sae1"] > 0 and w["seasonal_better"]
    f = got["flat"]
    assert f["sae7"] == 0 and f["sae1"] == 0 and not f["seasonal_better"]
    s = got["sparse"]
    # dense grid: 14 scored days (7..20); day 7's f7 is day 0's count 1
    # (|0-1|=1), day 20 is actual 1 vs f7 0 (|1-0|=1) -> sae7 == 2;
    # lag-1 errors only at the day-20 step up (|1-0|=1) -> sae1 == 1
    assert s["n_scored"] == 14
    assert s["sae7"] == 2 and s["sae1"] == 1
    assert not s["seasonal_better"]


# ------------------------------------------------- CUSUM changepoint
def test_changepoint_engineered_level_shift(spark, tmp_path):
    """A hand series of 10 days at 1 then 10 days at 5: the CUSUM
    argmax lands exactly on the last low day (k=10: |10·20−10·60| =
    400, strictly above every other split), means read exactly
    1000/5000 milli; a CONSTANT series has gstat 0 everywhere and the
    tie-break picks the EARLIEST day."""
    from documentai_ocr_spark.queries.relational import q_changepoint

    def ts(d):
        return pd.Timestamp(d * 86400000 + 1000, unit="ms")

    rows = []
    eid = 0
    for d in range(20):
        for _ in range(1 if d < 10 else 5):
            rows.append((eid, ts(d), 1, "shift", 0.0, "{}"))
            eid += 1
    for d in range(20):
        rows.append((eid, ts(d), 2, "const", 0.0, "{}"))
        eid += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = str(tmp_path / "cp")
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    got = {r["event_type"]: r for r in q_changepoint(spark, d).collect()}
    s = got["shift"]
    assert s["split_day"] == 9 and s["g_stat"] == 400
    assert s["mean_before_milli"] == 1000
    assert s["mean_after_milli"] == 5000
    c = got["const"]
    assert c["g_stat"] == 0 and c["split_day"] == 0


def test_changepoint_python_recount(spark):
    """sf0.001 replay on the densified grid: exact integer CUSUM per
    type, argmax with earliest-day ties, exact milli segment means."""
    from documentai_ocr_spark.queries.relational import q_changepoint

    ev = pd.read_parquet(f"{SF}/events.parquet")
    day = _epoch_ms(ev["ts"]) // 86400000
    lo, hi = int(day.min()), int(day.max())
    cnt: dict[tuple, int] = {}
    for et, d in zip(ev["event_type"], day):
        cnt[(et, int(d))] = cnt.get((et, int(d)), 0) + 1
    want = {}
    for et in sorted({t for t, _ in cnt}):
        series = [cnt.get((et, d), 0) for d in range(lo, hi + 1)]
        nd, s = len(series), sum(series)
        best = None
        sk = 0
        for k in range(1, nd):
            sk += series[k - 1]
            g = abs(sk * nd - k * s)
            if best is None or g > best[0]:
                best = (g, lo + k - 1, sk, k)
        g, dday, sk, k = best
        want[et] = (
            dday,
            g,
            1000 * sk // k,
            1000 * (s - sk) // (nd - k),
        )
    got = {
        r["event_type"]: (
            r["split_day"],
            r["g_stat"],
            r["mean_before_milli"],
            r["mean_after_milli"],
        )
        for r in q_changepoint(spark, SF).collect()
    }
    assert got == want and len(got) > 0
