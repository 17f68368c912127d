"""Event rollups (tz-free hour histogram, DAU/WAU) recounted in pure
Python from the physical epoch milliseconds the parquet file stores,
and the tool stationary distribution against hand-derived chains and
a numpy replay."""

import pandas as pd

from documentai_ocr_spark.queries.relational import q_hour_mix

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
