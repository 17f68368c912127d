"""CUBE / EXCEPT shapes: engineered closed forms and the cube marginal
identities on real data."""

import datetime as dt

import pandas as pd

from documentai_ocr_spark.queries.relational import (
    q_cube_revenue,
    q_window_shoppers,
)

SF = "/root/testdata/sf0.001"

_O_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _orders(spark, tmp_path, rows, name):
    d = str(tmp_path / name)
    pdf = pd.DataFrame(rows, columns=_O_COLS)
    spark.createDataFrame(pdf).write.parquet(f"{d}/orders.parquet")
    return d


def test_cube_engineered(spark, tmp_path):
    """2 priorities × 2 statuses: 9 cube rows, exact cents, the gid
    bit encoding, and the additivity of every marginal."""
    ts = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, "O", 10.00, ts, "1-URGENT"),
        (2, 1, "F", 20.00, ts, "1-URGENT"),
        (3, 1, "O", 40.00, ts, "5-LOW"),
        (4, 1, "F", 80.00, ts, "5-LOW"),
        (5, 1, "F", 1.00, ts, "5-LOW"),
    ]
    d = _orders(spark, tmp_path, rows, "cube")
    got = {
        (r["priority"], r["status"]): (r["gid"], r["n_orders"], r["rev_cents"])
        for r in q_cube_revenue(spark, d).collect()
    }
    assert len(got) == 9
    assert got[("1-URGENT", "O")] == (0, 1, 1000)
    assert got[("5-LOW", "F")] == (0, 2, 8100)
    assert got[("1-URGENT", "(all)")] == (1, 2, 3000)
    assert got[("(all)", "F")] == (2, 3, 10100)
    assert got[("(all)", "(all)")] == (3, 5, 15100)


def test_cube_identities_replay(spark):
    """sf0.001: every priority subtotal equals the sum of its cells,
    every status subtotal likewise, and the grand total both ways."""
    rows = q_cube_revenue(spark, SF).collect()
    cells = {
        (r["priority"], r["status"]): r
        for r in rows
        if r["gid"] == 0
    }
    for r in rows:
        if r["gid"] == 1:  # priority subtotal
            sub = [v for (p, _), v in cells.items() if p == r["priority"]]
            assert r["n_orders"] == sum(v["n_orders"] for v in sub)
            assert r["rev_cents"] == sum(v["rev_cents"] for v in sub)
        if r["gid"] == 2:  # status subtotal
            sub = [v for (_, s), v in cells.items() if s == r["status"]]
            assert r["n_orders"] == sum(v["n_orders"] for v in sub)
            assert r["rev_cents"] == sum(v["rev_cents"] for v in sub)
        if r["gid"] == 3:
            assert r["n_orders"] == sum(v["n_orders"] for v in cells.values())
            assert r["rev_cents"] == sum(
                v["rev_cents"] for v in cells.values()
            )


def test_window_shoppers_engineered(spark, tmp_path):
    """A user-day with views only is in; the same user's purchase day
    is out; a purchase on the view day removes it."""
    t0 = dt.datetime(2024, 2, 1, 10, 0, 0)
    dd = dt.timedelta(days=1)
    ev = [
        (0, t0, 1, "view", 0.0, "{}"),           # day0: view only -> in
        (1, t0 + dd, 1, "view", 0.0, "{}"),      # day1: view + purchase
        (2, t0 + dd, 1, "purchase", 0.0, "{}"),  #   -> out
        (3, t0 + 2 * dd, 2, "purchase", 0.0, "{}"),  # purchase only -> out
        (4, t0 + 2 * dd, 3, "view", 0.0, "{}"),  # -> in
        (5, t0 + 2 * dd, 3, "view", 0.0, "{}"),  # duplicate collapses
    ]
    d = str(tmp_path / "ws")
    pdf = pd.DataFrame(
        ev,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    day0 = int(t0.timestamp() * 1000) // 86400000
    got = sorted(
        (r["user_id"], r["day"]) for r in q_window_shoppers(spark, d).collect()
    )
    assert got == [(1, day0), (3, day0 + 2)]


def test_convert_days_partition_law(spark, tmp_path):
    """INTERSECT ∪ EXCEPT partitions the distinct view days: on the
    engineered corpus AND sf0.001, window_shoppers ∪ convert_days ==
    distinct (user, view-day) pairs, disjointly."""
    from documentai_ocr_spark.queries.relational import q_convert_days

    ws = {
        (r["user_id"], r["day"])
        for r in q_window_shoppers(spark, SF).collect()
    }
    cv = {
        (r["user_id"], r["day"]) for r in q_convert_days(spark, SF).collect()
    }
    assert not (ws & cv)
    ev = pd.read_parquet(f"{SF}/events.parquet")
    day = ev["ts"].astype("int64") // 1000 // 86400000
    views = {
        (int(u), int(d))
        for u, d, t in zip(ev["user_id"], day, ev["event_type"])
        if t == "view"
    }
    assert (ws | cv) == views and len(cv) > 0
