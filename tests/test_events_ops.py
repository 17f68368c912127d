"""The tool stationary distribution against hand-derived chains and a
numpy replay."""

SF = "/root/testdata/sf0.001"


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
