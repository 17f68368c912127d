"""Connected-components dedup clustering (q_dedup_components).

The load-bearing property is TRANSITIVITY: A~B and B~C must land all
three in one group even when A and C never share an LSH band. The chain
fixture is found by searching a deterministic text pool with a pure-
Python reimplementation of the band math (md5 formulas identical to
dedup._MH_BAND_CTE), so the test fails loudly if the hash scheme drifts.
"""

import hashlib

import pytest

from documentai_ocr_spark.queries.dedup import (
    _JACCARD_K,
    _MH_ROWS_PER_BAND,
    _MH_SEEDS,
    lsh_components,
)

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu one two three four five six seven"
).split()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _bands(text: str) -> set:
    toks = text.split(" ")
    shingles = {
        " ".join(toks[i : i + _JACCARD_K])
        for i in range(len(toks) - (_JACCARD_K - 1))
    }
    sigs = [
        min(_md5(f"{s}:{sh}") for sh in shingles) for s in range(_MH_SEEDS)
    ]
    return {
        (b, _md5(sigs[_MH_ROWS_PER_BAND * b] + sigs[_MH_ROWS_PER_BAND * b + 1]))
        for b in range(_MH_SEEDS // _MH_ROWS_PER_BAND)
    }


def _pool(n: int) -> list:
    """Deterministic near-dup text pool: a common 24-word core with a
    2-word mutation sliding through it."""
    out = []
    for v in range(n):
        toks = list(WORDS[:24])
        p = v % 22
        toks[p] = WORDS[(v * 7 + 3) % len(WORDS)]
        toks[p + 1] = WORDS[(v * 11 + 5) % len(WORDS)]
        out.append(" ".join(toks))
    return out


def _find_chain() -> tuple:
    """First (A, B, C) in the pool with A∩B ≠ ∅, B∩C ≠ ∅, A∩C = ∅."""
    pool = _pool(40)
    bands = [_bands(t) for t in pool]
    for i in range(len(pool)):
        for j in range(len(pool)):
            if j == i or not (bands[i] & bands[j]):
                continue
            for k in range(len(pool)):
                if k in (i, j):
                    continue
                if (bands[j] & bands[k]) and not (bands[i] & bands[k]):
                    return pool[i], pool[j], pool[k]
    pytest.skip("pool produced no A-B-C band chain (hash scheme changed?)")


def test_transitive_chain(spark):
    a, b, c = _find_chain()
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, c), (3, "totally unrelated filler words here")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lsh_components(docs).collect()}
    # the chain collapses to one group labeled by its min doc_id...
    assert rows[0]["component"] == rows[1]["component"] == rows[2]["component"] == 0
    assert rows[0]["n_docs"] == 3
    assert rows[0]["canonical"] and not rows[1]["canonical"]
    # ...and the unrelated doc stays a singleton
    assert rows[3]["component"] == 3 and rows[3]["n_docs"] == 1


def test_components_refine_lsh_pairs(spark):
    """Every LSH candidate pair must fall inside one component — the
    clustering can merge pairs (transitively) but never split one."""
    from documentai_ocr_spark.queries.dedup import (
        q_dedup_components,
        q_minhash_lsh_pairs,
    )

    sf = "/root/testdata/sf0.001"
    comp = {
        r["doc_id"]: r["component"]
        for r in q_dedup_components(spark, sf).collect()
    }
    pairs = q_minhash_lsh_pairs(spark, sf).collect()
    assert pairs, "fixture corpus produced no LSH pairs"
    for r in pairs:
        assert comp[r["doc_a"]] == comp[r["doc_b"]]


def test_pointer_jumping_log_rounds(spark):
    """A 64-node path graph has diameter 63: plain min-propagation would
    need ~63 shuffle rounds; pointer jumping must close it in O(log n)."""
    import math

    from documentai_ocr_spark.queries.dedup import min_label_components

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    labels, rounds = min_label_components(nodes, edges)
    assert all(r["component"] == 0 for r in labels.collect())
    assert rounds <= 2 * int(math.log2(n)) + 2, rounds


def test_giant_duplicate_cluster(spark):
    """Dup-storm skew case: 200 identical documents form one LSH bucket
    per band. The star edge set keeps this linear (|bucket|-1 edges, not
    a 19,900-edge clique) and min-label propagation closes it in O(1)
    rounds since every member touches the bucket min directly."""
    from documentai_ocr_spark.queries.dedup import lsh_components

    text = " ".join(WORDS[:24])
    rows = [(i, text) for i in range(200)] + [
        (900, "completely different words entirely")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lsh_components(docs).collect()}
    assert all(out[i]["component"] == 0 for i in range(200))
    assert out[0]["n_docs"] == 200
    assert sum(1 for r in out.values() if r["canonical"]) == 2  # 0 and 900


def test_component_split_has_zero_leakage(spark):
    """Re-run the leakage audit's aggregation on the component-level
    split: no component may straddle train/val (the doc-level split
    provably leaks on this corpus — q_split_leakage finds >0 leaky
    groups — so this is a real difference, not a vacuous pass), and the
    split fraction must stay near 70/30."""
    import pyspark.sql.functions as F

    from documentai_ocr_spark.queries.dedup import (
        q_split_leakage,
        q_component_split,
    )

    sf = "/root/testdata/sf0.001"
    doc_level_leaks = (
        q_split_leakage(spark, sf).where(F.col("leaky")).count()
    )
    assert doc_level_leaks > 0  # the problem exists on this corpus

    s = q_component_split(spark, sf)
    leaks = (
        s.groupBy("component")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert leaks == 0
    frac = s.where(F.col("split") == "train").count() / s.count()
    assert 0.55 < frac < 0.85


def test_minhash_calibration_python_recount(spark):
    """Whole-corpus replay of q_minhash_calibration on sf0.001: re-run
    the CURRENT signature math (one md5 digest per shingle, _MH_AB
    linear maps mod _MH_P), banding, candidate pairing, component
    matching and exact integer-milli Jaccard in pure Python — every
    row of the ≤9-row accuracy table must match. Also pins the
    structural invariant n_match >= ROWS_PER_BAND (a shared band means
    both of its components match)."""
    import pandas as pd

    from documentai_ocr_spark.queries.dedup import (
        _MH_AB,
        _MH_P,
        q_minhash_calibration,
    )

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    sig = {}
    shingle_sets = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = text.split(" ")
        shs = {
            " ".join(toks[i : i + _JACCARD_K])
            for i in range(len(toks) - (_JACCARD_K - 1))
        }
        if not shs:
            continue
        shingle_sets[doc_id] = shs
        hs = [int(_md5(sh)[:15], 16) % _MH_P for sh in shs]
        sig[doc_id] = [min((a * h + b) % _MH_P for h in hs) for a, b in _MH_AB]

    n_bands = _MH_SEEDS // _MH_ROWS_PER_BAND
    buckets = {}
    for d, s in sig.items():
        for b in range(n_bands):
            key = (b, tuple(s[_MH_ROWS_PER_BAND * b : _MH_ROWS_PER_BAND * (b + 1)]))
            buckets.setdefault(key, []).append(d)
    pairs = set()
    for ds in buckets.values():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs.add((ds[i], ds[j]))

    table = {}
    for a, b in pairs:
        n_match = sum(x == y for x, y in zip(sig[a], sig[b]))
        assert n_match >= _MH_ROWS_PER_BAND, (a, b)
        inter = len(shingle_sets[a] & shingle_sets[b])
        union = len(shingle_sets[a] | shingle_sets[b])
        jm = 1000 * inter // union
        t = table.setdefault(n_match, [])
        t.append(jm)

    got = {
        r["n_match"]: r
        for r in q_minhash_calibration(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(got) == set(table)
    for n_match, jms in table.items():
        g = got[n_match]
        assert g["est_milli"] == n_match * 125
        assert g["n_pairs"] == len(jms)
        assert g["mean_jac_milli"] == sum(jms) // len(jms)
        assert g["min_jac_milli"] == min(jms)
        assert g["max_jac_milli"] == max(jms)


def test_neardup_agreement_reconciles_with_both_detectors(spark):
    """The agreement table's margins must equal the production
    detectors' own pair counts: both+minhash_only == |minhash pairs|,
    both+simhash_only == |simhash pairs| — by construction it CALLS
    those detectors, so a drift here means the composition broke."""
    from documentai_ocr_spark.queries.dedup import (
        q_minhash_lsh_pairs,
        q_neardup_agreement,
        q_simhash_wide_banded,
    )

    sf = "/root/testdata/sf0.001"
    rows = {r["method"]: r["n_pairs"]
            for r in q_neardup_agreement(spark, sf).collect()}
    n_mh = q_minhash_lsh_pairs(spark, sf).count()
    n_sh = q_simhash_wide_banded(spark, sf).select(
        "doc_a", "doc_b"
    ).distinct().count()
    both = rows.get("both", 0)
    assert both + rows.get("minhash_only", 0) == n_mh
    assert both + rows.get("simhash_only", 0) == n_sh


def test_cluster_cap_ranks_replay(spark):
    """q_cluster_cap_sample's keep_rank must equal a pure-python md5
    re-ranking of q_dedup_components' own component assignment — dense
    1..n per component, kept == (rank <= cap)."""
    import hashlib

    from documentai_ocr_spark.queries.dedup import (
        _CLUSTER_CAP,
        q_cluster_cap_sample,
        q_dedup_components,
    )

    sf = "/root/testdata/sf0.001"
    comp = {
        r["doc_id"]: r["component"]
        for r in q_dedup_components(spark, sf).collect()
    }
    groups = {}
    for doc, c in comp.items():
        groups.setdefault(c, []).append(doc)
    expect = {}
    for c, docs in groups.items():
        docs.sort(key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
        for i, d in enumerate(docs, start=1):
            expect[d] = (c, i, i <= _CLUSTER_CAP)
    out = q_cluster_cap_sample(spark, sf).collect()
    assert len(out) == len(expect)
    for r in out:
        assert expect[r["doc_id"]] == (
            r["component"],
            r["keep_rank"],
            r["kept"],
        ), r


def test_cluster_cap_dup_storm_unbiased_keepers(spark):
    """100 identical docs collapse to ONE component; exactly _CLUSTER_CAP
    survive, and the survivors are the md5-order minima ({27, 63} for
    ids 0..99) — NOT the insertion-order prefix {0, 1}, pinning that the
    coin de-biases keeper choice away from oldest-copy-wins."""
    from documentai_ocr_spark.queries.dedup import (
        _CLUSTER_CAP,
        cluster_cap_sample,
    )

    text = " ".join(WORDS[:24])
    docs = spark.createDataFrame(
        [(i, text) for i in range(100)], "doc_id long, text string"
    )
    out = cluster_cap_sample(docs).collect()
    assert all(r["component"] == 0 for r in out)
    kept = {r["doc_id"] for r in out if r["kept"]}
    assert len(kept) == _CLUSTER_CAP
    assert kept == {27, 63}
    assert kept != {0, 1}
    ranks = sorted(r["keep_rank"] for r in out)
    assert ranks == list(range(1, 101))
