"""Dedup threshold yield curve and degree histogram: python replays
from the (gate-proven) banded pair set, plus structural laws; and the
measured pair loss of the MinHash-LSH hot-bucket cap."""

import pandas as pd

from documentai_ocr_spark.queries.dedup import (
    _MH_BUCKET_CAP,
    q_minhash_lsh_pairs,
    q_minhash_lsh_pairs_capped,
)
from documentai_ocr_spark.queries.simsearch import (
    q_dedup_yield_curve,
    q_dup_degree_hist,
    q_simhash_pairs_banded,
)

SF = "/root/testdata/sf0.001"


def _pairs(spark):
    return [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in q_simhash_pairs_banded(spark, SF).collect()
    ]


def test_yield_curve_replay_and_laws(spark):
    pairs = _pairs(spark)
    got = {
        r["hamming_max"]: (r["n_pairs_cum"], r["n_docs_cum"])
        for r in q_dedup_yield_curve(spark, SF).collect()
    }
    assert set(got) == set(range(9))
    for h in range(9):
        sub = [(a, b) for a, b, hm in pairs if hm <= h]
        docs = {v for p in sub for v in p}
        assert got[h] == (len(sub), len(docs)), h
    # monotone, bounded, and the h=8 row covers the whole pair set
    for h in range(1, 9):
        assert got[h][0] >= got[h - 1][0] and got[h][1] >= got[h - 1][1]
        assert got[h][1] <= 2 * got[h][0]
    assert got[8][0] == len(pairs)


def test_degree_hist_replay_and_laws(spark):
    pairs = _pairs(spark)
    deg: dict[int, int] = {}
    for a, b, _ in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    want: dict[int, list] = {}
    for d in deg.values():
        b = len(str(d))
        e = want.setdefault(b, [0, d, d])
        e[0] += 1
        e[1] = min(e[1], d)
        e[2] = max(e[2], d)
    got = {
        r["bucket"]: (r["n_docs"], r["min_deg"], r["max_deg"])
        for r in q_dup_degree_hist(spark, SF).collect()
    }
    assert got == {b: tuple(v) for b, v in want.items()}
    assert sum(v[0] for v in got.values()) == len(deg)


def test_hot_bucket_cap_recall_on_planted_families(spark, tmp_path):
    """The cap's loss as a figure: a family of 300 identical texts puts
    300 docs in each of its 4 band buckets, over _MH_BUCKET_CAP, so the
    capped query keeps 0 of its 44,850 pairs; a 200-family stays under
    the cap and keeps all 19,900. The uncapped query keeps both."""
    hot = "the same shipping template sentence repeated by every hub page"
    warm = "an identical review that praises the battery life of the phone"
    texts = [hot] * 300 + [warm] * 200
    texts += [f"filler {i} word{i} w{i * 7} tail{i}" for i in range(100)]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "web",
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(str(tmp_path / "documents.parquet"))
    families = {"hot": range(0, 300), "warm": range(300, 500)}
    assert _MH_BUCKET_CAP < 300 and 200 <= _MH_BUCKET_CAP

    def recall(q):
        got = {
            (r["doc_a"], r["doc_b"])
            for r in q(spark, str(tmp_path)).collect()
        }
        out = {}
        for name, ids in families.items():
            want = {(a, b) for a in ids for b in ids if a < b}
            out[name] = (len(got & want), len(want))
        return out

    assert recall(q_minhash_lsh_pairs) == {
        "hot": (44_850, 44_850),
        "warm": (19_900, 19_900),
    }
    assert recall(q_minhash_lsh_pairs_capped) == {
        "hot": (0, 44_850),
        "warm": (19_900, 19_900),
    }
