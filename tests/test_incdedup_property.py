"""Third-implementation property check for the rolling dedup fold.

The DuckDB oracle pins the policy cross-engine at EXACTLY 3 batches
(the unrolled CTE chain). This suite replays the policy in
straight-line pure Python — signatures and all (shingle→md5→linear-
map minhash bands) and the pairwise near rule — over seeded random
word-soup corpora at OTHER batch counts (2, 4, 5), and the Spark
fold must match doc-for-doc. Small vocabulary + short docs force
dense hash/band collisions, the regime where an off-by-one in
blocker scoping (accepted vs exact-survivor vs survivor) actually
shows up. The hot-bucket row puts more than 5,000 exact-distinct
docs of one batch into a single (band, bh) bucket, the input under
which a pairwise in-batch join grows with the square of the bucket."""

from __future__ import annotations

import hashlib
import random
import re
from collections import Counter

import pytest

from documentai_ocr_spark.incdedup import rolling_fold
from documentai_ocr_spark.queries.dedup import _MH_AB, _MH_P

VOCAB = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu",
]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _content_hash(text: str) -> str:
    return _md5(re.sub(r"[ \t\n\x0b\f\r]+", " ", text).lower())


def _hex60(s: str) -> int:
    return int(_md5(s)[:15], 16)


def _mh_bands(text: str) -> set[tuple[int, str]]:
    toks = text.split(" ")
    shingles = [
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    ]
    if not shingles:
        sigs = [None] * len(_MH_AB)
    else:
        hs = [_hex60(sh) % _MH_P for sh in shingles]
        sigs = [min((a * h + b) % _MH_P for h in hs) for a, b in _MH_AB]
    out = set()
    for band in range(len(_MH_AB) // 2):
        a, b = sigs[2 * band], sigs[2 * band + 1]
        if a is None:
            continue
        out.add((band, _md5(f"{a}:{b}")))
    return out


def _replay(docs, n_batches, near_blocks):
    """The rolling policy in straight-line Python. ``near_blocks(d,
    accepted, earlier)`` answers: is doc d blocked by the accepted
    set or by a smaller-doc_id exact survivor of its batch?"""
    accepted_h: set[str] = set()
    accepted: list[dict] = []
    out = set()
    for k in range(n_batches):
        batch = sorted(
            (d for d in docs if d["doc_id"] % n_batches == k),
            key=lambda d: d["doc_id"],
        )
        bymin: dict[str, dict] = {}
        for d in batch:
            bymin.setdefault(d["h"], d)  # sorted ⇒ first = min doc_id
        ek = [
            d
            for d in (bymin[h] for h in bymin)
            if d["h"] not in accepted_h
        ]
        ek.sort(key=lambda d: d["doc_id"])
        survivors = []
        for i, d in enumerate(ek):
            if not near_blocks(d, accepted, ek[:i]):
                survivors.append(d)
        for d in survivors:
            out.add((k, d["doc_id"]))
            accepted_h.add(d["h"])
            accepted.append(d)
    return out


def _mk_corpus(seed: int, n_docs: int, vocab_n: int = 12):
    rng = random.Random(seed)
    ids = rng.sample(range(1, 5000), n_docs)
    vocab = VOCAB[:vocab_n]
    return [
        {
            "doc_id": i,
            "text": " ".join(
                rng.choice(vocab) for _ in range(rng.randint(3, 12))
            ),
        }
        for i in ids
    ]


# 11,000 docs in 2 batches: each batch puts ~5,400 docs in one bucket
HOT_DOCS = 11_000


def _mk_hot_corpus(seed: int, n_docs: int):
    """A shared 40-word body plus one unique trailing token per doc:
    every doc is exact-distinct, and only the body's last shingle
    differs between docs, so most docs share most band buckets."""
    rng = random.Random(seed)
    body = " ".join(f"w{x}" for x in rng.sample(range(10**6), 40))
    ids = rng.sample(range(1, 10 * n_docs), n_docs)
    return [{"doc_id": i, "text": f"{body} u{i}"} for i in ids]


def _spark_set(df):
    return {(r["batch_seq"], r["doc_id"]) for r in df.collect()}


@pytest.mark.parametrize(
    "seed,n_batches,n_docs",
    [(11, 2, 40), (22, 4, 40), (33, 5, 70), (77, 2, HOT_DOCS)],
)
def test_minhash_fold_matches_python_replay(spark, seed, n_batches, n_docs):
    if n_docs == HOT_DOCS:
        corpus = _mk_hot_corpus(seed, n_docs)
    else:
        # the 5-batch case shrinks the vocab so cross-batch shingle
        # collisions fire even with only ~14 docs per batch
        corpus = _mk_corpus(seed, n_docs, vocab_n=12 if n_batches < 5 else 6)
    for d in corpus:
        d["h"] = _content_hash(d["text"])
        d["bands"] = _mh_bands(d["text"])
    if n_docs == HOT_DOCS:
        buckets = Counter(
            (d["doc_id"] % n_batches, b) for d in corpus for b in d["bands"]
        )
        assert max(buckets.values()) > 5000  # one batch's largest bucket

    def blocks(d, accepted, earlier):
        return any(d["bands"] & a["bands"] for a in accepted) or any(
            d["bands"] & e["bands"] for e in earlier
        )

    want = _replay(corpus, n_batches, blocks)
    df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in corpus],
        "doc_id bigint, text string",
    )
    got = _spark_set(rolling_fold(df, n_batches))
    assert got == want
    assert 0 < len(got) < len(corpus)  # collisions actually fired
