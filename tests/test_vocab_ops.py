"""Vocabulary-statistics operators: term burstiness (Church–Gale),
k-anonymity governance audit, the SymSpell deletion-neighborhood
edit-distance-1 pair join, BPE training and per-language tokenizer
fertility — engineered-verdict corpora plus whole-corpus python replays
at sf0.001."""

import collections

import pandas as pd

from documentai_ocr_spark.queries.dedup import (
    _TYPO_MIN_LEN,
    q_typo_pairs,
)
from documentai_ocr_spark.queries.textstats import (
    _BPE_TRAIN_CAP,
    _BPE_TRAIN_ROUNDS,
    _BURST_MIN_DF,
    _BURSTY_MILLI,
    _GRID_CAP,
    _KANON_K,
    bpe_train,
    q_k_anonymity,
    q_term_burstiness,
)
from documentai_ocr_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _write(spark, tmp_path, name, pdf):
    d = str(tmp_path / name)
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
    return d


# --------------------------------------------------------- burstiness
def test_burstiness_verdict_discriminates(spark, tmp_path):
    """An engineered corpus where the verdict provably splits: 'spam'
    bursts (20 occurrences in each of 5 docs → 20000 milli), 'tag'
    spreads (1 occurrence in each of 10 docs → 1000 milli), and a
    sub-floor term never appears in the output."""
    rows = []
    for i in range(5):
        rows.append((i, "spam " * 19 + "spam tag"))
    for i in range(5, 10):
        rows.append((i, "tag filler filler filler"))
    rows.append((10, "rare rare rare"))  # df=1 < floor — pruned
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    d = _write(spark, tmp_path, "burst", pdf)
    got = {r["term"]: r for r in q_term_burstiness(spark, d).collect()}
    assert "rare" not in got
    assert got["spam"]["cf"] == 100 and got["spam"]["df"] == 5
    assert got["spam"]["burst_milli"] == 20000 and got["spam"]["bursty"]
    assert got["tag"]["cf"] == 10 and got["tag"]["df"] == 10
    assert got["tag"]["burst_milli"] == 1000 and not got["tag"]["bursty"]


def test_burstiness_python_recount(spark):
    """Whole-corpus replay at sf0.001: exact cf/df/milli per term."""
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    cf: collections.Counter = collections.Counter()
    df: collections.Counter = collections.Counter()
    for text in docs["text"]:
        toks = [w for w in text.lower().split(" ") if w]
        cf.update(toks)
        df.update(set(toks))
    got = {r["term"]: r for r in q_term_burstiness(spark, SF).collect()}
    want = {w for w in cf if df[w] >= _BURST_MIN_DF}
    assert set(got) == want
    for w in want:
        r = got[w]
        milli = 1000 * cf[w] // df[w]
        assert (r["cf"], r["df"], r["burst_milli"], r["bursty"]) == (
            cf[w],
            df[w],
            milli,
            milli >= _BURSTY_MILLI,
        ), w


# -------------------------------------------------------- k-anonymity
def test_k_anonymity_verdict_discriminates(spark, tmp_path):
    """One source whose every QI class has ≥ k docs is k-anonymous;
    another with a singleton class (one doc in a unique lang) is not,
    and its n_risky counts exactly the sub-k classes' docs."""
    rows = []
    for i in range(2 * _KANON_K):
        rows.append((i, "x" * 50, "en", "safe"))
    for i in range(100, 100 + _KANON_K):
        rows.append((i, "y" * 50, "en", "leaky"))
    rows.append((200, "z" * 50, "xx", "leaky"))  # singleton QI class
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    d = _write(spark, tmp_path, "kanon", pdf)
    got = {r["source"]: r for r in q_k_anonymity(spark, d).collect()}
    assert got["safe"]["k_anonymous"] and got["safe"]["n_risky"] == 0
    assert got["safe"]["min_class"] == 2 * _KANON_K
    r = got["leaky"]
    assert not r["k_anonymous"]
    assert r["n_classes"] == 2 and r["min_class"] == 1
    assert r["n_risky"] == 1 and r["n_docs"] == _KANON_K + 1
    assert r["risk_milli"] == 1000 * 1 // (_KANON_K + 1)


def test_k_anonymity_python_recount(spark):
    """Whole-corpus replay at sf0.001 with the shared grid bucket rule
    (min(cap, len // 100))."""
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    cls: collections.Counter = collections.Counter()
    for text, lang, src in zip(docs["text"], docs["lang"], docs["source"]):
        cls[(src, lang, min(_GRID_CAP, len(text) // 100))] += 1
    per_src: dict = {}
    for (src, _, _), sz in cls.items():
        a = per_src.setdefault(
            src, {"n_docs": 0, "n_classes": 0, "min": None, "risky": 0}
        )
        a["n_docs"] += sz
        a["n_classes"] += 1
        a["min"] = sz if a["min"] is None else min(a["min"], sz)
        if sz < _KANON_K:
            a["risky"] += sz
    got = {r["source"]: r for r in q_k_anonymity(spark, SF).collect()}
    assert set(got) == set(per_src)
    for src, a in per_src.items():
        r = got[src]
        assert (
            r["n_docs"],
            r["n_classes"],
            r["min_class"],
            r["n_risky"],
            r["risk_milli"],
            r["k_anonymous"],
        ) == (
            a["n_docs"],
            a["n_classes"],
            a["min"],
            a["risky"],
            1000 * a["risky"] // a["n_docs"],
            a["min"] >= _KANON_K,
        ), src


# --------------------------------------------------------- typo pairs
def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_typo_pairs_engineered(spark, tmp_path):
    """Every lev-1 flavor is found and nothing else: deletion
    (cat/cart... here merge/mrge), substitution (cart/cort), insertion
    covered as the deletion mirror; a distance-2 pair that SHARES a
    deletion signature (abc/bca share 'bc') is provably rejected."""
    pdf = pd.DataFrame(
        {
            # doc_id 3 % 7 == 3 would ALSO inject 'crt' (first word
            # 'cart' len>=4) — avoid doc_id 3 so the pair set is exactly
            # hand-computable.
            "doc_id": [0, 1, 2, 4],
            "text": [
                "cart cart cart cort",  # substitution pair
                "merge merge mrge",  # deletion pair
                "abc abc bca",  # shared-deletion IMPOSTOR, lev=2
                "zzz unrelated words",
            ],
        }
    )
    d = _write(spark, tmp_path, "typo", pdf)
    got = {
        (r["word_a"], r["word_b"]): r for r in q_typo_pairs(spark, d).collect()
    }
    assert set(got) == {("cart", "cort"), ("merge", "mrge")}
    assert got[("cart", "cort")]["canonical"] == "cart"
    assert got[("merge", "mrge")]["canonical"] == "merge"
    assert got[("cart", "cort")]["c_a"] == 3
    assert got[("cart", "cort")]["c_b"] == 1


# --------------------------------------------------------- BPE trainer
def test_bpe_train_hand_derived_multiround(spark, tmp_path):
    """The classic hug/pug/hugs corpus, merges derivable by hand:
    round 1 (u,g)=5+2+3=10 → 'ug'; round 2 (h,ug)=5+3=8 → 'hug';
    round 3 (hug,s)=3 → 'hugs'; round 4 (p,ug)=2 → 'pug'; then every
    word is one symbol and the loop stops early at 4 < rounds rows.
    Also pins cap_words (3 distinct words) and coverage_milli (1000 —
    the cap covers the whole corpus)."""
    text = " ".join(["hug"] * 5 + ["pug"] * 2 + ["hugs"] * 3)
    pdf = pd.DataFrame({"doc_id": [0], "text": [text]})
    d = _write(spark, tmp_path, "bpe_hand", pdf)
    rows = QUERIES["x_bpe_train"](spark, d).orderBy("round").collect()
    got = [
        (r["round"], r["left"], r["right"], r["merged"], r["pair_freq"])
        for r in rows
    ]
    assert got == [
        (1, "u", "g", "ug", 10),
        (2, "h", "ug", "hug", 8),
        (3, "hug", "s", "hugs", 3),
        (4, "p", "ug", "pug", 2),
    ]
    assert all(r["cap_words"] == 3 for r in rows)
    assert all(r["coverage_milli"] == 1000 for r in rows)


def test_bpe_train_tiebreak_law():
    """Equal-frequency pairs merge in (left, right) string order: with
    (a,b)=3 and (a,c)=3 and (c,d)=3 all tied, round 1 takes ('a','b'),
    round 2 ('a','c'), round 3 ('c','d') — and the table is therefore
    identical no matter how the input dict is ordered."""
    wf = [("ab", 3), ("ac", 3), ("cd", 3)]
    want = [
        (1, "a", "b", "ab", 3),
        (2, "a", "c", "ac", 3),
        (3, "c", "d", "cd", 3),
    ]
    assert bpe_train(wf, 12) == want
    assert bpe_train(list(reversed(wf)), 12) == want


def test_bpe_train_early_stop_and_rewrite_nonoverlap():
    """Single-symbol words yield zero rows (nothing adjacent); the
    left-to-right non-overlapping rewrite law: 'aaa' under merge (a,a)
    becomes [aa, a], never [a, aa] — so round 2's top pair is
    (aa, a) with the chain's weight."""
    assert bpe_train([("a", 100), ("b", 7)], 12) == []
    got = bpe_train([("aaa", 4)], 2)
    assert got == [(1, "a", "a", "aa", 8), (2, "aa", "a", "aaa", 4)]


def test_bpe_train_corpus_replay(spark):
    """Whole-corpus replay at sf0.001: an independent pandas word
    rollup, the same (freq desc, word asc) top-cap, the spec trainer,
    and exact equality on every column including the coverage audit."""
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    cnt: collections.Counter = collections.Counter()
    for text in docs["text"]:
        cnt.update(w for w in text.split(" ") if w)
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    top = top[:_BPE_TRAIN_CAP]
    total = sum(cnt.values())
    covered = sum(f for _, f in top)
    want = bpe_train(top, _BPE_TRAIN_ROUNDS)
    rows = QUERIES["x_bpe_train"](spark, SF).orderBy("round").collect()
    got = [
        (r["round"], r["left"], r["right"], r["merged"], r["pair_freq"])
        for r in rows
    ]
    assert got == want and len(got) > 0
    assert all(r["cap_words"] == len(top) for r in rows)
    assert all(
        r["coverage_milli"] == (covered * 1000) // total for r in rows
    )


def test_typo_pairs_bruteforce_replay(spark):
    """sf0.001 replay: decorated-vocab O(V²) brute force == the
    deletion-signature join, pair for pair, counts included — the
    blocking-completeness proof run locally (the oracle repeats it in
    SQL at the driver's sf)."""
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    cnt: collections.Counter = collections.Counter()
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = [w for w in text.lower().split(" ") if w]
        dec = list(toks)
        if doc_id % 7 == 3 and toks and len(toks[0]) >= 4:
            w = toks[0]
            dec.append(w[0] + w[2:])
        cnt.update(w for w in dec if len(w) >= _TYPO_MIN_LEN)
    vocab = sorted(cnt)
    want = {}
    for i, a in enumerate(vocab):
        for b in vocab[i + 1 :]:
            if abs(len(a) - len(b)) <= 1 and _lev(a, b) == 1:
                want[(a, b)] = (cnt[a], cnt[b])
    got = {
        (r["word_a"], r["word_b"]): (r["c_a"], r["c_b"])
        for r in q_typo_pairs(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_tokenizer_fertility_python_recount(spark):
    """Full independent recount: re-run the stopword-vote predictor and
    THE token/byte units in pure Python per document, aggregate per
    predicted lang — every column of every class row must match, and
    the classes must partition the corpus."""
    from documentai_ocr_spark.queries.textstats import (
        _STOPWORDS,
        q_tokenizer_fertility,
    )

    sw: dict[str, list] = {}
    for w, lang in _STOPWORDS:
        sw.setdefault(w, []).append(lang)
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    per: dict[str, dict] = {}
    for text in docs["text"]:
        cnt: dict[str, int] = {}
        for w in text.lower().split(" "):
            for lang in sw.get(w, ()):
                cnt[lang] = cnt.get(lang, 0) + 1
        # argmax, ties by lang asc, no hits -> unk
        pred = (
            min(cnt, key=lambda l: (-cnt[l], l)) if cnt else "unk"
        )
        a = per.setdefault(pred, {"n_docs": 0, "ntok": 0, "nbytes": 0})
        a["n_docs"] += 1
        a["ntok"] += sum(1 for w in text.split(" ") if w != "")
        a["nbytes"] += len(text.encode("utf-8"))
    got = {
        r["pred_lang"]: r for r in q_tokenizer_fertility(spark, SF).collect()
    }
    assert set(got) == set(per)
    assert sum(r["n_docs"] for r in got.values()) == len(docs)
    for lang, a in per.items():
        g = got[lang]
        assert (g["n_docs"], g["n_tokens"], g["n_bytes"]) == (
            a["n_docs"],
            a["ntok"],
            a["nbytes"],
        ), lang
        want_milli = (
            0 if a["ntok"] == 0 else a["nbytes"] * 1000 // a["ntok"]
        )
        assert g["bytes_per_token_milli"] == want_milli


