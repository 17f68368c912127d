"""Quality screens: character entropy (pure-Python recount + engineered
separation corpus), Gopher line-shape (whole-corpus replay of the
decoration coins + discriminative-verdict evidence), per-source top-K /
Zipf fit, embedding label margin, line dedup, badwords, bigram entropy,
langid confusion, perplexity buckets and source JSD."""

import math

import pandas as pd

from documentai_ocr_spark.queries.textstats import (
    _ENT_CHARS,
    _ENT_FLOOR,
    _SHAPE_BULLET_MAX,
    _SHAPE_DUP_MAX,
    _SHAPE_ELLIPSIS_MAX,
    q_char_entropy,
    q_gopher_lineshape,
)

SF = "/root/testdata/sf0.001"


def _entropy(text: str) -> float:
    n = len(text)
    if n == 0:
        return 0.0
    counts = [text.count(c) for c in _ENT_CHARS]
    counts.append(n - sum(counts))
    s = sum(c * math.log(c) for c in counts if c > 0)
    return math.log(n) - s / n


def test_char_entropy_python_recount(spark):
    """Whole-corpus exactness: every (n_chars, entropy, is_low) row
    equals the pure-Python recount of the same fixed-alphabet formula
    (identical IEEE doubles; the rounded column is compared at 1e-9)."""
    got = {
        r["doc_id"]: r for r in q_char_entropy(spark, SF).collect()
    }
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    assert len(got) == len(docs)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        h = _entropy(text)
        r = got[doc_id]
        assert r["n_chars"] == len(text)
        assert abs(r["entropy"] - round(h, 6)) < 1e-9, doc_id
        assert r["is_low"] == (h < _ENT_FLOOR), doc_id


def test_char_entropy_separates_mash_from_text(spark, tmp_path):
    """The property the screen exists for: a held-down key scores 0,
    repetitive two-token spam scores far below varied prose, and both
    land under the floor while real word-salad stays above it."""
    varied = " ".join(
        chr(97 + i % 26)
        + chr(97 + (i * 7 + 3) % 26)
        + chr(97 + (i * 13 + 11) % 26)
        for i in range(120)
    )
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["a" * 500, "ab " * 160, varied, ""],
        }
    )
    d = str(tmp_path / "ent")
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
    rows = {r["doc_id"]: r for r in q_char_entropy(spark, d).collect()}
    assert rows[1]["entropy"] == 0.0 and rows[1]["is_low"]
    assert rows[2]["is_low"] and rows[2]["entropy"] < rows[3]["entropy"] / 2
    assert not rows[3]["is_low"]
    assert rows[4]["n_chars"] == 0 and rows[4]["entropy"] == 0.0


def _synth_lines_py(doc_id: int, text: str):
    """Python replica of relational._synth_lines + the line-shape
    decoration — independent of both engines."""
    tk = text.split(" ")
    nl = math.ceil(len(tk) / 5.0)
    out = []
    for li in range(nl):
        if (doc_id + li) % 7 == 5:
            s = "ok"
        elif (doc_id + li) % 4 == 3:
            s = "*** !!! *** ???"
        else:
            s = " ".join(tk[li * 5 : li * 5 + 5])
        if (doc_id + 2 * li) % 5 == 0:
            s = "- " + s
        if (doc_id + 3 * li) % 7 == 1:
            s = s + "..."
        out.append(s)
    return out


def test_gopher_lineshape_python_replay(spark):
    """Whole-corpus replay: the bullet/ellipsis/dup milli-fractions and
    the pass verdict equal a pure-Python rerun of the synth-line
    generator + decoration coins + integer-div rule."""
    got = {
        r["doc_id"]: r for r in q_gopher_lineshape(spark, SF).collect()
    }
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    assert len(got) == len(docs)
    n_pass = n_fail = 0
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        lines = _synth_lines_py(doc_id, text)
        n = len(lines)
        nb = sum(1 for s in lines if s.startswith("- "))
        ne = sum(1 for s in lines if s.endswith("..."))
        nd = n - len(set(lines))
        bm, em, dm = 1000 * nb // n, 1000 * ne // n, 1000 * nd // n
        ok = (
            bm <= _SHAPE_BULLET_MAX
            and em <= _SHAPE_ELLIPSIS_MAX
            and dm <= _SHAPE_DUP_MAX
        )
        r = got[doc_id]
        assert (
            r["n_lines"],
            r["bullet_milli"],
            r["ellipsis_milli"],
            r["dup_milli"],
            r["pass"],
        ) == (n, bm, em, dm, ok), doc_id
        n_pass += ok
        n_fail += not ok
    # the screen must discriminate on this corpus, not rubber-stamp
    assert n_pass > 0 and n_fail > 0


# ---------------------------------------- per-source top-K / Zipf fit
def test_source_topwords_python_recount(spark):
    """The digit-bucket pruned rank equals a plain Counter-based
    top-K replay (count DESC, word ASC) for every source."""
    from collections import Counter

    from documentai_ocr_spark.queries.relevance import (
        _TOPW_K,
        q_source_topwords,
    )

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    per_src: dict[str, Counter] = {}
    for src, text in zip(docs["source"], docs["text"]):
        per_src.setdefault(src, Counter()).update(
            w for w in text.split(" ") if w
        )
    got: dict[tuple, tuple] = {}
    for r in q_source_topwords(spark, SF).collect():
        got[(r["source"], r["rnk"])] = (r["word"], r["c"])
    for src, cnt in per_src.items():
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        for i, (w, c) in enumerate(ranked[:_TOPW_K], start=1):
            assert got[(src, i)] == (w, c), (src, i)
    assert len(got) == sum(
        min(_TOPW_K, len(c)) for c in per_src.values()
    )


def test_topk_pruning_survives_single_digit_bucket(spark, tmp_path):
    """Adversarial boundary: every word count shares ONE digit bucket
    (all two-digit counts), so pruning keeps everything and the
    survivor window must still cut the exact deterministic top-K."""
    from documentai_ocr_spark.queries.relevance import _src_topk_df

    words = []
    # 60 words, counts 10..69 — all in digit bucket 2
    for i in range(60):
        words += [f"w{i:02d}"] * (10 + i)
    text = " ".join(words)
    pdf = pd.DataFrame({"doc_id": [1], "source": ["s"], "text": [text]})
    d = str(tmp_path / "tb")
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
    rows = _src_topk_df(spark, d, 20).collect()
    assert len(rows) == 20
    exp = [(f"w{i:02d}", 10 + i) for i in range(59, 39, -1)]
    got = sorted(
        [(r["w"], r["c"], r["rnk"]) for r in rows], key=lambda x: x[2]
    )
    assert [(w, c) for w, c, _ in got] == exp


def test_zipf_slope_recovers_minus_one(spark, tmp_path):
    """A synthetic exact-Zipf corpus (count(rank r) = C // r) must fit
    slope ≈ −1; a uniform corpus (all counts equal) must fit slope 0."""
    from documentai_ocr_spark.queries.relevance import q_zipf_slope

    zipf_words, uni_words = [], []
    for r in range(1, 81):
        zipf_words += [f"z{r:03d}"] * (4000 // r)
    for r in range(80):
        uni_words += [f"u{r:03d}"] * 50
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "source": ["zipf", "uniform"],
            "text": [" ".join(zipf_words), " ".join(uni_words)],
        }
    )
    d = str(tmp_path / "zipf")
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
    rows = {r["source"]: r for r in q_zipf_slope(spark, d).collect()}
    assert abs(rows["zipf"]["slope"] + 1.0) < 0.05
    assert abs(rows["uniform"]["slope"]) < 1e-9
    assert rows["zipf"]["n_fit"] == 80 and rows["uniform"]["n_fit"] == 80


def test_embed_label_margin_numpy_replay(spark):
    """Whole-table replay: centroids (per-label means rounded to 6),
    exact index-ordered distance fold, nearest-other min with clabel
    tie-break, margin and suspect verdict — all recomputed in numpy."""
    import numpy as np

    from documentai_ocr_spark.queries.simsearch import (
        q_embed_label_margin,
    )

    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    labels = sorted(emb["label"].unique())
    cents = {}
    for lb in labels:
        m = np.stack(emb.loc[emb["label"] == lb, "embedding"].to_numpy())
        # same rule as CENTROID_CTE: sum/count in double, rounded once
        cents[lb] = np.round(
            m.astype(np.float64).sum(axis=0) / len(m), 6
        )
    got = {
        r["vec_id"]: r for r in q_embed_label_margin(spark, SF).collect()
    }
    assert len(got) == len(emb)
    n_suspect = 0
    for vec_id, lb, v in zip(
        emb["vec_id"], emb["label"], emb["embedding"]
    ):
        x = np.asarray(v, dtype=np.float64)
        dm = {}
        for cl, c in cents.items():
            # left fold in index order == math.fsum-free plain sum here;
            # replicate the exact sequential accumulation
            acc = 0.0
            for i in range(len(x)):
                d = x[i] - c[i]
                acc += d * d
            dm[cl] = int(round(math.sqrt(acc) * 1000))
        own = dm[lb]
        other_lb, other = min(
            ((v2, k) for k, v2 in dm.items() if k != lb)
        )[::-1]
        r = got[vec_id]
        assert (
            r["own_milli"],
            r["nearest_other"],
            r["other_milli"],
            r["margin_milli"],
            r["suspect"],
        ) == (own, other_lb, other, other - own, other < own), vec_id
        n_suspect += other < own
    # embeddings are synthetic label clusters + noise: both verdicts
    # must occur or the screen isn't discriminating
    assert n_suspect > 0 and n_suspect < len(emb)


def test_line_dedup_rewrite_python_replay(spark):
    """Whole-corpus replay: corpus-global first-occurrence election in
    (doc_id, li) order over the synth line table (WITHOUT decorations
    — this op consumes the shared table directly), then per-doc
    reassembly; every count and every clean_text byte must match."""
    from documentai_ocr_spark.queries.corpusops import (
        q_line_dedup_rewrite,
    )

    docs = pd.read_parquet(f"{SF}/documents.parquet")

    def synth_lines_raw(doc_id, text):
        tk = text.split(" ")
        nl = math.ceil(len(tk) / 5.0)
        out = []
        for li in range(nl):
            if (doc_id + li) % 7 == 5:
                out.append("ok")
            elif (doc_id + li) % 4 == 3:
                out.append("*** !!! *** ???")
            else:
                out.append(" ".join(tk[li * 5 : li * 5 + 5]))
        return out

    first: dict[str, tuple] = {}
    all_lines = []
    for doc_id, text in sorted(zip(docs["doc_id"], docs["text"])):
        for li, s in enumerate(synth_lines_raw(doc_id, text)):
            all_lines.append((doc_id, li, s))
            if s not in first or (doc_id, li) < first[s]:
                first[s] = (doc_id, li)
    exp: dict[int, dict] = {}
    for doc_id, li, s in all_lines:
        e = exp.setdefault(
            doc_id, {"n": 0, "kept": 0, "lines": []}
        )
        e["n"] += 1
        if first[s] == (doc_id, li):
            e["kept"] += 1
            e["lines"].append(s)
    got = {
        r["doc_id"]: r
        for r in q_line_dedup_rewrite(spark, SF).collect()
    }
    assert len(got) == len(exp)
    dropped_somewhere = kept_everything = 0
    for doc_id, e in exp.items():
        r = got[doc_id]
        assert (
            r["n_lines"],
            r["n_kept"],
            r["n_dropped"],
            r["clean_text"],
        ) == (e["n"], e["kept"], e["n"] - e["kept"], "\n".join(e["lines"])), doc_id
        dropped_somewhere += e["kept"] < e["n"]
        kept_everything += e["kept"] == e["n"]
    # the injected 'ok'/noise boilerplate guarantees real drops, and
    # original content must survive somewhere
    assert dropped_somewhere > 0
    total_kept = sum(e["kept"] for e in exp.values())
    assert 0 < total_kept < sum(e["n"] for e in exp.values())


def test_badwords_screen_python_replay(spark):
    """Whole-corpus replay of the lexicon screen, plus the verdict
    must discriminate ('slow'/'dup' are real corpus words; a crafted
    doc over the threshold flags, a clean doc never does)."""
    from documentai_ocr_spark.queries.textstats import (
        _BAD_FLAG_MILLI,
        _BADWORDS,
        q_badwords_screen,
    )

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    got = {
        r["doc_id"]: r for r in q_badwords_screen(spark, SF).collect()
    }
    assert len(got) == len(docs)
    bad = set(_BADWORDS)
    n_flag = 0
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = [w for w in text.split(" ") if w]
        nb = sum(1 for w in toks if w in bad)
        milli = 0 if not toks else 1000 * nb // len(toks)
        r = got[doc_id]
        assert (
            r["n_tokens"],
            r["n_bad"],
            r["bad_milli"],
            r["flagged"],
        ) == (len(toks), nb, milli, milli > _BAD_FLAG_MILLI), doc_id
        n_flag += milli > _BAD_FLAG_MILLI
    assert n_flag > 0  # the corpus actually contains lexicon words


def test_bigram_entropy_pins(spark, tmp_path):
    """Closed-form pins: a deterministic successor corpus scores
    exactly 0; a context with two equally likely successors scores
    exactly ln 2; plus a whole-corpus python replay at sf0.001."""
    from documentai_ocr_spark.queries.relevance import q_bigram_entropy

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "source": ["det", "coin"],
            "text": ["a b " * 50 + "a b", "x y x z " * 25 + "x y"],
        }
    )
    d = str(tmp_path / "bent")
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
    rows = {r["source"]: r for r in q_bigram_entropy(spark, d).collect()}
    assert rows["det"]["cond_entropy"] == 0.0
    # 'x' → {y, z} equally; 'y'/'z' → 'x' deterministically.
    # H = P(w1=x)·ln2 = (n_x_pairs / N)·ln2
    n = rows["coin"]["n_bigrams"]
    import collections

    toks = pdf.loc[1, "text"].split(" ")
    cnt = collections.Counter(zip(toks, toks[1:]))
    ctx = collections.Counter()
    for (w1, _), c in cnt.items():
        ctx[w1] += c
    h = sum(
        c * math.log(ctx[w1] / c) for (w1, _), c in cnt.items()
    ) / sum(cnt.values())
    assert n == sum(cnt.values())
    assert abs(rows["coin"]["cond_entropy"] - round(h, 6)) < 1e-9


def test_bigram_entropy_python_recount(spark):
    """Whole-corpus replay at sf0.001 (per-source exact count tables,
    same ln terms, 1e-9 on the rounded sum)."""
    import collections

    from documentai_ocr_spark.queries.relevance import q_bigram_entropy

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    cnt: dict[str, collections.Counter] = {}
    for src, text in zip(docs["source"], docs["text"]):
        toks = [w for w in text.lower().split(" ") if w]
        cnt.setdefault(src, collections.Counter()).update(
            zip(toks, toks[1:])
        )
    got = {r["source"]: r for r in q_bigram_entropy(spark, SF).collect()}
    assert set(got) == set(cnt)
    for src, c in cnt.items():
        ctx = collections.Counter()
        for (w1, _), k in c.items():
            ctx[w1] += k
        n = sum(c.values())
        h = sum(k * math.log(ctx[w1] / k) for (w1, _), k in c.items()) / n
        r = got[src]
        assert r["n_bigrams"] == n and r["n_distinct"] == len(c)
        assert abs(r["cond_entropy"] - round(h, 6)) < 5e-6, src


def test_langid_confusion_reconciles_with_eval(spark):
    """The confusion matrix marginals must equal q_langid_eval's
    support/predicted/tp columns — one predictor rendering, two views."""
    from documentai_ocr_spark.queries.textstats import (
        q_langid_confusion,
        q_langid_eval,
    )

    conf = q_langid_confusion(spark, SF).collect()
    ev = {r["cls"]: r for r in q_langid_eval(spark, SF).collect()}
    support: dict = {}
    predicted: dict = {}
    tp: dict = {}
    for r in conf:
        support[r["declared"]] = support.get(r["declared"], 0) + r["n"]
        predicted[r["predicted"]] = (
            predicted.get(r["predicted"], 0) + r["n"]
        )
        if r["declared"] == r["predicted"]:
            tp[r["declared"]] = r["n"]
    for cls, r in ev.items():
        assert r["support"] == support.get(cls, 0), cls
        assert r["predicted"] == predicted.get(cls, 0), cls
        assert r["tp"] == tp.get(cls, 0), cls
    # the matrix must show real confusion (off-diagonal mass)
    assert any(r["declared"] != r["predicted"] for r in conf)


def test_ppl_buckets_python_replay(spark):
    """CCNet tercile assignment equals a pure-Python replay: unigram
    logprob scores recomputed from scratch, score_micro pinned against
    q_unigram_logprob's published rounded score, and the head/middle/
    tail cut re-derived with the exact 3·le ≤ n / 3·le ≤ 2·n integer
    rule (upper-step tie convention included)."""
    from collections import Counter

    from documentai_ocr_spark.queries.textstats import (
        q_ppl_buckets,
        q_unigram_logprob,
    )

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    uni: Counter = Counter()
    toks = {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        t = text.split(" ")
        toks[did] = t
        uni.update(t)
    total = sum(uni.values())
    score = {}
    for did, t in toks.items():
        s = sum(math.log(uni[w] / total) for w in t) / len(t)
        score[did] = int(round(round(s, 6) * 1000000))
    src = dict(zip(docs["doc_id"], docs["source"]))
    per: dict = {}
    for did, sm in score.items():
        per.setdefault(src[did], []).append(sm)
    got = {r["doc_id"]: r for r in q_ppl_buckets(spark, SF).collect()}
    pub = {
        r["doc_id"]: r["avg_logprob"]
        for r in q_unigram_logprob(spark, SF).collect()
    }
    assert set(got) == set(score)
    seen = set()
    for did, r in got.items():
        assert r["score_micro"] == score[did], did
        assert r["score_micro"] == int(round(pub[did] * 1000000)), did
        vals = per[src[did]]
        n = len(vals)
        le = sum(1 for v in vals if v <= score[did])
        want = (
            "tail" if 3 * le <= n
            else "middle" if 3 * le <= 2 * n
            else "head"
        )
        assert r["ppl_bucket"] == want, (did, le, n)
        seen.add(r["ppl_bucket"])
    # the cut must be real on this corpus: all three buckets inhabited
    assert seen == {"head", "middle", "tail"}


def test_source_jsd_pins_and_recount(spark, tmp_path):
    """Closed-form pins: two sources with IDENTICAL word distributions
    score exactly 0; two sources sharing exactly one word (carrying
    half of each source's mass) score the hand-derived closed form;
    disjoint sources emit NO row. Plus a whole-corpus python replay at
    sf0.001."""
    from documentai_ocr_spark.queries.relevance import q_source_jsd

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "source": ["m1", "m2", "half", "disjoint", "m1"],
            "text": [
                "a a b c",
                "a a b c",
                "a a x x",  # shares only 'a' with m1/m2, half its mass
                "q r s t",  # shares nothing
                "",  # empty doc must not perturb anything
            ],
        }
    )
    d = str(tmp_path / "jsd")
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
    got = {
        (r["source_a"], r["source_b"]): r
        for r in q_source_jsd(spark, d).collect()
    }
    # disjoint source appears in no pair
    assert not any("disjoint" in k for k in got)
    assert got[("m1", "m2")]["jsd"] == 0.0
    assert got[("m1", "m2")]["n_shared"] == 3
    # hand closed form for (half, m1): shared word 'a' with p=q=1/2;
    # its term is 0 on both sides, so jsd = 0.5·(1-½)ln2 ×2 = ½ln2
    want = round(0.5 * math.log(2.0), 6)
    for key in [("half", "m1"), ("half", "m2")]:
        k = key if key in got else (key[1], key[0])
        assert got[k]["n_shared"] == 1
        assert abs(got[k]["jsd"] - want) < 1e-9

    # whole-corpus replay at sf0.001
    import collections

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    cnt: dict = {}
    for src, text in zip(docs["source"], docs["text"]):
        cnt.setdefault(src, collections.Counter()).update(
            w for w in text.lower().split(" ") if w
        )
    tot = {s: sum(c.values()) for s, c in cnt.items()}
    got = {
        (r["source_a"], r["source_b"]): r
        for r in q_source_jsd(spark, "/root/testdata/sf0.001").collect()
    }
    srcs = sorted(cnt)
    n_pairs = 0
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = set(cnt[a]) & set(cnt[b])
            if not shared:
                assert (a, b) not in got
                continue
            n_pairs += 1
            ta, tb = tot[a], tot[b]
            terma = sum(
                (cnt[a][w] / ta)
                * math.log(
                    2.0 * cnt[a][w] * tb / (cnt[a][w] * tb + cnt[b][w] * ta)
                )
                for w in shared
            )
            termb = sum(
                (cnt[b][w] / tb)
                * math.log(
                    2.0 * cnt[b][w] * ta / (cnt[a][w] * tb + cnt[b][w] * ta)
                )
                for w in shared
            )
            sca = sum(cnt[a][w] for w in shared)
            scb = sum(cnt[b][w] for w in shared)
            jsd = 0.5 * (terma + (1.0 - sca / ta) * math.log(2.0)) + 0.5 * (
                termb + (1.0 - scb / tb) * math.log(2.0)
            )
            r = got[(a, b)]
            assert r["n_shared"] == len(shared)
            assert abs(r["jsd"] - round(jsd, 6)) < 5e-6, (a, b)
    assert n_pairs == len(got)
