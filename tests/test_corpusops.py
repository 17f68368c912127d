"""Corpus-maintenance operators: invariants beyond the DuckDB value
gate — bloom no-false-negative / bounded false-positive, exact-k sample
cardinality + determinism, and ngram guard behavior on short docs."""

import pyspark.sql.functions as F

from documentai_ocr_spark.queries.corpusops import (
    _BLOOM_SEEDS,
    _BLOOM_WORDS,
    _SAMPLE_K,
    bloom_build,
    bloom_probe,
    q_exact_k_sample,
    q_ngram_topk,
    x_bloom_dedup,
)

SF = "/root/testdata/sf0.001"


def test_bloom_no_false_negatives(spark):
    """Every value inserted into the sketch must probe as maybe_dup —
    the property the prefilter's correctness rests on (a false negative
    would let a true duplicate skip the exact anti-join entirely)."""
    vals = spark.range(0, 400).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("h")
    )
    sketch = bloom_build(vals, "h")
    assert len(sketch) == _BLOOM_WORDS
    probed = bloom_probe(vals, "h", sketch)
    assert probed.where(~F.col("maybe_dup")).count() == 0


def test_bloom_false_positive_rate_bounded(spark):
    """Disjoint probe values mostly miss: with 400 insertions in a
    262144-bit table and 4 seeds, theoretical FPR ~ (400*4/262144)^4
    ~ 1.4e-9; allow a generous 2% for hash-collision slack."""
    ins = spark.range(0, 400).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("h")
    )
    sketch = bloom_build(ins, "h")
    other = spark.range(0, 400).select(
        F.concat(F.lit("other-"), F.col("id")).alias("h")
    )
    fp = bloom_probe(other, "h", sketch).where(F.col("maybe_dup")).count()
    assert fp <= 8  # 2% of 400


def test_bloom_dedup_replay_all_flagged(spark):
    """In the registry query, every replayed doc (is_new=False) carries
    content already in the corpus sketch, so it MUST flag maybe_dup."""
    out = x_bloom_dedup(spark, SF)
    missed = out.where(~F.col("is_new") & ~F.col("maybe_dup")).count()
    assert missed == 0


def test_exact_k_sample_cardinality_and_determinism(spark):
    """Exactly min(k, n_source) rows per source, and the sampled doc_id
    set is identical across runs (md5 order is replayable)."""
    out = q_exact_k_sample(spark, SF)
    per_src = {
        r.source: r.cnt
        for r in out.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    from documentai_ocr_spark.queries.util import load

    totals = {
        r.source: r.cnt
        for r in load(spark, SF, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for src, n in totals.items():
        assert per_src.get(src, 0) == min(_SAMPLE_K, n)
    ids1 = {(r.source, r.doc_id) for r in out.collect()}
    ids2 = {(r.source, r.doc_id) for r in q_exact_k_sample(spark, SF).collect()}
    assert ids1 == ids2


def test_ngram_topk_short_docs_no_crash(spark):
    """Docs with <3 tokens contribute nothing (the sequence() guard);
    the query still returns a full deterministic top-k on real data."""
    out = q_ngram_topk(spark, SF).collect()
    assert len(out) > 0
    # counts non-increasing; ties broken ngram-ascending
    for a, b in zip(out, out[1:]):
        assert (a.cnt, b.ngram) >= (b.cnt, a.ngram) or a.cnt > b.cnt
        if a.cnt == b.cnt:
            assert a.ngram < b.ngram


def test_substring_dedup_removes_injected_boilerplate(spark):
    """Every doc carrying the injected 12-token boilerplate suffix
    (doc_id%5==0) must lose at least those 12 tokens; clean docs with
    unique content keep their full text (modulo tokenization join)."""
    from documentai_ocr_spark.queries.corpusops import q_substring_dedup

    rows = {r.doc_id: r for r in q_substring_dedup(spark, SF).collect()}
    boiler = [r for i, r in rows.items() if i % 5 == 0]
    assert boiler and all(r.n_removed >= 12 for r in boiler)
    assert all(
        "subscribe to our newsletter" not in r.clean_text for r in boiler
    )
    # span accounting: removed tokens ≥ spans * window size is not
    # guaranteed (spans merge), but every span removes ≥ the window
    for r in rows.values():
        if r.n_dup_spans:
            assert r.n_removed >= 8  # at least one full window


def test_epoch_shuffle_is_permutation_and_deterministic(spark):
    from documentai_ocr_spark.queries.corpusops import q_epoch_shuffle
    from documentai_ocr_spark.queries.util import load

    out = q_epoch_shuffle(spark, SF).collect()
    n = load(spark, SF, "documents").count()
    ranks = sorted(r.epoch_rank for r in out)
    assert ranks == list(range(1, n + 1))  # exact permutation, no gaps
    order1 = {r.doc_id: r.epoch_rank for r in out}
    order2 = {
        r.doc_id: r.epoch_rank for r in q_epoch_shuffle(spark, SF).collect()
    }
    assert order1 == order2  # replayable
    # actually shuffled: not the identity order
    by_rank = [d for d, _ in sorted(order1.items(), key=lambda x: x[1])]
    assert by_rank != sorted(by_rank)


def test_snapshot_diff_statuses_match_arithmetic(spark):
    from documentai_ocr_spark.queries.corpusops import q_snapshot_diff
    from documentai_ocr_spark.queries.util import load

    ids = [
        r.doc_id
        for r in load(spark, SF, "documents").select("doc_id").collect()
    ]
    out = {r.doc_id: r.status for r in q_snapshot_diff(spark, SF).collect()}
    for i in ids:
        if i % 13 == 0:
            assert out[i] == "removed" and out[i + 1000000] == "added"
        elif i % 11 == 0:
            assert out[i] == "removed"
        elif i % 7 == 0:
            assert out[i] == "changed"
        else:
            assert out[i] == "unchanged"


def test_decontaminate_construction_guarantee(spark):
    """Every train doc carrying the injected benchmark sentinel
    (10|doc_id, not 50|doc_id) must be flagged, with at least the 3
    full-sentinel windows shared; eval docs themselves never appear."""
    from documentai_ocr_spark.queries.corpusops import (
        _EVAL_SENTINEL,
        q_decontaminate,
    )

    n_sent = len(_EVAL_SENTINEL.split())
    out = {r.doc_id: r for r in q_decontaminate(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    planted = [i for i in ids if i % 10 == 0 and i % 50 != 0]
    assert planted, "fixture must contain planted train docs"
    for i in planted:
        assert i in out, i
        assert out[i].n_shared_windows >= n_sent - 8 + 1
    assert all(i % 50 != 0 for i in out)


def test_top_ngram_coverage_pure_loop_doc(spark):
    """A document that is one token repeated: the top bigram and top
    trigram cover ~all of it — the exact signature the Gopher coverage
    rule exists to catch. An all-distinct doc scores the floor."""
    import os
    import tempfile

    import pandas as pd

    from documentai_ocr_spark.queries.textstats import q_top_ngram_coverage

    rows = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["spam " * 40, " ".join(f"w{i}" for i in range(40))],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [200, 200],
        }
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.doc_id: r
               for r in q_top_ngram_coverage(spark, d).collect()}
    assert out[1].n_tokens == 40
    assert out[1].top_bigram_frac == round(39 * 2.0 / 40, 6)
    assert out[1].top_trigram_frac == round(38 * 3.0 / 40, 6)
    assert out[2].top_bigram_frac == round(2.0 / 40, 6)
    assert out[2].top_trigram_frac == round(3.0 / 40, 6)



def test_chunk_text_covers_document_with_overlap(spark):
    """Chunking invariants on a 101-token doc (stride grid misses the
    end): starts are the stride grid PLUS the anchored tail at n-w+1,
    every chunk md5 matches a Python re-derivation, and the union of
    chunks covers every token exactly (no dropped tail)."""
    import hashlib
    import os
    import tempfile

    import pandas as pd

    from documentai_ocr_spark.queries.corpusops import (
        _CHUNK_STRIDE,
        _CHUNK_W,
        q_chunk_text,
    )

    toks = [f"t{i}" for i in range(101)]
    rows = pd.DataFrame(
        {
            "doc_id": [1],
            "text": [" ".join(toks)],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [500],
        }
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        got = sorted(
            q_chunk_text(spark, d).collect(), key=lambda r: r.chunk_idx
        )
    n = len(toks)
    starts = list(range(0, n - _CHUNK_W + 1, _CHUNK_STRIDE))
    if starts[-1] != n - _CHUNK_W:
        starts.append(n - _CHUNK_W)  # the anchored tail chunk
    assert len(got) == len(starts)
    covered = set()
    for r, s0 in zip(got, starts):
        chunk = toks[s0 : s0 + _CHUNK_W]
        assert r.n_tokens == len(chunk)
        assert r.chunk_md5 == hashlib.md5(
            " ".join(chunk).encode()
        ).hexdigest()
        covered.update(range(s0, s0 + len(chunk)))
    assert covered == set(range(n))  # full coverage, tail included


def test_cms_overestimates_within_bound(spark):
    """Count-min guarantees on the fixture corpus: (1) estimates never
    undercount (per-row collisions only ADD); (2) every top-20 token's
    overestimate is within the standard (e/width)·N bound (deterministic
    here: fixed seeds)."""
    import math

    import pyspark.sql.functions as F

    from documentai_ocr_spark.queries.corpusops import (
        _CMS_WIDTH,
        x_cms_heavyhitters,
    )

    rows = x_cms_heavyhitters(spark, SF).collect()
    assert len(rows) == 20
    n_total = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
        .count()
    )
    bound = math.e / _CMS_WIDTH * n_total
    for r in rows:
        assert r.est_cnt >= r.true_cnt, r
        assert r.est_cnt - r.true_cnt <= bound, (r, bound)


def test_chunk_text_start_grid_across_lengths(spark):
    """One multi-doc fixture sweeps the start-grid edge cases (empty,
    shorter than width, exactly width, width+1, grid-aligned end,
    off-grid end, long): for every doc the chunk set must equal the
    Python spec — stride grid plus anchored tail — with full coverage."""
    import os
    import tempfile

    import pandas as pd

    from documentai_ocr_spark.queries.corpusops import (
        _CHUNK_STRIDE,
        _CHUNK_W,
        q_chunk_text,
    )

    lengths = [0, 1, 31, 32, 33, 56, 57, 80, 81, 101, 200]
    rows = pd.DataFrame(
        {
            "doc_id": list(range(len(lengths))),
            "text": [" ".join(f"w{i}" for i in range(n)) for n in lengths],
            "lang": ["en"] * len(lengths),
            "source": ["s"] * len(lengths),
            "n_chars": [1] * len(lengths),
        }
    )

    def spec_starts(n):
        if n <= _CHUNK_W:
            return [0]
        starts = list(range(0, n - _CHUNK_W + 1, _CHUNK_STRIDE))
        if starts[-1] != n - _CHUNK_W:
            starts.append(n - _CHUNK_W)
        return starts

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        got = {}
        for r in q_chunk_text(spark, d).collect():
            got.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens))
    for doc_id, n in enumerate(lengths):
        starts = spec_starts(n)
        chunks = sorted(got[doc_id])
        assert len(chunks) == len(starts), (doc_id, n)
        for (idx, n_tok), s0 in zip(chunks, starts):
            assert n_tok == max(0, min(_CHUNK_W, n - s0)), (doc_id, s0)
        if n > 0:
            assert chunks[-1][0] == len(starts) - 1
            # tail coverage: last chunk must reach the document end
            assert starts[-1] + chunks[-1][1] == n


def test_hll_cardinality_within_rsd(spark):
    """HLL++ estimates must sit within 3× the configured 2% relative
    standard deviation of the exact distinct counts for every source
    (99.7% band; deterministic here — fixed hash seeds)."""
    from documentai_ocr_spark.queries.corpusops import x_hll_cardinality

    rows = x_hll_cardinality(spark, SF).collect()
    assert rows
    for r in rows:
        rel = abs(r.hll_distinct - r.exact_distinct) / r.exact_distinct
        assert rel <= 0.06, (r.source, r.exact_distinct, r.hll_distinct)


def test_sft_pack_greedy_invariants(spark):
    """Every packed example must (a) respect the block budget unless a
    single oversized turn sits alone, and (b) be MAXIMAL — the first
    turn of the next example would not have fit (the greedy property
    the recursive oracle encodes)."""
    from documentai_ocr_spark.queries.corpusops import (
        _SFT_BLOCK,
        q_sft_pack,
    )

    sf = "/root/testdata/sf0.001"
    ts_of = {
        r.event_id: r.ts
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .select("event_id", "ts")
        .collect()
    }
    rows = q_sft_pack(spark, sf).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    checked_max = 0
    for _, rs in by_user.items():
        # true stream order: (ts, event_id) — the order the kernel packs
        rs.sort(key=lambda r: (ts_of[r.event_id], r.event_id))
        sums = {}
        for r in rs:
            sums[r.example_no] = sums.get(r.example_no, 0) + r.tok
        for ex, s in sums.items():
            n_in_ex = sum(1 for r in rs if r.example_no == ex)
            assert s <= _SFT_BLOCK or n_in_ex == 1, (ex, s)
        # maximality: example e's sum + first tok of e+1 must overflow
        firsts = {}
        for r in rs:  # rs is stream-ordered, so first-seen = stream-first
            firsts.setdefault(r.example_no, r.tok)
        for ex in sorted(sums)[:-1]:
            assert sums[ex] + firsts[ex + 1] > _SFT_BLOCK
            checked_max += 1
    assert checked_max > 50


def test_token_windows_helper_contract(spark):
    """The ONE window-key formula every word-window operator shares:
    short docs yield empty arrays (never a descending sequence), an
    exact-k doc yields one window, and the hashed form is precisely the
    60-bit md5 prefix of the string form."""
    import hashlib

    from documentai_ocr_spark.queries.corpusops import _token_windows
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "b", "c"]), (3, ["a", "b", "c", "d"])],
        "id int, t array<string>",
    )
    out = {
        r.id: (r.w, r.h)
        for r in df.select(
            "id",
            _token_windows(3).alias("w"),
            _token_windows(3, hashed=True).alias("h"),
        ).collect()
    }
    assert out[1] == ([], [])
    assert out[2][0] == ["a b c"]
    assert out[3][0] == ["a b c", "b c d"]

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for i in (2, 3):
        assert out[i][1] == [h60(w) for w in out[i][0]]


def test_cms_merge_law_across_snapshots(spark):
    """The incremental-ingest contract: building the sketch on two
    snapshot halves and adding cell-wise must equal the sketch built on
    the full corpus — the property that lets a 100-TB ingest maintain
    ONE frequency sketch by merging per-batch sketches without ever
    re-scanning history."""
    from documentai_ocr_spark.queries.corpusops import cms_build
    from documentai_ocr_spark.queries.util import load

    docs = load(spark, SF, "documents").select("doc_id", "text")
    tok = lambda df: df.select(  # noqa: E731
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")

    full = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in cms_build(tok(docs), "tok").collect()
    }
    a = cms_build(tok(docs.where(F.col("doc_id") % 2 == 0)), "tok")
    b = cms_build(tok(docs.where(F.col("doc_id") % 2 == 1)), "tok")
    merged = {
        (r["d"], r["bucket"]): r["s"]
        for r in a.unionByName(b)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("s"))
        .collect()
    }
    assert merged == full


def test_bloom_merge_law_across_snapshots(spark):
    """Bloom merge = bitwise OR of the half sketches == the full-corpus
    sketch (same membership answers with no rebuild)."""
    from documentai_ocr_spark.queries.corpusops import bloom_build
    from documentai_ocr_spark.queries.util import load

    docs = load(spark, SF, "documents").select("doc_id", "text")
    col = F.md5("text").alias("h")
    full = bloom_build(docs.select(col), "h")
    a = bloom_build(docs.where(F.col("doc_id") % 2 == 0).select(col), "h")
    b = bloom_build(docs.where(F.col("doc_id") % 2 == 1).select(col), "h")
    assert [x | y for x, y in zip(a, b)] == full


def test_dataset_card_python_recount_and_dedup_reconciliation(spark):
    """Whole-corpus python replay of every dataset-card column on
    sf0.001 (shared content-hash rule, THE token unit, global keeper
    election), plus the cross-operator reconciliation: redundancy
    summed over sources equals n_docs - distinct content hashes — the
    same quantity q_dedup_exact's cluster table implies."""
    import re

    import hashlib
    import pandas as pd

    from documentai_ocr_spark.queries.corpusops import q_dataset_card
    from documentai_ocr_spark.queries.dedup import q_dedup_exact

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")

    def ch(text):
        norm = re.sub("[ \t\n\x0b\f\r]+", " ", text).lower()
        return hashlib.md5(norm.encode()).hexdigest()

    hashes = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        hashes.setdefault(ch(text), []).append(doc_id)
    keeper = {h: min(ids) for h, ids in hashes.items()}

    agg = {}
    for doc_id, source, lang, text in zip(
        docs["doc_id"], docs["source"], docs["lang"], docs["text"]
    ):
        ntok = sum(1 for w in text.split(" ") if w != "")
        a = agg.setdefault(
            source,
            {"n": 0, "tok": 0, "empty": 0, "langs": set(), "red": 0,
             "redtok": 0},
        )
        a["n"] += 1
        a["tok"] += ntok
        a["empty"] += ntok == 0
        a["langs"].add(lang)
        if doc_id != keeper[ch(text)]:
            a["red"] += 1
            a["redtok"] += ntok

    got = {r["source"]: r for r in q_dataset_card(spark, sf).collect()}
    assert set(got) == set(agg)
    for src, a in agg.items():
        g = got[src]
        assert (
            g["n_docs"], g["tok_total"], g["n_empty"], g["n_langs"],
            g["n_redundant"], g["redundant_tok"],
        ) == (a["n"], a["tok"], a["empty"], len(a["langs"]), a["red"],
              a["redtok"]), src
        assert g["mean_ntok_milli"] == a["tok"] * 1000 // a["n"]
        assert g["dup_milli"] == a["red"] * 1000 // a["n"]

    dedup = q_dedup_exact(spark, sf).collect()
    n_clusters = len(dedup)
    n_docs = sum(r["n_dups"] for r in dedup)
    assert sum(g["n_redundant"] for g in got.values()) == n_docs - n_clusters


def test_vocab_coverage_python_recount_and_monotone(spark):
    """Whole-corpus recount of the coverage curve on sf0.001 (exact
    word counts, deterministic (-cnt, word) tie-break, integer-milli
    points), plus curve shape: coverage is non-decreasing in K and
    reaches 1000 once K exceeds the type count."""
    import pandas as pd

    from documentai_ocr_spark.queries.corpusops import (
        _VCOV_GRID,
        q_vocab_coverage,
    )

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    cnt = {}
    for text in docs["text"]:
        for w in text.split(" "):
            if w != "":
                cnt[w] = cnt.get(w, 0) + 1
    total = sum(cnt.values())
    ranked = sorted(cnt.items(), key=lambda t: (-t[1], t[0]))

    got = {
        r["k"]: r
        for r in q_vocab_coverage(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(got) == set(_VCOV_GRID)
    prev = -1
    for k in sorted(_VCOV_GRID):
        top = ranked[:k]
        cov = sum(c for _, c in top)
        g = got[k]
        assert (g["n_types"], g["covered_tokens"]) == (len(top), cov), k
        assert g["coverage_milli"] == 1000 * cov // total
        assert g["coverage_milli"] >= prev
        prev = g["coverage_milli"]
    if len(ranked) <= max(_VCOV_GRID):
        assert got[max(_VCOV_GRID)]["coverage_milli"] == 1000


# ------------------------------------------- mergeable quantile sketch
def test_qsketch_bucket_rule_and_exact_order_statistic(spark):
    """sf0.001 replay: every published estimate equals the BUCKET of
    the exact inverted-CDF order statistic (bucket(v*) where v* is the
    ceil(q·n)-th smallest n_chars) — the strongest claim the sketch
    makes — and therefore sits within the structural 1% relative
    bound."""
    import pandas as pd

    from documentai_ocr_spark.queries import QUERIES

    def bucket(v: int) -> int:
        s = str(v)
        return v if len(s) <= 3 else int(s[:3] + "0" * (len(s) - 3))

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    per: dict[str, list] = {}
    for src, n in zip(docs["source"], docs["n_chars"]):
        per.setdefault(src, []).append(int(n))
    got = {
        r["source"]: r
        for r in QUERIES["q_quantile_sketch"](spark, SF).collect()
    }
    assert set(got) == set(per)
    for src, vals in per.items():
        vals.sort()
        n = len(vals)
        r = got[src]
        assert r["n_docs"] == n
        for q in (50, 90, 99):
            vstar = vals[(q * n + 99) // 100 - 1]
            est = r[f"p{q}_est"]
            assert est == bucket(vstar), (src, q)
            if vstar > 0:
                assert abs(est - vstar) / vstar <= 0.01


def test_qsketch_merge_law_exact(spark):
    """Mergeability is plain SUM: sketch rows built from two halves of
    the corpus, summed per (source, bucket), equal the whole-corpus
    rows EXACTLY — the property percentile_approx's internal buffer
    cannot offer across jobs."""
    from documentai_ocr_spark.queries.corpusops import qsketch_rows
    from documentai_ocr_spark.queries.util import load
    import pyspark.sql.functions as F

    docs = load(spark, SF, "documents").select(
        "doc_id", "source", "n_chars"
    )
    whole = {
        (r["source"], r["bucket"]): r["n"]
        for r in qsketch_rows(docs, "n_chars", ["source"]).collect()
    }
    a = qsketch_rows(
        docs.where(F.col("doc_id") % 2 == 0), "n_chars", ["source"]
    )
    b = qsketch_rows(
        docs.where(F.col("doc_id") % 2 == 1), "n_chars", ["source"]
    )
    merged: dict[tuple, int] = {}
    for r in a.unionAll(b).collect():
        k = (r["source"], r["bucket"])
        merged[k] = merged.get(k, 0) + r["n"]
    assert merged == whole


def test_qsketch_hand_buckets(spark):
    """The bucket rule on hand values: <1000 exact (0, 7, 999 are
    their own buckets), 4271 → 4270, 123456 → 123000 — and a hand
    corpus whose p50 lands exactly on a bucket boundary reads the
    lower bucket edge."""
    import pandas as pd

    from documentai_ocr_spark.queries.corpusops import qsketch_rows

    pdf = pd.DataFrame(
        {
            "source": ["s"] * 5,
            "v": [0, 7, 999, 4271, 123456],
        }
    )
    rows = {
        (r["bucket"], r["n"])
        for r in qsketch_rows(
            spark.createDataFrame(pdf), "v", ["source"]
        ).collect()
    }
    assert rows == {(0, 1), (7, 1), (999, 1), (4270, 1), (123000, 1)}
