"""Curation-operator invariants beyond the DuckDB value gate: context
trim suffix/budget laws, self-repetition Jaccard bounds, checksum
order-independence, post-dedup yield, boilerplate line rediscovery."""

import pyspark.sql.functions as F

from documentai_ocr_spark.queries.corpusops import (
    _CONV_PER_GROUP,
    _CTX_BUDGET,
    q_boiler_linefreq,
    q_context_trim,
    q_partition_checksum,
    q_self_repetition,
    q_token_yield,
)
from documentai_ocr_spark.queries.dedup import _hex60
from documentai_ocr_spark.queries.relational import _HYST_NOISE

SF = "/root/testdata/sf0.001"


def test_context_trim_budget_and_bite(spark):
    """kept_tokens never exceeds the budget, kept_docs never exceeds
    the group, and the trim actually bites on this corpus (some group
    drops history) while keeping at least the newest turn wherever the
    newest turn alone fits."""
    out = q_context_trim(spark, SF).cache()
    assert out.where(F.col("kept_tokens") > _CTX_BUDGET).count() == 0
    assert out.where(F.col("kept_docs") > F.col("n_docs")).count() == 0
    assert out.where(F.col("kept_docs") < F.col("n_docs")).count() > 0
    assert out.where(F.col("kept_docs") > 0).count() > 0
    out.unpersist()


def test_self_repetition_bounds(spark):
    """inter <= uni, jaccard in [0,1], and the pair grid is exactly
    (group size - 1) per group — every adjacent pair scored once."""
    out = q_self_repetition(spark, SF).cache()
    assert out.where(F.col("inter") > F.col("uni")).count() == 0
    assert (
        out.where((F.col("jaccard") < 0) | (F.col("jaccard") > 1)).count()
        == 0
    )
    from documentai_ocr_spark.queries.util import load

    docs = load(spark, SF, "documents")
    n_docs = docs.count()
    m = max(n_docs // _CONV_PER_GROUP, 1)
    # every doc has a non-empty token set on this corpus, so each group
    # of size s contributes exactly s-1 adjacent pairs
    n_groups = (
        docs.select((F.col("doc_id") % m).alias("g")).distinct().count()
    )
    assert out.count() == n_docs - n_groups
    out.unpersist()


def test_partition_checksum_order_independent(spark):
    """The XOR checksum must be identical no matter how the input is
    partitioned or ordered — the property resume verification rests on."""
    from documentai_ocr_spark.queries.util import load

    out = {
        r["source"]: r["checksum"]
        for r in q_partition_checksum(spark, SF).collect()
    }
    docs = (
        load(spark, SF, "documents")
        .select("source", "doc_id", "text")
        .repartition(13, "doc_id")
        .sortWithinPartitions(F.desc("doc_id"))
    )
    h = _hex60(
        F.concat_ws(
            ":", F.col("doc_id"), F.coalesce(F.col("text"), F.lit("\x00"))
        )
    )
    alt = {
        r["source"]: r["c"]
        for r in docs.withColumn("h", h)
        .groupBy("source")
        .agg(F.expr("bit_xor(h)").alias("c"))
        .collect()
    }
    assert out == alt


def test_partition_checksum_null_text_parity(spark, tmp_path):
    """A NULL-text row must land in the checksum identically on both
    engines (concat_ws would silently skip the null; the NUL-sentinel
    coalesce keeps it, distinct from empty text) — pinned on a fixture
    the sf corpora don't have."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "source": ["s"] * 4,
            "text": ["alpha", None, "", "beta"],
            "n_chars": [5, 0, 0, 4],
        }
    )
    d = str(tmp_path / "nulls")
    spark.createDataFrame(pdf).repartition(2).write.parquet(
        f"{d}/documents.parquet"
    )
    got = q_partition_checksum(spark, d).collect()[0]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{d}/documents.parquet/*.parquet')"
    )
    from documentai_ocr_spark.queries import ORACLES

    want = con.sql(ORACLES["q_partition_checksum"]).fetchall()[0]
    assert got["n_docs"] == want[1] == 4  # the NULL row is counted
    assert got["checksum"] == want[3]


def test_token_yield_dedup_bites(spark):
    """unique <= total everywhere, and the injected mirrored-page
    clusters make at least one source's yield strictly < 1."""
    out = q_token_yield(spark, SF).cache()
    assert out.where(F.col("unique_tokens") > F.col("total_tokens")).count() == 0
    assert out.where(F.col("yield_ratio") < 1.0).count() > 0
    out.unpersist()


def test_boiler_linefreq_rediscovers_injected_lines(spark):
    """The frequency rule must rediscover exactly the two injected
    boilerplate lines ('ok' and the noise line) — no phrase list is
    consulted anywhere — and flag a sane per-source exposure."""
    out = q_boiler_linefreq(spark, SF).cache()
    assert out.where(F.col("distinct_boiler") != 2).count() == 0
    bad = out.where(
        (F.col("boiler_ratio") <= 0) | (F.col("boiler_ratio") >= 1)
    ).count()
    assert bad == 0
    # cross-check one flagged hash really is the injected noise line:
    # per-source boiler_lines equals the count of 'ok'/noise instances
    from documentai_ocr_spark.queries.relational import _synth_lines

    lines = _synth_lines(spark, SF, extra_cols=("source",))
    exp = {
        r["source"]: r["n"]
        for r in lines.where(F.col("s").isin("ok", _HYST_NOISE))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r["source"]: r["boiler_lines"] for r in out.collect()}
    assert got == exp
    out.unpersist()


def test_winnow_inrow_kernel_matches_python_spec(spark):
    """The in-row winnow rewrite (gram-hash transform + clamped-slice
    mins) against a pure-Python re-derivation of the Schleimer spec on
    hostile token lists: short docs, empty tokens (consecutive spaces),
    unicode, all-identical grams, exactly-K words."""
    import hashlib

    import pandas as pd

    from documentai_ocr_spark.queries.textstats import (
        _WINNOW_K,
        _WINNOW_W,
        q_winnow_fingerprint,
    )

    def spec(text):
        words = text.split(" ")
        if len(words) < _WINNOW_K:
            return None
        hs = [
            int(
                hashlib.md5(
                    " ".join(words[i : i + _WINNOW_K]).encode()
                ).hexdigest()[:15],
                16,
            )
            for i in range(len(words) - _WINNOW_K + 1)
        ]
        mins = [
            min(hs[j : j + _WINNOW_W]) for j in range(len(hs))
        ]
        return (len(set(mins)), min(mins), max(mins))

    texts = [
        "a b c",                     # < K words -> excluded
        "a b c d",                   # exactly K
        "a  b  c  d  e",             # empty tokens between doubles
        "x x x x x x x x x x",       # all-identical grams
        "文 档 提 取 引 擎 按 行",    # unicode
        "one two three four five six seven eight nine ten",
        "",                          # empty text -> [''] -> excluded
    ] + [
        " ".join(
            f"w{(i * 7 + j * 13) % 23}" for j in range(5 + (i % 17))
        )
        for i in range(25)
    ]
    pdf = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts,
         "source": ["s"] * len(texts), "lang": ["en"] * len(texts),
         "n_chars": [len(t) for t in texts]}
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.parquet(
            f"{d}/documents.parquet"
        )
        got = {
            r["doc_id"]: (r["n_fp"], r["min_fp"], r["max_fp"])
            for r in q_winnow_fingerprint(spark, d).collect()
        }
    want = {
        i: spec(t) for i, t in enumerate(texts) if spec(t) is not None
    }
    assert got == want


def test_word_shingles_match_python_split(spark):
    """The regex shingler against k-grams of Python's text.split(" ")
    (which, like Spark's split, keeps empty tokens): leading, trailing
    and doubled spaces, tabs and newlines inside tokens, unicode,
    fewer than k tokens, and the empty text."""
    from documentai_ocr_spark.queries.dedup import _word_shingles

    texts = [
        "",
        "a",
        "a b",
        "a b c",
        " a b c ",
        "a  b   c d",
        "   ",
        "x\ty z\nw v",
        "文 档 提 取 引 擎 按 行",
        "one two three four five six seven eight nine ten",
        "r r r r r",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for k in (1, 3, 8):
        got = sorted(
            (r["doc_id"], r["sh"])
            for r in _word_shingles(docs, k, distinct=False).collect()
        )
        want = sorted(
            (i, " ".join(toks[j : j + k]))
            for i, t in enumerate(texts)
            for toks in [t.split(" ")]
            for j in range(len(toks) - k + 1)
        )
        assert got == want, k


def test_mirror_attribution_reconciles_with_token_yield(spark):
    """Attribution's redundant tokens must equal exactly the tokens
    q_token_yield subtracts (total - unique), corpus-wide — the two
    views of the same dedup decision."""
    from documentai_ocr_spark.queries.corpusops import (
        q_mirror_attribution,
        q_token_yield,
    )

    att = q_mirror_attribution(spark, SF)
    yld = q_token_yield(spark, SF)
    red = att.agg(F.sum("redundant_tokens")).collect()[0][0]
    diff = yld.agg(
        F.sum(F.col("total_tokens") - F.col("unique_tokens"))
    ).collect()[0][0]
    assert red == diff and red > 0


def test_vocab_growth_python_recount(spark):
    """Whole-corpus recount: per-source token/type/hapax counts from a
    pure-Python pass over sf0.001 — every column of every row."""
    import pandas as pd

    from documentai_ocr_spark.queries.corpusops import q_vocab_growth

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    per: dict[str, dict] = {}
    for src, text in zip(docs["source"], docs["text"]):
        cnt = per.setdefault(src, {})
        for w in text.split(" "):
            if w != "":
                cnt[w] = cnt.get(w, 0) + 1
    want = {
        src: (
            sum(c.values()),
            len(c),
            sum(1 for v in c.values() if v == 1),
        )
        for src, c in per.items()
        if c  # zero-token sources emit no row (explode-form row set)
    }
    got = {r["source"]: r for r in q_vocab_growth(spark, SF).collect()}
    assert set(got) == set(want)
    for src, (ntok, ntype, nhap) in want.items():
        g = got[src]
        assert (g["n_tokens"], g["n_types"], g["n_hapax"]) == (
            ntok,
            ntype,
            nhap,
        ), src
        assert g["type_token_milli"] == ntype * 1000 // ntok


def test_len_quality_grid_recount_and_bucket_edges(spark, tmp_path):
    """Corpus recount of every grid cell, plus engineered texts pinning
    the integer bucket edges: empty → (0,0), all-letters → decile 9
    (capped), len exactly 100 → len bucket 1, a 50/50 letter mix →
    decile 5, and a ≥1000-char doc capping the length axis."""
    import pandas as pd

    from documentai_ocr_spark.queries.textstats import q_len_quality_grid

    def cell(text):
        n = len(text)
        lb = min(9, n // 100)
        letters = sum(1 for ch in text if ch.isascii() and ch.isalpha())
        qb = 0 if n == 0 else min(9, letters * 10 // n)
        ntok = sum(1 for w in text.split(" ") if w != "")
        return lb, qb, ntok

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    want: dict[tuple, list] = {}
    for text in docs["text"]:
        lb, qb, ntok = cell(text)
        a = want.setdefault((lb, qb), [0, 0])
        a[0] += 1
        a[1] += ntok
    got = {
        (r["len_bucket"], r["q_bucket"]): (r["n_docs"], r["n_tokens"])
        for r in q_len_quality_grid(spark, SF).collect()
    }
    assert got == {k: tuple(v) for k, v in want.items()}

    edges = ["", "abcdef", "a" * 100, ("ab12" * 25), "x" * 1500]
    pdf = pd.DataFrame(
        {"doc_id": range(1, len(edges) + 1), "text": edges}
    )
    d = str(tmp_path / "grid")
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
    cells = {
        (r["len_bucket"], r["q_bucket"]): (r["n_docs"], r["n_tokens"])
        for r in q_len_quality_grid(spark, d).collect()
    }
    # "" → (0,0); "abcdef" → (0,9); 100×'a' → (1,9); 50/50 mix → (1,5);
    # 1500×'x' → (9,9) — the length cap
    assert cells[(0, 0)][0] == 1
    assert cells[(0, 9)] == (1, 1)
    assert cells[(1, 9)] == (1, 1)
    assert cells[(1, 5)] == (1, 1)
    assert cells[(9, 9)] == (1, 1)


def test_containment_catches_subset_jaccard_misses(spark):
    """Engineered quote fixture: a 10-word doc fully contained in a
    32-word doc has containment exactly 1000 milli (kept by the >=500
    screen) while its symmetric Jaccard is 8/30 ~ 0.27 — the asymmetric
    statistic detects what a 0.5-Jaccard screen provably cannot. The
    unrelated third doc must produce no pair."""
    from documentai_ocr_spark.queries.dedup import (
        _CONTAIN_MILLI,
        containment_pairs,
    )

    words = (
        "w%02d" % i for i in range(32)
    )
    big = " ".join(words)
    small = " ".join(big.split()[:10])
    docs = spark.createDataFrame(
        [(1, big), (2, small), (3, "zz aa bb cc dd ee ff gg hh")],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["n_common"] == 8  # small has 10 words -> 8 shingles, all in big
    assert r["cont_b_milli"] == 1000  # small side fully contained
    assert r["cont_a_milli"] == 8 * 1000 // 30
    jac = r["n_common"] / (30 + 8 - r["n_common"])
    assert jac < _CONTAIN_MILLI / 1000  # symmetric screen would drop it


def test_containment_pairs_python_replay(spark):
    """Brute-force shingle-set replay over the whole sf0.001 corpus:
    the banded-free equi-join output must equal exact all-pairs
    containment at the same threshold, row for row."""
    from documentai_ocr_spark.queries.dedup import (
        _CONTAIN_MILLI,
        _JACCARD_K,
        q_containment_pairs,
    )
    from documentai_ocr_spark.queries.util import load

    sf = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf, "documents").select("doc_id", "text").collect()
    }
    sh = {}
    for d, t in docs.items():
        tk = t.split(" ")
        sh[d] = {
            " ".join(tk[i : i + _JACCARD_K])
            for i in range(len(tk) - (_JACCARD_K - 1))
        }
    expect = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            n = len(sh[a] & sh[b])
            if n == 0:
                continue
            ca = n * 1000 // len(sh[a])
            cb = n * 1000 // len(sh[b])
            if max(ca, cb) >= _CONTAIN_MILLI:
                expect[(a, b)] = (n, ca, cb)
    out = q_containment_pairs(spark, sf).collect()
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["n_common"],
            r["cont_a_milli"],
            r["cont_b_milli"],
        )
        for r in out
    }
    assert got == expect
    assert expect, "fixture corpus produced no containment pairs"
