"""Lang×source association: engineered closed-form fixtures plus a
whole-corpus python replay at sf0.001."""

import pandas as pd

from documentai_ocr_spark.queries.relational import q_lang_source_assoc

SF = "/root/testdata/sf0.001"


def _docs(tmp_path, spark, cells, name):
    rows = []
    did = 0
    for lang, src, n in cells:
        for _ in range(n):
            rows.append((did, "x", lang, src, 1))
            did += 1
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = str(tmp_path / name)
    spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
    return d


def test_lang_source_assoc_block_diagonal(spark, tmp_path):
    """Two equal monolingual sources pin TVD = 500 (1000·(1 − 1/2))
    with the absent grid cells published at leverage −R·C."""
    d = _docs(
        tmp_path, spark, [("en", "A", 10), ("fr", "B", 10)], "block"
    )
    got = {
        (r["lang"], r["source"]): r
        for r in q_lang_source_assoc(spark, d).collect()
    }
    assert set(got) == {
        ("en", "A"), ("en", "B"), ("fr", "A"), ("fr", "B"),
    }
    assert got[("en", "A")]["n"] == 10
    assert got[("en", "A")]["leverage"] == 10 * 20 - 10 * 10 == 100
    assert got[("en", "B")]["n"] == 0
    assert got[("en", "B")]["leverage"] == -100
    assert all(r["tvd_milli"] == 500 for r in got.values())


def test_lang_source_assoc_independent(spark, tmp_path):
    """Proportional cells pin every leverage and the TVD to 0."""
    d = _docs(
        tmp_path,
        spark,
        [("en", "A", 1), ("en", "B", 2), ("fr", "A", 3), ("fr", "B", 6)],
        "indep",
    )
    rows = q_lang_source_assoc(spark, d).collect()
    assert len(rows) == 4
    assert all(r["leverage"] == 0 and r["tvd_milli"] == 0 for r in rows)


def test_lang_source_assoc_replay(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    o: dict[tuple, int] = {}
    for lang, src in zip(docs["lang"], docs["source"]):
        o[(lang, src)] = o.get((lang, src), 0) + 1
    langs = sorted({k[0] for k in o})
    srcs = sorted({k[1] for k in o})
    rt = {la: sum(v for k, v in o.items() if k[0] == la) for la in langs}
    ct = {s: sum(v for k, v in o.items() if k[1] == s) for s in srcs}
    n = sum(o.values())
    lev = {
        (la, s): o.get((la, s), 0) * n - rt[la] * ct[s]
        for la in langs
        for s in srcs
    }
    tvd = 1000 * sum(abs(v) for v in lev.values()) // (2 * n * n)
    got = {
        (r["lang"], r["source"]): r
        for r in q_lang_source_assoc(spark, SF).collect()
    }
    assert set(got) == set(lev)
    for k, v in lev.items():
        assert got[k]["leverage"] == v
        assert got[k]["n"] == o.get(k, 0)
        assert got[k]["tvd_milli"] == tvd
