"""Golden end-to-end: Spark engine output must equal the pure-Python
oracle byte-for-byte per turn (BASELINE.json per-turn text-equality
invariant), under shuffled input and arbitrary partitioning."""

import pandas as pd
import pytest

from documentai_ocr_spark.extract import extract_turns
from documentai_ocr_spark.oracle import extract_turn
from documentai_ocr_spark.synth import synth_transcripts


def _span_tuples(spans):
    return [
        (s["beg"], s["end"], s["kind"], round(s["score"], 6))
        if isinstance(s, dict)
        else (s.beg, s.end, s.kind, round(s.score, 6))
        for s in spans
    ]


@pytest.fixture(scope="module")
def fixture_pdf():
    # shuffled on purpose: proves the engine does not depend on input order
    return synth_transcripts(n_convs=15, seed=42, skew_factor=12)


@pytest.fixture(scope="module")
def engine_rows(spark, fixture_pdf):
    df = spark.createDataFrame(fixture_pdf).repartition(7)
    return {(r.conv_id, r.turn_idx): r for r in extract_turns(df).collect()}


def test_per_turn_text_equality(fixture_pdf, engine_rows):
    assert len(engine_rows) == len(fixture_pdf)
    for _, src in fixture_pdf.iterrows():
        key = (src["conv_id"], src["turn_idx"])
        got = engine_rows[key]
        want = extract_turn(src["text"])
        assert got.payload_kind == want["payload_kind"], key
        assert got.text == want["text"], key
        assert _span_tuples(got.spans) == _span_tuples(want["spans"]), key
        assert got.n_spans == want["n_spans"] == len(want["spans"])


def test_spans_index_extracted_text(engine_rows):
    """Every span's [beg, end) must address its unit inside the extracted
    text, units joined by newlines (run/start-end pairing invariant,
    reference analogue /root/reference/font/project_rec.py:103)."""
    for (cid, tid), row in engine_rows.items():
        prev_end = None
        for s in row.spans:
            assert 0 <= s.beg < s.end <= len(row.text), (cid, tid)
            if prev_end is not None:
                assert s.beg == prev_end + 1  # exactly one '\n' between units
                assert row.text[prev_end] == "\n"
            prev_end = s.end
        if row.spans:
            assert row.spans[-1].end == len(row.text)
        else:
            assert row.text == ""


def test_partitioning_invariance(spark, fixture_pdf):
    """Shuffling input partitions must not change per-turn output
    (stable-ordering invariant, BASELINE.json north_rule)."""
    df1 = spark.createDataFrame(fixture_pdf).repartition(3)
    df2 = spark.createDataFrame(
        fixture_pdf.iloc[::-1].reset_index(drop=True)
    ).repartition(11)
    a = {
        (r.conv_id, r.turn_idx): (r.text, _span_tuples(r.spans))
        for r in extract_turns(df1).collect()
    }
    b = {
        (r.conv_id, r.turn_idx): (r.text, _span_tuples(r.spans))
        for r in extract_turns(df2).collect()
    }
    assert a == b


def test_edge_payloads(spark):
    texts = [
        "",
        "   ",
        "x",
        "a" * 500,
        "\n\n\n",
        None,
        # trim parity: str.strip() whitespace that ASCII \s misses
        "\x1c  padded with odd whitespace content line here  \x1c",
        "\xa0\xa0 unicode space padded content line here \u3000",
        "Copyright 2024 Example Corp. All rights reserved.",
        "short\nok",
        "good content line with words here.\nnav: home | products\n"
        "more of the decent content",
    ]
    n = len(texts)
    cases = pd.DataFrame(
        {
            "conv_id": ["e"] * n,
            "turn_idx": pd.array(range(n), dtype="int32"),
            "role": ["user"] * n,
            "text": texts,
        }
    )
    got = {r.turn_idx: r for r in extract_turns(spark.createDataFrame(cases)).collect()}
    for t in range(n):
        want = extract_turn(cases["text"].iloc[t])
        assert got[t].text == want["text"]
        assert _span_tuples(got[t].spans) == _span_tuples(want["spans"])
    assert got[0].text == "" and got[0].n_spans == 0
    assert got[3].n_spans == 1  # 500 a's: long dense line is content


def test_ab_diff_equals_oracle_variant_diff(spark):
    """x_extract_ab_diff must flag EXACTLY the turns where the two
    pure-Python oracle variants (density vs hysteresis) disagree —
    nothing missed, nothing invented. Verified per-turn over the full
    sf0.001 transcript set."""
    from documentai_ocr_spark.queries.extraction import x_extract_ab_diff
    from documentai_ocr_spark.synth import transcripts_from_documents

    sf = "/root/testdata/sf0.001"
    raw = {
        (r.conv_id, r.turn_idx): r.text
        for r in transcripts_from_documents(spark, sf).collect()
    }
    want = set()
    for key, text in raw.items():
        a = extract_turn(text, plain_variant="density")["text"]
        b = extract_turn(text, plain_variant="hysteresis")["text"]
        if a != b:
            want.add(key)
    got = {
        (r.conv_id, r.turn_idx)
        for r in x_extract_ab_diff(spark, sf).collect()
    }
    assert got == want
    assert want, "fixture corpus should produce at least one variant diff"
