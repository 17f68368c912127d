"""Unit tests for the extraction kernels against hand-computed outputs
(SURVEY.md §5 strategy #1)."""

import pandas as pd

from documentai_ocr_spark.extract.textops import (
    extract_html_batch,
    extract_pdfish_batch,
    extract_plain_batch,
)
from documentai_ocr_spark.oracle import extract_plain
from documentai_ocr_spark.rules import detect_payload


def test_plain_hand_computed():
    text = (
        "This is a real content line with substance.\n"
        "ok\n"  # too short
        "Another solid content line follows right here.\n"
        "Copyright 2024 Example Corp. All rights reserved.\n"  # boilerplate
        "Final content line closes the document nicely."
    )
    out = extract_plain_batch(pd.Series([text]))
    got_text = out["text"].iloc[0]
    spans = out["spans"].iloc[0]
    # line 0 is one island; lines 2 is another; line 4 a third
    assert got_text == (
        "This is a real content line with substance.\n"
        "Another solid content line follows right here.\n"
        "Final content line closes the document nicely."
    )
    assert len(spans) == 3
    line0 = "This is a real content line with substance."
    assert spans[0]["beg"] == 0 and spans[0]["end"] == len(line0)
    assert spans[1]["beg"] == len(line0) + 1  # after the joining newline
    assert got_text[spans[2]["beg"] : spans[2]["end"]].startswith("Final")
    # oracle agrees
    otext, ospans = extract_plain(text)
    assert otext == got_text
    assert [(s["beg"], s["end"]) for s in ospans] == [
        (s["beg"], s["end"]) for s in spans
    ]


def test_plain_island_merging():
    text = "first good content line here ok\nsecond good content line here yes"
    out = extract_plain_batch(pd.Series([text]))
    # adjacent content lines merge into ONE island/span
    assert len(out["spans"].iloc[0]) == 1
    assert out["text"].iloc[0] == text


def test_low_density_line_dropped():
    out = extract_plain_batch(pd.Series(["!!! ??? *** --- !!! ??? ***"]))
    assert out["text"].iloc[0] == ""
    assert out["n_spans"].iloc[0] == 0


def test_html_strips_boilerplate():
    html = (
        "<html><body><nav>home | about</nav>"
        "<p>Main content paragraph with plenty of real words.</p>"
        '<div><a href="/a">link one</a> <a href="/b">link two</a> '
        '<a href="/c">link three</a></div>'
        "<footer>All rights reserved</footer></body></html>"
    )
    out = extract_html_batch(pd.Series([html]))
    assert out["text"].iloc[0] == "Main content paragraph with plenty of real words."
    assert len(out["spans"].iloc[0]) == 1
    assert out["spans"].iloc[0][0]["kind"] == "html_block"


def test_pdfish_line_grouping_and_spaces():
    boxes = [
        '{"c":"a","x":0,"y":10,"w":8,"h":10,"page":0}',
        '{"c":"b","x":9,"y":10,"w":8,"h":10,"page":0}',
        '{"c":"c","x":30,"y":10.2,"w":8,"h":10,"page":0}',  # big gap → space
        '{"c":"d","x":0,"y":40,"w":8,"h":10,"page":0}',  # new line (y jump)
        '{"c":"e","x":0,"y":10,"w":8,"h":10,"page":1}',  # new page
    ]
    out = extract_pdfish_batch(pd.Series(["\n".join(boxes)]))
    assert out["text"].iloc[0] == "ab c\nd\ne"
    assert [s["kind"] for s in out["spans"].iloc[0]] == ["line"] * 3


def test_detect_payload():
    assert detect_payload("<html><p>x</p></html>") == "html"
    assert detect_payload('{"c":"a","x":0,"y":0,"w":1,"h":1,"page":0}') == "pdfish"
    assert detect_payload("hello world") == "plain"
    assert detect_payload(None) == "plain"
    assert detect_payload("< 5 and > 3") == "plain"  # math, not markup


def test_corpus_curate_funnel(spark):
    """End-to-end curation funnel: extraction-driven yield screen +
    canonical election produce a full partition of the corpus with
    consistent flags."""
    from documentai_ocr_spark.queries.extraction import QUERIES

    rows = QUERIES["x_corpus_curate"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500  # one decision per conversation
    by = {}
    for r in rows:
        by.setdefault(r["decision"], []).append(r)
        assert r["kept"] == (r["decision"] == "kept")
    assert set(by) >= {"kept", "low_yield"}  # the screen actually screens
    assert all(r["empty_frac"] > 0.05 for r in by["low_yield"])
    assert all(r["empty_frac"] <= 0.05 for r in by["kept"])


def test_type_malformed_boxes_dropped_not_fatal():
    """Box records with wrong TYPES (non-string c, string coordinates)
    must be dropped like any other malformed line — one junk record in a
    trillion-row corpus must never kill a task. Both the kernel and the
    oracle apply rules.pdfish_box_valid, so they stay byte-equal."""
    import pandas as pd

    from documentai_ocr_spark.extract.core import extract_batch
    from documentai_ocr_spark.oracle import extract_turn

    good = '{"c":"a","x":5.0,"y":10.0,"w":8.0,"h":10.0,"page":0}'
    payloads = [
        '{"c":1,"x":"a"}\n' + good,            # int c, string x — crashed pre-fix
        '{"c":["arr"],"x":1}\n' + good,        # list c
        '{"c":"x","w":{"n":1}}\n' + good,      # dict coordinate
        '{"c":"q","y":"nan"}\n' + good,        # numeric-looking string
        '{"c":"x","x":true,"y":false}\n' + good,  # bools are numeric (json 1/0)
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(payloads),
            "turn_idx": range(len(payloads)),
            "role": ["user"] * len(payloads),
            "text": payloads,
        }
    )
    res = extract_batch(pdf)
    for i, t in enumerate(payloads):
        o = extract_turn(t)
        assert res["text"][i] == o["text"]
        assert [dict(s) for s in res["spans"][i]] == o["spans"]
        assert "a" in res["text"][i]  # the good box always survives


def test_hostile_probes_through_spark_boundary(spark):
    """The six canonical hostile payloads (unclosed HTML, corrupt
    pdfish JSON, a 100 KB single block, a script tag, control chars
    incl. NUL, empty text) must extract without raising AND match the
    pure-Python oracle byte-for-byte through the REAL Spark boundary
    (Arrow serialization of the exact spans included)."""
    import pandas as pd

    from documentai_ocr_spark.extract import extract_turns
    from documentai_ocr_spark.oracle import extract_turn

    hostile = [
        "<div><p>unclosed html <b>bold",
        '{"lines": [corrupt json',
        "x" * 100_000,
        "<script>alert(1)</script> hi",
        "ctrl\x01chars\x02here\x00end",
        "",
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(hostile),
            "turn_idx": range(len(hostile)),
            "role": ["user"] * len(hostile),
            "text": hostile,
        }
    )
    out = sorted(
        extract_turns(spark.createDataFrame(pdf)).collect(),
        key=lambda r: r["turn_idx"],
    )
    assert len(out) == len(hostile)
    for r, h in zip(out, hostile):
        o = extract_turn(h)
        assert r["payload_kind"] == o["payload_kind"]
        assert r["text"] == o["text"]
        assert [
            (s["beg"], s["end"]) for s in (x.asDict() for x in r["spans"])
        ] == [(s["beg"], s["end"]) for s in o["spans"]]
