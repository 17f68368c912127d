"""Deterministic extraction rules — the single source of truth.

Both the Spark engine (``extract/``) and the pure-pandas oracle
(``oracle.py``) import these constants, so the two independent
implementations agree byte-for-byte by construction of shared *rules*
(the implementations themselves are written separately: vectorized
numpy/pandas on the engine side, simple per-turn Python on the oracle
side — mirroring how the reference's golden ``labels.txt`` fixtures
check its scripts).

Rule provenance (reference semantics, re-derived — not copied):
  * MIN_LINE_LEN=10       — short-row filter, /root/reference/render_han.py:12-13
                            and /root/reference/ocrclient/app.py:22-23
  * DENSITY_THRESH=0.5    — fusion-score floor, /root/reference/ocrclient/redisdata.py:312-314
  * CJK range [一-龥]      — charset predicate, /root/reference/ocrclient/util.py:9-13
  * run decode semantics  — label-run → span, /root/reference/mocov1/app.py:88-111
  * density profile shape — hproject/vProject + slide_window_beg_eng,
                            /root/reference/font/project_rec.py:16-54
  * line grouping by y    — seg_row_image, /root/reference/font/project_rec.py:140-183
  * boilerplate stripping — generalizes the reference's 1-D density scan to
                            DOM nodes (jusText/Boilerpipe-family heuristic,
                            SURVEY.md §2.10 note)
"""

from __future__ import annotations

import math
import re

# ---------------------------------------------------------------- plain text
MIN_LINE_LEN = 10          # stripped lines shorter than this are never content
DENSITY_THRESH = 0.5       # alnum+CJK char ratio a content line must reach
MIN_RUN_LINES = 1          # contiguous content-line runs shorter than this drop

# chars that count toward "informative density": letters, digits, CJK
_DENSE_CLASS = r"0-9A-Za-z一-龥"
DENSE_CHAR_RE = re.compile(f"[{_DENSE_CLASS}]")

# boilerplate phrase list (nav/footer/disclaimer family). Lowercased match.
BOILER_PHRASES = (
    "all rights reserved",
    "copyright",
    "cookie policy",
    "privacy policy",
    "terms of service",
    "terms of use",
    "click here",
    "subscribe to our newsletter",
    "unsubscribe",
    "advertisement",
    "skip to content",
    "back to top",
    "follow us on",
    "nav:",
    "footer:",
)
# one alternation regex, applied case-insensitively on the stripped line
BOILER_RE = re.compile("|".join(re.escape(p) for p in BOILER_PHRASES), re.IGNORECASE)

# ------------------------------------------------------------------- html
# jusText/Boilerpipe-family thresholds for DOM block classification
HTML_MIN_BLOCK_LEN = 10        # blocks with fewer text chars are dropped
HTML_MAX_LINK_DENSITY = 0.35   # fraction of block chars inside <a> allowed
HTML_MIN_DENSITY = 0.5         # alnum+CJK ratio the block text must reach
HTML_DROP_TAGS = frozenset(
    {"script", "style", "nav", "footer", "header", "aside", "noscript",
     "form", "button", "iframe", "svg", "head", "template"}
)
# elements that delimit text blocks (text under any of these is one block)
HTML_BLOCK_TAGS = frozenset(
    {"p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "td", "th",
     "pre", "blockquote", "article", "section", "main", "body", "caption",
     "figcaption", "dd", "dt", "tr", "table", "ul", "ol"}
)

# ------------------------------------------------------------------ pdfish
# synthetic char-box records: one JSON object per line with keys c,x,y,w,h,page
PDF_LINE_Y_TOL = 0.6    # same text line iff |y - line_y| <= tol * h
PDF_SPACE_GAP = 0.5     # emit a space iff x - (prev.x + prev.w) > gap * prev.w

_PDF_NUM_FIELDS = ("page", "y", "x", "w", "h")


def pdfish_box_valid(b) -> bool:
    """Type gate for one parsed char-box record — the reference's
    drop-malformed discipline (/root/reference/spiltTools.py:21-22)
    extended to types: ``c`` must be a string; every coordinate field
    must be numeric (or absent/None → defaulted). One shared predicate
    so the Arrow kernel and the pure-Python oracle can never diverge on
    what counts as a box (a record like {"c":1} or {"x":"a"} previously
    crashed one side and not the other)."""
    if not isinstance(b, dict) or not isinstance(b.get("c"), str):
        return False
    for k in _PDF_NUM_FIELDS:
        v = b.get(k)
        if v is not None and not isinstance(v, (int, float)):
            return False
    return True


def pdfish_coord(v) -> float:
    """Shared coordinate defaulting: absent / None / non-finite → 0.0.
    Python's json accepts ``Infinity``/``NaN`` literals and overflows
    ``1e309`` to inf, so hostile payloads can inject non-finite
    coordinates; both the vectorized kernel and the per-turn oracle
    apply this rule at parse time so neither side ever carries a
    NaN/inf into the geometry arithmetic (where NaN comparisons would
    silently diverge between numpy and pure Python code paths)."""
    if v is None:
        return 0.0
    v = float(v)
    return v if math.isfinite(v) else 0.0


def pdfish_normalize_box(b: dict) -> dict:
    """Normalize one validity-gated box record to the canonical shape:
    ``c`` plus the five numeric fields, every coordinate defaulted via
    :func:`pdfish_coord`. Shared by both oracle parse sites."""
    out = {"c": b["c"]}
    for k in _PDF_NUM_FIELDS:
        out[k] = pdfish_coord(b.get(k))
    return out

# ------------------------------------------------------ word-span fixups
# the reference's char-run post-processing over a line's word intervals
# (/root/reference/font/project_rec.py:104-127 merge/split,
#  /root/reference/font/project_rec.py:216-223 glue-fix):
#   * width stats (mean, population σ, LEFT-FOLD sums) over the line's runs
#   * narrow run (< mean): merge with the NEXT run if the combined width
#     stays under mean + 2σ, else DROP it (the reference appends nothing)
#   * wide run (> mean + 2σ): bisect at the midpoint (float midpoint here;
#     the reference floor-divides pixel ints)
#   * glue: a run that starts < 5 px after the previous one and is < 20 px
#     wide extends back to the previous run's start
WORD_SPLIT_SIGMA = 2.0
WORD_GLUE_MAX_GAP = 5.0
WORD_GLUE_MAX_W = 20.0
SPAN_KIND_WORD = "word"

# ------------------------------------------------- hysteresis line decoder
# two-threshold island decoding, the text analogue of the reference's
# stateful column scanner (/root/reference/font/characterSegment.py:20-96:
# open a span when ink density crosses the ENTER bar, survive brief dips
# above the EXIT bar, close only after >1 blank). Here: a region OPENS at
# a line with density ≥ HYST_ENTER, lines with density ≥ HYST_EXIT keep it
# open, and up to HYST_BRIDGE consecutive sub-exit lines are bridged
# (the reference's blank_size>1 tolerance, restated as consecutive-blank
# tolerance — its cumulative blank counter never resets before close,
# which for monotone scans is the same bound).
HYST_ENTER = 0.6
HYST_EXIT = 0.35
HYST_BRIDGE = 1
SPAN_KIND_REGION = "region"

# ------------------------------------------------------- payload detection
# EXPLICIT ASCII whitespace class, not \s: Python re's \s (detect_payload
# below, the oracle's sniff) is Unicode-wide while RE2 (the pyarrow
# kernel) uses ASCII \s — a Unicode-space-prefixed payload would sniff
# differently per engine and break the per-turn text-equality invariant.
# The explicit class below means the same thing to both regex engines.
_SNIFF_WS = r"[ \t\r\n\f\x0B]"
HTML_SNIFF_RE = re.compile(rf"^{_SNIFF_WS}*<[a-zA-Z!]")    # starts like markup
PDFISH_SNIFF_RE = re.compile(rf'^{_SNIFF_WS}*\{{"c"{_SNIFF_WS}*:')  # char box

# ------------------------------------------------------------------ fusion
# weighted multi-candidate score fusion, per-unit (reference weights:
# engine 1.0 / cg 1.0 / cg_origin 0.5 at /root/reference/ocrclient/redisdata.py:59-64)
FUSION_WEIGHTS = {"rule_a": 1.0, "rule_b": 1.0, "rescue": 0.5}
FUSION_SCORE_FLOOR = 0.5   # fused candidates below this are dropped (redisdata.py:312)

# rule variants play the reference's OCR engines: same extraction kernel,
# different (min_line_len, density_thresh) operating points
RULE_VARIANTS = {
    "rule_a": (MIN_LINE_LEN, DENSITY_THRESH),  # the production rules
    "rule_b": (14, 0.65),                      # strict
    "rescue": (6, 0.35),                       # lenient rescue pass
}

# ---------------------------------------------------------------- spans
SPAN_KIND_CONTENT = "content"     # plain-text content run
SPAN_KIND_BLOCK = "html_block"    # kept DOM block
SPAN_KIND_LINE = "line"           # assembled pdfish text line

PAYLOAD_PLAIN = "plain"
PAYLOAD_HTML = "html"
PAYLOAD_PDFISH = "pdfish"


def detect_payload(text: str) -> str:
    """Classify a turn's ``text`` payload. Deterministic, order: pdfish, html, plain."""
    if text is None:
        return PAYLOAD_PLAIN
    if PDFISH_SNIFF_RE.match(text):
        return PAYLOAD_PDFISH
    if HTML_SNIFF_RE.match(text) and "</" in text:
        return PAYLOAD_HTML
    return PAYLOAD_PLAIN
