"""documentai_ocr_spark — a PySpark-native main-content extraction engine.

A brand-new engine (NOT a port) with the extraction capabilities of the
reference repo ``wanbiguizhao/DocumentAI_OCR``: per-turn main-content
extraction over a transcripts table ``(conv_id, turn_idx, role, text,
tool, ts)`` — density-profile span detection, run-length span decoding,
content-vs-boilerplate classification, pdfminer-style char-box line
grouping, DOM text-density boilerplate stripping, weighted multi-candidate
score fusion — all expressed Spark-first: declarative DataFrame plans for
everything relational, vectorized pandas/Arrow UDFs (``mapInPandas`` /
``applyInPandas``) only for the parsing hot paths, zero per-row Python in
the classify/decode steps.

Layout:
  rules.py               shared deterministic rule constants (one source of truth)
  session.py             tuned local SparkSession factory
  synth.py               deterministic synthetic transcripts generator
  oracle.py              pure-Python oracle (independent reimplementation for golden tests)
  extract/               the extraction core (plain / html / pdfish payloads,
                         hysteresis variant, word-span fixups)
  queries/               operator registry (relational, dedup, textstats,
                         simsearch, extraction, labeldsl) with DuckDB oracles
  fusion.py              multi-recognizer weighted fusion + the ×4 vote
  signatures.py          content hash + MinHash band kernels the dedup runs
  incdedup.py            rolling dedup against persisted signature state
  lineage.py             checkpoint / lineage / resumable incremental runs
  pipeline.py            run_curation_increment (extract → dedup → commit);
                         its streaming front door is stream_curation
  pdfbin.py              PDF-binary ingestion front door (SPDF container)
  inference.py           batched model hook (broadcast + worker singleton)
  bucketing.py           co-located bucketed table layout (shuffle-free joins)
  multimodal.py / skew.py  binary media columns; skew salting utilities
"""

__version__ = "0.1.0"
