"""paper2llm_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of lacerbi/paper2llm
(client-side PDF→Markdown converter) as a cluster-scale Spark pipeline:
Common-Crawl-style pages table in, per-url extracted Markdown out,
byte-identical to the reference's deterministic semantics.

Layout:

* ``oracle/``    — pure-Python transliteration of the reference's
  deterministic transforms (golden generator AND the Python UDF bodies).
* ``pdf/``       — deterministic PDF writer (fixtures) + layout-aware
  parser (the OCR-stage replacement).
* ``operators/`` — Spark implementations: SQL-expression operators and
  Arrow pandas-UDF operators, plus web-scale ops (dedup, similarity,
  text stats, multimodal plumbing).
* ``sources/``   — input-table scan helpers, payload detection.
* ``plans/``     — end-to-end extract pipeline, checkpoint/resume,
  lineage metrics, skew handling.
* ``streaming/`` — incremental (foreachBatch) wrapper over the pipeline.
"""

__version__ = "0.1.0"
