"""PySpark-native document/receipt extraction engine.

A from-scratch rebuild of the data-processing capabilities of
Promasterr/Medical-Receipts-OCR (reference at /root/reference, read-only) as a pure
DataFrame/Catalyst job: interleaved text+media spans in, canonical ordered span
sequence out, under the span-sequence-equality invariant
``(kind, text, media_ref, order)``.

Module map (see SURVEY.md §7.1):

- :mod:`engine.session`   — SparkSession factory tuned for local[N] testing; per-session expression cache
- :mod:`engine.schema`    — StructType constants (spans in/out, layout, lineage, metrics)
- :mod:`engine.codec`     — deterministic synthetic media-payload codec (FIXTURES.md §2)
- :mod:`engine.fixtures`  — seeded corpus generator (spans + media_blobs parquet)
- :mod:`engine.textops`   — scalar text functions F1-F11/F20 as Column expressions
- :mod:`engine.layout`    — fused media pandas UDF: decode → layout features → page text
- :mod:`engine.routing`   — P2-P10 mode/skip_reason routing as pure Column expressions
- :mod:`engine.parse`     — header/idcard key-value parsers (F14-F17)
- :mod:`engine.tables`    — HTML-table → rows (F12/F13)
- :mod:`engine.assemble`  — per-doc offset-sorted re-nest (A2, W1-W3)
- :mod:`engine.metrics`   — lineage + metrics tables, observe() instrumentation
- :mod:`engine.pipeline`  — end-to-end ``run_extraction`` and ``derive_outputs``
- :mod:`engine.io`        — durable runs: spine checkpoint, resume, the one output writer
- :mod:`engine.relational`— driver-checked relational operator queries (SURVEY §2 ↔ SQL)
"""

__version__ = "0.1.0"
