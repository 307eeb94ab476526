"""Per-document reassembly (A2/W3/T1/J5 — SURVEY.md §2.5-2.7).

The reference collects out-of-order OCR completions into a map and re-sorts by
page number before joining text (/root/reference/app/tasks.py:513-531,
pdf_processor.py:1208-1258).  Here ordering is a property of the data — the
``offset`` field — not of arrival: one hash-aggregate shuffle on ``doc_id``
builds each doc's span array, ``array_sort`` on the (offset-first) struct
restores order, and a ``transform`` re-projects the output field order.

J5 (skipped-span reunion): the aggregate runs over the FULL span spine
(kept + dropped + skipped + errored) and keeps only 'kept' spans via
``collect_list(when(kept, …))`` — collect_list skips nulls, so fully-skipped
docs still appear with an empty ``spans_out`` array and nothing is silently
filtered away before accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine.session import per_session


@per_session
def _reassemble_exprs() -> tuple:
    """(sorted per-doc aggregate of the kept spans, output projection) of
    :func:`reassemble`."""
    kept_span = F.when(
        F.col("status") == "kept",
        F.struct(
            F.col("offset"),
            F.col("kind"),
            F.col("out_text").alias("text"),
            F.col("media_ref"),
        ),
    )
    # array_sort on a struct orders by the first field (offset) — then
    # re-project to the output contract's field order (kind, text, media_ref, offset).
    spans_out = F.transform(
        "_ordered",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    ).alias("spans_out")
    return (
        F.array_sort(F.collect_list(kept_span)).alias("_ordered"),
        (F.col("doc_id"), spans_out),
    )


def reassemble(spine: DataFrame) -> DataFrame:
    """spine(doc_id, offset, kind, media_ref, out_text, status) →
    spans_out(doc_id, spans_out array<struct<kind,text,media_ref,offset>>).

    One aggregation, no salt: a document is one input row, so its spans are
    exploded inside one task and the map-side partial ``collect_list`` sends
    the reducer one partial per map task.  A salted second exchange would
    bound nothing, because the final row holds the whole document either way
    (PLANS.md §4v measures a 300k-span mega-doc).
    """
    ordered, out_cols = _reassemble_exprs()
    return spine.groupBy("doc_id").agg(ordered).select(*out_cols)
