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
    """(kept-span struct, its sorted per-doc aggregate, output projection)
    of :func:`reassemble`."""
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
        kept_span,
        F.array_sort(F.collect_list(kept_span)).alias("_ordered"),
        (F.col("doc_id"), spans_out),
    )


def reassemble(spine: DataFrame, salt_partials: int = 0) -> DataFrame:
    """spine(doc_id, offset, kind, media_ref, out_text, status) →
    spans_out(doc_id, spans_out array<struct<kind,text,media_ref,offset>>).

    ``salt_partials > 0`` switches to salted two-phase aggregation for
    doc-level skew (north_rule: a pathological document with millions of
    spans would otherwise pin one reducer): phase 1 groups by
    (doc_id, pmod(hash(offset), salt)) building partial arrays map-side,
    phase 2 merges per doc with flatten + one final array_sort.  Same output
    either way (order comes from the sort, not the grouping) — test-asserted.
    AQE skew-split handles moderate skew without this; the salt is for the
    heavy tail.
    """
    from engine.skew import salt_col

    kept_span, ordered, out_cols = _reassemble_exprs()
    if salt_partials > 0:
        partial = spine.groupBy(
            "doc_id", salt_col(salt_partials, "offset").alias("_salt")
        ).agg(F.collect_list(kept_span).alias("_part"))
        nested = partial.groupBy("doc_id").agg(
            F.array_sort(F.flatten(F.collect_list("_part"))).alias("_ordered")
        )
    else:
        nested = spine.groupBy("doc_id").agg(ordered)
    return nested.select(*out_cols)
