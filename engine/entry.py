"""Driver-facing extraction queries + flagship entry.

Synthesizes an interleaved spans corpus from the driver's ``documents`` table
(deterministic, no external data) and runs the real extraction pipeline over
it, so the driver's correctness gate exercises the actual engine — not a
stand-in query.

- ``x_text_branch_extraction`` is DuckDB-comparable: text-only spans, whose
  normalize/classify/reassemble semantics are restated in SQL (word-run dedup
  via list_filter-with-index — DuckDB's RE2 has no backreferences).
- ``flagship`` (used by ``entry()``) adds media spans with codec payloads, so
  the smoke check covers decode → route → strip → re-nest end-to-end.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.pipeline import run_extraction
from engine.relational import PRIORITY_FLAGSHIP, _local_q, _q, load
from engine.schema import MEDIA_BLOBS_SCHEMA
from pyspark.sql.types import BinaryType

BOILER_SPAN = "Terms of Service | Privacy Policy"


# Logical nodes that plan an exchange: a frame holding one is not scan-side.
_SHUFFLING_NODES = frozenset(
    {"Aggregate", "Join", "Repartition", "RepartitionByExpression", "Window"}
)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a SLIM frame to the session's core count
    before a payload-synthesis UDF is attached.

    The corpus builders below derive their rows from the ``documents``
    parquet — a file small enough to be ONE input split at any sane
    ``maxPartitionBytes`` — and then attach per-row render/decode UDFs that
    cost milliseconds each.  Without this, the whole render+decode chain
    executes on the scan's single task while 31 cores idle (measured: the
    capstone's blobs side ran 1 partition / 10.6 s; spread it is sub-second
    per stage).  Guide §2.5 "input skew": repartition immediately after the
    read, BEFORE the expensive projection — repartitioning after the UDF is
    attached ships the rendered payloads through the exchange instead of the
    slim id rows.

    Scale-adaptive: a no-op whenever the input already carries at least
    ``defaultParallelism`` partitions (the 100 TB case, where documents
    spans thousands of splits), so the extra exchange exists only when it
    buys parallelism.  Round-robin (no key) because payloads are pure
    functions of doc_id — placement is free to be uniform; rows-per-task
    skew is what we are removing.

    The input must be scan-side (ValueError otherwise): reading the
    partition count plans the frame as an RDD, and under AQE that runs
    every shuffle stage below it."""
    plans = [df._jdf.queryExecution().optimizedPlan()]
    while plans:
        plan = plans.pop()
        if plan.nodeName() in _SHUFFLING_NODES:
            raise ValueError(
                f"_spread needs a scan-side frame; its plan has a {plan.nodeName()}"
            )
        children = plan.children()
        plans.extend(children.apply(i) for i in range(children.size()))
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def _text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: span0 = doc text, span1 = boilerplate, span2 = tail marker.
    Written into the array in shuffled order (2,0,1) — reassembly must re-sort."""
    d = load(spark, sf_dir, "documents")
    span = lambda kind, text, ref, off: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"),
        text.alias("text"),
        ref.alias("media_ref"),
        F.lit(off).cast("int").alias("offset"),
    )
    nul = F.lit(None).cast("string")
    tail = F.concat(F.lit("tail marker k"), (F.col("doc_id") % 10).cast("string"))
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            span("text", tail, nul, 2),
            span("text", F.col("text"), nul, 0),
            span("text", F.lit(BOILER_SPAN), nul, 1),
        ).alias("spans"),
    )


@_q(
    "x_text_branch_extraction",
    "end-to-end text branch: explode → normalize (W1/W2/F4) → boilerplate "
    "classify → offset-sorted re-nest (A2/J5) over spans synthesized from the "
    "documents table",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           0 AS offset,
           array_to_string(
             list_filter(string_split(text, ' '),
                         (x, i) -> i = 1 OR x <> string_split(text, ' ')[i - 1]),
             ' ') AS text
    FROM documents
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           2 AS offset,
           'tail marker k' || CAST(doc_id % 10 AS VARCHAR) AS text
    FROM documents
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_text_branch_extraction(spark, sf_dir):
    spans = _text_spans(spark, sf_dir)
    blobs = spark.createDataFrame([], MEDIA_BLOBS_SCHEMA)
    res = run_extraction(spark, spans, blobs, run_id="driver-x-text")
    return res.spans_out.select(
        "doc_id", F.explode("spans_out").alias("s")
    ).select("doc_id", F.col("s.offset").alias("offset"), F.col("s.text").alias("text"))


@_q(
    "x_header_parse_massara",
    "F14/F2/F3 end-to-end: massara header parser over receipt text synthesized "
    "from orders (label extraction, date normalization, footer number grab)",
    r"""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS invoice_number,
           strftime(o_orderdate, '%Y-%m-%d') AS date,
           CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) AS net_total_amount
    FROM orders
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_header_parse_massara(spark, sf_dir):
    from engine.parse import parse_header_massara

    o = load(spark, sf_dir, "orders")
    text = F.concat(
        F.lit("رقم الفاتورة: "),
        F.col("o_orderkey").cast("string"),
        F.lit("\nالتاريخ: "),
        F.date_format("o_orderdate", "dd.MM.yyyy"),
        F.lit("\nالاجمالي: "),
        F.floor("o_totalprice").cast("bigint").cast("string"),
        F.lit(" دينار"),
    )
    h = parse_header_massara(text)
    return o.select(
        "o_orderkey",
        h["invoice_number"].alias("invoice_number"),
        h["date"].alias("date"),
        h["net_total_amount"].alias("net_total_amount"),
    )


@_q(
    "x_invoice_header_adjacency",
    "F15/W4 end-to-end: invoice-mode header parser over text synthesized from "
    "customer — exercises bare-label+lookahead, value-before-label (with the "
    "overlapping-alias tiebreak), and value-after-label in one document",
    """
    SELECT CAST(c_custkey AS VARCHAR) AS doc_id,
           'INV-' || CAST(c_custkey AS VARCHAR) AS invoice_number,
           c_name AS patient_name,
           'SEG-' || c_mktsegment AS company
    FROM customer
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_invoice_header_adjacency(spark, sf_dir):
    from engine.parse import parse_header_invoice

    c = load(spark, sf_dir, "customer")
    text = F.concat(
        F.lit("رقم الفاتورة\nINV-"),
        F.col("c_custkey").cast("string"),
        F.lit("\n"),
        F.col("c_name"),
        F.lit(" اسم المريض\nالجهة: SEG-"),
        F.col("c_mktsegment"),
    )
    doc_text = c.select(F.col("c_custkey").cast("string").alias("doc_id"), text.alias("text"))
    parsed = parse_header_invoice(doc_text)
    return parsed.select(
        "doc_id",
        F.col("header_invoice.invoice_number").alias("invoice_number"),
        F.col("header_invoice.patient_name").alias("patient_name"),
        F.col("header_invoice.company").alias("company"),
    )


_TBL_HEADER = (
    "<tr><th>الكود</th><th>الخدمة</th><th>التاريخ</th><th>السعر</th>"
    "<th>الكمية</th><th>الشركة</th><th>المريض</th><th>القيمة</th></tr>"
)


@_q(
    "x_table_parse_service",
    "F12/F8/F9 end-to-end: 8-column HTML service table synthesized per order "
    "from lineitem, tokenized and parsed back to items — round-trips exactly",
    f"""
    SELECT l_orderkey AS doc, 'C' || CAST(l_linenumber AS VARCHAR) AS code,
           CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR) AS amount
    FROM lineitem
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_table_parse_service(spark, sf_dir):
    from engine.tables import parse_service_rows

    li = load(spark, sf_dir, "lineitem")
    # The row html is built AFTER the per-order exchange, from the two slim
    # numeric fields it derives from (guide §2.3: shuffle keys and metadata,
    # not rendered payloads) — the r5 form shuffled a ~100-byte rendered
    # string per lineitem where 12 bytes of (linenumber, floored price)
    # carry the same information.  Same sort order (linenumber leads the
    # struct and is unique per order), byte-identical html out.
    row_html = lambda s: F.concat(  # noqa: E731
        F.lit("<tr><td>C"),
        s["l_linenumber"].cast("string"),
        F.lit("</td><td>خدمة</td><td>d</td><td>p</td><td>q</td><td>c</td><td>pp</td><td>"),
        s["amt"].cast("string"),
        F.lit("</td></tr>"),
    )
    tables_df = li.groupBy("l_orderkey").agg(
        F.concat(
            F.lit("<table>" + _TBL_HEADER),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("l_linenumber"),
                                F.floor("l_extendedprice").cast("bigint").alias("amt"),
                            )
                        )
                    ),
                    row_html,
                ),
                "",
            ),
            F.lit("</table>"),
        ).alias("html")
    )
    rows = tables_df.select(
        F.col("l_orderkey").alias("doc"),
        F.explode(parse_service_rows(F.col("html"))).alias("r"),
    )
    return rows.filter(F.col("r.item").isNotNull()).select(
        "doc", F.col("r.item.code").alias("code"), F.col("r.item.amount").alias("amount")
    )


# Deterministic page-kind cycle for the flagship media spans: every router
# branch (P3-P8) appears, keyed purely on doc_id arithmetic so the DuckDB
# oracle can restate the expected routing outcome without running anything.
FLAGSHIP_KINDS = [
    "janzour",
    "janzour_receipt",
    "massara",
    "massara_medicine",
    "idcard",
    "skip_medicine_title",
    "skip_discharge",
    "blank",
]


def flagship_spec(i: int) -> dict:
    """Bitmap page spec for doc i — pure function, shared by the flagship /
    near-dup / strip payload UDFs and nothing else (the oracles restate
    intent in SQL, not via this code)."""
    kind = FLAGSHIP_KINDS[i % 8]
    spec: dict = {"page_kind": kind, "conf": 0.5 + (i % 50) / 100.0}
    body = [
        f"Service code BIO{i % 10000:04d} billed at standard rate.",
        f"رقم الفاتورة: INV-{i % 100000:05d}",
    ]
    if kind == "janzour":
        spec.update(
            title_text="كشف تفاصيل الخدمات",
            body_lines=body,
            barcode=True,
            boiler_lines=["[BARCODE ZONE]"],
        )
    elif kind == "janzour_receipt":
        spec.update(title_text=f"إيصال رقم {i % 9999}", body_lines=body)
    elif kind == "massara":
        spec.update(body_lines=body)
    elif kind == "massara_medicine":
        spec.update(
            title_text="فقرة الخدمات العامة",
            body_lines=body
            + [f"الطبيب: د. طبيب {i % 100}", f"الجناح: جناح {i % 10}"],
        )
    elif kind == "idcard":
        spec.update(
            body_lines=[f"اسم المستفيد: مستفيد رقم {i % 1000}", f"ACA-{i % 10000:04d}-00080-X1Z"],
            rotation=[0, 90, 180, 270][(i // 8) % 4],
            noise_text="PAGE FOOTER — printed by HIS v4.2",
        )
    elif kind == "skip_medicine_title":
        spec.update(title_text="أدوية ومستلزمات من الايواء", body_lines=body)
    elif kind == "skip_discharge":
        spec.update(title_text="ورقة خروج", body_lines=body)
    return spec


@F.pandas_udf(BinaryType())
def _page_payload(doc_id: pd.Series) -> pd.Series:
    """Deterministic BITMAP page per doc (SPB1) — the flagship media branch
    exercises the real detectors: P1 projection-profile layout, M6 barcode
    whiten, M7-M9 QR orient, M10 idcard crop.  No RNG."""
    from engine.bitmap import encode_bitmap_page

    return doc_id.map(lambda i: encode_bitmap_page(flagship_spec(int(i))))


def interleaved_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Text spans from _text_spans plus one media span (offset 3) per doc."""
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").alias("doc_num"),
    )
    ref = F.concat(F.lit("doc-media-"), F.col("doc_id"))
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        ref.alias("media_ref"),
        F.lit(3).cast("int").alias("offset"),
    )
    text_spans = _text_spans(spark, sf_dir)
    spans = text_spans.join(
        d.select("doc_id", media_span.alias("mspan")), "doc_id"
    ).select("doc_id", F.concat("spans", F.array("mspan")).alias("spans"))
    blobs = _spread(d).select(
        ref.alias("media_ref"), _page_payload(F.col("doc_num")).alias("payload")
    )
    return spans, blobs


@_q(
    "x_media_route_counts",
    "P1-P8 + M6-M10 end-to-end over the BITMAP flagship corpus: per-(mode, "
    "status, reason) media-span routing counts where labels / QR flags / "
    "boilerplate are all derived from pixels by the projection-profile "
    "detector; the oracle restates expected routing from the doc_id "
    "page-kind cycle arithmetically",
    """
    SELECT mode, status, reason, count(*) AS cnt FROM (
      SELECT CASE doc_id % 8 WHEN 0 THEN 'janzour' WHEN 1 THEN 'janzour_receipt'
                             WHEN 2 THEN 'massara' WHEN 3 THEN 'massara_medicine'
                             WHEN 4 THEN 'idcard' END AS mode,
             CASE WHEN doc_id % 8 <= 4 THEN 'kept' ELSE 'skipped' END AS status,
             CASE doc_id % 8 WHEN 5 THEN 'medicine_title' WHEN 6 THEN 'discharge'
                             WHEN 7 THEN 'no_content' END AS reason
      FROM documents
    ) GROUP BY mode, status, reason
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_media_route_counts(spark, sf_dir):
    spans, blobs = interleaved_corpus(spark, sf_dir)
    res = run_extraction(spark, spans, blobs, run_id="driver-x-media")
    return (
        res.spine.filter(F.col("kind") == "media")
        .groupBy("mode", "status", "reason")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "x_qr_rotation_hist",
    "M7-M9 — QR finder-pattern scan + L-corner orientation on real rasters: "
    "rotation histogram over the flagship idcard pages vs the arithmetic "
    "restatement of the render cycle",
    """
    SELECT CAST(((doc_id // 8) % 4) * 90 AS INTEGER) AS rotation, count(*) AS cnt
    FROM documents WHERE doc_id % 8 = 4 GROUP BY rotation
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_qr_rotation_hist(spark, sf_dir):
    from engine.layout import decode_blobs

    _, blobs = interleaved_corpus(spark, sf_dir)
    feats = decode_blobs(blobs)
    return (
        feats.filter(F.col("feats.has_qr"))
        .select(F.col("feats.qr_rotation").alias("rotation"))
        .groupBy("rotation")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "x_documents_by_mode",
    "E2 per-mode template dispatch (tasks.py:172-178 + the patient_identity "
    "third variant pdf_processor.py:1395-1444): canonical-document build "
    "selects the header parser per elected doc mode — massara docs parse the "
    "massara header, idcard docs the identity block, janzour docs NEITHER "
    "(their header_massara stays null even though the label text is present)",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CASE doc_id % 8 WHEN 0 THEN 'janzour' WHEN 1 THEN 'janzour_receipt'
                           WHEN 2 THEN 'massara' WHEN 3 THEN 'massara_medicine'
                           WHEN 4 THEN 'idcard' ELSE 'janzour' END AS mode,
           CASE WHEN doc_id % 8 IN (2, 3)
                THEN 'INV-' || lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0')
           END AS ms_invoice,
           CASE WHEN doc_id % 8 = 4
                THEN 'ACA-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-00080-X1Z'
           END AS id_number,
           CASE WHEN doc_id % 8 = 3
                THEN 'د. طبيب ' || CAST(doc_id % 100 AS VARCHAR)
           END AS md_doctor
    FROM documents
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_documents_by_mode(spark, sf_dir):
    from engine.parse import doc_modes, extract_documents

    spans, blobs = interleaved_corpus(spark, sf_dir)
    res = run_extraction(spark, spans, blobs, run_id="driver-x-docs")
    docs = extract_documents(res.spans_out, modes=doc_modes(res.spine))
    return docs.select(
        "doc_id",
        "mode",
        F.col("header_massara.invoice_number").alias("ms_invoice"),
        F.col("patient_identity.national_id").alias("id_number"),
        F.col("header_medicine.doctor_name_ar").alias("md_doctor"),
    )


@_q(
    "x_audit_documents",
    "E3 validation audit (validator.py:24-108 contract, recompute-and-compare): "
    "canonical documents synthesized with a deterministic defect per doc_id%5 "
    "(clean / footer mismatch / empty code / unnamed section / amount≠unit×qty) "
    "are audited; the oracle restates the expected (mistakes, score) "
    "arithmetically",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CASE doc_id % 5 WHEN 1 THEN 'footer_total_mismatch'
                           WHEN 2 THEN 'empty_item_code'
                           WHEN 3 THEN 'unnamed_section'
                           WHEN 4 THEN 'amount_neq_price_times_qty'
                           ELSE '' END AS mistakes_csv,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 100.0 ELSE 75.0 END AS DOUBLE) AS score
    FROM documents
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_audit_documents(spark, sf_dir):
    from engine.validate import audit_documents

    k = F.col("doc_id") % 5
    nul = F.lit(None).cast("string")
    item = F.struct(
        nul.alias("service_description_en"),
        F.lit("خدمة").alias("service_description_ar"),
        F.when(k == 2, F.lit("")).otherwise(
            F.concat(F.lit("C"), F.col("doc_id").cast("string"))
        ).alias("code"),
        nul.alias("date"),
        nul.alias("time"),
        F.lit("10.0").alias("unit_price"),
        nul.alias("company_price"),
        nul.alias("patient_price"),
        nul.alias("net_price"),
        F.lit("2").alias("quantity"),
        F.when(k == 4, F.lit("999.0")).otherwise(F.lit("20.0")).alias("amount"),
    )
    section = F.struct(
        F.when(k == 3, nul).otherwise(F.lit("قسم")).alias("section_name"),
        F.lit("20.0").alias("section_subtotal"),
        F.array(item).alias("items"),
    )
    footer = F.struct(
        F.when(k == 1, F.lit("99.0")).otherwise(F.lit("20.0")).alias(
            "net_total_amount"
        ),
        nul.alias("paid"),
        nul.alias("amount_due"),
    )
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(section).alias("sections"),
        footer.alias("footer"),
    )
    return audit_documents(docs).select(
        "doc_id",
        F.array_join("mistakes", ",").alias("mistakes_csv"),
        "score",
    )


@_q(
    "x_audit_media_pixels",
    "E3 image-grounded audit (validator.py:24-108 — the judge looks at the "
    "page IMAGE, not the struct): every blob is re-decoded from pixels, the "
    "routing predicates re-run, and the verdict diffed against what the spine "
    "claims; deterministic tampering per doc_id%4 (clean / wrong mode / "
    "skipped-claimed-kept / kept-claimed-skipped) must be flagged exactly — "
    "the oracle restates (mistakes, score) from the doc_id cycle",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CASE WHEN doc_id % 4 = 1 THEN 'mode_mismatch'
                WHEN doc_id % 4 = 2 AND doc_id % 8 IN (5, 6, 7)
                     THEN 'kept_but_skippable'
                WHEN doc_id % 4 = 3 AND doc_id % 8 <= 4
                     THEN 'skipped_but_processable'
                ELSE '' END AS mistakes_csv,
           CAST(CASE WHEN doc_id % 4 = 1
                       OR (doc_id % 4 = 2 AND doc_id % 8 IN (5, 6, 7))
                       OR (doc_id % 4 = 3 AND doc_id % 8 <= 4)
                     THEN 50.0 ELSE 100.0 END AS DOUBLE) AS score
    FROM documents
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_audit_media_pixels(spark, sf_dir):
    from engine.validate import audit_media_vs_pixels

    spans, blobs = interleaved_corpus(spark, sf_dir)
    res = run_extraction(spark, spans, blobs, run_id="driver-x-px-audit")
    k = F.col("doc_id").cast("long") % 4
    is_media = F.col("kind") == "media"
    # Deterministic tampering of the CLAIMED spine — the audit must catch each
    # class from pixels alone.  ``reason`` is rewritten while ``status`` still
    # holds the original value, then ``status`` flips.
    spine = (
        res.spine.withColumn(
            "mode",
            F.when(is_media & (k == 1), F.lit("tampered_mode")).otherwise(
                F.col("mode")
            ),
        )
        .withColumn(
            "reason",
            F.when(
                is_media & (k == 2) & (F.col("status") == "skipped"),
                F.lit(None).cast("string"),
            )
            .when(
                is_media & (k == 3) & (F.col("status") == "kept"), F.lit("tampered")
            )
            .otherwise(F.col("reason")),
        )
        .withColumn(
            "status",
            F.when(
                is_media & (k == 2) & (F.col("status") == "skipped"), F.lit("kept")
            )
            .when(is_media & (k == 3) & (F.col("status") == "kept"), F.lit("skipped"))
            .otherwise(F.col("status")),
        )
    )
    return audit_media_vs_pixels(spine, blobs).select(
        "doc_id",
        F.array_join("mistakes", ",").alias("mistakes_csv"),
        "score",
    )


_MEDIA_DEDUP_CLASSES = 50


def _media_dedup_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blobs table with deliberate cross-document payload recurrence: doc N
    carries the REAL rendered page of class N % 50, so every class's exact
    bytes recur in ~|docs|/50 documents — the synthesize-the-signal idiom
    (same as _augmented / the %4 tampering cycle): the Spark side must
    recover the classes from payload BYTES alone, the oracle restates the
    expected grouping from the doc_id cycle arithmetically."""
    d = load(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-media-"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        (F.col("doc_id") % _MEDIA_DEDUP_CLASSES).alias("cls"),
    )
    return _spread(d).select(
        "media_ref", _page_payload(F.col("cls")).alias("payload")
    )


@_local_q(
    "dedup_media_exact",
    "training-data dedup — cross-doc EXACT media dedup over the interleaved "
    "corpus's blobs side: payloads hashed at the scan (bytes never "
    "shuffle), refs sharing bytes grouped; recurring logos/stamps flagged "
    "as media boilerplate with a canonical surviving ref",
    f"""
    WITH refs AS (
      SELECT 'doc-media-' || CAST(doc_id AS VARCHAR) AS media_ref,
             doc_id % {_MEDIA_DEDUP_CLASSES} AS cls
      FROM documents
    ),
    grp AS (
      SELECT cls, count(*) AS n_refs, min(media_ref) AS canonical_ref
      FROM refs GROUP BY cls
    )
    SELECT r.media_ref,
           CAST(g.n_refs AS BIGINT) AS n_refs,
           g.canonical_ref,
           g.n_refs >= 3 AS is_boilerplate
    FROM refs r JOIN grp g USING (cls)
    """,
)
def dedup_media_exact(spark, sf_dir):
    from engine.trainops import media_dedup_exact

    return media_dedup_exact(_media_dedup_blobs(spark, sf_dir))


_NEARDUP_CLASSES = 25


@F.pandas_udf(BinaryType())
def _neardup_payload(doc_id: pd.Series) -> pd.Series:
    """Rendered page of class doc_id % 25, re-'scanned' per doc: fresh
    deterministic speckle (noise_seed = doc_id, so every copy is
    byte-distinct) and, for idcard classes, a per-variant rotation.  The
    exact front must see all singletons; the feature front must recover the
    25 classes from the detector outputs alone."""
    from engine.bitmap import encode_bitmap_page

    def mk(i: int) -> bytes:
        i = int(i)
        spec = flagship_spec(i % _NEARDUP_CLASSES)
        variant = (i // _NEARDUP_CLASSES) % 4
        spec["noise_px"] = 40 + 30 * variant
        spec["noise_seed"] = i
        if spec.get("page_kind") == "idcard":
            spec["rotation"] = 90 * variant
        return encode_bitmap_page(spec)

    return doc_id.map(mk)


def _media_neardup_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-media-"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.col("doc_id").alias("doc_num"),
    )
    return _spread(d).select(
        "media_ref", _neardup_payload(F.col("doc_num")).alias("payload")
    )


@_local_q(
    "dedup_media_features",
    "training-data dedup — NEAR-dup media dedup: byte-distinct re-scans "
    "(fresh speckle, rotated passes) of the same page grouped by a "
    "signature of the REAL detector outputs (route, regions, extracted "
    "text, QR presence) — rotation/noise invariant where payload md5 is "
    "not; oracle restates the class cycle arithmetically, folding the "
    "three blank-kind classes (7/15/23: FLAGSHIP_KINDS[c%8]=='blank') into "
    "one — content-identical pages merge even across class arithmetic, "
    "which is exactly the behavior a content-level dedup should have",
    f"""
    WITH refs AS (
      SELECT 'doc-media-' || CAST(doc_id AS VARCHAR) AS media_ref,
             CASE WHEN (doc_id % {_NEARDUP_CLASSES}) % 8 = 7 THEN 7
                  ELSE doc_id % {_NEARDUP_CLASSES} END AS cls
      FROM documents
    ),
    grp AS (
      SELECT cls, count(*) AS n_refs, min(media_ref) AS canonical_ref
      FROM refs GROUP BY cls
    )
    SELECT r.media_ref,
           CAST(g.n_refs AS BIGINT) AS n_refs,
           g.canonical_ref,
           g.n_refs >= 3 AS is_boilerplate
    FROM refs r JOIN grp g USING (cls)
    """,
)
def dedup_media_features(spark, sf_dir):
    from engine.layout import decode_blobs
    from engine.trainops import media_dedup_features

    return media_dedup_features(decode_blobs(_media_neardup_blobs(spark, sf_dir)))


@F.pandas_udf(BinaryType())
def _strip_corpus_payload(doc_id: pd.Series) -> pd.Series:
    """Near-dup corpus with MIXED group sizes so the strip has both verdicts
    to act on: classes with residue 4 mod 5 are PAIRED — (doc, doc+25) share
    a 'pair sheet' body, so their feature group has n_refs=2 < min_refs and
    survives with a canonical rewrite — all other classes recur corpus-wide
    (n_refs >= min_refs, boilerplate, dropped).  Every copy stays
    byte-distinct (per-doc speckle seed, rotated idcard passes)."""
    from engine.bitmap import encode_bitmap_page

    def mk(i: int) -> bytes:
        i = int(i)
        c = i % _NEARDUP_CLASSES
        k = i // _NEARDUP_CLASSES
        spec = flagship_spec(c)
        spec["noise_px"] = 40 + 30 * (k % 4)
        spec["noise_seed"] = i
        if c % 5 == 4:
            pair = i - _NEARDUP_CLASSES * (k % 2)
            spec["body_lines"] = [f"pair sheet {pair}", "shared second line"]
            if spec.get("page_kind") == "idcard":
                spec["rotation"] = 90 * (i % 4)
        elif spec.get("page_kind") == "idcard":
            spec["rotation"] = 90 * (k % 4)
        return encode_bitmap_page(spec)

    return doc_id.map(mk)


@_local_q(
    "dedup_media_strip",
    "training-data curation — media boilerplate STRIP over exploded "
    "interleaved spans, the consumer of the media near-dup verdicts: media "
    "spans in boilerplate groups dropped, survivors' media_ref rewritten to "
    "the group canonical (pairs of byte-distinct re-scans collapse to one "
    "blob key), text spans pass through; oracle restates the class/pair "
    "cycle and the text-span layout arithmetically",
    f"""
    WITH refs AS (
      SELECT doc_id AS i,
             'doc-media-' || CAST(doc_id AS VARCHAR) AS media_ref,
             CASE
               WHEN (doc_id % {_NEARDUP_CLASSES}) % 5 = 4 THEN
                 'p' || CAST(doc_id - {_NEARDUP_CLASSES}
                             * ((doc_id // {_NEARDUP_CLASSES}) % 2) AS VARCHAR)
               WHEN (doc_id % {_NEARDUP_CLASSES}) % 8 = 7 THEN 'c7'
               ELSE 'c' || CAST(doc_id % {_NEARDUP_CLASSES} AS VARCHAR)
             END AS grp
      FROM documents
    ),
    g AS (
      SELECT grp, count(*) AS n, min(media_ref) AS canonical
      FROM refs GROUP BY grp
    )
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, t.off AS offset,
           'text' AS kind, CAST(NULL AS VARCHAR) AS media_ref
    FROM documents, (VALUES (0),(1),(2)) AS t(off)
    UNION ALL
    SELECT CAST(r.i AS VARCHAR) AS doc_id, 3 AS offset,
           'media' AS kind, g.canonical AS media_ref
    FROM refs r JOIN g USING (grp)
    WHERE g.n < 3
    """,
)
def dedup_media_strip(spark, sf_dir):
    from engine.layout import decode_blobs
    from engine.trainops import media_dedup_features, strip_media_boilerplate

    text = (
        _text_spans(spark, sf_dir)
        .select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")
    )
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").alias("doc_num"),
        F.concat(F.lit("doc-media-"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
    )
    media = d.select(
        "doc_id",
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        "media_ref",
        F.lit(3).cast("int").alias("offset"),
    )
    blobs = _spread(d).select(
        "media_ref", _strip_corpus_payload(F.col("doc_num")).alias("payload")
    )
    groups = media_dedup_features(decode_blobs(blobs))
    out = strip_media_boilerplate(text.unionByName(media), groups)
    return out.select("doc_id", "offset", "kind", "media_ref")


def _interleaved_curation_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Interleaved corpus with BOTH curation signals planted: docs with
    doc_id % 10 == 7 mirror doc_id-1's text spans wholesale (exact text
    duplicates → deterministic LSH clusters, keep-min drops the mirror),
    and every doc carries a media span whose page follows the strip
    corpus's class/pair cycle (_strip_corpus_payload).  Text spans follow
    the _text_spans layout (doc text / boilerplate / tail marker) built
    from the SOURCE doc, so the assembled doc text is restatable in SQL
    via a documents self-join on the mirror arithmetic."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    eff = F.when(
        (F.col("doc_id") % 10 == 7) & (F.col("doc_id") > 0), F.col("doc_id") - 1
    ).otherwise(F.col("doc_id"))
    base = _spread(d.select(F.col("doc_id").alias("phys_id"), eff.alias("src_id")))
    src = d.select(F.col("doc_id").alias("src_id"), F.col("text").alias("src_text"))
    j = base.join(src, "src_id")
    span = lambda kind, text, ref, off: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"),
        text.alias("text"),
        ref.alias("media_ref"),
        F.lit(off).cast("int").alias("offset"),
    )
    nul = F.lit(None).cast("string")
    tail = F.concat(F.lit("tail marker k"), (F.col("src_id") % 10).cast("string"))
    ref = F.concat(F.lit("doc-media-"), F.col("phys_id").cast("string"))
    # docs with phys_id % 50 == 3 carry a 600-token body → dropped_quality;
    # the body is also maximally repetitive, pinning quality's precedence
    # over the repetition flag (never a mirror: %50==3 → %10==3 ≠ 7)
    body = F.when(
        F.col("phys_id") % 50 == 3,
        F.concat(F.repeat(F.lit("w "), 599), F.lit("w")),
    ).otherwise(F.col("src_text"))
    spans = j.select(
        F.col("phys_id").cast("string").alias("doc_id"),
        F.array(
            span("text", tail, nul, 2),
            span("media", nul, ref, 3),
            span("text", body, nul, 0),
            span("text", F.lit(BOILER_SPAN), nul, 1),
        ).alias("spans"),
    )
    # blobs need only phys_id (payload is a pure function of it) — build
    # them straight from the documents frame instead of the mirror join
    # (inner on src_id, which always matches → identical rows), spread so
    # the per-doc render+decode UDF chain parallelizes (see _spread).
    blobs = _spread(d.select(F.col("doc_id").alias("phys_id"))).select(
        F.concat(F.lit("doc-media-"), F.col("phys_id").cast("string")).alias(
            "media_ref"
        ),
        _strip_corpus_payload(F.col("phys_id")).alias("payload"),
    )
    return spans, blobs


def _interleaved_curation_ctes() -> str:
    """Shared oracle CTE chain for the curate_interleaved queries: assembled
    doc text via the mirror self-join, the curation verdict chain
    (quality → repetition → LSH → recursive-CTE CC with VARCHAR keep-min,
    matching Spark's string doc_ids), and the media strip group cycle."""
    from engine.trainops import _REP_FLAG_SQL, _SIG_SQL, _rep_doc_ctes, _shingle_sql

    return f"""
    iaug AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 50 = 3 THEN repeat('w ', 599) || 'w'
                  ELSE s.text END
               || ' {BOILER_SPAN} tail marker k'
               || CAST(s.doc_id % 10 AS VARCHAR) AS text
      FROM documents d JOIN documents s
        ON s.doc_id = CASE WHEN d.doc_id % 10 = 7 AND d.doc_id > 0
                           THEN d.doc_id - 1 ELSE d.doc_id END
    ),
    {_rep_doc_ctes('iaug')},
    labeled AS (
      SELECT a.doc_id,
             CASE WHEN len(string_split(a.text, ' ')) NOT BETWEEN 10 AND 500
                    THEN 'quality'
                  WHEN {_REP_FLAG_SQL} THEN 'repetition'
             END AS pre_reason
      FROM iaug a
      LEFT JOIN bg_doc b USING (doc_id)
      LEFT JOIN tg_doc t USING (doc_id)
    ),
    surv AS (
      SELECT a.doc_id, a.text FROM iaug a
      JOIN labeled l USING (doc_id) WHERE l.pre_reason IS NULL
    ),
    sh AS ({_shingle_sql('surv')}),
    sig AS ({_SIG_SQL}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b HAVING count(*) >= 2
    ),
    edges AS (
      SELECT CAST(doc_a AS VARCHAR) AS a, CAST(doc_b AS VARCHAR) AS b FROM pairs
      UNION
      SELECT CAST(doc_b AS VARCHAR), CAST(doc_a AS VARCHAR) FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a),
    outc AS (
      SELECT CAST(l.doc_id AS VARCHAR) AS doc_id,
             CASE WHEN l.pre_reason IS NOT NULL THEN 'dropped_' || l.pre_reason
                  WHEN c.comp IS NOT NULL AND c.comp <> CAST(l.doc_id AS VARCHAR)
                    THEN 'dropped_duplicate'
                  ELSE 'kept' END AS outcome
      FROM labeled l LEFT JOIN comp c ON c.doc_id = CAST(l.doc_id AS VARCHAR)
    ),
    kept AS (SELECT doc_id FROM outc WHERE outcome = 'kept'),
    mrefs AS (
      SELECT doc_id AS i,
             'doc-media-' || CAST(doc_id AS VARCHAR) AS media_ref,
             CASE
               WHEN (doc_id % {_NEARDUP_CLASSES}) % 5 = 4 THEN
                 'p' || CAST(doc_id - {_NEARDUP_CLASSES}
                             * ((doc_id // {_NEARDUP_CLASSES}) % 2) AS VARCHAR)
               WHEN (doc_id % {_NEARDUP_CLASSES}) % 8 = 7 THEN 'c7'
               ELSE 'c' || CAST(doc_id % {_NEARDUP_CLASSES} AS VARCHAR)
             END AS grp
      FROM documents
    ),
    mg AS (
      SELECT grp, count(*) AS n, min(media_ref) AS canonical
      FROM mrefs GROUP BY grp
    )"""


@_local_q(
    "train_curate_interleaved",
    "END-TO-END INTERLEAVED curation lineage — both graft-cell sides in one "
    "verdict chain: doc text ASSEMBLED from offset-ordered spans (A2) → "
    "quality window → repetition flags → LSH duplicate clusters over "
    "planted whole-doc mirrors → keep-min; per-outcome doc counts",
    f"""
    WITH RECURSIVE {_interleaved_curation_ctes()}
    SELECT outcome, count(*) AS docs FROM outc GROUP BY outcome
    """,
)
def train_curate_interleaved(spark, sf_dir):
    from engine.trainops import interleaved_outcomes

    spans, _ = _interleaved_curation_corpus(spark, sf_dir)
    exploded = spans.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    return (
        interleaved_outcomes(exploded)
        .groupBy("outcome")
        .agg(F.count("*").alias("docs"))
    )


@_q(
    "x_curate_interleaved_spans",
    "END-TO-END INTERLEAVED curation, materialized side: kept docs' curated "
    "spans — text spans of docs surviving quality/repetition/dedup, plus "
    "their media spans surviving the pixel-level boilerplate strip with "
    "canonicalized refs; dropped docs disappear whole",
    f"""
    WITH RECURSIVE {_interleaved_curation_ctes()}
    SELECT k.doc_id, t.off AS offset, 'text' AS kind,
           CAST(NULL AS VARCHAR) AS media_ref
    FROM kept k, (VALUES (0),(1),(2)) AS t(off)
    UNION ALL
    SELECT CAST(r.i AS VARCHAR) AS doc_id, 3 AS offset,
           'media' AS kind, g.canonical AS media_ref
    FROM mrefs r JOIN mg g USING (grp)
    JOIN kept k ON k.doc_id = CAST(r.i AS VARCHAR)
    WHERE g.n < 3
    """,
    priority=PRIORITY_FLAGSHIP,
)
def x_curate_interleaved_spans(spark, sf_dir):
    from engine.layout import decode_blobs
    from engine.trainops import curate_interleaved

    spans, blobs = _interleaved_curation_corpus(spark, sf_dir)
    exploded = spans.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    return curate_interleaved(exploded, decode_blobs(blobs)).select(
        "doc_id", "offset", "kind", "media_ref"
    )


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Full pipeline over the interleaved corpus; returns exploded spans_out."""
    spans, blobs = interleaved_corpus(spark, sf_dir)
    res = run_extraction(spark, spans, blobs, run_id="flagship")
    return res.spans_out.select("doc_id", F.explode("spans_out").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
