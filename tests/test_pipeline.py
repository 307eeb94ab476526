"""End-to-end golden tests: pipeline output vs the independent oracle.

The driver invariant (FIXTURES.md §4): per doc, element-wise equality of
(kind, text, media_ref) in array order after sorting by offset; dropped spans
absent; kept spans preserve media_ref and relative order.
"""

from __future__ import annotations

from engine.pipeline import run_extraction
from tests import oracle


def _collect_spans_out(result):
    rows = result.spans_out.collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans_out"]
        ]
        for r in rows
    }


def test_span_sequence_equality(spark, corpus, corpus_dfs):
    spans_rows, blob_rows = corpus
    spans, blobs = corpus_dfs
    result = run_extraction(spark, spans, blobs, run_id="t-golden")
    got = _collect_spans_out(result)
    want = oracle.golden_for_corpus(spans_rows, blob_rows)
    assert set(got) == set(want), "every input doc must appear in spans_out"
    mismatches = {d: (got[d], want[d]) for d in want if got[d] != want[d]}
    assert not mismatches, f"{len(mismatches)} docs mismatch; first: " + str(
        next(iter(mismatches.items()))
    )


def test_lineage_accounts_every_span(spark, corpus, corpus_dfs):
    spans_rows, blob_rows = corpus
    spans, blobs = corpus_dfs
    result = run_extraction(spark, spans, blobs, run_id="t-lineage")
    lineage = result.lineage.collect()
    total_spans = sum(len(r["spans"]) for r in spans_rows)
    assert len(lineage) == total_spans

    # per-(doc,offset) status equality vs oracle
    blobs_map = {b["media_ref"]: b["payload"] for b in blob_rows}
    want: dict[tuple[str, int], str] = {}
    for row in spans_rows:
        _, lin = oracle.process_doc(row["spans"], blobs_map)
        for off, status in lin.items():
            want[(row["doc_id"], off)] = status
    got = {(r["doc_id"], r["offset"]): r["status"] for r in lineage}
    assert got == want


def test_metrics_totals(spark, corpus, corpus_dfs):
    spans_rows, _ = corpus
    spans, blobs = corpus_dfs
    result = run_extraction(spark, spans, blobs, run_id="t-metrics")
    import pyspark.sql.functions as F

    m = result.metrics.agg(
        F.sum("spans_kept").alias("kept"),
        F.sum("spans_dropped").alias("dropped"),
        F.sum("errors").alias("errors"),
    ).collect()[0]
    total = sum(len(r["spans"]) for r in spans_rows)
    assert m["kept"] + m["dropped"] == total
    assert m["errors"] > 0  # corrupt blobs exist in this corpus

    # observe() metrics agree once an action has run
    obs = result.observation.get
    assert obs["spans_total"] == total
    assert obs["spans_kept"] == m["kept"]


def test_output_order_is_offset_not_arrival(spark):
    """Spans arrive shuffled inside the array; output must be offset-sorted."""
    from engine.schema import MEDIA_BLOBS_SCHEMA, SPANS_SCHEMA

    rows = [
        {
            "doc_id": "d1",
            "spans": [
                {"kind": "text", "text": "third line", "media_ref": None, "offset": 2},
                {"kind": "text", "text": "first line", "media_ref": None, "offset": 0},
                {"kind": "text", "text": "second line", "media_ref": None, "offset": 1},
            ],
        }
    ]
    spans = spark.createDataFrame(rows, SPANS_SCHEMA)
    blobs = spark.createDataFrame([], MEDIA_BLOBS_SCHEMA)
    result = run_extraction(spark, spans, blobs, run_id="t-order")
    [row] = result.spans_out.collect()
    assert [s["text"] for s in row["spans_out"]] == [
        "first line",
        "second line",
        "third line",
    ]


def test_fully_skipped_doc_has_empty_output(spark):
    from engine.schema import MEDIA_BLOBS_SCHEMA, SPANS_SCHEMA

    rows = [
        {
            "doc_id": "d-skip",
            "spans": [
                {"kind": "text", "text": "Advertisement", "media_ref": None, "offset": 0},
                {"kind": "text", "text": "   ", "media_ref": None, "offset": 1},
            ],
        }
    ]
    spans = spark.createDataFrame(rows, SPANS_SCHEMA)
    blobs = spark.createDataFrame([], MEDIA_BLOBS_SCHEMA)
    result = run_extraction(spark, spans, blobs, run_id="t-empty")
    [row] = result.spans_out.collect()
    assert row["doc_id"] == "d-skip"
    assert row["spans_out"] == []


def test_mega_doc_reassembles_in_offset_order(spark, corpus, corpus_dfs):
    """A 3,000-span doc (arriving shuffled) next to the corpus re-nests in one
    aggregation to all 3,000 spans in offset order; the other docs keep the
    oracle's output."""
    import random

    from engine.assemble import reassemble
    from engine.pipeline import build_spine
    from engine.schema import SPANS_SCHEMA

    spans_rows, blob_rows = corpus
    spans, blobs = corpus_dfs
    mega_spans = [
        {"kind": "text", "text": f"line {i % 7}", "media_ref": None, "offset": i}
        for i in range(3000)
    ]
    random.Random(3).shuffle(mega_spans)
    mega = spark.createDataFrame([{"doc_id": "mega", "spans": mega_spans}], SPANS_SCHEMA)
    spine = build_spine(spark, spans.unionByName(mega), blobs)
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans_out"]]
        for r in reassemble(spine).collect()
    }
    assert [s[3] for s in got.pop("mega")] == list(range(3000))
    assert got == oracle.golden_for_corpus(spans_rows, blob_rows)


def test_run_totals_exact_doc_count(spark, corpus, corpus_dfs):
    """run_totals is the naively-summable companion to the per-partition
    metrics rows: exactly one row per run, docs_total = distinct documents."""
    from engine.pipeline import run_extraction

    spans, blobs = corpus_dfs
    res = run_extraction(spark, spans, blobs, run_id="tot")
    [row] = res.run_totals.collect()
    assert row["run_id"] == "tot"
    assert row["docs_total"] == spans.count()
    total_spans = sum(len(r["spans"]) for r in corpus[0])
    assert row["spans_total"] == total_spans


def test_spine_carries_qr_rotation_lineage(spark, corpus_dfs):
    """M9 per-span rotation lineage: the spine exposes qr_rotation for media
    spans (nullable, text spans null) so consumers don't re-decode pixels to
    learn which pages arrived rotated."""
    import pyspark.sql.functions as F

    from engine.pipeline import build_spine

    spans, blobs = corpus_dfs
    spine = build_spine(spark, spans, blobs)
    assert "qr_rotation" in spine.columns
    rows = (
        spine.groupBy("kind")
        .agg(F.count(F.col("qr_rotation")).alias("with_rot"))
        .collect()
    )
    counts = {r["kind"]: r["with_rot"] for r in rows}
    assert counts.get("text", 0) == 0  # text spans never carry a rotation
    assert counts.get("media", 0) > 0  # decoded pages do


def test_null_kind_becomes_error_lineage(spark):
    """A null span kind must surface as bad_kind error lineage — ~isin() alone
    would evaluate NULL and silently drop it from every branch."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from engine.schema import MEDIA_BLOBS_SCHEMA

    nullable_span = StructType(
        [
            StructField("kind", StringType(), True),
            StructField("text", StringType(), True),
            StructField("media_ref", StringType(), True),
            StructField("offset", IntegerType(), False),
        ]
    )
    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("spans", ArrayType(nullable_span), False),
        ]
    )
    spans = spark.createDataFrame(
        [
            {
                "doc_id": "d-null",
                "spans": [
                    {"kind": "text", "text": "good line", "media_ref": None, "offset": 0},
                    {"kind": None, "text": "lost?", "media_ref": None, "offset": 1},
                    {"kind": "weird", "text": "also bad", "media_ref": None, "offset": 2},
                ],
            }
        ],
        schema,
    )
    blobs = spark.createDataFrame([], MEDIA_BLOBS_SCHEMA)
    from engine.pipeline import run_extraction

    res = run_extraction(spark, spans, blobs, run_id="t-nullkind")
    lin = {r["offset"]: (r["status"], r["reason"]) for r in res.lineage.collect()}
    assert len(lin) == 3  # nothing silently dropped
    assert lin[1] == ("error", "bad_kind")
    assert lin[2] == ("error", "bad_kind")
    assert lin[0][0] == "kept"


def test_metrics_counters_additive_and_hist_separate(spark, corpus, corpus_dfs):
    """docs_processed must be additive over the metrics table rows (no
    per-conf-bucket duplication), and the histogram lives in conf_hist."""
    import pyspark.sql.functions as F

    spans, blobs = corpus_dfs
    spans_rows, _ = corpus
    res = run_extraction(spark, spans, blobs, run_id="t-metrics2")
    m = res.metrics.collect()
    # one row per partition — partition_id is a unique key now
    assert len({r["partition_id"] for r in m}) == len(m)
    total = sum(len(r["spans"]) for r in spans_rows)
    assert sum(r["spans_kept"] + r["spans_dropped"] for r in m) == total

    hist = res.conf_hist.collect()
    assert all(r["conf_bucket"] is not None for r in hist)
    spine_conf = res.spine.filter(F.col("conf").isNotNull()).count()
    assert sum(r["conf_count"] for r in hist) == spine_conf


def test_spine_plan_scans_spans_twice_not_thrice(spark, corpus_dfs):
    """Scan budget: ONE row-local pass (text + bad-kind) + ONE media-metadata
    pass over the spans table — a third scan is a regression (at 10^12 docs
    every extra source scan is real I/O)."""
    import re

    from engine.assemble import reassemble
    from engine.pipeline import build_spine

    spans, blobs = corpus_dfs
    # parquet-backed inputs so FileScans are countable
    import tempfile

    d = tempfile.mkdtemp()
    spans.write.mode("overwrite").parquet(d + "/spans")
    blobs.write.mode("overwrite").parquet(d + "/blobs")
    sp = spark.read.parquet(d + "/spans")
    bl = spark.read.parquet(d + "/blobs")
    plan = reassemble(build_spine(spark, sp, bl))._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    spans_scans = [s for s in scans if "spans#" in s]
    blob_scans = [s for s in scans if "payload#" in s]
    assert len(spans_scans) == 2, scans
    assert len(blob_scans) == 1, scans
