"""End-to-end extraction pipeline (SURVEY.md §3 Spark equivalent).

One lazily-built DataFrame chain replaces the reference's FastAPI→Celery→Redis
hop graph (/root/reference/app/tasks.py:76-96 chain; 534-650 batch):

  read spans → explode → branch by kind
    text  branch: normalize (F1/F4, W1/W2) → boilerplate classify → status
    media branch: span-metadata broadcast into the blobs scan → fused decode
                  UDF → route (P3-P8) → region strip → normalize → status
  → union (J5: skipped spans rejoin, nothing is filter-and-forgotten)
  → per-doc offset-sorted re-nest (A2)  +  lineage + metrics (X4, S6)

Catalyst gets the whole plan: predicate pushdown into the parquet scan, ONE
shuffle total (the re-nest) — payload bytes never shuffle; the only Python is
the Arrow decode batch.  For multi-output consumption, checkpoint the spine
once via engine.io.materialize_run instead of caching it in executors.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from engine import textops
from engine.assemble import reassemble
from engine.layout import decode_blobs
from engine.metrics import (
    conf_histogram_df,
    lineage_df,
    metrics_df,
    observed,
    run_totals_df,
)
from engine.routing import route
from engine.session import per_session

# Conf key selecting salted two-phase reassembly for mega-document skew
# (spans-per-doc heavy tail).  0 = plain single-phase aggregation; N > 0 =
# N-way salted partials (assemble.reassemble).  A deployment sets this from
# its corpus stats (e.g. if spans-per-doc p99 exceeds the rows one reducer
# should hold) without code edits.
SALT_PARTIALS_CONF = "spark.extraction.saltPartials"


@dataclass
class ExtractionResult:
    spans_out: DataFrame
    lineage: DataFrame
    metrics: DataFrame
    conf_hist: DataFrame
    spine: DataFrame
    run_id: str
    observation: object = field(default=None)
    run_totals: DataFrame = field(default=None)

    def unpersist(self) -> None:
        self.spine.unpersist()


def _cols(*names: str) -> tuple:
    return tuple(F.col(n) for n in names)


@per_session
def _explode_exprs() -> tuple:
    """(explode projection, flatten projection) of the spans table."""
    return (
        (F.col("doc_id"), F.explode("spans").alias("s")),
        _cols("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"),
    )


@per_session
def _media_meta_exprs() -> tuple:
    """(filter, projection) of the media span metadata."""
    return (
        F.col("kind") == "media",
        _cols("doc_id", "offset", "kind", "media_ref"),
    )


@per_session
def _row_local_exprs() -> tuple:
    """(filter, out_text, select list) of :func:`_row_local_branch`."""
    is_text = F.col("kind") == "text"
    # kind IS NULL must be matched explicitly: ~isin() evaluates to NULL for
    # a null kind and a bare filter would drop the span — silently lost.
    is_bad = F.col("kind").isNull() | ~F.col("kind").isin("text", "media")
    norm = textops.normalize_span_text(F.coalesce(F.col("text"), F.lit("")))
    boiler = textops.is_boilerplate(F.col("out_text"))
    empty = F.col("out_text") == ""
    return (
        is_text | is_bad,
        F.when(is_text, norm),
        (
            *_cols("doc_id", "offset", "kind", "media_ref", "out_text"),
            F.when(is_bad, F.lit("error"))
            .when(empty, F.lit("skipped"))
            .when(boiler, F.lit("dropped_boilerplate"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.when(is_bad, F.lit("bad_kind"))
            .when(empty, F.lit("empty"))
            .when(boiler, F.lit("boilerplate"))
            .alias("reason"),
            F.lit(None).cast("double").alias("conf"),
            F.lit(None).cast("string").alias("mode"),
            F.lit(None).cast("int").alias("qr_rotation"),
        ),
    )


def _row_local_branch(ex: DataFrame) -> DataFrame:
    """Text-kind spans (normalize + classify) AND bad-kind spans (P9 input
    hygiene → bad_kind error lineage, J5: never silently filtered) in ONE
    projection over ONE scan pass — they are both row-local, so splitting
    them into separate filter branches would re-scan the spans table for no
    reason (at 10^12 docs every extra scan of the source table is real I/O).
    Pure Catalyst."""
    keep, out_text, cols = _row_local_exprs()
    return ex.filter(keep).withColumn("out_text", out_text).select(*cols)


@per_session
def _media_exprs() -> tuple:
    """(missing-blob feats default, mode, skip_reason, out_text, select list)
    of :func:`_media_branch`."""
    # blob missing entirely → same error lineage path as a corrupt payload
    feats_or_missing = F.when(F.col("feats").isNotNull(), F.col("feats")).otherwise(
        F.struct(
            F.lit(None).cast("string").alias("page_kind"),
            F.lit(None).cast("array<string>").alias("labels"),
            F.lit(None).cast("string").alias("title_text"),
            F.lit(None).cast("array<string>").alias("body_lines"),
            F.lit(None).cast("boolean").alias("has_qr"),
            F.lit(None).cast("boolean").alias("qr_rotated"),
            F.lit(None).cast("int").alias("qr_rotation"),
            F.lit(None).cast("array<string>").alias("boilerplate"),
            F.lit(None).cast("double").alias("conf"),
            F.lit("missing_blob").alias("decode_error"),
        )
    )
    feats = F.col("feats")
    mode, skip_reason = route(feats)
    # Region strip (M1-M10 analogue): janzour receipt pages keep the whole page
    # including the title (janzour_processor.py:61-206); every other processed
    # mode crops below/around the title & header/footer zones — represented by
    # the codec as title exclusion + the boilerplate region-lines set.
    lines = F.when(
        F.col("mode") == "janzour_receipt",
        F.concat(F.array(F.coalesce(feats["title_text"], F.lit(""))), feats["body_lines"]),
    ).otherwise(feats["body_lines"])
    bp = F.coalesce(feats["boilerplate"], F.array().cast("array<string>"))
    lines = F.filter(lines, lambda l: ~F.array_contains(bp, l))
    # join first, then the fused regex normalize (same semantics as the
    # per-line array chain, but codegen-friendly — see normalize_span_text)
    out_text = textops.normalize_span_text(F.array_join(lines, "\n"))
    empty = F.col("skip_reason").isNull() & (F.col("out_text") == "")
    return (
        feats_or_missing,
        mode,
        skip_reason,
        F.when(F.col("skip_reason").isNull(), out_text),
        (
            *_cols("doc_id", "offset", "kind", "media_ref", "out_text"),
            F.when(F.col("skip_reason") == "decode_error", F.lit("error"))
            .when(F.col("skip_reason").isNotNull(), F.lit("skipped"))
            .when(empty, F.lit("skipped"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.when(F.col("skip_reason") == "decode_error", feats["decode_error"])
            .when(F.col("skip_reason").isNotNull(), F.col("skip_reason"))
            .when(empty, F.lit("empty"))
            .alias("reason"),
            feats["conf"].alias("conf"),
            F.col("mode"),
            # per-span rotation lineage (M9): which pages arrived rotated and by
            # how much — downstream quality dashboards read this off the spine
            # instead of re-decoding
            feats["qr_rotation"].alias("qr_rotation"),
        ),
    )


def _media_branch(ex: DataFrame, blobs: DataFrame) -> DataFrame:
    """Media-kind spans: decode at the blobs scan → join features to span
    metadata → route → strip.

    The scale decision: payload bytes are ~1000× everything else, so they are
    consumed WHERE THEY ARE READ — the Arrow decode UDF sits directly on the
    blobs FileScan (splits sized by spark.sql.files.maxPartitionBytes) and
    only the decoded features join the span metadata.  Verified plan shape:
    FileScan → ArrowEvalPython → Exchange[media_ref](features only) → join.
    No payload byte ever enters a shuffle, no side needs driver broadcast, so
    the same plan holds at 10^12 spans (where it runs as an SMJ / bucketed
    join on media_ref).
    """
    is_media, meta_cols = _media_meta_exprs()
    meta = ex.filter(is_media).select(*meta_cols)
    # Decode AT THE SCAN: payload bytes go scan-partition → Arrow UDF → gone;
    # only the decoded features (text-sized) enter the join shuffle (splits
    # sized by spark.sql.files.maxPartitionBytes keep the Arrow stage
    # parallel).  SHUFFLE_HASH with the tiny metadata rows as build side: a
    # sort-merge join would sort 10^6s of wide feature rows per partition —
    # measured 30% slower; broadcast caps at driver memory (10^12 spans);
    # payload-side SMJ shuffles every payload byte (3-5× slower at 32
    # threads).  media_ref is unique per blob so the build map stays small
    # and skew-free; AQE still re-splits a skewed partition if one appears.
    decoded = decode_blobs(blobs)
    med = meta.hint("SHUFFLE_HASH").join(decoded, "media_ref", "left")
    feats, mode, skip_reason, out_text, cols = _media_exprs()
    return (
        med.withColumn("feats", feats)
        .withColumn("mode", mode)
        .withColumn("skip_reason", skip_reason)
        .withColumn("out_text", out_text)
        .select(*cols)
    )


def build_spine(
    spark: SparkSession,
    spans: DataFrame,
    blobs: DataFrame,
) -> DataFrame:
    """Explode + branch + union: one row per input span with status/out_text.

    Media-branch parallelism is governed by the blobs scan split sizing
    (spark.sql.files.maxPartitionBytes) — the decode UDF sits ON the FileScan,
    so there is deliberately no separate repartition knob here (a shuffle
    before the decode would move payload bytes).
    """
    explode, flatten = _explode_exprs()
    ex = spans.select(*explode).select(*flatten)
    # Two scan passes over the spans table total: one for everything
    # row-local (text + bad-kind), one for the media span metadata feeding
    # the features join.  (A single-scan variant would have to push text
    # rows through the media_ref join shuffle — shuffling the whole text
    # corpus to save a columnar scan is the wrong trade at 10^12 docs.)
    return _row_local_branch(ex).unionByName(_media_branch(ex, blobs))


def run_extraction(
    spark: SparkSession,
    spans: DataFrame,
    blobs: DataFrame,
    run_id: str | None = None,
    persist: bool = False,
    salt_partials: int | None = None,
) -> ExtractionResult:
    """The single public entry: spans + blobs in, three output frames out.

    ``persist=False`` by default: executor-cache writes of the full decoded
    spine measurably serialize under high core counts (32-thread local bench:
    ~5× slowdown), and at real scale the right amortization for multi-output
    consumption is writing the spine ONCE to a checkpoint table and deriving
    spans_out/lineage/metrics from that (engine.io.materialize_run) — not
    caching it in executor memory.  Set persist=True only for small
    interactive runs that read all three outputs ad hoc.

    ``salt_partials``: explicit salt width for the re-nest aggregation, or
    None to read ``spark.extraction.saltPartials`` from the session conf
    (default 0 = unsalted) — the mega-document skew path is reachable by
    configuration, no code edit (see assemble.reassemble; equal output either
    way, test-asserted).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    if salt_partials is None:
        salt_partials = int(spark.conf.get(SALT_PARTIALS_CONF, "0"))
    spine = build_spine(spark, spans, blobs)
    spine, obs = observed(spine)
    if persist:
        spine = spine.persist(StorageLevel.MEMORY_AND_DISK)
    return ExtractionResult(
        spans_out=reassemble(spine, salt_partials=salt_partials),
        lineage=lineage_df(spine, run_id),
        metrics=metrics_df(spine, run_id),
        conf_hist=conf_histogram_df(spine, run_id),
        spine=spine,
        run_id=run_id,
        observation=obs,
        run_totals=run_totals_df(spine, run_id),
    )
