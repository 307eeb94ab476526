"""Structured Streaming execution of the same pipeline (SURVEY.md §2.9).

The reference's "streaming" is a producer/consumer page stream with a sliding
inference window and out-of-order completion (X1/X2 —
/root/reference/app/core/document/pdf_processor.py:1208-1258,
janzour_processor.py:233-309).  In Spark the same dataflow runs unchanged as a
micro-batched stream: ``readStream`` on the spans source, the identical
branch/route/strip transforms, and a ``foreachBatch`` sink that re-nests and
appends per micro-batch.  Ordering remains a property of the data (offset), so
late or out-of-order arrival of whole documents is absorbed exactly as in
batch; per-batch lineage/metrics appends give the progress stream (X8).

Batch/stream share one code path: foreachBatch calls the batch path's
``build_spine`` and ``derive_outputs``, and writes through its
``io.write_outputs`` with the same commit-marker checks — no logic is
duplicated for the streaming case.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from engine.io import write_outputs
from engine.pipeline import build_spine, derive_outputs
from engine.schema import SPAN_STRUCT, SPANS_SCHEMA


FLAT_SPAN_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
        StructField("n_spans", IntegerType(), False),  # total spans of the doc
    ]
)

ASSEMBLED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans_out", ArrayType(SPAN_STRUCT), False),
        StructField("complete", BooleanType(), False),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n_expected", IntegerType(), False),
        StructField("kinds", ArrayType(StringType()), False),
        StructField("texts", ArrayType(StringType()), False),
        StructField("refs", ArrayType(StringType()), False),
        StructField("offsets", ArrayType(IntegerType()), False),
    ]
)


def stateful_assembler(
    flat_stream: DataFrame, timeout_ms: int = 60_000
) -> DataFrame:
    """Custom stateful operator (X1/X2's true streaming form): assemble each
    document from an UNORDERED stream of individual span rows that may span
    many micro-batches.

    applyInPandasWithState keeps per-doc partial state (the spans seen so
    far); when all ``n_spans`` have arrived the doc is emitted offset-sorted
    and the state dropped.  A processing-time timeout flushes stragglers as
    ``complete=false`` partials — the reference analogue is the buffered
    sliding-window collector + skipped-page accounting
    (/root/reference/app/core/document/pdf_processor.py:1208-1258,
    app/tasks.py:574-595): completion is detected by count, order restored
    from offsets, nothing waits forever.
    """
    import pandas as pd

    def assemble(key, pdf_iter, state):
        doc_id = key[0]
        if state.hasTimedOut:
            (n, kinds, texts, refs, offsets) = state.get
            state.remove()
            spans = sorted(
                zip(kinds, texts, refs, offsets), key=lambda t: t[3]
            )
            yield pd.DataFrame(
                {"doc_id": [doc_id], "spans_out": [spans], "complete": [False]}
            )
            return
        if state.exists:
            n, kinds, texts, refs, offsets = state.get
            kinds, texts, refs, offsets = list(kinds), list(texts), list(refs), list(offsets)
        else:
            n, kinds, texts, refs, offsets = None, [], [], [], []
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            # column-wise appends (no per-row Python iteration in the hot loop)
            n = int(pdf["n_spans"].iloc[-1])
            kinds.extend(pdf["kind"].tolist())
            texts.extend(pdf["text"].where(pd.notna(pdf["text"]), None).tolist())
            refs.extend(
                pdf["media_ref"].where(pd.notna(pdf["media_ref"]), None).tolist()
            )
            offsets.extend(int(o) for o in pdf["offset"].tolist())
        if n is not None and len(offsets) >= n:
            state.remove()
            spans = sorted(zip(kinds, texts, refs, offsets), key=lambda t: t[3])
            yield pd.DataFrame(
                {"doc_id": [doc_id], "spans_out": [spans], "complete": [True]}
            )
        else:
            state.update((n or 0, kinds, texts, refs, offsets))
            state.setTimeoutDuration(timeout_ms)

    return flat_stream.groupBy("doc_id").applyInPandasWithState(
        assemble,
        outputStructType=ASSEMBLED_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="ProcessingTimeTimeout",
    )


def windowed_event_metrics(
    events_stream: DataFrame,
    window_duration: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time windowed aggregation — the late-data-tolerant
    metrics stream (the reference's progress events, S6/X8, carry no event
    time; this is the Spark-native upgrade: counts/sums per (event-time
    window, event_type), with the watermark bounding state for late rows)."""
    from pyspark.sql import functions as F

    # watermarks require TIMESTAMP (tz-aware); testdata carries TIMESTAMP_NTZ
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "value_cents",
        )
    )


def stream_dedup_exact(
    doc_stream: DataFrame, watermark: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Streaming form of trainops.dedup_exact: keep the first-arriving doc per
    content fingerprint, dropping later exact duplicates that arrive within
    the watermark horizon of the first.

    The batch operator groups the whole corpus by ``md5(text)``; its streaming
    analogue cannot hold every fingerprint ever seen (state would grow without
    bound — the thing that kills a continuous 100 TB ingest).  Spark's
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    event-time watermark passes the first arrival, so state is bounded by
    (ingest rate × watermark) regardless of total stream length.  The trade is
    explicit and standard for streaming ingest dedup: an exact duplicate
    arriving later than the watermark horizon is re-admitted (downstream
    nightly batch dedup_exact catches those — this operator is the
    high-frequency front line, not the only line).
    """
    from pyspark.sql import functions as F

    return (
        doc_stream.withColumn("fp", F.md5("text"))  # same fp as dedup_exact
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def stream_dedup_media(
    blob_feats_stream: DataFrame, watermark: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Streaming front line of trainops.media_dedup_features: keep the
    first-arriving ref per CONTENT signature (trainops.feature_signature_col
    over decoded PAGE_FEATURES), dropping byte-distinct re-scans of the same
    page — fresh speckle, rotated passes — that arrive within the watermark
    horizon.  Same bounded-state design as stream_dedup_exact
    (dropDuplicatesWithinWatermark: state ~ ingest rate × watermark, never
    corpus size), and the same division of labor: late re-scans past the
    horizon are re-admitted and caught by the nightly batch
    media_dedup_features pass.  Input is decode_blobs output with an
    event-time column carried through (decode_blobs(..., carry=(ts_col,)))
    — decode sits on the ingest scan, so only tiny feature rows enter the
    dedup state store."""
    from pyspark.sql import functions as F

    from engine.trainops import feature_signature_col

    return (
        blob_feats_stream.withColumn("fp", feature_signature_col())
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def stream_curate(
    doc_stream: DataFrame, watermark: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """The ingest-time curation front: the ROW-LOCAL subset of
    trainops.curation_outcomes applied to a document stream, then
    bounded-state exact dedup.

    Division of labor with the nightly batch chain (the same split as the
    dedup fronts): quality window and Gopher repetition flag are row-local
    Column expressions — trainops.pre_reason_col, shared verbatim with
    the batch chain so a doc gets the SAME verdict at ingest as it would
    overnight — so they run inside the stream's scan with no state at all;
    exact duplicates are dropped within the watermark horizon
    (dropDuplicatesWithinWatermark, state ~ rate × watermark); the
    cross-doc stages that need global state (LSH clusters, connected
    components, keep-min election) stay in the nightly batch
    train_corpus_filtered pass, which also re-admits anything a watermark
    horizon let through.  Output: the surviving (curated-front) docs."""
    from pyspark.sql import functions as F

    from engine.trainops import pre_reason_col

    labeled = doc_stream.withColumn("pre_reason", pre_reason_col())
    kept = labeled.filter(F.col("pre_reason").isNull()).drop("pre_reason")
    return stream_dedup_exact(kept, watermark=watermark, ts_col=ts_col)


def stream_quality_model(doc_stream: DataFrame, threshold: int = 0) -> DataFrame:
    """The model-based quality filter on the ingest path: scores are the
    same INTEGER-exact hashing-trick expression as the batch
    trainops.quality_model_score (row-local — the closed form runs inside
    the stream's scan with no state and no stream-static join), so a doc
    gets the identical score and verdict at ingest as overnight.  A
    LEARNED weight table deploys on this path as a stream-static broadcast
    join against quality_model_weights — same seam as the batch join form
    (BENCH/ab_model_weights_r5.json), left out here because the closed
    form is the measured default.  Emits the scored stream with `kept`;
    filter or route on it downstream."""
    from pyspark.sql import functions as F

    from engine.trainops import quality_model_score

    scored = quality_model_score(doc_stream).drop("kept")
    return scored.withColumn("kept", F.col("score_sum") > threshold)


def stream_lm_perplexity(doc_stream: DataFrame, weight_maps: DataFrame) -> DataFrame:
    """The CCNet LM perplexity filter on the ingest path: the reference
    model is fit BATCH-side (trainops.lm_weight_maps — nightly, from the
    curated corpus) and enters the stream as a one-row static broadcast of
    two lookup maps; per-doc cost is then a row-local array aggregate
    (trainops.lm_perplexity_maps), so the stream stays STATELESS — the
    join form's per-doc sum would be a stateful streaming aggregation.
    Same integer costs and buckets as the batch scorer, doc-for-doc
    (differential + micro-batch tests)."""
    from engine.trainops import lm_perplexity_maps

    return lm_perplexity_maps(doc_stream, weight_maps)


def stream_extraction(
    spark: SparkSession,
    spans_source_dir: str,
    blobs: DataFrame,
    out_dir: str,
    run_id: str,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """File-source streaming run: each micro-batch of spans parquet files is
    extracted and appended to spans_out/lineage/metrics parquet sinks.

    ``available_now=True`` drains the existing backlog then stops — the
    bounded-stream mode used by tests and checkpointed backfills; with
    ``False`` the query keeps tailing the directory.
    """
    stream = (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(spans_source_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        """Idempotent per-batch sink: each micro-batch OVERWRITES its own
        batch=N subdirectory, so a batch replayed after a crash (foreachBatch
        is at-least-once) lands on the same path instead of appending
        duplicates — file-sink exactly-once semantics without a transaction
        log (on a cluster this is an Iceberg overwrite-by-filter).

        The spine is written ONCE per batch and the derived outputs re-read
        it from parquet — the same amortization as io.materialize_run.
        Deriving all four outputs straight off the build_spine frame re-runs
        the whole decode per sink (4×/batch; the r5 streaming bench measured
        39.5 → 20.6 s for an 8-micro-batch drain from this change alone, and
        a single-batch drain lands within 1.9× of pure batch while writing
        five output trees instead of one — PLANS.md §4i), and it also gives
        the stream the same durable interim checkpoint (S4) the batch path
        has.  run_totals is not written here: one row per micro-batch would
        break its one-row-per-run contract."""
        session = batch_df.sparkSession
        part = f"batch={batch_id}"
        write_outputs({"spine": build_spine(session, batch_df, blobs)}, out_dir, part)
        spine = session.read.parquet(os.path.join(out_dir, "spine", part))
        outputs = derive_outputs(spine, run_id)
        del outputs["run_totals"]
        write_outputs(outputs, out_dir, part)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
