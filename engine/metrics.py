"""Lineage & metrics (S6/A3/A4/A6/X4 — SURVEY.md §2.1, §2.5, FIXTURES.md §5).

The reference accounts for every page — skipped pages are yielded inline and
re-joined so `prepared + skipped == total` (/root/reference/app/core/document/
pdf_processor.py:1293-1311, app/tasks.py:495-503) — and publishes progress over
Redis pub/sub (notifications.py:19-29).  Here:

- lineage: one row PER INPUT SPAN with a status — queryable partial progress,
  the invariant `count(lineage) == sum(size(spans))` is test-asserted;
- metrics: per-partition rollup + OCR-confidence histogram (A6) in one pass
  (grouping by (partition, conf_bucket) then summing gives both tables from a
  single shuffle at real scale; we keep two small aggs for clarity since both
  read the same cached spine);
- observe(): named accumulators on the output DataFrame so a driver/listener
  can read counts without a second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from engine.session import per_session


def _count_status(status: str):
    return F.sum(F.when(F.col("status") == status, 1).otherwise(0))


def _run_id(run_id: str):
    # outside the cached factories: one cache entry per run id would grow
    # without bound in a long-lived (streaming) session
    return F.lit(run_id).alias("run_id")


@per_session
def _lineage_exprs() -> tuple:
    """The columns after run_id and partition_id of :func:`lineage_df`."""
    return (
        F.col("doc_id"),
        F.col("offset"),
        F.when(F.col("status") == "skipped", F.concat(F.lit("skipped_"), F.col("reason")))
        .otherwise(F.col("status"))
        .alias("status"),
        F.col("reason"),
    )


def lineage_df(spine: DataFrame, run_id: str) -> DataFrame:
    return spine.select(
        _run_id(run_id), F.spark_partition_id().alias("partition_id"), *_lineage_exprs()
    )


@per_session
def _metrics_exprs() -> tuple:
    """(aggregates, output columns after run_id) of :func:`metrics_df`."""
    return (
        (
            F.countDistinct("doc_id").alias("docs_processed"),
            _count_status("kept").alias("spans_kept"),
            F.sum(F.when(F.col("status") != "kept", 1).otherwise(0)).alias("spans_dropped"),
            _count_status("error").alias("errors"),
        ),
        tuple(
            F.col(c)
            for c in ("partition_id", "docs_processed", "spans_kept", "spans_dropped", "errors")
        ),
    )


def metrics_df(spine: DataFrame, run_id: str) -> DataFrame:
    """Per-partition ADDITIVE counters, keyed by partition_id only.

    Keyed this way deliberately: a document whose spans carry several distinct
    conf values would be counted once per (partition, bucket) row if the
    histogram shared this aggregation, silently overcounting docs_processed in
    any rollup.  The confidence histogram lives in conf_histogram_df instead.
    docs_processed is distinct-per-partition (a doc whose spans straddle two
    spine partitions appears in both rows — per-partition progress semantics,
    same as the reference's per-batch counters)."""
    aggs, out = _metrics_exprs()
    base = spine.select(
        F.spark_partition_id().alias("partition_id"), F.col("doc_id"), F.col("status")
    )
    return base.groupBy("partition_id").agg(*aggs).select(_run_id(run_id), *out)


@per_session
def _run_totals_exprs() -> tuple:
    return (
        F.countDistinct("doc_id").alias("docs_total"),
        F.count(F.lit(1)).alias("spans_total"),
        _count_status("kept").alias("spans_kept"),
        _count_status("error").alias("errors"),
    )


def run_totals_df(spine: DataFrame, run_id: str) -> DataFrame:
    """ONE row per run with the exact distinct document count.

    Companion to :func:`metrics_df`: `docs_processed` there is
    distinct-PER-PARTITION (a doc whose spans straddle partitions appears in
    several rows), so summing it across partitions overcounts documents.
    Consumers that want "how many documents did this run process" read this
    table; the per-partition rows remain the progress/skew view."""
    return spine.agg(_run_id(run_id), *_run_totals_exprs())


@per_session
def _conf_histogram_exprs() -> tuple:
    """(filter, bucket, aggregate, output columns after run_id) of
    :func:`conf_histogram_df`."""
    return (
        F.col("conf").isNotNull(),
        F.least(F.floor(F.col("conf") * 10).cast("int"), F.lit(9)).alias("conf_bucket"),
        F.count("*").alias("conf_count"),
        (F.col("partition_id"), F.col("conf_bucket"), F.col("conf_count")),
    )


def conf_histogram_df(spine: DataFrame, run_id: str) -> DataFrame:
    """A6 — OCR-confidence histogram (bucket = min(floor(conf*10), 9)),
    keyed by (partition_id, conf_bucket); spans without a confidence
    (text branch) are excluded."""
    has_conf, bucket, count, out = _conf_histogram_exprs()
    return (
        spine.filter(has_conf)
        .select(F.spark_partition_id().alias("partition_id"), bucket)
        .groupBy("partition_id", "conf_bucket")
        .agg(count)
        .select(_run_id(run_id), *out)
    )


@per_session
def _observed_exprs() -> tuple:
    return (
        F.count(F.lit(1)).alias("spans_total"),
        _count_status("kept").alias("spans_kept"),
        _count_status("error").alias("errors"),
    )


def observed(df: DataFrame, name: str = "extraction") -> tuple[DataFrame, Observation]:
    """Attach observe() metrics to the spine — free counts at action time."""
    obs = Observation(name)
    return df.observe(obs, *_observed_exprs()), obs
