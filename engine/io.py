"""Sinks, checkpointing and resume (S4/S5/S7, X4/X5 — SURVEY.md §2.1, §2.9).

The reference spills per-PDF interim JSON so blobs never ride the broker and a
crashed batch can restart from files (/root/reference/app/tasks.py:444-466,
548-549), relies on Celery acks_late redelivery for worker death
(tasks.py:534-540), and expires results after 72 h (tasks.py:306-327).  Here:

- ``materialize_run``: write the span spine ONCE (the \"interim\" checkpoint),
  then derive spans_out / lineage / metrics / conf_hist / run_totals from the
  written copy — one pass over the expensive branches regardless of how many
  outputs are read.  Derivation is INCREMENTAL: each run's outputs come from
  that run's spine only and land in per-run output directories, mirroring the
  reference's per-PDF interim files (tasks.py:444-466) — an incremental run
  costs O(new docs), not O(total history).  On a cluster each directory tree
  is an Iceberg table (``writeTo(...).append()``), snapshot expiry replaces
  the retention job, and MERGE replaces the heal step (ICEBERG.md); local
  parquet keeps the layout identical.
- Resume: each run's spine lands in its own ``spine/run=<id>`` directory and
  only directories carrying a ``_SUCCESS`` commit marker are trusted — a spine
  left half-visible by a crash mid-commit (non-atomic object-store rename,
  speculative leftovers) is ignored entirely, so a document can never be
  treated as done with only some of its spans checkpointed.  Restart then
  anti-joins the committed doc_ids so only unfinished documents re-run
  (replaces acks_late redelivery with data-level idempotence; on Iceberg the
  marker is the snapshot commit itself).
- Crash AFTER the spine commit but BEFORE some derived output committed: the
  spine stays the source of truth — the next materialize_run re-derives the
  missing output directories from that run's spine (self-healing), never from
  the whole history.
- One writer: ``write_outputs`` writes the derived frames of a run (batch) or
  micro-batch (engine.streaming, which writes its spine with it too)
  concurrently and checks every commit marker; the bucketed and plain batch
  spine writes go through the same marker check.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from engine.pipeline import OUTPUT_NAMES, build_spine, derive_outputs


def spine_path(out_dir: str) -> str:
    return os.path.join(out_dir, "spine")


def _is_committed(path: str) -> bool:
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def _run_subdir(out_dir: str, table: str, run_id: str) -> str:
    return os.path.join(out_dir, table, f"run={run_id}")


def _require_committed(path: str) -> None:
    """Raise unless the write to ``path`` left its _SUCCESS commit marker.

    Resume trusts only marked directories: without markers every spine would
    read as uncommitted and every derived output as missing, so each run
    would silently re-derive the whole history."""
    if not _is_committed(path):
        raise RuntimeError(
            f"write to {path} produced no _SUCCESS marker — resume requires "
            "commit markers; do not disable "
            "mapreduce.fileoutputcommitter.marksuccessfuljobs"
        )


def write_outputs(frames: dict[str, DataFrame], out_dir: str, part: str) -> None:
    """Write each frame to ``out_dir/<name>/<part>`` (mode overwrite, so a
    replayed run or micro-batch replaces its own directory) and require its
    commit marker.

    The writes are independent jobs, each submitted from its own driver
    thread: at run or micro-batch scale each is a small job whose floor is
    submission plus parquet commit, and overlapping those is the standard
    Spark concurrent-jobs idiom (BENCH/ab_stream_r5.json: 1.11× median
    stream wall).  Threads only submit; executors share the same cores.
    Every future is read after all writes have finished, so the first
    failure is raised with no write still running."""
    session = next(iter(frames.values())).sparkSession

    def write(name: str) -> None:
        path = os.path.join(out_dir, name, part)
        frames[name].write.mode("overwrite").parquet(path)
        _require_committed(path)

    # Wrapped once per write, so each inherits the caller's job group and
    # local properties: the wrapper captures one copy of the properties, and
    # concurrent SQL executions must not share it.
    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(session)(write), name)
            for name in frames
        ]
    for f in futures:
        f.result()


def committed_spine_dirs(out_dir: str) -> list[str]:
    """Spine run-directories that finished their write — i.e. carry the
    file-committer's _SUCCESS marker.  Partially-visible output (crash during
    job commit) has no marker and is never trusted by resume."""
    spath = spine_path(out_dir)
    if not os.path.isdir(spath):
        return []
    return sorted(
        os.path.join(spath, d)
        for d in os.listdir(spath)
        if _is_committed(os.path.join(spath, d))
    )


def expire_runs(base_dir: str, keep_hours: float = 72.0) -> list[str]:
    """S7 retention: delete run directories older than the TTL (the reference
    expires results after 72 h — app/config.py:33, app/tasks.py:306-327;
    on Iceberg this is expire_snapshots).

    A materialize_run run spans SIX ``run=<id>`` directories (spine + the
    five derived outputs) whose mtimes differ — healing rewrites outputs
    later.  Expiry is therefore keyed off the SPINE dir's age (the source of
    truth) and removes the run_id atomically across all six trees, so direct
    readers of ``out_dir/<table>`` and materialize_run's committed-spine
    union never diverge.  A ``base_dir`` without a ``spine/`` subtree is
    treated as a flat collection of run directories (each expired by its own
    mtime) — the layout of ad-hoc checkpoint dirs."""
    import shutil
    import time

    removed = []
    cutoff = time.time() - keep_hours * 3600
    if not os.path.isdir(base_dir):
        return removed
    spath = spine_path(base_dir)
    if os.path.isdir(spath):
        for name in sorted(os.listdir(spath)):
            sdir = os.path.join(spath, name)
            if not (os.path.isdir(sdir) and os.path.getmtime(sdir) < cutoff):
                continue
            for table in ("spine",) + OUTPUT_NAMES:
                path = os.path.join(base_dir, table, name)
                if os.path.isdir(path):
                    shutil.rmtree(path)
                    removed.append(path)
        return removed
    for name in sorted(os.listdir(base_dir)):
        path = os.path.join(base_dir, name)
        if os.path.isdir(path) and os.path.getmtime(path) < cutoff:
            shutil.rmtree(path)
            removed.append(path)
    return removed


def spine_table_name(run_id: str) -> str:
    """Catalog identifier for a bucketed spine run (bucketBy requires
    saveAsTable; the parquet files still land in the run directory via the
    path option, so resume's directory/_SUCCESS discipline is unchanged).
    The raw run_id's hash is appended because sanitization alone would
    collapse distinct ids ('r-1' vs 'r.1') onto one catalog entry — the
    second write would silently replace the first run's bucketed-read
    path."""
    import hashlib
    import re

    return (
        "spine_run_"
        + re.sub(r"[^A-Za-z0-9_]", "_", run_id)
        + "_"
        + hashlib.md5(run_id.encode()).hexdigest()[:8]
    )


def _read_spine(
    spark: SparkSession, sdir: str, run_id: str, bucketed: bool
) -> DataFrame:
    """This run's spine for derivation.  Bucketed mode reads through the
    catalog so the scan carries HashPartitioning(doc_id) into the derived
    plans; if the table isn't in this session's catalog (healing an older
    run in a fresh session — the in-memory catalog died with the session
    that wrote it), fall back to the plain parquet read: identical rows,
    the re-nest just pays its exchange again.  In production the catalog is
    persistent (Iceberg/HMS) and the fallback never fires."""
    if bucketed:
        try:
            t = spark.table(spine_table_name(run_id))
            # same run_id can exist under another out_dir (tests, replays):
            # only trust the catalog entry if it actually points at THIS
            # run directory
            marker = os.path.abspath(sdir)
            if any(marker in f for f in t.inputFiles()):
                return t
        except Exception:
            pass
    # schema-explicit: a committed EMPTY bucketed run has _SUCCESS but no
    # schema-bearing part file, so inference would fail on it
    from engine.schema import SPINE_DDL

    return spark.read.schema(SPINE_DDL).parquet(sdir)


def materialize_run(
    spark: SparkSession,
    spans: DataFrame,
    blobs: DataFrame,
    out_dir: str,
    run_id: str,
    resume: bool = True,
    bucket_spine: int | None = None,
) -> dict[str, DataFrame]:
    """Run the pipeline with a durable spine checkpoint; returns the output
    frames read back from disk (cheap narrow scans, re-runnable).

    Each invocation writes ``spine/run=<run_id>`` with mode=overwrite: a retry
    of the SAME run_id replaces its own partial output instead of appending
    duplicates, and resume only ever reads _SUCCESS-committed run dirs.
    The run's OWN directory is excluded from the resume anti-join — otherwise
    a redelivered run_id would see its previous (possibly complete) output,
    anti-join every doc away, and overwrite the committed spine with an empty
    one (the exact at-least-once redelivery this function exists to make
    idempotent).

    Derived outputs are per-run: this run's spans_out/lineage/metrics/
    conf_hist/run_totals are computed from THIS run's spine and written under
    ``<table>/run=<run_id>``; earlier runs' committed outputs are reused
    as-is (re-derived from their spine only if a previous crash left them
    missing).  The returned frames are the union over all committed runs.

    ``bucket_spine=N`` writes the spine CLUSTERED BY doc_id INTO N buckets
    (Spark-native bucketing; the executable analogue of the Iceberg
    ``bucket(doc_id)`` spine DDL in ICEBERG.md): every derived consumer
    that groups by doc_id — reassemble's re-nest, the ONLY full-text
    exchange left in the engine — then reads pre-clustered storage and
    runs with ZERO shuffle (plan-asserted in tests/test_io_resume.py).
    Size N to the corpus, not the cluster: at 10^12 docs pick N so one
    bucket ≈ one task's worth of spans; N must stay fixed across runs so
    cross-run unions stay co-clustered."""
    own = _run_subdir(out_dir, "spine", run_id)
    committed = (
        [d for d in committed_spine_dirs(out_dir) if d != own] if resume else []
    )
    todo = spans
    if committed:
        from engine.schema import SPINE_DDL

        # schema-explicit for the same reason as _read_spine: an empty
        # committed bucketed run carries no schema-bearing part file
        done = (
            spark.read.schema(SPINE_DDL)
            .parquet(*committed)
            .select("doc_id")
            .distinct()
        )
        todo = spans.join(done, "doc_id", "left_anti")
    spine_df = build_spine(spark, todo, blobs)
    if bucket_spine:
        (
            spine_df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(bucket_spine, "doc_id")
            .option("path", own)
            .saveAsTable(spine_table_name(run_id))
        )
    else:
        spine_df.write.mode("overwrite").parquet(own)
    _require_committed(own)

    # Derive THIS run's outputs from THIS run's spine only (O(new docs));
    # heal any older run whose derived outputs went missing after its spine
    # committed (crash between spine commit and output commit).
    all_spines = committed_spine_dirs(out_dir)
    out_dirs: dict[str, list[str]] = {name: [] for name in OUTPUT_NAMES}
    for sdir in all_spines:
        rid = os.path.basename(sdir).split("=", 1)[1]
        missing = [
            name
            for name in OUTPUT_NAMES
            if sdir == own or not _is_committed(_run_subdir(out_dir, name, rid))
        ]
        if missing:
            derived = derive_outputs(
                _read_spine(spark, sdir, rid, bool(bucket_spine)), rid
            )
            write_outputs({n: derived[n] for n in missing}, out_dir, f"run={rid}")
        for name in OUTPUT_NAMES:
            out_dirs[name].append(_run_subdir(out_dir, name, rid))
    return {
        name: spark.read.parquet(*dirs) for name, dirs in out_dirs.items()
    }
