#!/usr/bin/env python
"""One scaling-run: extraction pipeline at a given parallelism, JSON to stdout.

Invoked by bench/scaling.py in a fresh process per parallelism level (Spark
master can't change within a JVM).  Timing excludes session startup, corpus
generation, and plan warm-up: it measures the extraction job only.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from engine.pipeline import run_extraction  # noqa: E402
from engine.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--warm-corpus",
        default=None,
        help="smaller corpus for the untimed warm-up run (python-worker spawn, "
        "numpy import, codegen/JIT warm on a fraction of the data instead of "
        "paying a full extra pass); defaults to --corpus",
    )
    ap.add_argument(
        "--receipts",
        action="store_true",
        help="emit single-core md5 burn walls before/after the timed runs — "
        "host-health receipts that let a reader attribute a slow wall to a "
        "hypervisor stall/throttle window instead of the engine",
    )
    ap.add_argument(
        "--tasktime",
        action="store_true",
        help="also report total executor task-time + GC time of the timed "
        "runs (parsed from an uncompressed event log): across parallelism "
        "levels this total is the work-invariance receipt — if it holds "
        "constant, the job adds no parallelism-induced overhead and wall "
        "scales as task-time/cores",
    )
    ap.add_argument(
        "--stage-dump",
        default=None,
        help="with --tasktime: also write a per-stage decomposition JSON "
        "(run time, GC, shuffle local/remote bytes, fetch wait, task count, "
        "stage name) to this path — localizes WHICH stages inflate between "
        "parallelism levels instead of reporting one aggregate",
    )
    ap.add_argument(
        "--job",
        choices=("extraction", "curation"),
        default="extraction",
        help="extraction: spans+media corpus through run_extraction (the "
        "north-rule pipeline).  curation: a documents table through the "
        "train_corpus_filtered flagship (quality/repetition/LSH-dedup/CC); "
        "--corpus must contain documents.parquet, --warm-corpus likewise",
    )
    ap.add_argument(
        "--arrow-batch",
        type=int,
        default=None,
        help="override arrow.maxRecordsPerBatch (raster corpora: ~120 KB/payload "
        "→ cap the batch so a task never pins hundreds of MB)",
    )
    args = ap.parse_args()

    extra = (
        {"spark.sql.execution.arrow.maxRecordsPerBatch": str(args.arrow_batch)}
        if args.arrow_batch
        else None
    )
    import os
    import tempfile

    os.environ.setdefault("SPARK_GRAFT_PIN_HEAP", "1")  # steady-state bench heap
    ev_dir = None
    if args.tasktime:
        ev_dir = tempfile.mkdtemp(prefix="scale-evlog-")
        extra = dict(extra or {})
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{ev_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        f"scale-{args.cores}",
        cores=args.cores,
        extra_conf=extra,
    )
    if args.job == "curation":
        import shutil as _shutil

        import engine.trainops as T

        ckpt = tempfile.mkdtemp(prefix=f"curation-ckpt-{args.cores}-")
        spark.conf.set(T.CHECKPOINT_DIR_CONF, ckpt)
        n_docs = spark.read.parquet(f"{args.corpus}/documents.parquet").count()
        # untimed warm-up on the (smaller) warm corpus: python workers,
        # codegen, checkpoint-dir FS init
        T.train_corpus_filtered(
            spark, args.warm_corpus or args.corpus
        ).write.format("noop").mode("overwrite").save()

        def timed_run() -> None:
            T.train_corpus_filtered(spark, args.corpus).write.format(
                "noop"
            ).mode("overwrite").save()

        cleanup = lambda: _shutil.rmtree(ckpt, ignore_errors=True)  # noqa: E731
    else:
        spans = spark.read.parquet(f"{args.corpus}/spans")
        blobs = spark.read.parquet(f"{args.corpus}/media_blobs")
        n_docs = spans.count()
        # Full untimed warm-up run: a bare count() warms only the spans scan —
        # the first extraction still pays Python worker spawn + numpy import +
        # codegen/JIT of the decode path, which dominates a SHORT job at high
        # core counts and fakes sub-linear scaling (measured: bitmap local[8]
        # 49.7 s cold-per-process vs 17.1 s with a warm first run).
        wspans, wblobs = spans, blobs
        if args.warm_corpus:
            wspans = spark.read.parquet(f"{args.warm_corpus}/spans")
            wblobs = spark.read.parquet(f"{args.warm_corpus}/media_blobs")
        warm = run_extraction(spark, wspans, wblobs, run_id=f"warm-{args.cores}")
        warm.spans_out.write.format("noop").mode("overwrite").save()

        def timed_run() -> None:
            res = run_extraction(spark, spans, blobs, run_id=f"scale-{args.cores}")
            row = res.spans_out.agg(
                F.count("*").alias("docs"), F.sum(F.size("spans_out")).alias("spans")
            ).collect()[0]
            assert row["docs"] == n_docs

        cleanup = lambda: None  # noqa: E731

    def _burn() -> float:
        import hashlib

        t0 = time.time()
        h = b"x" * 64
        for _ in range(2_000_000):
            h = hashlib.md5(h).digest()
        return round(time.time() - t0, 2)

    burn_before = _burn() if args.receipts else None
    timed_from_ms = int(time.time() * 1000)
    best = None
    for _ in range(args.runs):
        t0 = time.time()
        timed_run()
        dt = time.time() - t0
        if best is None or dt < best:
            best = dt
    cleanup()
    rec = {
        "cores": args.cores,
        "docs": n_docs,
        "seconds": round(best, 2),
        "docs_per_sec": round(n_docs / best, 1),
    }
    if args.receipts:
        rec["burn_before_s"] = burn_before
        rec["burn_after_s"] = _burn()
    if ev_dir:
        spark.stop()  # flush the event log
        task_s = gc_s = 0.0
        stages: dict[int, dict] = {}
        stage_names: dict[int, str] = {}
        import glob

        # Spark 4 writes rolling event logs as a DIRECTORY per app
        for path in glob.glob(f"{ev_dir}/**/*", recursive=True):
            if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
                continue
            with open(path, errors="ignore") as fh:
                for line in fh:
                    if '"SparkListenerStageCompleted"' in line:
                        e = json.loads(line)
                        si = e.get("Stage Info") or {}
                        stage_names[si.get("Stage ID", -1)] = si.get("Stage Name", "")
                        continue
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    e = json.loads(line)
                    info = e.get("Task Info") or {}
                    if info.get("Launch Time", 0) < timed_from_ms:
                        continue  # warm-up / setup tasks
                    m = e.get("Task Metrics") or {}
                    task_s += m.get("Executor Run Time", 0) / 1000
                    gc_s += m.get("JVM GC Time", 0) / 1000
                    if args.stage_dump:
                        sid = e.get("Stage ID", -1)
                        s = stages.setdefault(
                            sid,
                            {"run_s": 0.0, "gc_s": 0.0, "tasks": 0,
                             "sh_local_mb": 0.0, "sh_remote_mb": 0.0,
                             "fetch_wait_s": 0.0, "write_s": 0.0,
                             "deser_s": 0.0},
                        )
                        s["run_s"] += m.get("Executor Run Time", 0) / 1000
                        s["gc_s"] += m.get("JVM GC Time", 0) / 1000
                        s["deser_s"] += m.get("Executor Deserialize Time", 0) / 1000
                        s["tasks"] += 1
                        sr = m.get("Shuffle Read Metrics") or {}
                        s["sh_local_mb"] += sr.get("Local Bytes Read", 0) / 1e6
                        s["sh_remote_mb"] += sr.get("Remote Bytes Read", 0) / 1e6
                        s["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000
                        sw = m.get("Shuffle Write Metrics") or {}
                        s["write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        # args.runs timed runs executed after timed_from_ms → per-run average
        rec["task_time_s"] = round(task_s / max(args.runs, 1), 1)
        rec["gc_time_s"] = round(gc_s / max(args.runs, 1), 1)
        if args.stage_dump:
            for sid, s in stages.items():
                s["name"] = stage_names.get(sid, "")[:120]
                for k in list(s):
                    if isinstance(s[k], float):
                        s[k] = round(s[k], 2)
            with open(args.stage_dump, "w") as fh:
                json.dump(
                    {"cores": args.cores, "runs": args.runs, "stages": stages},
                    fh, indent=1, sort_keys=True,
                )
        import shutil

        shutil.rmtree(ev_dir, ignore_errors=True)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
