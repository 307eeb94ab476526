#!/usr/bin/env python
"""Headline benchmark — prints ONE JSON line the driver records as BENCH_r{N}.json.

Runs (a) representative relational/training-data queries over
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and (b) the extraction
pipeline end-to-end over a deterministic synthetic spans corpus sized to the
scale factor, with a correctness spot-check against the pure-Python oracle so
the bench never measures a broken pipeline (BASELINE.md §3.5).

Env knobs:
  SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism (default: local[*], all host cores)
  SPARK_GRAFT_BENCH_DOCS  extraction corpus size override
  SPARK_GRAFT_BENCH_REPEATS  best-of-N repeats per timed unit (default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

# best-of-N repeats; the minimum is the engine truth under this VM's bimodal
# hypervisor stalls (see headline loop comment)
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _host_burn(n: int = 6_000_000) -> float:
    """Single-core md5 burn — a pure-CPU host-speed receipt embedded in the
    bench JSON so cross-round comparisons can be normalized for host state
    (BENCH/BASELINE.md documents identical engine runs degrading ~2x while
    this number tracked the degradation)."""
    import hashlib

    h = b"x" * 64
    t0 = time.time()
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return round(time.time() - t0, 2)

import engine.entry  # noqa: E402,F401  (registers queries)
import engine.multimodal  # noqa: E402,F401
import engine.trainops  # noqa: E402,F401
from engine import fixtures  # noqa: E402
from engine.pipeline import run_extraction  # noqa: E402
from engine.relational import registry  # noqa: E402
from engine.session import get_spark  # noqa: E402

HEADLINE = [
    "a1_hash_agg_pricing",
    "x_table_parse_service",
    "dedup_embedding_cosine",
    "j1_join_broadcast_dims",
    "w1_lag_dedup",
    "a6_value_histogram",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_cosine_topk",
    "text_tokens_bpe",
    "x_text_branch_extraction",
    # added r5 (new corpus-curation flagship): headline totals are not
    # comparable to r4 and earlier — compare per-query (PLANS.md §4j)
    "train_corpus_filtered",
    # added end-r5 (interleaved curation capstone — decode + verdict chain
    # + strip; COVERAGE.md carries its cost decomposition): totals again
    # not comparable to earlier rounds, compare per-query
    "x_curate_interleaved_spans",
    # added end-r5 (DSIR data selection — fit + broadcast-table score +
    # Gumbel-top-k); totals not comparable, compare per-query
    "text_dsir_select",
]

# Leaves added in r5; every other leaf has been timed the same way since r4,
# so comparable_subtotal (the total without these) compares across rounds.
ADDED_R5 = ("train_corpus_filtered", "x_curate_interleaved_spans", "text_dsir_select")

BENCH_SEED = 1234


def _compiles(spark) -> int:
    """Classes compiled by whole-stage/expression codegen so far in this JVM
    (Spark's CodegenMetrics); read outside every timed region."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def corpus_dir(n_docs: int) -> str:
    """Deterministic corpus cached across runs (generation excluded from timing)."""
    d = REPO / ".bench_cache" / f"corpus-v{fixtures.FIXTURE_VERSION}-{BENCH_SEED}-{n_docs}"
    if not (d / "spans").exists():
        fixtures.write_corpus(str(d), n_docs, seed=BENCH_SEED, docs_per_file=1000)
    return str(d)


def spot_check(spans_rows, blob_rows, got_rows) -> None:
    """Golden equality on the sampled subset — bench must not measure a broken pipeline."""
    from tests.oracle import golden_for_corpus

    want = golden_for_corpus(spans_rows, blob_rows)
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans_out"]]
        for r in got_rows
    }
    for doc_id, expected in want.items():
        # explicit raise (python -O strips asserts — see bitmap check below)
        if got.get(doc_id) != expected:
            raise RuntimeError(f"bench correctness check failed for {doc_id}")


def run_extraction_bench(spark, n_docs: int) -> dict:
    cdir = corpus_dir(n_docs)
    spans = spark.read.parquet(f"{cdir}/spans")
    blobs = spark.read.parquet(f"{cdir}/media_blobs")
    elapsed, out_spans, compiles = None, None, 0
    for _ in range(REPEATS):  # best-of-N (see headline loop)
        c0 = _compiles(spark)
        t0 = time.time()
        res = run_extraction(spark, spans, blobs, run_id="bench")
        out_spans = res.spans_out.agg(
            F.count("*").alias("docs"), F.sum(F.size("spans_out")).alias("spans")
        ).collect()[0]
        dt = time.time() - t0
        compiles += _compiles(spark) - c0
        elapsed = dt if elapsed is None or dt < elapsed else elapsed
    # correctness spot-check on a 20-doc regenerated sample, run through the
    # same code path as ITS OWN tiny job — filtering the full frame would
    # re-execute the whole decode over every blob a third time (the doc_id
    # predicate cannot prune the blobs-side scan the UDF sits on)
    from engine.schema import MEDIA_BLOBS_SCHEMA, SPANS_SCHEMA

    sample_rows, sample_blobs = [], []
    for i in range(0, n_docs, max(1, n_docs // 20)):
        s, b = fixtures.gen_doc(BENCH_SEED, i)
        sample_rows.append(s)
        sample_blobs.extend(b)
    got_rows = run_extraction(
        spark,
        spark.createDataFrame(sample_rows, SPANS_SCHEMA),
        spark.createDataFrame(sample_blobs, MEDIA_BLOBS_SCHEMA),
        run_id="bench-check",
    ).spans_out.collect()
    spot_check(sample_rows, sample_blobs, got_rows)
    res.unpersist()
    return {
        "docs": int(out_spans["docs"]),
        "spans_kept": int(out_spans["spans"]),
        "seconds": round(elapsed, 2),
        "docs_per_sec": round(out_spans["docs"] / elapsed, 1),
        "codegen_compiles": compiles,
    }


def bitmap_corpus_dir(n_docs: int) -> str:
    # "l2" = layout key (100-doc files, 64-row groups → enough input splits
    # for the decode stage; the stage's parallelism IS split granularity)
    d = REPO / ".bench_cache" / f"bitmap-v{fixtures.BITMAP_FIXTURE_VERSION}l2-{BENCH_SEED}-{n_docs}"
    if not (d / "spans").exists():
        fixtures.write_bitmap_corpus(str(d), n_docs, seed=BENCH_SEED)
    return str(d)


def run_bitmap_extraction_bench(spark, n_docs: int) -> dict:
    """Extraction over BITMAP payloads: the decode UDF runs the real P1
    projection-profile detector + QR/barcode operators on rasters.  Arrow
    batches are capped lower for this branch (raster payloads are ~120 KB
    each — 2048-record batches would hold ~250 MB per task; the per-branch
    maxRecordsPerBatch tuning is exactly SURVEY §2.9 X6's knob)."""
    from tests import oracle_bitmap

    cdir = bitmap_corpus_dir(n_docs)
    spans = spark.read.parquet(f"{cdir}/spans")
    blobs = spark.read.parquet(f"{cdir}/media_blobs")
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    try:
        elapsed, out, compiles = None, None, 0
        for _ in range(REPEATS):
            c0 = _compiles(spark)
            t0 = time.time()
            res = run_extraction(spark, spans, blobs, run_id="bench-bitmap")
            out = res.spans_out.agg(
                F.count("*").alias("docs"), F.sum(F.size("spans_out")).alias("spans")
            ).collect()[0]
            dt = time.time() - t0
            compiles += _compiles(spark) - c0
            elapsed = dt if elapsed is None or dt < elapsed else elapsed
        # correctness spot-check vs the spec-driven oracle (intent, no
        # detector code) on a regenerated sample run as its own tiny job —
        # same third-full-decode avoidance as the SPG1 spot check
        from engine.schema import MEDIA_BLOBS_SCHEMA, SPANS_SCHEMA

        step = max(1, n_docs // 20)
        sample_rows, sample_blobs, sample_specs = [], [], {}
        for i in range(0, n_docs, step):
            s_row, b_rows, specs = fixtures.gen_bitmap_doc(BENCH_SEED, i)
            sample_rows.append(s_row)
            sample_blobs.extend(b_rows)
            sample_specs.update(specs)
        got = {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans_out"]
            ]
            for r in run_extraction(
                spark,
                spark.createDataFrame(sample_rows, SPANS_SCHEMA),
                spark.createDataFrame(sample_blobs, MEDIA_BLOBS_SCHEMA),
                run_id="bench-bitmap-check",
            ).spans_out.collect()
        }
        for s_row in sample_rows:
            want, _ = oracle_bitmap.process_doc(s_row["spans"], sample_specs)
            # explicit raise, not `assert`: python -O strips asserts and would
            # silently turn this bench into timing-only with no value gate
            if got.get(s_row["doc_id"]) != want:
                raise RuntimeError(
                    f"bitmap bench check failed for {s_row['doc_id']}"
                )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    return {
        "docs": int(out["docs"]),
        "spans_kept": int(out["spans"]),
        "seconds": round(elapsed, 2),
        "docs_per_sec": round(out["docs"] / elapsed, 1),
        "codegen_compiles": compiles,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = -1.0
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", str(max(200, int(sf * 40000)))))

    # Bench sessions pin + pre-touch the JVM heap (steady-state timing; see
    # engine/session.py) — opt-in so dev/test sessions keep lazy heap growth.
    os.environ.setdefault("SPARK_GRAFT_PIN_HEAP", "1")
    # cores: SPARK_GRAFT_CPUS or local[*]; shuffle partitions: 2x cores
    spark = get_spark("bench")
    cpus = spark.sparkContext.defaultParallelism
    builders = {q.name: q.build for q in registry()}

    # warm the JVM / python workers / codegen once so the first headline
    # query isn't charged for session startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    builders["a6_value_histogram"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    burn_before = _host_burn()
    timings: dict[str, float] = {}
    # classes compiled per leaf, summed over its timed repeats
    compiles: dict[str, int] = {}
    # best-of-N with INTERLEAVED rounds: this VM's hypervisor noise is
    # BIMODAL and bursty (identical re-runs of a pure-JVM query measured
    # 0.69 s and 2.35 s in one session, with jvm sys-time storms as
    # receipts).  The minimum is the engine truth; running round-robin over
    # the whole query list instead of N back-to-back repeats spreads one
    # query's repeats minutes apart, so a single stall window cannot swallow
    # all of them.
    for _ in range(REPEATS):
        for name in HEADLINE:
            c0 = _compiles(spark)
            t0 = time.time()
            df = builders[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            compiles[name] = compiles.get(name, 0) + _compiles(spark) - c0
            if name not in timings or dt < timings[name]:
                timings[name] = dt

    ext = run_extraction_bench(spark, n_docs)
    timings["extraction_e2e"] = ext["seconds"]
    compiles["extraction_e2e"] = ext.pop("codegen_compiles")

    ext_bmp = run_bitmap_extraction_bench(spark, max(200, n_docs // 5))
    timings["extraction_bitmap"] = ext_bmp["seconds"]
    compiles["extraction_bitmap"] = ext_bmp.pop("codegen_compiles")

    # canonical-document build (E2 parse layer) over the extracted spans
    from engine.parse import extract_documents
    from engine.pipeline import run_extraction as _rx

    import tempfile

    cdir = corpus_dir(n_docs)
    so_dir = tempfile.mkdtemp(prefix="bench-spansout-")
    _rx(
        spark,
        spark.read.parquet(f"{cdir}/spans"),
        spark.read.parquet(f"{cdir}/media_blobs"),
        run_id="bench-docs",
    ).spans_out.write.mode("overwrite").parquet(so_dir)
    spans_out = spark.read.parquet(so_dir)  # isolate parse timing from extraction
    best, compiles["documents_extract"] = None, 0
    for _ in range(REPEATS):
        c0 = _compiles(spark)
        t0 = time.time()
        extract_documents(spans_out).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        compiles["documents_extract"] += _compiles(spark) - c0
        best = dt if best is None or dt < best else best
    timings["documents_extract"] = round(best, 3)

    total = round(sum(timings.values()), 3)
    comparable = round(sum(t for n, t in timings.items() if n not in ADDED_R5), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_seconds",
                "value": total,
                "unit": "sec",
                "comparable_subtotal": comparable,
                "queries": timings,
                "codegen_compiles": compiles,
                "sf": sf,
                "extraction": ext,
                "extraction_bitmap": ext_bmp,
                "cpus": cpus,
                "repeats": REPEATS,
                # pure-CPU host-speed receipts (single-core 6M-round md5):
                # compare across rounds before reading wall-clock deltas as
                # engine changes — this VM's speed swings ~2x within a session
                "host_burn_seconds": {"before": burn_before, "after": _host_burn()},
            }
        )
    )


if __name__ == "__main__":
    main()
