"""Streaming-mode test: micro-batched file stream produces exactly the batch
outputs (same code path, ordering from offset, lineage complete); restart with
a checkpoint does not duplicate."""

from __future__ import annotations

from engine.fixtures import write_corpus
from engine.streaming import stream_extraction


def test_stream_matches_batch(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "out")
    # many small files → several micro-batches
    write_corpus(corpus_dir, n_docs=40, seed=21, docs_per_file=5)
    blobs = spark.read.parquet(f"{corpus_dir}/media_blobs")

    q = stream_extraction(
        spark, f"{corpus_dir}/spans", blobs, out_dir, run_id="s1", max_files_per_trigger=2
    )
    q.awaitTermination(180)

    got = spark.read.parquet(f"{out_dir}/spans_out")
    assert got.count() == 40

    # identical to the batch run, doc by doc
    from engine.pipeline import run_extraction

    batch = run_extraction(
        spark, spark.read.parquet(f"{corpus_dir}/spans"), blobs, run_id="b1"
    )
    def as_map(df):
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans_out"]]
            for r in df.collect()
        }

    assert as_map(got) == as_map(batch.spans_out)

    lineage = spark.read.parquet(f"{out_dir}/lineage")
    spans_total = (
        spark.read.parquet(f"{corpus_dir}/spans")
        .selectExpr("sum(size(spans)) s")
        .collect()[0]["s"]
    )
    assert lineage.count() == spans_total

    # restart over the same checkpoint: backlog already consumed → no dupes
    q2 = stream_extraction(
        spark, f"{corpus_dir}/spans", blobs, out_dir, run_id="s2", max_files_per_trigger=2
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out_dir}/spans_out").count() == 40


def test_stateful_assembler_across_microbatches(spark, tmp_path):
    """Docs whose spans are scattered across micro-batches assemble exactly
    once, offset-sorted, when their span count completes; incomplete docs
    stay in state (no premature emission)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.streaming import FLAT_SPAN_SCHEMA, stateful_assembler

    src = tmp_path / "flat"
    src.mkdir()
    # doc A: 3 spans across files 0/1/2; doc B: 2 spans in files 0/1;
    # doc C: declares 2 spans but only 1 arrives → must NOT be emitted
    files = [
        [("A", "text", "a2", None, 2, 3), ("B", "text", "b1", None, 1, 2)],
        [("A", "text", "a0", None, 0, 3), ("B", "text", "b0", None, 0, 2),
         ("C", "text", "c0", None, 0, 2)],
        [("A", "media", None, "m-a1", 1, 3)],
    ]
    cols = ["doc_id", "kind", "text", "media_ref", "offset", "n_spans"]
    pa_schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
            ("n_spans", pa.int32()),
        ]
    )
    for i, rows in enumerate(files):
        tbl = pa.Table.from_pylist([dict(zip(cols, r)) for r in rows], schema=pa_schema)
        pq.write_table(tbl, src / f"part-{i}.parquet")

    stream = (
        spark.readStream.schema(FLAT_SPAN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out_dir = tmp_path / "assembled"
    q = (
        # long timeout → incomplete docs are held, not flushed, within this run
        stateful_assembler(stream, timeout_ms=600_000)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # NB: with pending ProcessingTimeTimeout state the availableNow query can
    # stay alive waiting to serve timeouts — poll the sink instead of relying
    # on termination, then stop explicitly.
    import time as _time

    deadline = _time.time() + 150
    while _time.time() < deadline:
        q.awaitTermination(5)
        try:
            if spark.read.parquet(str(out_dir)).count() >= 2:
                break
        except Exception:  # noqa: BLE001 — sink dir not created yet
            pass
    q.stop()

    got = {r["doc_id"]: r for r in spark.read.parquet(str(out_dir)).collect()}
    assert set(got) == {"A", "B"}  # C incomplete → held in state, not emitted
    assert got["A"]["complete"] and got["B"]["complete"]
    assert [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got["A"]["spans_out"]] == [
        ("text", "a0", None, 0),
        ("media", None, "m-a1", 1),
        ("text", "a2", None, 2),
    ]


def test_windowed_event_metrics_matches_batch(spark, tmp_path):
    """Watermark + event-time window over a streamed copy of the events table
    equals the same aggregation computed in batch."""
    import shutil

    from engine.streaming import windowed_event_metrics

    src_dir = tmp_path / "events"
    src_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet")

    batch = spark.read.parquet(str(src_dir))
    stream = spark.readStream.schema(batch.schema).parquet(str(src_dir))
    out = tmp_path / "winmetrics"
    q = (
        windowed_event_metrics(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["value_cents"])
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["value_cents"])
        for r in windowed_event_metrics(batch.withWatermark("ts", "2 hours")).collect()
    }
    # append mode emits a window only once the watermark passes it — the
    # trailing window(s) at stream end correctly stay in state.  Everything
    # emitted must equal batch; everything withheld must be at the tail.
    assert len(got) > 0
    assert all(want[k] == v for k, v in got.items())
    newest_emitted = max(k[0] for k in got)
    missing = set(want) - set(got)
    assert all(k[0] >= newest_emitted for k in missing)


def test_stream_bitmap_corpus_matches_spec_oracle(spark, tmp_path):
    """Structured Streaming over SPB1 raster payloads: the micro-batched path
    runs the real pixel detectors and still matches the spec-driven oracle."""
    from engine.fixtures import write_bitmap_corpus, gen_bitmap_doc
    from engine.streaming import stream_extraction
    from tests import oracle_bitmap

    corpus_dir = str(tmp_path / "bcorpus")
    out_dir = str(tmp_path / "bout")
    n_docs = 24
    write_bitmap_corpus(corpus_dir, n_docs=n_docs, seed=31, docs_per_file=6)
    blobs = spark.read.parquet(f"{corpus_dir}/media_blobs")

    q = stream_extraction(
        spark, f"{corpus_dir}/spans", blobs, out_dir, run_id="sb1", max_files_per_trigger=2
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans_out"]
        ]
        for r in spark.read.parquet(f"{out_dir}/spans_out").collect()
    }
    want = {}
    for i in range(n_docs):
        s_row, _, specs = gen_bitmap_doc(31, i)
        want[s_row["doc_id"]], _ = oracle_bitmap.process_doc(s_row["spans"], specs)
    assert got == want


def test_stream_dedup_exact_across_microbatches(spark, tmp_path):
    """Exact duplicates arriving in DIFFERENT micro-batches (within the
    watermark horizon) collapse to one kept doc per fingerprint; the surviving
    fingerprint set equals batch dedup_exact semantics over the same rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.streaming import stream_dedup_exact

    src = tmp_path / "docs"
    src.mkdir()
    # 3 files → 3 micro-batches; texts t0/t1 repeat across files, t2/t3/t4
    # are unique; all timestamps inside one watermark hour
    files = [
        [("d0", "2026-01-01 10:00:00", "t0"), ("d1", "2026-01-01 10:01:00", "t1")],
        [("d2", "2026-01-01 10:02:00", "t0"), ("d3", "2026-01-01 10:03:00", "t2"),
         ("d4", "2026-01-01 10:04:00", "t3")],
        [("d5", "2026-01-01 10:05:00", "t1"), ("d6", "2026-01-01 10:06:00", "t0"),
         ("d7", "2026-01-01 10:07:00", "t4")],
    ]
    pa_schema = pa.schema(
        [("doc_id", pa.string()), ("ts", pa.string()), ("text", pa.string())]
    )
    cols = ["doc_id", "ts", "text"]
    for i, rows in enumerate(files):
        path = src / f"part-{i}.parquet"
        pq.write_table(
            pa.Table.from_pylist([dict(zip(cols, r)) for r in rows], schema=pa_schema),
            path,
        )
        # the file source orders its initial listing by modification time,
        # with an UNDEFINED tie-break — back-to-back writes can land in one
        # mtime tick and flip batch order (observed flake: part-1 processed
        # first, so d2 genuinely became t0's first arrival).  Pin distinct
        # mtimes so "arrival order" is the file index, as the test intends.
        import os, time as _time  # noqa: E401

        t = _time.time() - 100 + i * 10
        os.utime(path, (t, t))

    batch = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "kept"
    q = (
        stream_dedup_exact(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept = spark.read.parquet(str(out)).collect()
    # one survivor per distinct text, fingerprint set == batch dedup_exact's
    assert len(kept) == 5
    assert {r["text"] for r in kept} == {"t0", "t1", "t2", "t3", "t4"}
    # each survivor is a genuine carrier of its text (first-arrival witness)
    carriers = {}
    for f in files:
        for doc_id, _, text in f:
            carriers.setdefault(text, []).append(doc_id)
    for r in kept:
        assert r["doc_id"] in carriers[r["text"]]
    # the cross-batch duplicates (d2/d5/d6 dup t0/t1) were dropped
    assert {r["doc_id"] for r in kept}.isdisjoint({"d2", "d5", "d6"})


def test_stream_dedup_media_across_microbatches(spark, tmp_path):
    """Byte-distinct re-scans of the same page (fresh speckle, a rotated
    idcard pass) arriving in DIFFERENT micro-batches collapse to the
    first-arriving ref per content signature; distinct-content pages all
    survive.  Decode runs on the ingest scan with the event-time column
    carried through the Arrow batch."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.bitmap import encode_bitmap_page
    from engine.layout import decode_blobs
    from engine.streaming import stream_dedup_media

    def page(spec, seed, rotation=None):
        s = dict(spec)
        s["noise_px"] = 60
        s["noise_seed"] = seed
        if rotation is not None:
            s["rotation"] = rotation
        return encode_bitmap_page(s)

    inv = {
        "page_kind": "janzour",
        "title_text": "كشف تفاصيل الخدمات",
        "body_lines": ["Service code BIO0042"],
    }
    idc = {"page_kind": "idcard", "body_lines": ["اسم المستفيد: مستفيد رقم 7"]}
    other = {"page_kind": "massara", "body_lines": ["Service code BIO0001"]}
    files = [
        [("a1", "2026-01-01 10:00:00", page(inv, 1)),
         ("b1", "2026-01-01 10:01:00", page(idc, 2, rotation=0))],
        [("a2", "2026-01-01 10:02:00", page(inv, 3)),      # re-scan of inv
         ("c1", "2026-01-01 10:03:00", page(other, 4))],
        [("b2", "2026-01-01 10:04:00", page(idc, 5, rotation=90)),  # rotated re-scan
         ("a3", "2026-01-01 10:05:00", page(inv, 6))],
    ]
    src = tmp_path / "blobs"
    src.mkdir()
    pa_schema = pa.schema(
        [("media_ref", pa.string()), ("ts", pa.string()), ("payload", pa.binary())]
    )
    cols = ["media_ref", "ts", "payload"]
    for i, rows in enumerate(files):
        path = src / f"part-{i}.parquet"
        pq.write_table(
            pa.Table.from_pylist([dict(zip(cols, r)) for r in rows], schema=pa_schema),
            path,
        )
        t = _time.time() - 100 + i * 10  # pin arrival order (see exact test)
        os.utime(path, (t, t))

    batch = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "kept"
    q = (
        stream_dedup_media(decode_blobs(stream, carry=("ts",)), watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt-media"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept = {r["media_ref"]: r for r in spark.read.parquet(str(out)).collect()}
    assert set(kept) == {"a1", "b1", "c1"}  # first arrival per content class
    assert kept["a1"]["feats"]["title_text"] == "كشف تفاصيل الخدمات"


def test_stream_curate_matches_batch_rowlocal_verdicts(spark, tmp_path):
    """The ingest curation front must (a) drop quality/repetition failures
    with the SAME row-local verdicts the batch chain computes (shared
    repetition_flag_col expression), (b) collapse cross-batch exact dups to
    first arrivals, and (c) pass every clean unique doc through."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.streaming import stream_curate

    # 40 distinct tokens: enough that the all-distinct top-bigram ratio
    # (1/39) sits under the 5% Gopher threshold — a 20-token doc would
    # trivially trip it (1/19 = 5.3%)
    ok = lambda i: " ".join(f"w{i}x{j}" for j in range(40))  # noqa: E731
    long_text = "w " * 599 + "w"          # 600 tokens → quality fail
    loop_text = "spam ham " * 50 + "end"  # top-bigram ratio → repetition fail
    files = [
        [("d0", "2026-01-01 10:00:00", ok(0)), ("d1", "2026-01-01 10:01:00", long_text)],
        [("d2", "2026-01-01 10:02:00", ok(0)), ("d3", "2026-01-01 10:03:00", loop_text),
         ("d4", "2026-01-01 10:04:00", ok(4))],
        [("d5", "2026-01-01 10:05:00", ok(5)), ("d6", "2026-01-01 10:06:00", ok(4))],
    ]
    src = tmp_path / "docs"
    src.mkdir()
    pa_schema = pa.schema(
        [("doc_id", pa.string()), ("ts", pa.string()), ("text", pa.string())]
    )
    cols = ["doc_id", "ts", "text"]
    for i, rows in enumerate(files):
        path = src / f"part-{i}.parquet"
        pq.write_table(
            pa.Table.from_pylist([dict(zip(cols, r)) for r in rows], schema=pa_schema),
            path,
        )
        t = _time.time() - 100 + i * 10  # pin arrival order (see dedup test)
        os.utime(path, (t, t))

    batch = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "kept"
    q = (
        stream_curate(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt-curate"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(str(out)).collect()}
    # d1 (quality), d3 (repetition) dropped at the scan; d2 (dup of d0) and
    # d6 (dup of d4) dropped by the watermark state; d0/d4/d5 survive
    assert set(kept) == {"d0", "d4", "d5"}, kept
    # verdict parity with the batch chain's row-local stages: the same rows
    # pushed through curation_outcomes get pre_reason != NULL exactly for
    # the streamed drops that were VERDICT drops (not dedup drops)
    import pandas as pd
    from pyspark.sql import functions as F

    from engine import trainops

    flat = [dict(zip(cols, r)) for f in files for r in f]
    aug = spark.createDataFrame(pd.DataFrame(flat)).select(
        F.col("doc_id"), F.lit("s").alias("source"), F.col("text")
    )
    outcomes = {
        r["doc_id"]: r["outcome"]
        for r in trainops.curation_outcomes(aug).collect()
    }
    assert outcomes["d1"] == "dropped_quality"
    assert outcomes["d3"] == "dropped_repetition"
    for d in ("d0", "d4", "d5"):
        assert outcomes[d] in ("kept", "dropped_duplicate")


def test_stream_quality_model_matches_batch_scores(spark, tmp_path):
    """The ingest-path model scorer must produce per-doc integer scores and
    verdicts IDENTICAL to batch quality_model_score over the same rows
    (shared closed-form expression), running stateless in a micro-batched
    stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.streaming import stream_quality_model
    from engine.trainops import quality_model_score

    rows = [
        {"doc_id": f"d{i}", "source": "s",
         "text": " ".join(f"m{i}w{j}" for j in range(12))}
        for i in range(30)
    ]
    src = tmp_path / "docs"
    src.mkdir()
    pa_schema = pa.schema(
        [("doc_id", pa.string()), ("source", pa.string()), ("text", pa.string())]
    )
    for i in range(3):
        pq.write_table(
            pa.Table.from_pylist(rows[i * 10 : (i + 1) * 10], schema=pa_schema),
            src / f"part-{i}.parquet",
        )
    batch = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "scored"
    q = (
        stream_quality_model(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck-qm"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["score_sum"], r["kept"])
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        r["doc_id"]: (r["score_sum"], r["kept"])
        for r in quality_model_score(batch).collect()
    }
    assert got == want and len(got) == 30


def test_stream_lm_perplexity_matches_batch(spark, tmp_path):
    """The ingest-path LM filter: reference model fit batch-side, shipped
    into the stream as a 1-row static broadcast of lookup maps — streamed
    per-doc costs/buckets must equal the batch join-form scorer
    doc-for-doc, with no streaming aggregation state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.streaming import stream_lm_perplexity
    from engine.trainops import lm_perplexity, lm_weight_maps

    ref_text = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        {"doc_id": f"d{i}", "source": "s",
         "text": ref_text.strip() if i % 3 == 0
         else " ".join(f"z{i}q{j}" for j in range(10))}
        for i in range(24)
    ]
    src = tmp_path / "docs"
    src.mkdir()
    pa_schema = pa.schema(
        [("doc_id", pa.string()), ("source", pa.string()), ("text", pa.string())]
    )
    for i in range(3):
        pq.write_table(
            pa.Table.from_pylist(rows[i * 8 : (i + 1) * 8], schema=pa_schema),
            src / f"part-{i}.parquet",
        )
    batch = spark.read.parquet(str(src))
    ref = batch.filter("doc_id IN ('d0','d3','d6','d9')")
    maps = lm_weight_maps(ref)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "scored-lm"
    q = (
        stream_lm_perplexity(stream, maps)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck-lm"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: tuple(r)[1:] for r in spark.read.parquet(str(out)).collect()}
    want = {r["doc_id"]: tuple(r)[1:] for r in lm_perplexity(batch, ref).collect()}
    assert got == want and len(got) == 24


def test_stream_surfaces_a_missing_commit_marker(spark, tmp_path):
    """With commit markers switched off, the stream's spine write fails the
    same marker check as the batch path's, and the query terminates with it
    instead of writing outputs that resume would never trust."""
    import pytest
    from pyspark.errors import StreamingQueryException

    corpus_dir = str(tmp_path / "corpus")
    write_corpus(corpus_dir, n_docs=10, seed=23, docs_per_file=5)
    blobs = spark.read.parquet(f"{corpus_dir}/media_blobs")
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    q = None
    try:
        q = stream_extraction(
            spark, f"{corpus_dir}/spans", blobs, str(tmp_path / "out"), run_id="nomark"
        )
        with pytest.raises(StreamingQueryException, match="produced no _SUCCESS marker"):
            q.awaitTermination(180)
    finally:
        if q is not None:
            q.stop()
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
