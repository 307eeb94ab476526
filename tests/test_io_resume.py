"""Checkpoint/resume tests (S4/S5, X5): the spine is written once, outputs are
derived from the written copy, and a restart only processes unfinished docs."""

from __future__ import annotations

import pyspark.sql.functions as F

from engine.io import materialize_run
from engine.schema import MEDIA_BLOBS_SCHEMA, SPANS_SCHEMA


def _corpus_half(spark, corpus, lo, hi):
    spans_rows, blob_rows = corpus
    spans = spark.createDataFrame(spans_rows[lo:hi], SPANS_SCHEMA)
    blobs = spark.createDataFrame(blob_rows, MEDIA_BLOBS_SCHEMA)
    return spans, blobs


def test_materialize_and_resume(spark, corpus, tmp_path):
    out = str(tmp_path / "run")
    spans_rows, _ = corpus

    # first run: only the first 30 docs arrive
    spans1, blobs = _corpus_half(spark, corpus, 0, 30)
    r1 = materialize_run(spark, spans1, blobs, out, run_id="r1")
    assert r1["spans_out"].count() == 30

    # restart with the FULL input: only the remaining 30 docs are processed
    spans_all, _ = _corpus_half(spark, corpus, 0, 60)
    r2 = materialize_run(spark, spans_all, blobs, out, run_id="r2")
    assert r2["spans_out"].count() == 60

    # lineage still accounts for every input span exactly once
    total_spans = sum(len(r["spans"]) for r in spans_rows)
    assert r2["lineage"].count() == total_spans
    assert r2["lineage"].select("doc_id", "offset").distinct().count() == total_spans

    # outputs equal a from-scratch single-shot run (resume is invisible)
    from engine.pipeline import run_extraction

    single = run_extraction(spark, spans_all, blobs, run_id="one")
    a = {
        (r["doc_id"]): [(s["kind"], s["text"], s["media_ref"]) for s in r["spans_out"]]
        for r in r2["spans_out"].collect()
    }
    b = {
        (r["doc_id"]): [(s["kind"], s["text"], s["media_ref"]) for s in r["spans_out"]]
        for r in single.spans_out.collect()
    }
    assert a == b


def test_resume_ignores_uncommitted_spine(spark, corpus, tmp_path):
    """A spine run-dir without _SUCCESS (crash during job commit) must be
    invisible: its docs are NOT treated as done, and its rows never feed the
    derived outputs — no silently truncated documents."""
    import os

    from engine.io import committed_spine_dirs, spine_path

    out = str(tmp_path / "run-crash")
    spans1, blobs = _corpus_half(spark, corpus, 0, 30)
    materialize_run(spark, spans1, blobs, out, run_id="r1")

    # second run over docs 30-59 "crashes during commit": drop its marker
    spans2, _ = _corpus_half(spark, corpus, 30, 60)
    materialize_run(spark, spans2, blobs, out, run_id="r2-crashed")
    crashed = os.path.join(spine_path(out), "run=r2-crashed")
    os.remove(os.path.join(crashed, "_SUCCESS"))
    assert crashed not in committed_spine_dirs(out)

    # restart with the FULL input: docs 30-59 are re-processed from scratch
    spans_all, _ = _corpus_half(spark, corpus, 0, 60)
    r3 = materialize_run(spark, spans_all, blobs, out, run_id="r3")
    assert r3["spans_out"].count() == 60
    total_spans = sum(len(r["spans"]) for r in corpus[0])
    # every input span exactly once — neither lost (crashed dir trusted) nor
    # duplicated (crashed dir read into the full view)
    assert r3["lineage"].count() == total_spans
    assert r3["lineage"].select("doc_id", "offset").distinct().count() == total_spans


def test_expire_runs_removes_only_old_dirs(tmp_path):
    """S7 retention (app/tasks.py:306-327 / config.py:33 72h TTL analogue)."""
    import os
    import time

    from engine.io import expire_runs

    base = tmp_path / "runs"
    old = base / "run-old"
    new = base / "run-new"
    old.mkdir(parents=True)
    new.mkdir(parents=True)
    (old / "x.parquet").write_bytes(b"")
    stale = time.time() - 80 * 3600
    os.utime(old, (stale, stale))

    removed = expire_runs(str(base), keep_hours=72.0)
    assert removed == [str(old)]
    assert not old.exists() and new.exists()
    # idempotent + missing base dir is a no-op
    assert expire_runs(str(base), keep_hours=72.0) == []
    assert expire_runs(str(tmp_path / "nope")) == []


def test_expire_runs_materialize_layout_is_atomic_per_run(tmp_path):
    """A materialize_run run spans spine + 5 derived run= dirs with differing
    mtimes (healing rewrites outputs later).  Expiry keys off the SPINE age
    and removes the run_id across ALL trees — never orphaning derived dirs
    that out_dir/<table> readers would still see."""
    import os
    import time

    from engine.io import OUTPUT_NAMES, expire_runs

    out = tmp_path / "mat"
    stale = time.time() - 80 * 3600
    for rid, old in (("r-old", True), ("r-new", False)):
        for table in ("spine",) + OUTPUT_NAMES:
            d = out / table / f"run={rid}"
            d.mkdir(parents=True)
            (d / "_SUCCESS").write_bytes(b"")
        if old:
            # only the SPINE is stale; a healed output was rewritten recently
            os.utime(out / "spine" / f"run={rid}", (stale, stale))
            os.utime(out / "lineage" / f"run={rid}", (stale, stale))

    removed = expire_runs(str(out), keep_hours=72.0)
    assert sorted(removed) == sorted(
        str(out / t / "run=r-old") for t in ("spine",) + OUTPUT_NAMES
    )
    for table in ("spine",) + OUTPUT_NAMES:
        assert not (out / table / "run=r-old").exists()
        assert (out / table / "run=r-new").exists()


def test_same_run_id_retry_is_idempotent(spark, corpus, tmp_path):
    """acks_late redelivery: re-running materialize_run with the SAME run_id
    and input must reproduce the same outputs — not anti-join its own prior
    output away and overwrite the committed spine with an empty one."""
    out = str(tmp_path / "run-retry")
    spans1, blobs = _corpus_half(spark, corpus, 0, 12)
    r1 = materialize_run(spark, spans1, blobs, out, run_id="r1")
    n1 = r1["spans_out"].count()
    lin1 = r1["lineage"].count()
    assert n1 == 12 and lin1 > 0

    r2 = materialize_run(spark, spans1, blobs, out, run_id="r1")  # redelivery
    assert r2["spans_out"].count() == n1
    assert r2["lineage"].count() == lin1
    assert r2["lineage"].select("doc_id", "offset").distinct().count() == lin1


def test_incremental_run_derives_outputs_from_own_spine_only(
    spark, corpus, tmp_path
):
    """An incremental run's derived outputs are O(new docs): its spans_out
    run-dir contains ONLY the docs processed by that run, and derive_outputs'
    scan set is exactly that run's spine directory — not the whole history."""
    import os

    from engine.io import derive_outputs, spine_path

    out = str(tmp_path / "run-inc")
    spans1, blobs = _corpus_half(spark, corpus, 0, 30)
    materialize_run(spark, spans1, blobs, out, run_id="r1")
    spans_all, _ = _corpus_half(spark, corpus, 0, 60)
    r2 = materialize_run(spark, spans_all, blobs, out, run_id="r2")

    docs1 = {r["doc_id"] for r in spans1.select("doc_id").collect()}
    r2_out = spark.read.parquet(os.path.join(out, "spans_out", "run=r2"))
    r2_docs = {r["doc_id"] for r in r2_out.select("doc_id").collect()}
    assert r2_docs and r2_docs.isdisjoint(docs1)  # only the NEW 30 docs
    assert r2["spans_out"].count() == 60  # union view is still complete
    # run_totals: one exact row per run, additive across runs
    totals = {r["run_id"]: r["docs_total"] for r in r2["run_totals"].collect()}
    assert totals == {"r1": 30, "r2": 30}

    # scan-set proof: every file feeding the derivation lives under r2's spine
    r2_spine_dir = os.path.join(spine_path(out), "run=r2")
    for name, df in derive_outputs(
        spark.read.parquet(r2_spine_dir), "r2"
    ).items():
        files = df.inputFiles()
        assert files, name
        assert all(r2_spine_dir in f for f in files), (name, files)


def test_missing_derived_outputs_self_heal(spark, corpus, tmp_path):
    """Crash between spine commit and output commit: the next run re-derives
    the missing output dirs from that run's spine — the union view never
    loses a committed run's rows."""
    import os
    import shutil

    out = str(tmp_path / "run-heal")
    spans1, blobs = _corpus_half(spark, corpus, 0, 30)
    materialize_run(spark, spans1, blobs, out, run_id="r1")
    shutil.rmtree(os.path.join(out, "spans_out", "run=r1"))  # lost output
    os.remove(os.path.join(out, "lineage", "run=r1", "_SUCCESS"))  # partial

    spans_all, _ = _corpus_half(spark, corpus, 0, 60)
    r2 = materialize_run(spark, spans_all, blobs, out, run_id="r2")
    assert r2["spans_out"].count() == 60
    total_spans = sum(len(r["spans"]) for r in corpus[0])
    assert r2["lineage"].count() == total_spans


def test_bucketed_spine_outputs_equal_and_renest_is_shuffle_free(
    spark, corpus, tmp_path
):
    """bucket_spine=N (the executable analogue of ICEBERG.md's
    bucket(doc_id) spine DDL): derived outputs are IDENTICAL to the plain
    parquet path, and the re-nest — the engine's only full-text shuffle —
    runs with zero exchange over the bucketed spine."""
    from engine.assemble import reassemble
    from engine.io import spine_table_name

    spans, blobs = _corpus_half(spark, corpus, 0, 60)
    plain = materialize_run(
        spark, spans, blobs, str(tmp_path / "plain"), run_id="bsp"
    )
    spark.sql(f"DROP TABLE IF EXISTS {spine_table_name('bsb')}")
    bucketed = materialize_run(
        spark, spans, blobs, str(tmp_path / "bucketed"), run_id="bsb",
        bucket_spine=4,
    )

    def key(df):
        return {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in r["spans_out"]
            ]
            for r in df.collect()
        }

    assert key(plain["spans_out"]) == key(bucketed["spans_out"])
    assert (
        plain["lineage"].select("doc_id", "offset", "status").sort("doc_id", "offset").collect()
        == bucketed["lineage"].select("doc_id", "offset", "status").sort("doc_id", "offset").collect()
    )

    # the scale property: re-nest over the bucketed spine needs NO exchange
    # (bucketed scan carries HashPartitioning(doc_id) into the groupBy)
    t = spark.table(spine_table_name("bsb"))
    plan = reassemble(t)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan[:2000]
    # while the plain-parquet spine pays the shuffle
    p = spark.read.parquet(str(tmp_path / "plain" / "spine" / "run=bsp"))
    plan_plain = reassemble(p)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan_plain


def test_bucketed_spine_heals_without_catalog(spark, corpus, tmp_path):
    """Healing an older bucketed run whose table is NOT in this session's
    catalog falls back to the plain parquet read — identical rows, the
    exchange just returns for that heal."""
    import os
    import shutil

    from engine.io import spine_table_name

    spans, blobs = _corpus_half(spark, corpus, 0, 30)
    out = str(tmp_path / "run")
    r1 = materialize_run(
        spark, spans, blobs, out, run_id="hb", bucket_spine=4
    )
    n = r1["spans_out"].count()
    # simulate a fresh session: catalog entry gone, files intact; and a
    # crash that lost one derived output
    spark.sql(f"DROP TABLE IF EXISTS {spine_table_name('hb')}")
    shutil.rmtree(os.path.join(out, "spans_out", "run=hb"))
    r2 = materialize_run(
        spark, spans, blobs, out, run_id="hb2", bucket_spine=4
    )
    assert r2["spans_out"].count() == n


def test_write_outputs_raises_a_failed_write_after_committing_the_rest(spark, tmp_path):
    """One derived write fails at run time: write_outputs raises that error
    only after the other write finished, the failed directory carries no
    _SUCCESS marker (resume re-derives it) and the good one does."""
    import os

    import pytest

    from engine.io import write_outputs

    out = str(tmp_path / "w")
    bad = spark.range(64).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("derived write boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    good = spark.range(64)
    with pytest.raises(Exception, match="derived write boom"):
        write_outputs({"bad": bad, "good": good}, out, "run=x")
    assert not os.path.isfile(os.path.join(out, "bad", "run=x", "_SUCCESS"))
    assert os.path.isfile(os.path.join(out, "good", "run=x", "_SUCCESS"))
    assert spark.read.parquet(os.path.join(out, "good", "run=x")).count() == 64
