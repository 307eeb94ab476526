"""The three workloads, as seen from inside the benchmark's Spark process.

Each workload registers its inputs at construction (part of set-up), runs
one iteration of its public calls into an output directory (the timed unit:
from input read to every output committed), checks an iteration's committed
output against an oracle (never timed), and runs a staged iteration under a
:class:`perfbench.trace.Tracer` that calls each layer's public function on
its own and forces that layer's output inside the layer's span.
"""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import functions as F

from perfbench.inputs import CAPSTONE, dir_bytes

SAMPLE_DOCS = 16


class Mismatch(RuntimeError):
    """An iteration's committed output differs from the oracle."""


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sample(n_docs: int, seed: int) -> list[int]:
    return sorted(random.Random(f"sample:{seed}").sample(range(n_docs), min(SAMPLE_DOCS, n_docs)))


def _span_tuples(rows) -> dict:
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans_out"]]
        for r in rows
    }


def _decode_counts(tr, blobs) -> None:
    """layout: decode every page; count pages and clean decodes."""
    from engine.layout import decode_blobs

    with tr.span("layout"):
        row = decode_blobs(blobs).agg(
            F.count(F.lit(1)).alias("pages"),
            F.count(F.when(F.col("feats.decode_error").isNull(), 1)).alias("ok"),
        ).first()
    tr.counts["layout.pages"] = row["pages"]
    tr.counts["layout.ok_ratio"] = row["ok"] / max(1, row["pages"])


class Workload:
    conf: dict[str, str] = {}

    def __init__(self, spark, inputs: dict):
        self.spark = spark
        self.inputs = inputs
        self.n_docs = inputs["n_docs"]
        self.seed = inputs["seed"]

    def iteration(self, out: str) -> None:
        raise NotImplementedError

    def check(self, out: str) -> None:
        raise NotImplementedError

    def traced(self, tr, out: str) -> None:
        raise NotImplementedError


class ReceiptsSpg1(Workload):
    """materialize_run (spine + 5 derived outputs), then extract_documents
    over its spans_out with doc_modes from its spine, all to parquet."""

    def __init__(self, spark, inputs):
        super().__init__(spark, inputs)
        self.spans = spark.read.parquet(f"{inputs['dir']}/spans")
        self.blobs = spark.read.parquet(f"{inputs['dir']}/media_blobs")

    def _spine(self, out: str):
        from engine.io import committed_spine_dirs

        return self.spark.read.parquet(*committed_spine_dirs(out))

    def _documents(self, outs: dict, out: str) -> None:
        from engine.parse import doc_modes, extract_documents

        extract_documents(outs["spans_out"], modes=doc_modes(self._spine(out))).write.mode(
            "overwrite"
        ).parquet(f"{out}/documents")

    def iteration(self, out):
        from engine.io import materialize_run

        self._documents(materialize_run(self.spark, self.spans, self.blobs, out, "bench"), out)

    def check(self, out):
        from engine import fixtures
        from tests.oracle import golden_for_corpus

        read = self.spark.read.parquet
        lineage = read(f"{out}/lineage").count()
        if lineage != self.inputs["input_spans"]:
            raise Mismatch(f"count(lineage)={lineage} != input spans {self.inputs['input_spans']}")
        docs = read(f"{out}/documents").agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("d")
        ).first()
        if docs["n"] != self.n_docs or docs["d"] != self.n_docs:
            raise Mismatch(f"documents rows={docs['n']} distinct={docs['d']}, want {self.n_docs}")
        spans_rows, blob_rows = [], []
        for i in _sample(self.n_docs, self.seed):
            s, b = fixtures.gen_doc(self.seed, i)
            spans_rows.append(s)
            blob_rows.extend(b)
        want = golden_for_corpus(spans_rows, blob_rows)
        got = _span_tuples(
            read(f"{out}/spans_out").filter(F.col("doc_id").isin(list(want))).collect()
        )
        bad = [d for d in want if got.get(d) != want[d]]
        if bad:
            raise Mismatch(f"spans_out differs from the oracle for {bad[:3]}")

    def traced(self, tr, out):
        from engine.assemble import reassemble
        from engine.io import materialize_run
        from engine.metrics import (
            conf_histogram_df,
            lineage_df,
            metrics_df,
            observed,
            run_totals_df,
        )
        from engine.pipeline import build_spine

        with tr.span("pipeline"):
            _decode_counts(tr, self.blobs)
            spine, obs = observed(build_spine(self.spark, self.spans, self.blobs))
            _noop(spine)
        totals = obs.get
        tr.counts["pipeline.kept_ratio"] = totals["spans_kept"] / max(1, totals["spans_total"])
        with tr.span("io"):
            outs = materialize_run(self.spark, self.spans, self.blobs, out, "bench")
        tr.counts["io.write_amp"] = dir_bytes(out) / self.inputs["input_bytes"]
        spine = self._spine(out)
        with tr.span("assemble"):
            _noop(reassemble(spine))
        with tr.span("metrics"):
            for derive in (lineage_df, metrics_df, conf_histogram_df, run_totals_df):
                _noop(derive(spine, "bench"))
        with tr.span("parse"):
            self._documents(outs, out)


class ReceiptsBitmap(Workload):
    """run_extraction over raster pages, spans_out written to parquet."""

    # raster pages are ~30 KB each: 2048-record Arrow batches would hold tens
    # of MB per task, so the bitmap path caps the batch at session start
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "256"}

    def __init__(self, spark, inputs):
        super().__init__(spark, inputs)
        self.spans = spark.read.parquet(f"{inputs['dir']}/spans")
        self.blobs = spark.read.parquet(f"{inputs['dir']}/media_blobs")

    def iteration(self, out):
        from engine.pipeline import run_extraction

        res = run_extraction(self.spark, self.spans, self.blobs, run_id="bench")
        res.spans_out.write.mode("overwrite").parquet(f"{out}/spans_out")

    def check(self, out):
        from engine import fixtures
        from tests import oracle_bitmap

        rows, specs = [], {}
        for i in _sample(self.n_docs, self.seed):
            s, _, sp = fixtures.gen_bitmap_doc(self.seed, i)
            rows.append(s)
            specs.update(sp)
        got = _span_tuples(
            self.spark.read.parquet(f"{out}/spans_out")
            .filter(F.col("doc_id").isin([r["doc_id"] for r in rows]))
            .collect()
        )
        bad = [r["doc_id"] for r in rows if got.get(r["doc_id"]) != oracle_bitmap.process_doc(r["spans"], specs)[0]]
        if bad:
            raise Mismatch(f"spans_out differs from the bitmap oracle for {bad[:3]}")

    def traced(self, tr, out):
        from engine.assemble import reassemble
        from engine.metrics import observed
        from engine.pipeline import build_spine

        with tr.span("pipeline"):
            _decode_counts(tr, self.blobs)
            spine, obs = observed(build_spine(self.spark, self.spans, self.blobs))
            spine.write.mode("overwrite").parquet(f"{out}/spine")
        totals = obs.get
        tr.counts["pipeline.kept_ratio"] = totals["spans_kept"] / max(1, totals["spans_total"])
        with tr.span("assemble"):
            reassemble(self.spark.read.parquet(f"{out}/spine")).write.mode(
                "overwrite"
            ).parquet(f"{out}/spans_out")


class CurateCapstone(Workload):
    """The registered x_curate_interleaved_spans builder (curate_interleaved
    over the interleaved corpus synthesized from ``documents``)."""

    def __init__(self, spark, inputs):
        super().__init__(spark, inputs)
        import engine.entry  # noqa: F401  (registers the query)
        from engine.relational import registry

        (q,) = [q for q in registry() if q.name == CAPSTONE]
        self.build = q.build
        self.docs_dir = inputs["dir"]
        # register the input like the receipt workloads do (schema + listing)
        spark.read.parquet(f"{self.docs_dir}/documents.parquet")
        with open(os.path.join(self.docs_dir, "oracle.json")) as fh:
            self.oracle = [tuple(r) for r in json.load(fh)]

    def iteration(self, out):
        self.build(self.spark, self.docs_dir).write.mode("overwrite").parquet(out)

    def _rows(self, out: str) -> list[tuple]:
        from tests.parity import canon_rows

        return canon_rows([r.asDict() for r in self.spark.read.parquet(out).collect()])

    def check(self, out):
        got = self._rows(out)
        if got != self.oracle:
            raise Mismatch(f"{len(got)} rows differ from the {len(self.oracle)}-row DuckDB oracle")

    def traced(self, tr, out):
        """curate_interleaved's phases called one at a time (jobs launched
        from its media worker thread would carry no job group). Each phase's
        result is checkpointed so the next phase reads it, not its plan."""
        from engine.entry import _interleaved_curation_corpus
        from engine.layout import decode_blobs
        from engine.trainops import (
            assemble_doc_text,
            connected_components,
            curation_edges,
            curation_labeled,
            curation_verdicts,
            media_dedup_features,
            strip_media_boilerplate,
        )

        spans, blobs = _interleaved_curation_corpus(self.spark, self.docs_dir)
        exploded = spans.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
        )
        with tr.span("trainops.labeled"):
            with tr.span("trainops.assemble_text"):
                assembled = assemble_doc_text(exploded).withColumn(
                    "source", F.lit("interleaved")
                ).localCheckpoint(eager=True)
            labeled = curation_labeled(assembled)
        with tr.span("trainops.edges"):
            edges = curation_edges(labeled).localCheckpoint(eager=True)
        tr.counts["trainops.edges.rows"] = edges.count()
        with tr.span("trainops.strip"):
            with tr.span("trainops.media_groups"):
                groups = media_dedup_features(decode_blobs(blobs)).localCheckpoint(eager=True)
            stripped = strip_media_boilerplate(exploded, groups).localCheckpoint(eager=True)
        stats: dict = {}
        with tr.span("trainops.verdicts"):
            with tr.span("trainops.cc"):
                comp = connected_components(edges, stats=stats).localCheckpoint(eager=True)
            kept = (
                curation_verdicts(labeled, comp)
                .filter(F.col("outcome") == "kept")
                .select("doc_id")
                .localCheckpoint(eager=True)
            )
            stripped.join(kept, "doc_id", "semi").select(
                "doc_id", "offset", "kind", "media_ref"
            ).write.mode("overwrite").parquet(out)
        tr.counts["trainops.cc.iterations"] = stats["iterations"]
        tr.counts["trainops.cc.contractions"] = stats["contractions"]
        tr.counts["trainops.kept_ratio"] = kept.count() / self.n_docs

    def same_as(self, staged: str, fused: str) -> None:
        if self._rows(staged) != self._rows(fused):
            raise Mismatch("staged capstone output differs from the fused call's output")


WORKLOADS = {
    "receipts_spg1": ReceiptsSpg1,
    "receipts_bitmap": ReceiptsBitmap,
    "curate_capstone": CurateCapstone,
}
