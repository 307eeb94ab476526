"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each workload must emit every end-to-end metric named in BENCHMARK.json with
its unit; the traced run must emit every per-layer metric; a corrupted output
must count as failed instead of passing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = {"receipts_spg1": 60, "receipts_bitmap": 40, "curate_capstone": 120}


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--docs", str(TINY[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_spec_workloads_are_tested():
    """receipts_bitmap is run by hand only (README), so the spec lists a subset."""
    assert {w["name"] for w in SPEC["workloads"]} <= set(TINY)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_untraced_run_emits_every_end_to_end_metric(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(TINY))
def test_traced_run_emits_every_layer_metric(workload):
    res = _run(workload, 1)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    exercised = {
        "receipts_spg1": ("layout", "pipeline", "assemble", "metrics", "io", "parse"),
        "receipts_bitmap": ("layout", "pipeline", "assemble"),
        "curate_capstone": ("trainops.edges", "trainops.cc", "trainops.verdicts"),
    }[workload]
    for layer in exercised:
        assert res["metrics"][f"{layer}.wall_s"]["value"] > 0
        assert res["metrics"][f"{layer}.jobs"]["value"] >= 1


def test_corrupted_output_counts_as_failed(tmp_path):
    """An iteration whose committed spans_out had its text altered fails its
    check, and the worker counts it instead of passing it."""
    os.environ["PYTHONPATH"] = str(ROOT)
    sys.path.insert(0, str(ROOT))
    from perfbench import inputs, worker
    from perfbench.workloads import WORKLOADS

    from engine.session import get_spark

    info = inputs.prepare("receipts_bitmap", 5, tmp_path / "work", n_docs=30)
    spark = get_spark(
        "perfbench-test", cores=2, extra_conf=worker.session_conf(str(tmp_path), {}, None)
    )
    try:
        wl = WORKLOADS["receipts_bitmap"](spark, info)
        good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
        wl.iteration(good)
        spark.read.parquet(f"{good}/spans_out").selectExpr(
            "doc_id",
            "transform(spans_out, s -> named_struct('kind', s.kind, 'text', "
            "concat(s.text, ' x'), 'media_ref', s.media_ref, 'offset', s.offset)) AS spans_out",
        ).write.parquet(f"{bad}/spans_out")
        failed: dict[str, str] = {}
        worker.check_outputs(wl, [good, bad], failed)
    finally:
        spark.stop()
    assert list(failed) == [bad]
    assert "Mismatch" in failed[bad]
