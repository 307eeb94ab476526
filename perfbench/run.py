#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload receipts_spg1 --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` and
cached under ``.perfbench/`` (git-ignored); the run then starts one worker
process (``perfbench/worker.py``) on ``local[<nproc>]``. Prints one line per metric
(name, value, unit, sample count), one ``record`` line with the host receipt,
and as its last line the JSON result. Exits 1 if any output failed its
check, 2 if the checkout holds no engine to measure.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
WORKER_TIMEOUT_S = 140
BURN_ROUNDS = 250_000
END_TO_END = {
    "docs_per_s": "docs/s",
    "first_run_s": "s",
    "setup_s": "s",
    "cpu_s_per_kdoc": "s/kdoc",
    "peak_rss_mb": "MB",
}


def host_burn(rounds: int = BURN_ROUNDS) -> float:
    """Single-core md5 chain, the same receipt as bench.py's ``_host_burn``
    at a 24th of its rounds: host speed, recorded next to every run."""
    h = b"x" * 64
    t0 = time.perf_counter()
    for _ in range(rounds):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _group_alive(pgid: int) -> bool:
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[2]) == pgid:
                        return True
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
    return False


def _stop_group(pgid: int) -> None:
    """Stop whatever the worker left in its process group and wait for it."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while _group_alive(pgid) and time.time() < deadline:
            time.sleep(0.1)


def spawn_worker(inputs_json: Path, seconds: float, trace: int) -> dict:
    work = WORK / "run"
    work.mkdir(parents=True, exist_ok=True)
    record = work / "record.json"
    record.unlink(missing_ok=True)
    env = dict(os.environ, PYTHONPATH=str(ROOT), TMPDIR=str(work), PYSPARK_PYTHON=sys.executable)
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--inputs", str(inputs_json), "--work", str(work), "--record", str(record),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    log = work / "worker.log"
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            cmd + ["--spawned-at", repr(time.time())],
            cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not record.exists():
        tail = log.read_text(errors="replace").splitlines()[-30:]
        raise RuntimeError(
            f"worker exited with {proc.returncode}:\n" + "\n".join(tail)
        )
    return json.loads(record.read_text())


def end_to_end(rec: dict) -> dict[str, tuple[float, int]]:
    """metric → (value, sample count)."""
    walls, n = rec["walls"], rec["n_docs"]
    return {
        "docs_per_s": (n / statistics.median(walls), len(walls)),
        "first_run_s": (rec["first_run_s"], 1),
        "setup_s": (rec["setup_s"], 1),
        "cpu_s_per_kdoc": (sum(rec["cpu_s"]) / (n * len(walls) / 1000), len(walls)),
        "peak_rss_mb": (rec["peak_rss_mb"], len(walls)),
    }


def per_layer(rec: dict) -> dict[str, tuple[float, int]]:
    from perfbench.trace import metric_units

    values = {**rec["layers"], **rec["counts"]}
    traced = next(s for s in rec["spans"] if s["name"] == "iteration")
    values["trace.overhead_ratio"] = (traced["end"] - traced["start"]) / statistics.median(
        rec["walls"]
    )
    return {name: (float(values.get(name, 0.0)), 1) for name in metric_units()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="input size override (tests)")
    args = ap.parse_args(argv)
    # a terminated run still stops its worker (spawn_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "engine" / "pipeline.py").is_file() or not (ROOT / "tests" / "oracle.py").is_file():
        print(f"perfbench: no engine/ and tests/ to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.inputs import SIZES, prepare
    from perfbench.trace import metric_units

    if args.workload not in SIZES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(SIZES)}", file=sys.stderr)
        return 2
    t_run = time.time()
    burn_before = host_burn()
    inputs = prepare(args.workload, args.seed, WORK, args.docs)
    inputs_json = Path(inputs["dir"]) / "inputs.json"
    steal_before = steal_s()
    rec = spawn_worker(inputs_json, args.seconds, args.trace)
    steal = steal_s() - steal_before
    burn_after = host_burn()

    if args.trace:
        units = metric_units()
        metrics = per_layer(rec)
    else:
        units = END_TO_END
        metrics = end_to_end(rec)
    for name, (value, samples) in metrics.items():
        print(f"{name} {value:.6g} {units[name]} n={samples}")
    print(f"failed_frac {rec['failed'] / rec['attempted']:.6g} ratio n={rec['attempted']}")
    for err in rec["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    receipt = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": rec["cores"],
        "n_docs": rec["n_docs"],
        "walls_s": rec["walls"],
        "setup_s": rec["setup_s"],
        "check_s": rec["check_s"],
        "run_wall_s": time.time() - t_run,
        "host_burn_s": {"before": burn_before, "after": burn_after, "rounds": BURN_ROUNDS},
        "host_steal_s": steal,
    }
    print("record " + json.dumps(receipt))
    print(
        json.dumps(
            {
                "correct": rec["failed"] == 0,
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": {n: {"value": v, "unit": units[n]} for n, (v, _) in metrics.items()},
            }
        )
    )
    return 0 if rec["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
