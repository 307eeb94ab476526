"""One benchmark run of one workload in a fresh Spark process.

Started by ``perfbench/run.py``; writes its record as JSON to ``--record``.
Set-up is timed from the moment the parent spawned this process to a ready
session with the inputs registered. Then:

- untraced (``--trace 0``): one cold iteration (``first_run_s``), one
  untimed warm-up iteration (the second iteration of a session still runs
  about 15% slower than the third), timed iterations for ``--seconds``, and
  the correctness check of every iteration's output after the timed region;
- traced (``--trace 1``): the same untraced iterations for half the time,
  then one staged iteration whose layer spans are joined with this session's
  event log after the session stops.

CPU and RSS are read from ``/proc`` for every process this one started: the
driver JVM and its Python workers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import threading
import time
import traceback

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _stat(int(p))
            if st:
                kids.setdefault(int(st[1]), []).append(int(p))
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat from field 3 (state) on, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def children_cpu_s() -> float:
    """user+sys seconds of every live descendant plus the children they reaped."""
    total = 0
    for p in _descendants(os.getpid()):
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / CLK


def children_rss_mb() -> float:
    total = 0
    for p in _descendants(os.getpid()):
        st = _stat(p)
        if st:
            total += int(st[21])
    return total * PAGE / 2**20


class RssPeak:
    """Samples the descendants' summed RSS on a thread until stopped."""

    def __init__(self, every_s: float = 0.1):
        self.peak = 0.0
        self._every = every_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, children_rss_mb())
            self._stop.wait(self._every)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str, workload_conf: dict, event_log: str | None) -> dict:
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        # a pinned, pre-touched heap (as bench.py's sessions use) keeps the
        # JVM's RSS from tracking GC timing, so peak_rss_mb moves with what
        # the program holds, not with when the collector ran
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={local}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        **workload_conf,
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def attempt(fn, out: str, failed: dict[str, str]) -> None:
    """Run one iteration or check; a raise marks ``out`` failed and the run
    goes on, so a failure is counted instead of ending the run."""
    try:
        fn(out)
    except Exception:
        failed.setdefault(out, traceback.format_exc(limit=4))


def check_outputs(wl, outs: list[str], failed: dict[str, str]) -> None:
    """Check every iteration's committed output against the oracle."""
    for out in outs:
        if out not in failed:
            attempt(wl.check, out, failed)


def timed_loop(wl, out_root: str, seconds: float, record: dict, failed: dict) -> list[str]:
    """Iterations while the next one would end nearer ``seconds`` than the
    last did, so the region lasts ``seconds`` give or take half an iteration."""
    outs, walls, cpus = [], [], []
    t_loop = time.time()
    with RssPeak() as rss:
        while not walls or time.time() - t_loop + statistics.median(walls) / 2 < seconds:
            out = os.path.join(out_root, f"it{len(outs) + 1}")
            outs.append(out)
            c0, t0 = children_cpu_s(), time.time()
            attempt(wl.iteration, out, failed)
            walls.append(time.time() - t0)
            cpus.append(children_cpu_s() - c0)
    record.update(walls=walls, cpu_s=cpus, peak_rss_mb=rss.peak)
    return outs


def run(args) -> dict:
    spawned_at = args.spawned_at
    from perfbench.workloads import WORKLOADS

    from engine.session import get_spark

    with open(args.inputs) as fh:
        inputs = json.load(fh)
    cls = WORKLOADS[inputs["workload"]]
    event_log = os.path.join(args.work, "eventlog") if args.trace else None
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)
    spark = get_spark(
        f"perfbench-{inputs['workload']}",
        cores=cores(),
        extra_conf=session_conf(args.work, cls.conf, event_log),
    )
    record = {"cores": cores(), "n_docs": inputs["n_docs"]}
    failed: dict[str, str] = {}
    try:
        wl = cls(spark, inputs)
        record["setup_s"] = time.time() - spawned_at
        out_root = os.path.join(args.work, "out")
        shutil.rmtree(out_root, ignore_errors=True)
        cold = os.path.join(out_root, "cold")
        t0 = time.time()
        attempt(wl.iteration, cold, failed)
        record["first_run_s"] = time.time() - t0
        warm = os.path.join(out_root, "warm")
        attempt(wl.iteration, warm, failed)
        seconds = args.seconds / 2 if args.trace else args.seconds
        outs = [cold, warm] + timed_loop(wl, out_root, seconds, record, failed)
        if args.trace:
            from perfbench.trace import Tracer

            tr = Tracer(spark.sparkContext)
            staged = os.path.join(out_root, "traced")
            with tr.span("iteration"):
                wl.traced(tr, staged)
            if hasattr(wl, "same_as"):
                attempt(lambda o: wl.same_as(o, outs[-1]), staged, failed)
            outs.append(staged)
            record["spans"] = [s.__dict__ for s in tr.spans]
            record["counts"] = tr.counts
        t0 = time.time()
        check_outputs(wl, outs, failed)
        record["check_s"] = time.time() - t0
        record["attempted"] = len(outs)
        record["failed"] = len(failed)
        record["errors"] = list(failed.values())
        shutil.rmtree(out_root, ignore_errors=True)
    finally:
        spark.stop()
    if args.trace:
        from perfbench.trace import Span, layer_metrics, read_events

        spans = [Span(**s) for s in record["spans"]]
        record["layers"] = layer_metrics(spans, read_events(event_log), iterations=1)
    return record


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()
    record = run(args)
    with open(args.record, "w") as fh:
        json.dump(record, fh)


if __name__ == "__main__":
    main()
