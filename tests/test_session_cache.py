"""Contract of engine.session.per_session, the expression cache of the
receipt and curation paths: a repeated build is cheap in Py4J calls, a new
session rebuilds the trees, and concurrent first builds agree."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
from pathlib import Path

import py4j.clientserver
import pytest

from engine import session
from engine.io import derive_outputs
from engine.parse import doc_modes, extract_documents
from engine.pipeline import build_spine
from engine.trainops import curation_edges, curation_labeled

REPO = Path(__file__).resolve().parent.parent


def _build(spark, spans, blobs):
    """The receipt path's frames: spine, its derived outputs, documents."""
    spine = build_spine(spark, spans, blobs)
    outs = derive_outputs(spine, "cache")
    return spine, outs, extract_documents(outs["spans_out"], modes=doc_modes(spine))


@pytest.fixture(scope="module")
def curation_docs(spark):
    """40 docs for the curation chain: near-duplicate pairs, a repetitive
    doc and a too-short one, so every pre-verdict and the LSH join occur."""
    words = [f"w{i}" for i in range(60)]
    rows = [(i, "s", " ".join(words[i : i + 20])) for i in range(36)]
    rows += [(100 + i, "s", " ".join(words[i + 1 : i + 20])) for i in range(2)]
    rows += [(200, "s", "spam " * 30), (201, "s", "short doc")]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


# builder name → (build, Py4J-call bound for a repeated build)
_BUILDS = {
    # ~9,600 calls before the cache: every Column tree rebuilt per query
    "receipt": (lambda spark, corpus_dfs, docs: _build(spark, *corpus_dfs), 1000),
    # 2,252 calls before the curation factories were cached, 386 after;
    # most of those left are DataFrame operations and the eager checkpoint
    "curation": (
        lambda spark, corpus_dfs, docs: curation_edges(curation_labeled(docs)),
        500,
    ),
}


def _py4j_calls(monkeypatch, fn) -> int:
    """Py4J round trips ``fn`` makes from this thread.  Py4J's finalizer
    thread, which releases JVM objects of earlier garbage concurrently, is
    not counted."""
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        calls[0] += threading.get_ident() == me
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
        fn()
    return calls[0]


@pytest.mark.parametrize("name", list(_BUILDS))
def test_second_build_is_cheap_in_py4j_calls(
    spark, corpus_dfs, curation_docs, monkeypatch, name
):
    build, bound = _BUILDS[name]
    build(spark, corpus_dfs, curation_docs)
    calls = _py4j_calls(monkeypatch, lambda: build(spark, corpus_dfs, curation_docs))
    assert calls <= bound, calls


def _clear_cache(spark) -> None:
    with session._EXPRESSIONS_LOCK:
        session._EXPRESSIONS.pop(spark.sparkContext, None)


def _rows(df) -> list:
    return sorted(df.collect(), key=lambda r: tuple(str(v) for v in r))


def test_concurrent_first_builds_agree(spark, corpus_dfs):
    _clear_cache(spark)
    barrier = threading.Barrier(2)
    got: list = [None, None]

    def worker(i: int) -> None:
        barrier.wait()
        spine, outs, docs = _build(spark, *corpus_dfs)
        got[i] = (_rows(outs["spans_out"]), _rows(outs["lineage"]), _rows(docs))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert got[0] is not None and got[0] == got[1]
    spine, outs, docs = _build(spark, *corpus_dfs)
    assert _rows(docs) == got[0][2]


def test_concurrent_callers_share_one_tree(spark):
    """More threads than cores racing on a cold key all get the one stored
    tree; an overwrite instead of a first-wins store would hand different
    threads different trees."""
    import pyspark.sql.functions as F

    @session.per_session
    def tree(name: str):
        return [F.col(name) + F.lit(1), F.col(name)]

    n = 2 * (os.cpu_count() or 4)
    barrier = threading.Barrier(n)
    got: list = [None] * n

    def worker(i: int) -> None:
        barrier.wait()
        got[i] = tree("x")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert all(g is got[0] for g in got)
    assert isinstance(got[0], tuple)  # a cached list comes back immutable
    assert tree("x") is got[0] and tree("y") is not got[0]


_RESTART = """
import pyspark.sql.functions as F
from engine import parse
from engine.session import get_spark

TABLE = ("<table><tr><th>h</th></tr><tr><td>قسم</td><td></td></tr>"
         "<tr><td>C1</td><td>x</td><td>d</td><td>1</td><td>1</td><td>1</td><td>1</td><td>9</td></tr>"
         "</table>")


def run():
    spark = get_spark("cache-restart", cores=1, shuffle_partitions=2)
    df = spark.createDataFrame([("d1", TABLE), ("d2", None)], "doc_id: string, text: string")
    return spark, parse._sections_and_footer("text"), parse.extract_sections(df).collect()


spark, first_tree, first = run()
assert parse._sections_and_footer("text") is first_tree
spark.stop()
spark, second_tree, second = run()
assert second_tree is not first_tree
assert second == first and first[0]["sections"][0]["section_name"] == "قسم"
spark.stop()
print("restart ok")
"""


def test_new_session_rebuilds_the_trees():
    """A stopped session's trees are never reused (their JVM objects belong
    to the old context); the query runs the same in the next session.  In a
    child process: the suite's own session must stay alive."""
    env = dict(os.environ, PYTHONPATH=str(REPO), SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "restart ok" in proc.stdout
