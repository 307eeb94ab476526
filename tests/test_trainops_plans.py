"""Physical-plan guards for the training-data dedup suite.

Every pairing query must generate candidates via a bounded equi-join —
never an all-pairs nested-loop/cartesian (the textbook 100×-scale killer).
These tests pin that property so a future edit can't silently reintroduce
an inequality-only join condition.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

from engine import entry, trainops

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")
SF_TINY = str(Path(SF_DIR).with_name("sf0.001"))

_PAIRING_QUERIES = [
    entry.dedup_media_features,
    entry.dedup_media_strip,
    entry.x_curate_interleaved_spans,
    entry.train_curate_interleaved,
    trainops.dedup_minhash_lsh,
    trainops.dedup_ngram_jaccard,
    trainops.dedup_simhash_hamming,
    trainops.dedup_embedding_cosine,
    trainops.sim_batch_topk,
    trainops.text_dedup_incremental,
    trainops.train_curate_incremental,
    trainops.dedup_substring_spans,
    trainops.dedup_substring_scrub,
    # r5 close: the CCNet composition (md5 equi-join dedup + two broadcast
    # LM joins — must stay free of all-pairs shapes end-to-end).  The
    # DSIR/PQ queries are NOT here: their 1-row totals/packed-codebook
    # broadcast crossJoins are by-design BNLJs (sim_cosine_topk precedent)
    # and carry their own dedicated plan tests instead.
    trainops.train_corpus_ccnet,
    trainops.text_lm_perplexity,
]

_FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


@pytest.mark.parametrize("fn", _PAIRING_QUERIES, ids=lambda f: f.__name__)
def test_pairing_query_has_no_all_pairs_join(spark, fn):
    plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    for marker in _FORBIDDEN:
        assert marker not in plan, f"{fn.__name__} plan contains {marker}:\n{plan[:2000]}"


def test_hamming_bands_cover_distance_2():
    """Pigeonhole sanity: the 3 bands partition all 16 fingerprint bits, so
    any pair at Hamming distance ≤ 2 shares at least one full band."""
    covered = []
    for shift, width in trainops._HAM_BANDS:
        covered.extend(range(shift, shift + width))
    assert sorted(covered) == list(range(16))
    assert len(trainops._HAM_BANDS) >= 3  # d + 1 bands for d = 2


def _chain_edges(spark, n):
    """Path graph 0-1-2-...-(n-1), symmetric edge list — diameter n-1, the
    worst case for per-hop label propagation."""
    pairs = [(i, i + 1) for i in range(n - 1)]
    rows = [{"doc_a": a, "doc_b": b} for a, b in pairs] + [
        {"doc_a": b, "doc_b": a} for a, b in pairs
    ]
    return spark.createDataFrame(rows, "doc_a: long, doc_b: long")


def _union_find(pairs):
    """Reference labels: node -> min node of its component, plain union-find."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in {x for p in pairs for x in p}}


# connected_components' two paths, forced by the bound: -1 sends every graph,
# the empty one included, through the loop; maxsize finishes every graph in
# one task.
_CC_PATHS = {"loop": -1, "one_task": sys.maxsize}


@pytest.fixture(params=list(_CC_PATHS))
def cc_path(request, monkeypatch):
    monkeypatch.setattr(trainops, "_CC_LOCAL_EDGES", _CC_PATHS[request.param])
    return request.param


def test_connected_components_chain_converges_at_cadence(spark, tmp_path, cc_path):
    """Deep-chain fixture: every node labels down to 0, and lineage
    truncation uses a RELIABLE checkpoint once a dir is configured.  On the
    loop, convergence checks run at the cadence (not per iteration);
    adaptive pointer jumping (engaged after the first failed check) makes a
    diameter-11 chain converge in ~6 rounds, not 11, and the direct
    fixpoint test detects convergence at the first check past it — no extra
    static window.  In one task the loop never starts."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "cc-ckpt"))  # a fresh dir per path
    stats = {}
    comp = trainops.connected_components(
        _chain_edges(spark, 12), max_iterations=24, stats=stats
    )
    labels = {r["doc_id"]: r["comp"] for r in comp.collect()}
    assert labels == {i: 0 for i in range(12)}
    assert stats["converged"] and stats["reliable_checkpoint"]
    if cc_path == "loop":
        # pointer jumping: diameter 11 must NOT take 11 per-hop rounds
        assert stats["iterations"] <= 6
        assert stats["convergence_checks"] <= 2
        assert stats["pointer_jump_engaged"]  # deep chain trips the adaptive path
        assert not stats["local_finish"]
    else:
        assert stats["local_finish"] and stats["iterations"] == 0
    # superseded checkpoints are deleted as the loop advances: a 15-round run
    # must NOT accumulate O(checks) table copies on durable storage — only
    # the final comp checkpoint survives (edges + earlier windows removed)
    ckpt_root = sc.getCheckpointDir().replace("file:", "")
    leftover = [
        d for d in os.listdir(ckpt_root) if os.path.isdir(os.path.join(ckpt_root, d))
    ]
    assert len(leftover) <= 1, f"superseded checkpoints not cleaned: {leftover}"
    # and the survivor is still readable (the returned frame depends on it)
    assert comp.count() == 12


def _contraction_graph(spark):
    """A 200-node graph deep enough to fail the first window, as (symmetric
    edge frame, union-find reference labels)."""
    import random

    rng = random.Random(41)
    ids = list(range(200))
    rng.shuffle(ids)
    # one deep chain (forces ≥2 windows → contraction) + two cliques that
    # converge in window 1 (their labels vanish from the contracted graph)
    # + a high-degree star + a cross-link fusing the star into the chain's
    # middle (a hub merging into a half-converged region mid-loop) + an
    # isolated 2-cycle — the contraction/lift edge-case zoo in one graph
    pairs = [(ids[i], ids[i + 1]) for i in range(149)]
    for grp in (ids[150:175], ids[175:190]):
        pairs.extend((grp[0], m) for m in grp[1:])
    hub = ids[190]
    pairs.extend((hub, m) for m in ids[191:198])  # star
    pairs.append((hub, ids[75]))  # star fused into the chain's middle
    pairs.append((ids[198], ids[199]))  # isolated pair
    rows = [{"doc_a": a, "doc_b": b} for a, b in pairs] + [
        {"doc_a": b, "doc_b": a} for a, b in pairs
    ]
    edges = spark.createDataFrame(rows, "doc_a: long, doc_b: long")
    return edges, _union_find(pairs)


def test_connected_components_contraction_differential(spark, tmp_path, cc_path):
    """r6 contraction path: a graph deep enough to fail the first window
    contracts (labels become nodes) and still produces EXACTLY the labels of
    a reference union-find — including components that fully converge before
    the last contraction (their label must survive the left-join lift).  In
    one task the same graph gets the same labels without contracting."""
    edges, want = _contraction_graph(spark)
    stats: dict = {}
    comp = trainops.connected_components(edges, max_iterations=24, stats=stats)
    got = {r["doc_id"]: r["comp"] for r in comp.collect()}
    assert got == want
    assert stats["converged"]
    if cc_path == "loop":
        assert stats["contractions"] >= 1 and not stats["local_finish"]
    else:
        assert stats["local_finish"] and stats["contractions"] == 0


def test_connected_components_hands_over_to_one_task_after_contraction(
    spark, monkeypatch
):
    """A bound between the input's and the first contraction's edge rows:
    the loop runs one window, contracts once, and one task finishes the
    contracted graph; the lift back to the original ids still gives the
    union-find labels."""
    bound = 300
    monkeypatch.setattr(trainops, "_CC_LOCAL_EDGES", bound)
    edges, want = _contraction_graph(spark)
    stats: dict = {}
    comp = trainops.connected_components(edges, stats=stats)
    assert {r["doc_id"]: r["comp"] for r in comp.collect()} == want
    first, contracted = stats["edge_rows"]
    assert first > bound >= contracted
    assert stats["contractions"] == 1 and stats["local_finish"]
    assert stats["iterations"] == trainops._CC_CHECK_EVERY


def _clear_checkpoint_dir(sc):
    """Force the dir-less (localCheckpoint) branch on the shared session,
    where an earlier test may have set a dir (scala: checkpointDir = None) —
    test-only seam."""
    if sc.getCheckpointDir() is not None:
        scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)
        assert sc.getCheckpointDir() is None


def _persistent_ids(sc):
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


def test_connected_components_releases_local_checkpoint_blocks(spark, cc_path):
    """Dir-less (localCheckpoint) mode must not leak superseded blocks into
    executor storage memory: after the call returns, only the surviving
    materialization(s) the returned frame depends on may remain persisted
    (r5 leaked ~4 blocks per run; over a 3-repeat 17-query bench that
    accumulation squeezed execution memory for every later query)."""
    sc = spark.sparkContext
    _clear_checkpoint_dir(sc)
    before = _persistent_ids(sc)
    stats: dict = {}
    comp = trainops.connected_components(
        _chain_edges(spark, 40), max_iterations=24, stats=stats
    )
    leaked = _persistent_ids(sc) - before
    # exactly the returned frame's own materialization survives
    assert len(leaked) <= 1, f"superseded localCheckpoint blocks leaked: {leaked}"
    if cc_path == "loop":
        assert stats["contractions"] >= 1  # the deep chain exercised every path
    assert comp.count() == 40
    comp._jdf  # keep the frame alive until after the assertion


def test_connected_components_raises_instead_of_partial_labels(spark, monkeypatch):
    # the loop only: one task always converges.  Pointer jumping covers
    # ~3·2^k hops after k rounds, so forcing non-convergence needs a chain
    # much deeper than the iteration cap
    monkeypatch.setattr(trainops, "_CC_LOCAL_EDGES", _CC_PATHS["loop"])
    with pytest.raises(RuntimeError, match="did not converge"):
        trainops.connected_components(_chain_edges(spark, 64), max_iterations=2)


@pytest.mark.parametrize(
    "mode,path",
    [
        pytest.param("local", "loop", id="local"),
        pytest.param("reliable", "loop", id="reliable"),
        pytest.param("local", "one_task", id="local-one_task"),
        pytest.param("reliable", "one_task", id="reliable-one_task"),
    ],
)
def test_connected_components_leaves_session_state_alone(
    spark, tmp_path, monkeypatch, mode, path
):
    """CC shares its session with concurrent queries: while it runs on a
    worker thread, the main thread must see the session's shuffle width
    unchanged, and every materialization the main thread takes meanwhile
    (localCheckpoint blocks, or reliable checkpoint directories) must
    survive the call's releases and still read back correctly."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.setattr(trainops, "_CC_LOCAL_EDGES", _CC_PATHS[path])
    sc = spark.sparkContext
    if mode == "local":
        _clear_checkpoint_dir(sc)
    else:
        sc.setCheckpointDir(str(tmp_path / "cc-ckpt"))
    edges, want = _contraction_graph(spark)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    widths, mine = set(), []
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(trainops.connected_components, edges)
        deadline = time.monotonic() + 600
        while not fut.done() and time.monotonic() < deadline:
            widths.add(spark.conf.get("spark.sql.shuffle.partitions"))
            df = spark.range(len(mine) + 1)
            mine.append(
                df.localCheckpoint(eager=True)
                if mode == "local"
                else df.checkpoint(eager=True)
            )
        comp = fut.result(timeout=60)
    assert widths == {width}
    assert mine, "no checkpoint was taken while CC ran"
    persisted = _persistent_ids(sc)
    for n, df in enumerate(mine, start=1):
        rdd = df._jdf.queryExecution().logical().rdd()
        if mode == "local":
            assert rdd.id() in persisted, f"frame {n}: blocks released by CC"
        else:
            path = rdd.getCheckpointFile().get().removeprefix("file:")
            assert os.path.isdir(path), f"frame {n}: checkpoint deleted by CC"
        assert df.count() == n
    assert {r["doc_id"]: r["comp"] for r in comp.collect()} == want
    for df in mine:
        trainops._release(df)
    _clear_checkpoint_dir(sc)  # later tests run dir-less, as before this one


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_connected_components_counts_edge_rows_by_observation(
    spark, tmp_path, monkeypatch, mode
):
    """``edge_rows[0]`` is the row count of the truncated edge list (input
    plus one self-loop per node), read from the truncation job's observe()
    metric in both checkpoint modes."""
    monkeypatch.setattr(trainops, "_CC_LOCAL_EDGES", _CC_PATHS["one_task"])
    sc = spark.sparkContext
    if mode == "local":
        _clear_checkpoint_dir(sc)
    else:
        sc.setCheckpointDir(str(tmp_path / "cc-ckpt"))
    edges, _ = _contraction_graph(spark)
    stats: dict = {}
    trainops.connected_components(edges, stats=stats)
    nodes = edges.select("doc_a").distinct().count()
    assert stats["edge_rows"] == [edges.count() + nodes]
    assert stats["reliable_checkpoint"] == (mode == "reliable")
    _clear_checkpoint_dir(sc)


# Ids whose order a cast would break: strings where string order is not
# numeric order ("10" < "9"), non-ASCII strings whose UTF-8 byte order differs
# from UTF-16 order ("ﬁ" < "😀" bytewise, as Spark compares), int64 ids
# above 2^53 that a double cannot tell apart, and no edges at all.
_BIG = 2**53 + 1
_ID_CASES = {
    "strings": (
        "string",
        [("9", "10"), ("10", "100"), ("😀", "ﬁ"), ("é", "z"), ("Z", "a")],
    ),
    "int64_above_2p53": (
        "long",
        [(_BIG + 2, _BIG + 1), (_BIG + 1, _BIG), (_BIG + 4, _BIG + 3)],
    ),
    "empty": ("long", []),
}


@pytest.mark.parametrize("case", list(_ID_CASES))
def test_connected_components_exact_ids(spark, cc_path, case):
    """Both paths label by the min id compared in the id column's own type
    and return that type: no cast through double, strings ordered bytewise."""
    id_type, pairs = _ID_CASES[case]
    rows = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(rows, f"doc_a {id_type}, doc_b {id_type}")
    stats: dict = {}
    comp = trainops.connected_components(edges, stats=stats)
    assert {r["doc_id"]: r["comp"] for r in comp.collect()} == _union_find(pairs)
    assert comp.schema.simpleString() == (
        f"struct<doc_id:{edges.schema['doc_a'].dataType.simpleString()},"
        f"comp:{edges.schema['doc_a'].dataType.simpleString()}>"
    )
    assert stats["local_finish"] == (cc_path == "one_task")


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_connected_components_concurrent_calls_each_use_their_own_count(
    spark, tmp_path, monkeypatch, mode
):
    """Two calls from two threads on one session, one graph below the bound
    and one above it: each call takes the path its own observed count picks,
    both label exactly, neither leaks a block or checkpoint dir, and the
    session's shuffle width never moves."""
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext
    ckpt = tmp_path / "cc-ckpt"
    if mode == "local":
        _clear_checkpoint_dir(sc)
    else:
        sc.setCheckpointDir(str(ckpt))
    monkeypatch.setattr(trainops, "_CC_LOCAL_EDGES", 100)
    small = _chain_edges(spark, 12)  # 22 edge rows + 12 self-loops
    big, big_want = _contraction_graph(spark)  # 592 rows with self-loops
    width = spark.conf.get("spark.sql.shuffle.partitions")
    before = _persistent_ids(sc)
    small_stats: dict = {}
    big_stats: dict = {}
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(trainops.connected_components, small, stats=small_stats),
            pool.submit(trainops.connected_components, big, stats=big_stats),
        ]
        small_comp, big_comp = (f.result(timeout=600) for f in futs)
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    assert small_stats["edge_rows"] == [34]
    assert small_stats["local_finish"] and small_stats["iterations"] == 0
    assert big_stats["edge_rows"][0] == 592 and big_stats["iterations"] > 0
    assert {r["doc_id"]: r["comp"] for r in small_comp.collect()} == {
        i: 0 for i in range(12)
    }
    assert {r["doc_id"]: r["comp"] for r in big_comp.collect()} == big_want
    # only the two returned frames' own materializations survive
    if mode == "local":
        assert len(_persistent_ids(sc) - before) <= 2
    else:
        dirs = [p for p in ckpt.glob("*/*") if p.is_dir()]
        assert len(dirs) <= 2, f"checkpoint dirs leaked: {dirs}"
    _clear_checkpoint_dir(sc)


def test_component_roots_match_union_find():
    """The one-task kernel against the union-find reference on random
    graphs, shuffled-id paths and one-directional edge lists."""
    import random

    import numpy as np

    rng = random.Random(5)
    for trial in range(30):
        n = rng.randint(1, 300)
        if trial % 3 == 0:
            order = list(range(n))
            rng.shuffle(order)
            pairs = list(zip(order, order[1:]))
        else:
            pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(0, 2 * n))]
        if trial % 2:
            pairs += [(b, a) for a, b in pairs]
        src = np.array([a for a, _ in pairs], dtype=np.int64)
        dst = np.array([b for _, b in pairs], dtype=np.int64)
        roots = trainops._component_roots(src, dst, n)
        want = _union_find(pairs)
        assert {v: int(roots[v]) for v in want} == want
        isolated = set(range(n)) - set(want)
        assert all(roots[v] == v for v in isolated)


# (test_text_repetition_matches_duckdb_oracle removed round 5:
# text_repetition entered the driver window, so its oracle parity now runs
# with every other registered query in test_oracle_parity.py.)


def test_text_repetition_flags_degenerate_docs(spark):
    """A degenerate doc (one bigram looping) must be flagged; a normal doc
    must not; the repeated-word run length must be exact."""
    rows = [
        {"doc_id": 1, "source": "s", "text": "spam ham " * 50 + "end"},
        {"doc_id": 2, "source": "t", "text": " ".join(f"w{i}" for i in range(60))},
        {"doc_id": 3, "source": "u", "text": "a b c d e f g go go go go stop"},
    ]
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(rows))
    # run the per-doc pipeline by pointing load() at a temp dir
    import tempfile

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["source"]: r.asDict() for r in trainops.text_repetition(spark, d).collect()}
    assert out["s"]["flagged_docs"] == 1      # top bigram "spam ham" ≈ 50%
    assert out["t"]["flagged_docs"] == 0
    assert out["u"]["max_word_run"] == 4      # "go go go go"


def test_repetition_flags_per_doc_composable(spark):
    """repetition_flags returns one row per doc with integer counters and a
    boolean flag — joinable/anti-joinable by a filtering pipeline."""
    import pandas as pd

    rows = [
        {"doc_id": 1, "source": "s", "text": "spam ham " * 50 + "end"},
        {"doc_id": 2, "source": "t", "text": " ".join(f"w{i}" for i in range(60))},
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in trainops.repetition_flags(
            spark.createDataFrame(pd.DataFrame(rows))
        ).collect()
    }
    assert out[1]["flagged"] is True and out[2]["flagged"] is False
    assert out[1]["top_bg"] + out[1]["total_bg"] > 0
    kept = (
        spark.createDataFrame(pd.DataFrame(rows))
        .join(
            trainops.repetition_flags(spark.createDataFrame(pd.DataFrame(rows)))
            .filter("flagged").select("doc_id"),
            "doc_id",
            "left_anti",
        )
    )
    assert [r["doc_id"] for r in kept.collect()] == [2]


def test_repetition_flags_covers_short_docs(spark):
    """DOMAIN fix (round-5): every input doc_id appears exactly once —
    docs too short for bigrams/trigrams carry NULL counters and
    flagged=false instead of vanishing from the output (an inner-joining
    consumer used to lose them silently)."""
    import pandas as pd

    rows = [
        {"doc_id": 1, "source": "s", "text": "one"},          # no bigrams
        {"doc_id": 2, "source": "s", "text": "two words"},    # no trigrams
        {"doc_id": 3, "source": "s", "text": "three word doc"},
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in trainops.repetition_flags(
            spark.createDataFrame(pd.DataFrame(rows))
        ).collect()
    }
    assert sorted(out) == [1, 2, 3]
    assert out[1]["top_bg"] is None and out[1]["flagged"] is False
    assert out[2]["total_bg"] == 1 and out[2]["distinct_tg"] is None
    # a 2-word doc's lone bigram is 100% of its bigrams, so the ratio
    # threshold legitimately fires — tiny docs are the quality filter's job
    # (which is why train_corpus_filtered applies the length window FIRST)
    assert out[2]["flagged"] is True
    assert out[3]["total_tg"] == 1


def test_repetition_flag_col_matches_flags_frame(spark):
    """repetition_flag_col() (the inline row-local Column the curation
    pipelines withColumn) must agree row-by-row with repetition_flags()'s
    `flagged` — including NULL-counter short docs (coalesce → false) and
    exactly-at-threshold docs."""
    import pandas as pd

    rows = [
        {"doc_id": 1, "source": "s", "text": "spam ham " * 50 + "end"},
        {"doc_id": 2, "source": "t", "text": " ".join(f"w{i}" for i in range(60))},
        {"doc_id": 3, "source": "u", "text": "one"},
        {"doc_id": 4, "source": "u", "text": "two words"},
        {"doc_id": 5, "source": "u", "text": "go go go go stop " * 8},
        # 40 distinct trigrams over 40 words → dup ratio 0, top-bg 1/39
        {"doc_id": 6, "source": "v", "text": " ".join(f"x{i}" for i in range(40))},
    ]
    d = spark.createDataFrame(pd.DataFrame(rows))
    frame = {
        r["doc_id"]: r["flagged"]
        for r in trainops.repetition_flags(d).collect()
    }
    inline = {
        r["doc_id"]: r["f"]
        for r in d.select("doc_id", trainops.repetition_flag_col().alias("f")).collect()
    }
    assert frame == inline and len(frame) == len(rows)


def test_max_equal_run_matches_python_oracle(spark):
    """_max_equal_run (the row-local longest-equal-adjacent-run aggregate
    that replaced explode → groupBy → max for gram multiplicity) against a
    pure-Python oracle over adversarial arrays: runs at the start, at the
    end, singletons, all-equal, empty, and NULL-in (NULL array → NULL)."""
    import pandas as pd
    from pyspark.sql import functions as F

    cases = [
        ["a", "a", "b"],
        ["a", "b", "b", "b"],
        ["z"],
        ["q"] * 7,
        ["a", "b", "a", "b"],
        [],
        None,
        ["r", "r", "s", "s", "s", "r", "r", "r", "r", "t"],
    ]

    def oracle(arr):
        if arr is None:
            return None
        best = run = 0
        prev = object()
        for x in arr:
            run = run + 1 if x == prev else 1
            best = max(best, run)
            prev = x
        return best

    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(cases)), "arr": cases})
    )
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i", trainops._max_equal_run(F.col("arr"), "string").alias("m")
        ).collect()
    }
    assert got == {i: oracle(c) for i, c in enumerate(cases)}


def test_train_corpus_filtered_has_no_all_pairs_join(spark):
    """The flagship curation composition must keep the bounded equi-join
    property of its parts (pairs come from the LSH band join over
    pre-filtered survivors, never a cartesian)."""
    plan = (
        trainops.train_corpus_filtered(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in _FORBIDDEN:
        assert marker not in plan, f"plan contains {marker}:\n{plan[:2000]}"


def test_curation_outcomes_partition_the_corpus(spark):
    """Outcome lineage must be a PARTITION of the augmented universe:
    every doc gets exactly one outcome, curated_corpus is exactly the
    'kept' class, and precedence is quality > repetition > duplicate
    (a quality-dropped doc never double-counts as a duplicate drop)."""
    sf = "/root/testdata/sf0.001"
    outcomes = trainops._curation_outcomes(spark, sf)
    total_aug = trainops._augmented(spark, sf).count()
    per_doc = outcomes.groupBy("doc_id").count().filter("count > 1").count()
    assert per_doc == 0
    counts = {
        (r["source"], r["outcome"]): r["docs"]
        for r in trainops.train_corpus_filtered(spark, sf).collect()
    }
    assert sum(counts.values()) == total_aug
    kept = trainops.curated_corpus(spark, sf)
    assert kept.count() == sum(v for (s, o), v in counts.items() if o == "kept")
    assert set(kept.columns) == {"doc_id", "source", "text"}
    # the augmentation injects exact copies (doc_id % 7) — with every base doc
    # surviving the pre-filters its +200000 twin MUST be a duplicate drop, so
    # the class is non-trivially exercised
    assert sum(v for (s, o), v in counts.items() if o == "dropped_duplicate") > 0


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval-side n-gram set must reach the corpus via a broadcast hash
    join (benchmark suites are tiny vs the corpus — shuffling the corpus
    grams by shingle would be the 100 TB mistake), and no all-pairs shape."""
    plan = (
        trainops.text_decontaminate(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]
    for marker in _FORBIDDEN:
        assert marker not in plan, f"plan contains {marker}:\n{plan[:2000]}"


def test_pii_redact_is_map_only(spark):
    """Redaction is a row-local projection: the plan over the corpus scan
    must contain NO exchange — at 100 TB this runs as a pure map pass."""
    plan = (
        trainops.pii_redact(trainops._pii_augmented(spark, SF_DIR))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:2000]


def test_pii_redact_finds_planted_pii(spark):
    """Ground truth from the deterministic injection: every doc in each
    modulus class carries >= 1 match of that class, and redaction changes
    the text (fp differs from the unredacted md5)."""
    from pyspark.sql import functions as F

    r = trainops.text_pii_redact(spark, SF_DIR)
    bad = r.filter(
        ((F.col("doc_id") % 11 == 0) & (F.col("n_email") < 1))
        | ((F.col("doc_id") % 13 == 0) & (F.col("n_phone") < 1))
        | ((F.col("doc_id") % 17 == 0) & (F.col("n_ip") < 1))
    ).count()
    assert bad == 0
    pii = trainops._pii_augmented(spark, SF_DIR).select(
        "doc_id", F.md5("text").alias("orig_fp")
    )
    unchanged = (
        r.filter(F.col("doc_id") % 11 == 0)
        .join(pii, "doc_id")
        .filter(F.col("redacted_fp") == F.col("orig_fp"))
        .count()
    )
    assert unchanged == 0


def test_sample_stratified_map_only_and_honors_rates(spark):
    """The sampling filter is a row-local projection (no Exchange), keeps
    ALL of a rate-10000 source, and lands within a loose band of each
    source's configured rate."""
    from pyspark.sql import functions as F

    from engine.relational import load

    docs = load(spark, SF_DIR, "documents")
    kept = trainops.sample_stratified(docs)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]

    tot = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    got = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got["src0"] == tot["src0"]  # 10000 bp keeps everything
    for src, bp in trainops.MIXTURE_BP.items():
        if src == "src0" or tot.get(src, 0) < 40:
            continue
        frac = got.get(src, 0) / tot[src]
        assert abs(frac - bp / 10_000) < 0.2, (src, frac, bp)
    # deterministic: a second evaluation keeps the identical doc set
    a = {r["doc_id"] for r in kept.select("doc_id").collect()}
    b = {r["doc_id"] for r in trainops.sample_stratified(docs).select("doc_id").collect()}
    assert a == b


def test_duplicated_spans_merges_and_breaks_islands(spark):
    """Hand-built corpus with k=3 grams: shared windows must merge into
    maximal spans (touching spans included), distinct regions must break,
    and docs with no cross-doc gram must be absent."""
    import pandas as pd

    rows = [
        # docs 1/2 share "a b c d e" → doc1 span [0,5), doc2 span [2,7)
        {"doc_id": 1, "text": "a b c d e f2 g2 h2"},
        {"doc_id": 2, "text": "x y a b c d e q"},
        # no gram shared with anyone → no output row
        {"doc_id": 3, "text": "p q r s t"},
        # two shared grams separated by a gap → TWO spans [0,3) and [6,9)
        {"doc_id": 4, "text": "a b c Z1 Z2 Z3 d e f"},
        # shared grams at pos 0 and 3 touch (3 <= 0+3) → ONE span [0,6)
        {"doc_id": 5, "text": "a b c d e f"},
        # same two grams with a 1-token spacer → break: [0,3) and [4,7)
        {"doc_id": 6, "text": "a b c q1 d e f"},
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    out = trainops.duplicated_spans(docs, k=3).collect()
    spans = {}
    for r in out:
        spans.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for v in spans.values():
        v.sort()
    assert spans[1] == [(0, 5)]
    assert spans[2] == [(2, 7)]
    assert 3 not in spans
    assert spans[4] == [(0, 3), (6, 9)]
    assert spans[5] == [(0, 6)]
    assert spans[6] == [(0, 3), (4, 7)]


def test_scrub_duplicated_spans_cuts_only_duplicated_regions(spark):
    """The remedy half: shared regions are cut, unique tokens survive in
    order, span-free docs pass through byte-identical, fully-duplicated
    docs come out empty (kept_tokens 0, not a missing row)."""
    import pandas as pd

    rows = [
        {"doc_id": 1, "text": "a b c d e f2 g2 h2"},
        {"doc_id": 2, "text": "x y a b c d e q"},
        {"doc_id": 3, "text": "p q r s t"},
        {"doc_id": 5, "text": "a b c d e f"},
        {"doc_id": 6, "text": "a b c q1 d e f"},
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    out = {
        r["doc_id"]: r.asDict()
        for r in trainops.scrub_duplicated_spans(docs, k=3).collect()
    }
    assert sorted(out) == [1, 2, 3, 5, 6]  # every input doc appears
    assert out[1]["scrubbed_text"] == "f2 g2 h2"
    assert out[2]["scrubbed_text"] == "x y q"
    assert out[3]["scrubbed_text"] == "p q r s t" and out[3]["dup_tokens"] == 0
    assert out[5]["scrubbed_text"] == "" and out[5]["kept_tokens"] == 0
    assert out[6]["scrubbed_text"] == "q1"
    # counters partition the token count
    toklen = {r["doc_id"]: len(r["text"].split(" ")) for r in rows}
    for d, r in out.items():
        assert r["kept_tokens"] + r["dup_tokens"] == toklen[d]


def test_pack_sequences_invariants(spark):
    """Packing is a bijection on docs with greedy bucket-local layout:
    every doc appears once; within each bucket the running offsets are
    exactly the prefix sums of token counts in the deterministic shuffle
    order (so seq_id * seq_len + start_offset is contiguous); and a
    second evaluation reproduces the identical layout (task-retry-safe)."""
    from pyspark.sql import functions as F

    from engine.relational import load

    docs = load(spark, SF_DIR, "documents")
    seq_len = 512
    packed = trainops.pack_sequences(docs, seq_len=seq_len, buckets=4)
    rows = packed.collect()
    assert len(rows) == docs.count()
    assert {r["doc_id"] for r in rows} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    # greedy layout: per bucket, sorted by global position, each doc starts
    # exactly where the previous one ended
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, rs in by_bucket.items():
        rs.sort(key=lambda r: r["seq_id"] * seq_len + r["start_offset"])
        cum = 0
        for r in rs:
            assert r["seq_id"] == cum // seq_len, (bucket, r)
            assert r["start_offset"] == cum % seq_len, (bucket, r)
            cum += r["n_tokens"]
    # deterministic across evaluations
    again = {
        (r["doc_id"], r["bucket"], r["seq_id"], r["start_offset"])
        for r in trainops.pack_sequences(docs, seq_len=seq_len, buckets=4).collect()
    }
    assert again == {
        (r["doc_id"], r["bucket"], r["seq_id"], r["start_offset"]) for r in rows
    }


def test_pack_sequences_buckets_survive_strided_ids(spark):
    """Sharded ingestion commonly assigns doc_id = seq * shards + shard, so
    every id shares its low bits — the case where a low-bits bucket
    (ord % buckets ≡ doc_id % buckets for an odd multiplier) collapses the
    whole corpus into ONE bucket and the per-bucket window degenerates to
    the global single-partition sort the design exists to avoid.  The
    high-bits bucket must spread a pure stride across all buckets, and ids
    past the unmasked int64-overflow point (~3.47e9) must not go negative."""
    import pandas as pd
    from pyspark.sql import functions as F

    buckets = 16
    ids = [i * buckets for i in range(2000)] + [6_143_999_999, 2**31, 2**33]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "text": ["a b c"] * len(ids)})
    )
    packed = trainops.pack_sequences(docs, seq_len=64, buckets=buckets)
    per_bucket = {
        r["bucket"]: r["n"]
        for r in packed.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    assert all(0 <= b < buckets for b in per_bucket), per_bucket
    assert len(per_bucket) == buckets, per_bucket
    assert max(per_bucket.values()) < len(ids) / buckets * 1.5, per_bucket


def test_media_dedup_exact_groups_by_bytes(spark):
    """Hand-built blobs: refs sharing exact bytes group together, byte-level
    differences split groups, n_refs/canonical/boilerplate all follow."""
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    rows = [
        ("r1", b"\x01logo"),
        ("r2", b"\x01logo"),
        ("r3", b"\x01logo"),
        ("r4", b"\x02stamp"),
        ("r5", b"\x02stamp"),
        ("r6", b"\x03unique"),
        ("r7", b"\x01logo "),  # trailing byte -> different content
    ]
    schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("payload", BinaryType()),
        ]
    )
    blobs = spark.createDataFrame(rows, schema)
    out = {
        r["media_ref"]: r.asDict()
        for r in trainops.media_dedup_exact(blobs, min_refs=3).collect()
    }
    assert len(out) == 7
    for r in ("r1", "r2", "r3"):
        assert out[r]["n_refs"] == 3
        assert out[r]["canonical_ref"] == "r1"
        assert out[r]["is_boilerplate"] is True
    for r in ("r4", "r5"):
        assert out[r]["n_refs"] == 2
        assert out[r]["canonical_ref"] == "r4"
        assert out[r]["is_boilerplate"] is False
    for r in ("r6", "r7"):
        assert out[r]["n_refs"] == 1
        assert out[r]["canonical_ref"] == r
        assert out[r]["is_boilerplate"] is False


def test_media_dedup_payload_never_shuffles(spark, tmp_path):
    """The fp projection must sit at the scan: no Exchange in the executed
    plan may carry the payload column — at 100 TB the blobs table IS the
    corpus, and shuffling bytes instead of 16-byte hashes is the difference
    between a linear pass and moving the corpus twice."""
    import re

    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("payload", BinaryType()),
        ]
    )
    blobs = spark.createDataFrame(
        [(f"r{i}", bytes([i % 5]) * 64) for i in range(100)], schema
    )
    blobs.write.mode("overwrite").parquet(str(tmp_path / "blobs"))
    df = trainops.media_dedup_exact(spark.read.parquet(str(tmp_path / "blobs")))
    df.count()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # formatted mode prints one block per node with Input/Output lists
    for block in re.split(r"\n\(\d+\) ", plan):
        if block.startswith("Exchange"):
            assert "payload" not in block, block


def test_pack_manifest_tiles_sequences_exactly(spark):
    """Manifest slices must tile: per (bucket, seq_id) the slices cover
    [0, seq_len) gaplessly (except each bucket's tail sequence), and per doc
    the slices concatenate to exactly [0, n_tokens) in sequence order."""
    from engine.relational import load

    docs = load(spark, SF_DIR, "documents")
    seq_len = 512
    packed = {
        r["doc_id"]: r.asDict()
        for r in trainops.pack_sequences(docs, seq_len=seq_len, buckets=4).collect()
    }
    rows = trainops.pack_manifest(docs, seq_len=seq_len, buckets=4).collect()

    by_seq, by_doc = {}, {}
    for r in rows:
        by_seq.setdefault((r["bucket"], r["seq_id"]), []).append(r)
        by_doc.setdefault(r["doc_id"], []).append(r)

    for (bucket, seq_id), rs in by_seq.items():
        rs.sort(key=lambda r: r["seq_offset"])
        cursor = 0
        for r in rs:
            assert r["seq_offset"] == cursor, (bucket, seq_id, r)
            cursor += r["doc_tok_end"] - r["doc_tok_start"]
        last = max(s for b, s in by_seq if b == bucket)
        if seq_id < last:
            assert cursor == seq_len, (bucket, seq_id, cursor)
        else:
            assert 0 < cursor <= seq_len

    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: (r["seq_id"], r["seq_offset"]))
        cursor = 0
        for r in rs:
            assert r["doc_tok_start"] == cursor, (doc_id, r)
            cursor = r["doc_tok_end"]
        assert cursor == packed[doc_id]["n_tokens"]
    # every packed doc with tokens appears; zero-token docs do not
    assert set(by_doc) == {d for d, p in packed.items() if p["n_tokens"] > 0}


def test_media_dedup_features_merges_rescans_exact_does_not(spark):
    """Near-dup contrast test on REAL rendered pages: the same page
    re-'scanned' three times (fresh speckle seed each pass, one rotated
    idcard pass) is byte-distinct — the exact front must keep every ref a
    singleton — while the feature front (signature over detector outputs,
    which are speckle/rotation invariant) must merge each page's re-scans
    into one group and keep pages with different CONTENT apart."""
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from engine.bitmap import encode_bitmap_page
    from engine.layout import decode_blobs

    def scan(spec, seed, noise=60, rotation=None):
        s = dict(spec)
        s["noise_px"] = noise
        s["noise_seed"] = seed
        if rotation is not None:
            s["rotation"] = rotation
        return encode_bitmap_page(s)

    invoice = {
        "page_kind": "janzour",
        "title_text": "كشف تفاصيل الخدمات",
        "body_lines": ["Service code BIO0042", "رقم الفاتورة: INV-00042"],
    }
    invoice_b = {**invoice, "body_lines": ["Service code BIO0043", "رقم الفاتورة: INV-00043"]}
    idcard = {
        "page_kind": "idcard",
        "body_lines": ["اسم المستفيد: مستفيد رقم 7", "ACA-0007-00080-X1Z"],
    }
    rows = [
        ("inv-a1", scan(invoice, seed=1)),
        ("inv-a2", scan(invoice, seed=2, noise=110)),
        ("inv-a3", scan(invoice, seed=3, noise=40)),
        ("inv-b1", scan(invoice_b, seed=4)),  # different content, same kind
        ("id-r0", scan(idcard, seed=5, rotation=0)),
        ("id-r90", scan(idcard, seed=6, rotation=90)),
        ("id-r270", scan(idcard, seed=7, rotation=270)),
    ]
    schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("payload", BinaryType()),
        ]
    )
    blobs = spark.createDataFrame(rows, schema)

    exact = {
        r["media_ref"]: r.asDict()
        for r in trainops.media_dedup_exact(blobs, min_refs=3).collect()
    }
    assert all(v["n_refs"] == 1 for v in exact.values()), exact

    feats = {
        r["media_ref"]: r.asDict()
        for r in trainops.media_dedup_features(decode_blobs(blobs), min_refs=3).collect()
    }
    assert len(feats) == 7
    for r in ("inv-a1", "inv-a2", "inv-a3"):
        assert feats[r]["n_refs"] == 3, feats[r]
        assert feats[r]["canonical_ref"] == "inv-a1"
        assert feats[r]["is_boilerplate"] is True
    assert feats["inv-b1"]["n_refs"] == 1, feats["inv-b1"]
    for r in ("id-r0", "id-r90", "id-r270"):
        assert feats[r]["n_refs"] == 3, feats[r]
        assert feats[r]["canonical_ref"] == "id-r0"


def test_strip_media_boilerplate_drops_rewrites_passes_through(spark):
    """Hand-built exploded spans + verdict frame: boilerplate-group media
    spans dropped, surviving media spans canonicalized, media refs absent
    from the verdict frame kept as-is, text spans untouched."""
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    span_schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
    spans = spark.createDataFrame(
        [
            ("d1", "text", "hello", None, 0),
            ("d1", "media", None, "m-logo", 1),
            ("d2", "media", None, "m-pair-b", 1),
            ("d3", "media", None, "m-orphan", 1),
        ],
        span_schema,
    )
    group_schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("n_refs", LongType()),
            StructField("canonical_ref", StringType()),
            StructField("is_boilerplate", BooleanType()),
        ]
    )
    groups = spark.createDataFrame(
        [
            ("m-logo", 5, "m-logo", True),
            ("m-pair-b", 2, "m-pair-a", False),
        ],
        group_schema,
    )
    out = {
        (r["doc_id"], r["offset"]): r.asDict()
        for r in trainops.strip_media_boilerplate(spans, groups).collect()
    }
    assert set(out) == {("d1", 0), ("d2", 1), ("d3", 1)}
    assert out[("d1", 0)]["kind"] == "text" and out[("d1", 0)]["text"] == "hello"
    assert out[("d2", 1)]["media_ref"] == "m-pair-a"
    assert out[("d3", 1)]["media_ref"] == "m-orphan"


def test_decode_blobs_distinct_matches_row_path(spark):
    """Differential: the decode-once-per-distinct-payload variant must be
    ref-for-ref identical to the row path on a corpus with heavy payload
    recurrence, a corrupt payload shared by two refs, and a unique page."""
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from engine.bitmap import encode_bitmap_page
    from engine.layout import decode_blobs, decode_blobs_distinct

    logo = encode_bitmap_page(
        {"page_kind": "janzour", "title_text": "كشف تفاصيل الخدمات"}
    )
    unique = encode_bitmap_page(
        {"page_kind": "massara", "body_lines": ["Service code BIO9999"]}
    )
    rows = [(f"logo-{i}", logo) for i in range(8)]
    rows += [("uniq", unique), ("bad-1", b"\x00garbage"), ("bad-2", b"\x00garbage")]
    schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("payload", BinaryType()),
        ]
    )
    blobs = spark.createDataFrame(rows, schema).repartition(4)

    def snap(df):
        return {r["media_ref"]: r["feats"].asDict() for r in df.collect()}

    row_path = snap(decode_blobs(blobs))
    distinct_path = snap(decode_blobs_distinct(blobs))
    assert set(distinct_path) == {r for r, _ in rows}
    assert distinct_path == row_path
    assert distinct_path["bad-1"]["decode_error"] is not None
    assert distinct_path["logo-3"]["title_text"] == "كشف تفاصيل الخدمات"


def test_curate_interleaved_drops_docs_whole_and_strips_media(spark):
    """Hand-built interleaved corpus: a doc dropped by the TEXT chain loses
    ALL its spans (even media whose group survives the strip); a kept doc
    keeps offset-complete text spans plus its canonicalized media span; a
    kept doc whose media is boilerplate keeps only text."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from engine.bitmap import encode_bitmap_page
    from engine.layout import decode_blobs

    span_schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
    # ≥21 distinct bigrams per doc so the Gopher 5% top-bigram rule cannot
    # fire on size alone; dA/dC share no words so LSH never pairs them
    text_a = " ".join(f"alpha{i}" for i in range(30))
    text_c = " ".join(f"charlie{i}" for i in range(30))
    spans = spark.createDataFrame(
        [
            ("dA", "text", text_a, None, 0),
            ("dA", "media", None, "m-a", 1),
            ("dB", "text", "w " * 599 + "w", None, 0),  # 600 tokens → quality drop
            ("dB", "media", None, "m-b", 1),
            ("dC", "text", text_c, None, 0),
            ("dC", "media", None, "m-c", 1),
        ],
        span_schema,
    )

    def page(body, seed):
        return encode_bitmap_page(
            {"page_kind": "massara", "body_lines": [body], "noise_px": 50, "noise_seed": seed}
        )

    from pyspark.sql.types import BinaryType

    blob_schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("payload", BinaryType()),
        ]
    )
    # m-a pairs with m-b (n=2 < 3 → kept, canonical m-a); m-c joins two
    # extra refs to cross the boilerplate threshold (n=3 → stripped)
    blobs = spark.createDataFrame(
        [
            ("m-a", page("shared sheet", 1)),
            ("m-b", page("shared sheet", 2)),
            ("m-c", page("logo page", 3)),
            ("m-x1", page("logo page", 4)),
            ("m-x2", page("logo page", 5)),
        ],
        blob_schema,
    )
    out = trainops.curate_interleaved(spans, decode_blobs(blobs)).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["kind"], r["media_ref"], r["offset"]))
    assert "dB" not in by_doc  # quality-dropped doc disappears whole
    assert sorted(by_doc["dA"]) == [("media", "m-a", 1), ("text", None, 0)]
    assert sorted(by_doc["dC"]) == [("text", None, 0)]  # media was boilerplate


def _run_capstone(spark) -> None:
    entry.x_curate_interleaved_spans(spark, SF_TINY).write.format("noop").mode(
        "overwrite"
    ).save()


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_curate_interleaved_jobs_carry_the_callers_job_group(spark):
    """Every job of the capstone, the media worker thread's included, runs
    under the caller's job group, so cancelling or profiling the group
    reaches all of them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("capstone-group", "job group inheritance")
    try:
        _run_capstone(spark)
    finally:
        _clear_job_group(sc)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup("capstone-group")


def test_warm_capstone_run_compiles_no_classes(spark):
    """The codegen cache holds the capstone's working set: after two runs,
    a warm run compiles no class.  AQE numbers whole-stage codegen stages in
    the order it plans them and the class source carries that number, so a
    run whose concurrent stages finish in another order renumbers, and
    recompiles, a few classes (2-14 seen); up to three warm runs are tried.
    At Spark's default cap of 100 entries every warm run recompiled 54."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for _ in range(2):
        _run_capstone(spark)
    counts = []
    while len(counts) < 3 and 0 not in counts:
        before = compiled.getCount()
        _run_capstone(spark)
        counts.append(compiled.getCount() - before)
    assert counts[-1] == 0, counts


def test_spread_refuses_a_shuffled_frame_without_running_it(spark):
    """_spread reads the partition count of scan-side frames only: a grouped
    frame raises before any job runs, and a scan-side frame passes."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    grouped = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    sc.setJobGroup("spread-probe", "scan-side check")
    try:
        with pytest.raises(ValueError, match="Aggregate"):
            entry._spread(grouped)
    finally:
        _clear_job_group(sc)
    assert list(sc.statusTracker().getJobIdsForGroup("spread-probe")) == []
    scan = spark.range(100).filter(F.col("id") > 3).select("id")
    assert entry._spread(scan).count() == 96


def test_semdedup_plan_pair_join_is_cluster_equi(spark):
    """SemDeDup's within-cell pairing must be an equi-join on the cluster id
    (SortMergeJoin/ShuffledHashJoin), never an all-pairs shape.  The k-means
    ASSIGNMENT's k-row broadcast cross pass is by design (each point must
    score every centroid — same precedent as sim_cosine_topk's 1-row query
    crossJoin), and it sits behind the _truncate_lineage cut anyway, so the
    verdict plan itself must be BNLJ-free too."""
    plan = (
        trainops.dedup_semdedup(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # assignment is checkpointed
    assert "Join [cluster" in plan.replace("SortMergeJoin [cluster", "Join [cluster").replace(
        "ShuffledHashJoin [cluster", "Join [cluster"
    ), f"within-cell pair join is not a cluster equi-join:\n{plan[:2000]}"


def test_kmeans_assign_separates_planted_blobs(spark):
    """Two well-separated blobs + one near-duplicate pair: the deterministic
    Lloyd fit must put each blob in one cell, and dedup's keep-min verdict
    must flag exactly the planted near-dup (checked through the public
    kmeans_assign API on a hand-built frame)."""
    import pandas as pd

    dims = 4
    rows = []
    # blob A around (1,0,0,0): vec_ids 0..3 — includes init seeds
    for i, eps in enumerate([0.0, 0.01, -0.01, 0.02]):
        rows.append({"vec_id": i, "embedding": [1.0 + eps, eps, 0.0, 0.0]})
    # blob B around (0,0,0,-1): vec_ids 10..12
    for j, eps in enumerate([0.0, 0.015, -0.015]):
        rows.append({"vec_id": 10 + j, "embedding": [0.0, eps, 0.0, -1.0 + eps]})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = {
        r["vec_id"]: r["cluster"]
        for r in trainops.kmeans_assign(df, k=2, iters=2).collect()
    }
    assert len({out[i] for i in [0, 1, 2, 3]}) == 1, "blob A split across cells"
    assert len({out[j] for j in [10, 11, 12]}) == 1, "blob B split across cells"
    assert out[0] != out[10], "blobs merged into one cell"


def test_cluster_balanced_sample_equalizes_cells(spark):
    """Every cell must contribute exactly min-cell-size kept members, and
    the kept set must be identical across re-evaluations (hash order, not
    rand())."""
    import pandas as pd

    rows = [
        {"vec_id": i, "cluster": c}
        for c, ids in {0: range(0, 9), 1: range(20, 24), 2: range(40, 46)}.items()
        for i in ids
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = trainops.sample_cluster_balanced(df)
    kept = out.filter("kept").groupBy("cluster").count().collect()
    assert {r["cluster"]: r["count"] for r in kept} == {0: 4, 1: 4, 2: 4}
    first = sorted(r["vec_id"] for r in out.filter("kept").collect())
    again = sorted(r["vec_id"] for r in out.filter("kept").collect())
    assert first == again
    # total rows preserved: verdict column, not a destructive filter
    assert out.count() == len(rows)


def test_temperature_sampling_flattens_skewed_sources(spark):
    """A 10:1 source skew must flatten toward n^alpha shares: the dominant
    source's keep rate is (n_min/n_s)^(1-alpha) while the smallest source
    keeps (nearly) everything, and the kept set is hash-deterministic."""
    import pandas as pd

    rows = [{"doc_id": i, "source": "big", "text": "t"} for i in range(1000)] + [
        {"doc_id": 10_000 + i, "source": "small", "text": "t"} for i in range(100)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    kept = trainops.sample_temperature(df, alpha=0.7)
    by_src = {r["source"]: r["count"] for r in kept.groupBy("source").count().collect()}
    # rate_big = floor(1e4 * 0.1^0.3) = 5011 bp; the hash bucket is uniform
    # enough that kept/big lands well inside (0.40, 0.60); small keeps ~all
    assert 400 < by_src["big"] < 600, by_src
    assert by_src["small"] > 95, by_src
    again = {r["source"]: r["count"] for r in kept.groupBy("source").count().collect()}
    assert by_src == again  # re-evaluation keeps the identical set


def test_quality_model_plan_is_exchange_free_and_deterministic(spark):
    """The model scorer must run inside the corpus scan (no Exchange in the
    plan) and produce identical verdicts across evaluations."""
    import pandas as pd

    rows = [
        {"doc_id": i, "source": "s", "text": " ".join(f"w{i}x{j}" for j in range(5))}
        for i in range(50)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = trainops.quality_model_score(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    first = {r["doc_id"]: (r["score_sum"], r["kept"]) for r in out.collect()}
    again = {r["doc_id"]: (r["score_sum"], r["kept"]) for r in out.collect()}
    assert first == again
    assert {v[1] for v in first.values()} == {True, False}  # discriminates


def test_quality_model_join_matches_closed_form(spark):
    """The broadcast (bucket → weight) join form — the deployment shape of a
    LEARNED model — must score doc-for-doc identically to the shipped
    closed-form expression, broadcast the weight table, and keep the corpus
    side exchange-free up to the join (exactly one exchange total: the
    per-doc re-aggregation of partial sums)."""
    docs = trainops.load(spark, SF_DIR, "documents")
    weights = trainops.quality_model_weights(spark)
    a = trainops.quality_model_score(docs)
    b = trainops.quality_model_score_join(docs, weights)
    assert a.schema == b.schema
    assert a.exceptAll(b).union(b.exceptAll(a)).count() == 0

    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    for bad in _FORBIDDEN:
        assert bad not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]


def test_dsir_steers_toward_target_vocab(spark):
    """DSIR ground truth on a planted corpus: target docs speak vocabulary A,
    the raw sample speaks vocabulary B — corpus docs written in A must
    outscore docs written in B, and top-k resampling must select the A-like
    docs.  (Per-token weights are log-likelihood ratios fit from the two
    samples, so this is the method's defining behavior, not a tautology of
    the implementation.)"""
    import pandas as pd

    a_words = " ".join(f"alpha{j}" for j in range(20))
    b_words = " ".join(f"zulu{j}" for j in range(20))
    target = spark.createDataFrame(
        pd.DataFrame([{"doc_id": i, "source": "t", "text": a_words} for i in range(5)])
    )
    raw = spark.createDataFrame(
        pd.DataFrame([{"doc_id": 100 + i, "source": "r", "text": b_words} for i in range(5)])
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [{"doc_id": 200 + i, "source": "c", "text": a_words} for i in range(10)]
            + [{"doc_id": 300 + i, "source": "c", "text": b_words} for i in range(10)]
        )
    )
    scored = trainops.dsir_score(
        corpus, trainops.dsir_weights(spark, target, raw)
    ).collect()
    by_id = {r["doc_id"]: r["dsir_score"] for r in scored}
    assert len(by_id) == 20  # every corpus doc scored
    worst_a = min(by_id[i] for i in range(200, 210))
    best_b = max(by_id[i] for i in range(300, 310))
    assert worst_a > 0 > best_b, (worst_a, best_b)
    top = trainops.dsir_select(spark, target, raw, corpus, k=10).collect()
    assert sorted(r["doc_id"] for r in top) == list(range(200, 210))


def test_dsir_plan_and_determinism(spark):
    """The scorer must deploy as the learned-table seam: 4096-row weight
    table BROADCAST into the exploded corpus (no cartesian products, no
    corpus-side sort), selection via the 0-exchange TakeOrdered path; and
    re-evaluation must select the identical document set (integer scores +
    hash Gumbel — no rand())."""
    q = trainops.text_dsir_select(spark, SF_DIR)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    first = sorted(r["doc_id"] for r in q.collect())
    again = sorted(r["doc_id"] for r in trainops.text_dsir_select(spark, SF_DIR).collect())
    assert first == again and len(first) == 400


def test_dsir_curation_selects_within_kept_and_partitions(spark):
    """train_corpus_dsir invariants: outcomes PARTITION the corpus (every
    doc gets exactly one), 'selected' totals exactly k (the kept pool
    exceeds k at sf0.01), selection only ever splits the kept set (drop
    counts match the flagship chain), and re-evaluation is deterministic."""
    out = trainops.train_corpus_dsir_outcomes(spark, SF_DIR)
    per_doc = out.groupBy("doc_id").count().filter("count > 1").count()
    assert per_doc == 0
    counts = {
        (r["source"], r["outcome"]): r["docs"]
        for r in trainops.train_corpus_dsir(spark, SF_DIR).collect()
    }
    n_aug = trainops._augmented(spark, SF_DIR).count()
    assert sum(counts.values()) == n_aug
    assert sum(v for (s, o), v in counts.items() if o == "selected") == 200
    base = {
        (r["source"], r["outcome"]): r["docs"]
        for r in trainops.train_corpus_filtered(spark, SF_DIR).collect()
    }
    for (s, o), v in base.items():
        if o != "kept":
            assert counts.get((s, o)) == v, (s, o, v, counts.get((s, o)))
        else:
            sel = counts.get((s, "selected"), 0)
            rest = counts.get((s, "kept_not_selected"), 0)
            assert sel + rest == v, (s, v, sel, rest)
    again = {
        (r["source"], r["outcome"]): r["docs"]
        for r in trainops.train_corpus_dsir(spark, SF_DIR).collect()
    }
    assert counts == again


def test_pq_adc_exact_on_reconstructible_corpus(spark):
    """PQ ground truth: on a corpus whose sub-vectors take exactly K=4
    prototype values per subspace (all float-exact decimals, so quantized
    centroid means are the prototypes themselves), PQ reconstruction is
    lossless and the ADC score must equal the EXACT inner product with the
    query for every vector — the defining identity of the method, covering
    codebook fit, encoding, table build and lookup end-to-end."""
    import pandas as pd

    protos = [
        [1.0] * 16,
        [2.0] * 16,
        [-1.25] * 16,
        [0.5] * 16,
    ]
    rows = []
    for j in range(20):
        v = []
        for i in range(4):  # subspace i uses prototype (j + i) % 4
            v.extend(protos[(j + i) % 4])
        rows.append({"vec_id": j, "embedding": v})
    emb = spark.createDataFrame(pd.DataFrame(rows), "vec_id: long, embedding: array<float>")
    got = {r["vec_id"]: r["pq_score"] for r in trainops.pq_adc_topk(emb, n=19).collect()}
    q = rows[0]["embedding"]
    exact = {
        r["vec_id"]: round(sum(a * b for a, b in zip(q, r["embedding"])), 6)
        for r in rows[1:]
    }
    assert got == exact


def test_pq_plan_uses_codes_not_vectors(spark):
    """The ADC scoring side must be the compressed-domain shape: broadcast
    lookup row into the codes frame (no cartesian product, no corpus-side
    embedding column past the encode), cut via TakeOrderedAndProject."""
    df = trainops.sim_pq_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_ivfpq_probes_only_query_cell(spark):
    """IVF-PQ results must be exactly the PQ ranking restricted to the
    query's coarse cell: every returned vec shares the query's label, and
    the scores agree with the unrestricted ADC scores for those vecs."""
    full = {
        r["vec_id"]: r["pq_score"]
        for r in trainops.pq_adc_topk(
            trainops._emb(spark, SF_DIR), n=10_000
        ).collect()
    }
    ivf = trainops.sim_ivfpq_topk(spark, SF_DIR).collect()
    emb = trainops.load(spark, SF_DIR, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    q_label = labels[0]
    assert len(ivf) == 10
    for r in ivf:
        assert labels[r["vec_id"]] == q_label
        assert full[r["vec_id"]] == r["pq_score"]


def test_lm_perplexity_orders_reference_like_below_alien(spark):
    """LM filter ground truth: a doc written in the reference model's
    bigrams must cost strictly less per pair than a doc of never-seen
    vocabulary (whose every pair pays the full smoothing miss cost);
    <2-token docs appear with NULL counters (explicit-domain rule)."""
    import pandas as pd

    ref_text = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        {"doc_id": i, "source": "ref", "text": ref_text.strip()} for i in range(5)
    ] + [
        {"doc_id": 10, "source": "c", "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 11, "source": "c", "text": " ".join(f"zz{j}q" for j in range(9))},
        {"doc_id": 12, "source": "c", "text": "one"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = {
        r["doc_id"]: r.asDict()
        for r in trainops.lm_perplexity(
            df, df.filter(df.doc_id < 5)
        ).collect()
    }
    assert set(out) == set(r["doc_id"] for r in rows)
    assert out[10]["avg_cost"] < out[11]["avg_cost"]
    # alien bigrams all miss: every pair costs exactly ln(c1+B) with c1=0
    import math
    assert out[11]["avg_cost"] == round(10_000 * math.log(4096))
    assert out[12]["n_pairs"] is None and out[12]["ppl_bucket"] is None
    # plan: model enters via broadcast joins, one aggregation exchange
    plan = (
        trainops.lm_perplexity(df, df.filter(df.doc_id < 5))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_fused_encode_matches_mpass(spark):
    """The one-scan fused encode must be code-for-code identical to the
    M-pass reference form (same codebooks → same argmins), on the real
    embeddings table."""
    emb = trainops._emb(spark, SF_DIR)
    codes_ref, cents = trainops.pq_encode(emb)
    codes_fused = trainops.pq_encode_fused(emb, cents)
    a = {tuple(r) for r in codes_ref.collect()}
    b = {tuple(r) for r in codes_fused.collect()}
    assert a == b and len(a) > 0


def test_ccnet_pipeline_outcomes(spark):
    """CCNet composition invariants on the augmented corpus: every doc gets
    exactly one outcome; the planted exact mirrors (doc_id%7==0 → +200000)
    are ALL dropped as duplicates while their canonicals survive into a ppl
    bucket; survivor outcomes are exactly the three buckets; deterministic."""
    out = {
        r["doc_id"]: r["outcome"]
        for r in trainops.train_corpus_ccnet_outcomes(spark, SF_DIR).collect()
    }
    aug_ids = {r["doc_id"] for r in trainops._augmented(spark, SF_DIR).select("doc_id").collect()}
    assert set(out) == aug_ids
    mirrors = [i for i in aug_ids if i >= 200000]
    assert mirrors and all(out[i] == "dropped_duplicate" for i in mirrors)
    for i in mirrors:
        assert out[i - 200000] in ("head", "middle", "tail")
    assert {v for k, v in out.items() if v != "dropped_duplicate"} <= {
        "head", "middle", "tail"
    }
    again = {
        r["doc_id"]: r["outcome"]
        for r in trainops.train_corpus_ccnet_outcomes(spark, SF_DIR).collect()
    }
    assert out == again


def test_dsir_threshold_selection_matches_takeordered(spark):
    """The extreme-k histogram/threshold form must select EXACTLY the same
    document set as the TakeOrdered reference at every k tried (including
    k larger than the corpus), and its 'above the boundary' majority must
    be a row-local filter (no global sort for those rows)."""
    d = trainops.load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    target = d.filter(F_mod(d, 23, 1))
    raw = d.filter(~F_mod(d, 23, 1) & F_mod(d, 29, 2))
    corpus = d.filter(~F_mod(d, 23, 1))
    from pyspark.sql import functions as F

    n_corpus = corpus.count()
    for k in (40, 400, n_corpus + 100):
        ref = {
            r["doc_id"]
            for r in trainops.dsir_select(spark, target, raw, corpus, k=k).collect()
        }
        got = {
            r["doc_id"]
            for r in trainops.dsir_select_threshold(
                spark, target, raw, corpus, k=k
            ).collect()
        }
        assert got == ref and len(ref) == min(k, n_corpus)


def F_mod(df, m, r):
    from pyspark.sql import functions as F

    return (F.col("doc_id") % m) == r


def test_dsir_multi_routes_docs_to_their_domain(spark):
    """Multi-target DSIR ground truth: corpus docs written in domain A's
    vocabulary must get best_domain 'a', domain B's 'b'; and the scoring
    pass must join ONE merged weight frame (single corpus explode/agg —
    exactly one corpus-side hashpartitioning exchange for the per-doc sums
    regardless of domain count)."""
    import pandas as pd

    a_words = " ".join(f"alpha{j}" for j in range(25))
    b_words = " ".join(f"bravo{j}" for j in range(25))
    mk = lambda i, t: {"doc_id": i, "source": "c", "text": t}  # noqa: E731
    targets = {
        "a": spark.createDataFrame(pd.DataFrame([mk(i, a_words) for i in range(4)])),
        "b": spark.createDataFrame(pd.DataFrame([mk(10 + i, b_words) for i in range(4)])),
    }
    raw = spark.createDataFrame(
        pd.DataFrame([mk(100 + i, "noise" + str(i) + " filler common") for i in range(6)])
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [mk(200 + i, a_words) for i in range(5)]
            + [mk(300 + i, b_words) for i in range(5)]
        )
    )
    out = {
        r["doc_id"]: r
        for r in trainops.dsir_scores_multi(spark, targets, raw, corpus).collect()
    }
    assert len(out) == 10
    for i in range(200, 205):
        assert out[i]["best_domain"] == "a" and out[i]["score_a"] > out[i]["score_b"]
    for i in range(300, 305):
        assert out[i]["best_domain"] == "b" and out[i]["score_b"] > out[i]["score_a"]
    plan = (
        trainops.dsir_scores_multi(spark, targets, raw, corpus)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # corpus-side: exactly one hash exchange (the per-doc sum); the tiny
    # weight-fit exchanges key on `bucket`
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan[:2000]


def test_lm_grouped_scores_against_own_groups_model(spark):
    """Per-group LM ground truth: a doc scored under ITS group's model is
    cheap when written in that group's vocabulary and expensive when not;
    a doc whose group has no reference model carries NULL (unscored) —
    and the group key rides every weight-table join (no cross-group
    leakage)."""
    import pandas as pd

    x_text = "xray xenon xylem xhosa " * 10
    y_text = "yak yurt yeast yonder " * 10
    ref = spark.createDataFrame(
        pd.DataFrame(
            [{"doc_id": i, "source": "r", "pred": "x", "text": x_text.strip()} for i in range(4)]
            + [{"doc_id": 10 + i, "source": "r", "pred": "y", "text": y_text.strip()} for i in range(4)]
        )
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": 100, "source": "c", "pred": "x", "text": x_text.strip()},
                {"doc_id": 101, "source": "c", "pred": "x", "text": y_text.strip()},
                {"doc_id": 102, "source": "c", "pred": "z", "text": x_text.strip()},
            ]
        )
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in trainops.lm_perplexity_grouped(corpus, ref, group_col="pred").collect()
    }
    assert out[100]["avg_cost"] < out[101]["avg_cost"]
    assert out[102]["n_pairs"] is None and out[102]["ppl_bucket"] is None


def test_lm_maps_form_matches_join_form(spark):
    """The packed-map LM scorer (the streaming-front form) must produce
    cost-for-cost identical rows to the broadcast-join form on the real
    documents table, and its doc side must be exchange-free (one broadcast
    crossJoin of the 1-row maps frame, no explode/join/agg)."""
    d = trainops.load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    ref = d.filter((trainops.F.col("doc_id") % 31) == 3)
    join_form = trainops.lm_perplexity(d, ref)
    maps_form = trainops.lm_perplexity_maps(d, trainops.lm_weight_maps(ref))
    a = {tuple(r) for r in join_form.collect()}
    b = {tuple(r) for r in maps_form.collect()}
    assert a == b and len(a) > 0
    plan = maps_form._jdf.queryExecution().executedPlan().toString()
    # doc side: no hash exchange (the tiny map-fit subtree has its own)
    assert "Exchange hashpartitioning(doc_id" not in plan


def test_lm_avg_cost_is_exact_integer_floor(spark):
    """avg_cost is exact integer floor division of lm_cost by n_pairs: a
    cost past 2^53 keeps its low bit (a double quotient rounds it away),
    and a negative cost (bigram weight above the unigram weight) floors
    instead of truncating toward zero."""
    import hashlib

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 4096

    def pair_keys(text):
        bs = [bucket(t) for t in text.split(" ")]
        return [a * 4096 + b for a, b in zip(bs, bs[1:])]

    maps_schema = "a_map map<bigint,bigint>, c_map map<bigint,bigint>"
    docs = spark.createDataFrame(
        [(2, "s", "alpha beta"), (3, "s", "alpha beta gamma")],
        "doc_id long, source string, text string",
    )

    big = 2**53 + 1
    wide = spark.createDataFrame([({b: big for b in range(4096)}, {})], maps_schema)
    out = {r["doc_id"]: r for r in trainops.lm_perplexity_maps(docs, wide).collect()}
    assert (out[2]["n_pairs"], out[2]["lm_cost"], out[2]["avg_cost"]) == (1, big, big)
    assert out[3]["n_pairs"] == 2 and out[3]["lm_cost"] == 2 * big
    assert out[3]["avg_cost"] == out[3]["lm_cost"] // out[3]["n_pairs"] == big

    c_map = {pair_keys("alpha beta")[0]: 5}
    neg = spark.createDataFrame([({b: 1 for b in range(4096)}, c_map)], maps_schema)
    out = {r["doc_id"]: r for r in trainops.lm_perplexity_maps(docs, neg).collect()}
    for doc_id, text in ((2, "alpha beta"), (3, "alpha beta gamma")):
        pks = pair_keys(text)
        cost = sum(1 - c_map.get(pk, 0) for pk in pks)
        assert out[doc_id]["lm_cost"] == cost < 0
        assert out[doc_id]["avg_cost"] == cost // len(pks)
        assert out[doc_id]["ppl_bucket"] == "head"
    assert out[3]["avg_cost"] == -2  # -3 / 2 floors; truncation would give -1


@pytest.mark.parametrize(
    "fn",
    [trainops.text_lm_perplexity, trainops.text_lm_perplexity_by_lang],
    ids=lambda f: f.__name__,
)
def test_lm_cost_is_never_negative_for_a_fitted_model(spark, fn):
    """Every pair of a fitted model costs a_w - c_w >= 0, because
    count(pk) <= c1[pk // 4096] < c1 + 4096.  So lm_cost and avg_cost are
    never negative, and the DuckDB oracles' truncating ``//`` agrees with
    the engine's floor division on every fitted frame."""
    rows = fn(spark, SF_DIR).select("lm_cost", "avg_cost").collect()
    for col in ("lm_cost", "avg_cost"):
        vals = [r[col] for r in rows if r[col] is not None]
        assert vals and min(vals) >= 0, col


# Executed-plan shape of every query served by a shared scorer core:
# (occurrences of "Exchange", occurrences of "BroadcastHashJoin"), the same
# at sf0.001, sf0.01 and sf0.1.  The cores are meant to be plan-neutral; a
# change here is a plan-shape change to review, not a number to update in
# passing.
_SCORER_PLAN_SHAPES = {
    "text_lm_perplexity": (7, 3),
    "text_lm_perplexity_by_lang": (9, 3),
    "train_corpus_ccnet": (9, 3),
    "text_dsir_select": (12, 3),
    "text_dsir_multi": (23, 6),
    "train_corpus_dsir": (20, 3),
    "sim_pq_topk": (31, 0),
    "sim_ivfpq_topk": (33, 1),
    "sim_pq_sampled_topk": (31, 0),
    "text_quality_model": (0, 0),
}


@pytest.mark.parametrize("name", list(_SCORER_PLAN_SHAPES))
def test_scorer_query_plan_shape_is_pinned(spark, name):
    plan = (
        getattr(trainops, name)(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    got = (plan.count("Exchange"), plan.count("BroadcastHashJoin"))
    assert got == _SCORER_PLAN_SHAPES[name], plan[:3000]
