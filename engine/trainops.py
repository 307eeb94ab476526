"""Training-data pipeline operators over the documents/embeddings tables:
deduplication (exact, MinHash-LSH, n-gram Jaccard, SimHash), similarity search
(brute-force cosine top-k, IVF/label-bucketed variant), and text analysis
(language-ID, quality scoring, token counting, fingerprinting).

All pure Catalyst (array higher-order functions, md5, windows) — no UDFs;
the one Python hop is connected_components' small-graph finish (one
mapInArrow task, numpy/pyarrow).
Each query has a DuckDB oracle; hash-portability notes:
- signatures/fingerprints use md5 (identical lowercase hex on both engines),
  never engine-native hash();
- shingles are built with window lead() in SQL and array transform in Spark —
  same (doc_id, position)-ordered trigrams;
- cosine scores are double math rounded to 4 decimals, ordered by the rounded
  score with vec_id tiebreak.

The documents corpus has no natural near-duplicates, so dedup queries augment
it with deterministic perturbed copies (doc_id+100000, first token dropped) —
the pair-finding then has real positives to find on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from engine.relational import PRIORITY_FLAGSHIP, _local_q, _q, load
from engine.session import per_session
from engine.tables import let

# --- shared corpus augmentation (exact copy + near-dup copy) ---------------

_AUG_SQL = """
      SELECT doc_id, text, lang, source FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             substr(text, position(' ' IN text) + 1) AS text, lang, source
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text, lang, source
      FROM documents WHERE doc_id % 7 = 0
"""


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented documents, REPARTITIONED to full width: the documents table
    is a single parquet file (~3 input splits), which would cap the
    shingle/md5 stages of every dedup query at 3-way parallelism on a
    32-core node.  Text rows are tiny (unlike media payloads, which must
    never shuffle), so one round-robin shuffle here buys full-width
    downstream stages — measured 2× on dedup_minhash_lsh at sf0.1/32 cores.
    On a real cluster the same width comes from the table's file layout."""
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source")
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    )
    near = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
            "lang",
            "source",
        )
    )
    exact = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang", "source"
    )
    return d.unionByName(near).unionByName(exact)


# --- shingling: word trigrams, position-ordered -----------------------------


def _shingles(df: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct word-3-gram shingles per doc.
    Guarded for <3-token docs (Spark's sequence() would run BACKWARDS for a
    negative stop, unlike DuckDB's generate_series which returns empty)."""
    # token array LET-BOUND (see tables.let): referenced raw inside the
    # transform lambda it would re-split the text once per shingle element
    tri = let(
        F.split(F.col("text"), " "),
        lambda toks: F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(" ", toks[i], toks[i + 1], toks[i + 2]),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return df.select("doc_id", F.explode(F.array_distinct(tri)).alias("shingle"))


def _shingle_sql(src: str = "aug") -> str:
    """Oracle-side twin of _shingles over table/CTE ``src``."""
    return f"""
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src})
      WHERE len(toks) >= 3
"""


_SHINGLE_SQL = _shingle_sql()


def _sig_sql(sh: str = "sh") -> str:
    """Oracle-side twin of minhash_signatures over shingle CTE ``sh``:
    4 bands from TWO md5 digests, each split into two 64-bit hex slices
    (bands 0/1 ← md5('01:'||shingle), bands 2/3 ← md5('23:'||shingle)) —
    the exact hash family the engine computes (see band_mins)."""
    return f"""
      SELECT doc_id, band,
             min(substr(md5(CASE WHEN band < 2 THEN '01:' ELSE '23:' END || shingle),
                        1 + (band % 2) * 16, 16)) AS sig
      FROM {sh}, UNNEST([0, 1, 2, 3]) AS b(band)
      GROUP BY doc_id, band
"""


_SIG_SQL = _sig_sql()


# =========================================================================
# Deduplication
# =========================================================================


@_q(
    "dedup_exact",
    "training-data dedup — exact: md5 hash-groupBy, keep min doc_id",
    f"""
    WITH aug AS ({_AUG_SQL})
    SELECT md5(text) AS fp, min(doc_id) AS kept_doc_id, count(*) AS dup_count
    FROM aug GROUP BY fp
    """,
)
def dedup_exact(spark, sf_dir):
    aug = _augmented(spark, sf_dir)
    return aug.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("dup_count")
    )


@_q(
    "dedup_minhash_lsh",
    "training-data dedup — MinHash+LSH: per-band min-hash signature → band "
    "bucket join → candidate pairs",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    sig AS ({_SIG_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
    FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    return _minhash_pairs(_augmented(spark, sf_dir))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) MinHash band-signature rows over any
    (doc_id, text) frame — the PERSISTABLE state of MinHash dedup.  A corpus
    keeps this table next to the documents (4 small rows per doc, linear);
    nightly deltas then dedup against it by equi-join instead of
    recomputing the corpus (dedup_incremental).  On Iceberg, bucket it by
    (band, sig) so both the delta probe and the within-batch self-join are
    bucket-local (PLANS.md §5 pattern).

    Signature computation is a PURE MAP PASS (see _minhash_sig_exprs) —
    the only exchanges left in MinHash dedup are the small (band, sig) rows
    entering the LSH equi-join.  Lineage of the shape: explode-then-group
    (r4) → one groupBy with 4 min-exprs (r5-mid, wall-neutral 6.24 vs
    6.17 s at sf0.1/32c) → row-local array_min (r5-end), which deletes the
    shingle exchange entirely."""
    keep, sig_rows = _minhash_sig_exprs()
    return docs.filter(keep).select("doc_id", sig_rows)


@per_session
def _minhash_sig_exprs() -> tuple:
    """(filter, band-signature generator) of :func:`minhash_signatures`:
    the docs with at least 3 tokens, and the posexploded (band, sig) rows
    of one doc's four band minima."""
    # Band minima are ROW-LOCAL: per-band min over one doc's distinct
    # shingle array is an array_min over a transform — no explode, no
    # groupBy, ZERO exchange.  The r4→r5 groupBy form shuffled every
    # (doc_id, shingle-min partial) row; on the cluster protocol that gram/
    # shingle exchange was the dominant non-scaling term (BENCH/BASELINE.md
    # §4k).  min over hex strings is lexicographic on both engines, so the
    # DuckDB oracle (_SIG_SQL) states the identical function.
    # <3-token docs keep the old semantics (absent — explode of an empty
    # shingle set produced no rows), via the filter, not NULL sigs.
    # Both the token array AND the distinct-shingle array are LET-BOUND
    # (nested single-element array + transform, tables.py idiom): HOFs run
    # interpreted, outside codegen subexpression elimination, so the naive
    # form re-split the text once per shingle element and rebuilt the
    # shingle array once per band (measured 4.24 s vs 2.55 on
    # dedup_minhash_lsh at sf0.1/32c before the binding).
    # HASH FAMILY (r5-close): 4 bands from TWO md5 calls, each digest split
    # into two 64-bit (16-hex-char) slices — halving the sig bytes that
    # shuffle (LSH equi-join) and persist (the incremental-dedup index
    # keeps 4 rows/doc forever), and halving md5 invocations.  Wall-NEUTRAL
    # at sf0.1/32c (interleaved A/B, BENCH/ab_sig_r5.json: 1.02-1.04× —
    # the interpreted-HOF machinery, not md5, dominates); kept for the
    # bytes.  Disjoint slices of one digest are independent
    # uniform hashes, so each band is a true 64-bit minhash; P(two docs'
    # band-mins collide without sharing the min shingle) ~ k/2^64 per pair
    # (k = shingles/doc ~10^3 → ~10^-16) — corpus-wide false candidate
    # pairs stay negligible even at 10^12 docs.  (32-bit slices — 4 bands
    # from ONE md5 — were considered and REJECTED: min-statistics
    # concentrate near the low end of the space, k/2^32 ≈ 10^-7 per pair
    # explodes into ~10^17 false pairs at that scale.)
    def band_mins(toks):
        tri = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(" ", toks[i], toks[i + 1], toks[i + 2]),
            )
        )

        def slices(t):
            def digests(h01):
                def bands(h23):
                    halves = [(h01, 1), (h01, 17), (h23, 1), (h23, 17)]
                    return F.array(
                        *[
                            F.array_min(
                                F.transform(h, lambda d: F.substring(d, pos, 16))
                            )
                            for h, pos in halves
                        ]
                    )

                return let(
                    F.transform(t, lambda s: F.md5(F.concat(F.lit("23:"), s))),
                    bands,
                )

            return let(
                F.transform(t, lambda s: F.md5(F.concat(F.lit("01:"), s))),
                digests,
            )

        return let(tri, slices)

    sigs = let(F.split(F.col("text"), " "), band_mins)
    return (
        F.size(F.split(F.col("text"), " ")) >= 3,
        F.posexplode(sigs).alias("band", "sig"),
    )


def _minhash_pairs(docs: DataFrame) -> DataFrame:
    """MinHash+LSH candidate pairs (doc_a, doc_b, shared_bands) over any
    (doc_id, text) frame — the reusable core of dedup_minhash_lsh, also
    composed by train_corpus_filtered over its pre-filtered survivors."""
    sig = minhash_signatures(docs)
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared_bands"))
    )


# Document-frequency cap for the shingle inverted index: a shingle shared by
# more than K docs creates a K²-row bucket in the self-join (quadratic + a
# skewed reducer at scale) and carries ~no near-dup signal — standard
# practice is to drop it BEFORE the join.  Jaccard is then computed over the
# discriminative (DF ≤ K) shingle sets on both engines identically.
_JACCARD_DF_CAP = 100


@_q(
    "dedup_ngram_jaccard",
    "training-data dedup — n-gram Jaccard similarity over shingle-sharing "
    "candidate pairs; shingles with document frequency > "
    f"{_JACCARD_DF_CAP} are dropped before the self-join (bounded buckets, "
    "no hot-key skew)",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sh_all AS ({_SHINGLE_SQL}),
    rare AS (SELECT shingle FROM sh_all GROUP BY shingle
             HAVING count(*) <= {_JACCARD_DF_CAP}),
    sh AS (SELECT sh_all.* FROM sh_all JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(i / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i / (sa.n + sb.n - i) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    sh_all = _shingles(_augmented(spark, sf_dir))
    rare = (
        sh_all.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _JACCARD_DF_CAP)
        .select("shingle")
    )
    sh = sh_all.join(rare, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def _simhash_bits(tok_hash_expr: str, n_bits: int = 16) -> str:
    """SQL: sum of signed bit contributions → simhash integer (shared shape)."""
    terms = [
        f"(CASE WHEN sum((({tok_hash_expr} >> {i}) & 1) * 2 - 1) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_bits)
    ]
    return " + ".join(terms)


@_q(
    "dedup_simhash",
    "training-data dedup — SimHash (16-bit): per-token md5 bits, signed sums, "
    "sign → fingerprint; equal fingerprints = near-dup bucket",
    f"""
    WITH aug AS ({_AUG_SQL}),
    toks AS (
      SELECT doc_id, ('0x' || substr(md5(u.tok), 1, 4))::INTEGER AS h
      FROM aug, UNNEST(string_split(text, ' ')) AS u(tok)
    )
    SELECT doc_id, {_simhash_bits('h')} AS simhash
    FROM toks GROUP BY doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    aug = _augmented(spark, sf_dir)
    toks = aug.select("doc_id", F.explode(F.split("text", " ")).alias("tok")).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("int").alias("h"),
    )
    bits = [
        F.when(
            F.sum((F.shiftright(F.col("h"), i) % 2) * 2 - 1) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        for i in range(16)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return toks.groupBy("doc_id").agg(total.alias("simhash"))


# --- near-dup connected components (iterative min-label propagation) -------
# Dedup at scale ends with "pick one doc per duplicate CLUSTER", not per
# pair: candidate pairs from MinHash-LSH form a graph whose connected
# components are the duplicate groups (keep min doc_id per component).
# Spark side: iterative min-label propagation (the standard large-graph CC —
# GraphFrames is just this loop), each step an equi-join + min agg.
# Components from near-dup copies have tiny diameter, so the loop converges
# in a few steps; convergence is CHECKED, not assumed.
# DuckDB oracle: recursive-CTE transitive closure + min-reachable-id — a
# completely different evaluation strategy arriving at the same labels.

CHECKPOINT_DIR_CONF = "spark.extraction.checkpointDir"
_CC_CHECK_EVERY = 3  # iterations per truncation + fixpoint test (PLANS.md §5a)
# Edge rows (self-loops included) at or below which one task labels the whole
# graph instead of the loop.  On 4 cores one task won at every size measured,
# 12k-4.9M rows, so the crossover lies above them; the bound stops where a
# single Python worker still holds the graph in ~250 MB (PLANS.md §4u).
_CC_LOCAL_EDGES = 1_000_000


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize a frame that sits at a DAG-diamond fork so each downstream
    consumer reads the result instead of recomputing the shared subtree per
    action; also connected_components' truncation at every convergence
    check.  Reliable checkpoint when a checkpoint dir is configured
    (``sc.setCheckpointDir`` or the ``spark.extraction.checkpointDir`` conf
    — the 100 TB mode, where executor loss must not invalidate the cut);
    localCheckpoint only as the dir-less local-run fallback.  Used instead of
    persist(): a cached frame leaks executor memory past the query's
    lifetime when the callee can't know when consumers finish.  A caller
    that does know hands the result to _release."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        conf_dir = df.sparkSession.conf.get(CHECKPOINT_DIR_CONF, None)
        if conf_dir:
            sc.setCheckpointDir(conf_dir)
    if sc.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    # Reliable checkpoint recomputes the lineage in its file-write job
    # (localCheckpoint doesn't).  The persist-first variant was REJECTED by
    # measurement: persist before checkpoint, unpersist after, made the
    # curation job 1.9x SLOWER (10k-doc corpus, pinned 8 cores, checkpoint
    # dir set: wall 11.2 -> 21.6 s, task-time 46.3 -> 68.8 s).  Columnar
    # cache encode of wide text frames costs more than recomputing two
    # n-gram groupBys; same conclusion as run_extraction's persist=False
    # default for the decoded spine.  Recompute-on-write stands as the
    # cheaper side of the trade at every scale tested.
    return df.checkpoint(eager=True)


def _release(df: DataFrame) -> None:
    """Drop the materialization behind a frame returned by _truncate_lineage,
    found through the frame itself: its logical plan is a LogicalRDD whose
    rdd IS the checkpointed RDD.  A reliable checkpoint's directory is
    deleted through the Hadoop FileSystem API (file://, hdfs://, s3a://
    alike) — Spark's cleaner removes checkpoint files only on driver-side
    RDD GC, and only with spark.cleaner.referenceTracking.cleanCheckpoints
    =true.  A localCheckpoint's blocks are unpersisted — they otherwise sit
    in executor storage memory until GC happens to collect the wrapper.
    Nothing else on the session is touched, so materializations of
    concurrent queries on the same session survive."""
    rdd = df._jdf.queryExecution().logical().rdd()
    ckpt = rdd.getCheckpointFile()
    if ckpt.isDefined():
        sc = df.sparkSession.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(ckpt.get())
        path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
    else:
        rdd.unpersist(False)


def _truncate_counted(df: DataFrame, rows: list[int]) -> DataFrame:
    """_truncate_lineage, appending the frame's row count to ``rows``: an
    observe() metric filled by the truncation's own job, so no count job."""
    obs = Observation()
    out = _truncate_lineage(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    rows.append(obs.get["rows"])
    return out


def _component_roots(src, dst, n: int):
    """Smallest node of each node's component, over ``n`` nodes numbered
    0..n-1 and an edge list of node numbers (numpy arrays).  Hook and
    compress: every tree root on an edge across two trees hooks onto the
    smaller root across it, then every tree collapses to a star.  Each round
    removes at least one root, and parent[x] ≤ x always holds, so no cycle
    forms; edges inside one tree are dropped for good."""
    import numpy as np

    parent = np.arange(n)
    while True:
        ru, rv = parent[src], parent[dst]
        live = ru != rv
        if not live.any():
            return parent
        src, dst, ru, rv = src[live], dst[live], ru[live], rv[live]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while not np.array_equal(grand := parent[parent], parent):
            parent = grand


def _label_in_one_task(batches):
    """mapInArrow body of connected_components' small-graph finish: the
    whole (doc_a, doc_b) edge list in one task → (doc_id, comp).  Nodes are
    numbered in the id column's own order (Arrow compares strings bytewise,
    as Spark does, and int64 exactly), so the smallest number in a component
    is its min doc_id."""
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    n = sum(b.num_rows for b in batches)
    if n == 0:
        return
    table = pa.Table.from_batches(batches)
    ids = pa.chunked_array(table["doc_a"].chunks + table["doc_b"].chunks).combine_chunks()
    nodes = pc.unique(ids)
    nodes = nodes.take(pc.sort_indices(nodes))
    code = pc.index_in(ids, value_set=nodes).to_numpy()
    roots = _component_roots(code[:n], code[n:], len(nodes))
    yield pa.RecordBatch.from_arrays([nodes, nodes.take(roots)], names=["doc_id", "comp"])


def connected_components(
    edges: DataFrame,
    max_iterations: int = 24,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a SYMMETRIC edge list (doc_a, doc_b) →
    (doc_id, comp) with comp = min reachable doc_id.

    Scale discipline (the 100 TB concerns, addressed explicitly):

    - **A small graph finishes in one task.**  The edge list is counted by
      an observe() metric on its own truncation job, and each contracted
      edge list likewise.  At or below ``_CC_LOCAL_EDGES`` rows (self-loops
      included) one single-partition mapInArrow labels the graph by
      hook-and-compress union-find in numpy, comparing ids in their own
      type; its result is truncated and composed with the contraction
      mapping exactly as the loop's labels are.  The loop below runs only
      while the graph is larger, and hands over once a contraction brings
      it down to the bound.  Above the bound one worker's memory and time
      would grow with the graph, while the loop's spread across the
      cluster (sizing: PLANS.md §4u).
    - **Lineage truncation is _truncate_lineage**: a RELIABLE checkpoint
      when a checkpoint dir is available — localCheckpoint blocks are
      executor-local and die with the executor, which on a 1000-executor
      run of a 15-round loop is a near-certainty.  Every superseded
      materialization is handed to _release as soon as nothing reads it,
      so a long loop does not accumulate O(convergence-checks) table
      copies on durable storage or in executor storage memory (storage
      steals from the unified region and shrinks execution memory for
      every later stage in the session).  The loop sets no session conf
      and releases only frames it created, so it is safe beside concurrent
      queries on the same session.
    - **Driver round-trips run at a cadence**, not per iteration: each
      ``_CC_CHECK_EVERY``-iteration window costs one eager checkpoint job +
      one convergence-test job instead of two jobs per iteration.  The
      cadence is a plan-size control, not a tunable: ``comp`` is referenced
      2-3× per iteration, so the unmaterialized plan grows geometrically
      with the window (PLANS.md §5a).
    - **Propagation is ONE equi-join + ONE min-aggregation per iteration**:
      the edge list is checkpointed WITH self-loops, so min(neighbor labels)
      already includes the node's own label.  Within a window the edges
      side of the join is an identical subtree each iteration, so
      ReuseExchange ships it once.
    - **Convergence is a DIRECT fixpoint test** at each check: count docs
      where some neighbor still offers a smaller label; zero improvements ⇒
      labels constant along every edge ⇒ equal to the component min.  The
      fused-flag and exponential-cadence variants were measured and
      rejected (PLANS.md §5a) — don't retry.
    - **The graph CONTRACTS at every failed check**: once a window ends
      unconverged, the materialized labels become the nodes of a new edge
      list — distinct (label(a), label(b)) pairs with label(a) ≠ label(b) —
      and the loop continues on that graph, composing the original→label
      mapping at each contraction.  Every clique, and every chain segment
      up to a window's hops, collapses to a point, so both the edge count
      and the remaining diameter drop by ~the window size per window: the
      interleaved capstone graph (diameter ~24, organic LSH chains)
      converges in 6 iterations / 2 windows where flat propagation took
      12 / 4, with window 2 running on a ~100-node contracted graph
      (measured, differential-tested identical labels).  Cost: two label
      joins + a distinct over the slim edge rows, once per failed window —
      strictly cheaper than the ≥3 full-size iterations it replaces.
      Graphs that converge inside the first window (the production LSH
      duplicate-cluster cliques: flagship / dedup_components / incremental
      all converge at ≤3) never contract.
    - **Pointer jumping** (``comp ← min(comp, comp[comp])``) turns on
      ADAPTIVELY, after the first convergence check fails: label-
      propagation distance then roughly doubles per iteration on
      pathological id layouts (a shuffled-id path of 200 nodes converges
      in 67 rounds with the jump vs 157 without — simulated), and composes
      with contraction for the log-diameter bound.  It is NOT run from
      iteration 1 because the common LSH duplicate-cluster graph is
      clique-shaped (diameter ≤ the cadence): measured interleaved A/B at
      sf0.1 (BENCH/ab_cc_r5.json), unconditional jumping made
      dedup_components 0.78× — two extra narrow shuffles per iteration
      bought nothing when the fixpoint already lands inside the first
      window.  Labels are always doc_ids present in the current graph
      (init = self, min preserves membership), so the self-join always
      matches.
    - **Convergence is checked, never assumed**: raises instead of
      returning silently-wrong partial labels for a component whose graph
      diameter exceeds the iteration cap.

    ``stats``, when given, receives ``edge_rows`` (the observed row count
    of every edge list the call labelled: the input, then each contraction),
    ``local_finish`` (whether one task finished the labelling),
    ``iterations`` (loop iterations; 0 when the input was already small),
    ``convergence_checks``, ``converged``, ``contractions``,
    ``reliable_checkpoint`` and ``pointer_jump_engaged``.
    """

    def with_self_loops(e: DataFrame) -> DataFrame:
        # self-loops make min-over-neighbors include the node's own label,
        # fusing the propagate step to one join + one aggregation
        nodes = e.select("doc_a").distinct()
        return e.unionByName(nodes.select("doc_a", F.col("doc_a").alias("doc_b")))

    def _nb_min(e: DataFrame, frontier: DataFrame) -> DataFrame:
        return (
            e.join(
                frontier.select(
                    F.col("doc_id").alias("nb_id"), F.col("comp").alias("nb_comp")
                ),
                e["doc_b"] == F.col("nb_id"),
            )
            .groupBy("doc_a")
            .agg(F.min("nb_comp").alias("nb_comp"))
        )

    def init_labels(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("doc_a").alias("doc_id"))
            .distinct()
            .withColumn("comp", F.col("doc_id"))
        )

    def lift(mapping: DataFrame, labels: DataFrame) -> DataFrame:
        # relabel mapping targets by the contracted graph's labels; a target
        # absent from ``labels`` names a component that fully converged
        # before the contraction that dropped it — its label IS the min.
        # Both inputs are materialized and superseded by the result.
        relab = labels.select(
            F.col("doc_id").alias("m_id"), F.col("comp").alias("m_comp")
        )
        lifted = _truncate_lineage(
            mapping.join(relab, mapping["comp"] == F.col("m_id"), "left").select(
                "doc_id", F.coalesce(F.col("m_comp"), F.col("comp")).alias("comp")
            )
        )
        _release(mapping)
        _release(labels)
        return lifted

    edge_rows: list[int] = []
    edges = _truncate_counted(with_self_loops(edges), edge_rows)
    reliable = edges.sparkSession.sparkContext.getCheckpointDir() is not None
    comp = init_labels(edges)  # lazy: a distinct folded into window 1's plan
    mapping = None  # original doc_id -> current-graph node, once contracted
    iterations = checks = contractions = 0
    converged = jump = local = False
    for it in range(1, max_iterations + 1):
        if edge_rows[-1] <= _CC_LOCAL_EDGES:
            local = True
            break
        # fused propagate: self-loops put the node's own label in the min
        comp = _nb_min(edges, comp).select(
            F.col("doc_a").alias("doc_id"), F.col("nb_comp").alias("comp")
        )
        if jump:
            # pointer jump: adopt my label's own label when smaller
            ptr = comp.select(
                F.col("doc_id").alias("p_id"), F.col("comp").alias("p_comp")
            )
            comp = (
                comp.alias("c")
                .join(ptr, F.col("c.comp") == F.col("p_id"), "left")
                .select(
                    F.col("c.doc_id").alias("doc_id"),
                    F.least(
                        F.col("c.comp"), F.coalesce(F.col("p_comp"), F.col("c.comp"))
                    ).alias("comp"),
                )
            )
        iterations = it
        if it % _CC_CHECK_EVERY and it < max_iterations:
            continue
        comp = _truncate_lineage(comp)
        checks += 1
        # fixpoint test on the materialized labels: any doc a neighbor still
        # improves?  (counts only the improving rows — the join is inner on
        # doc_a, the filter prunes at the probe side).  The rows are counted
        # per partition and summed on the driver: a DataFrame count() plans
        # one more exchange, to a single partition, and AQE runs it as one
        # more job per check.
        cur = comp.select(F.col("doc_id").alias("fx_id"), F.col("comp").alias("fx_comp"))
        improving = (
            _nb_min(edges, comp)
            .join(cur, F.col("doc_a") == F.col("fx_id"))
            .filter(F.col("nb_comp") < F.col("fx_comp"))
            ._jdf.rdd()
            .count()
        )
        if improving == 0:
            converged = True
            break
        # still propagating past a full window: assume a deep graph —
        # engage log-diameter stepping AND contract the graph
        jump = True
        if it == max_iterations:
            break  # cap reached; fall through to the raise
        contractions += 1
        la = comp.select(F.col("doc_id").alias("a_id"), F.col("comp").alias("la"))
        lb = comp.select(F.col("doc_id").alias("b_id"), F.col("comp").alias("lb"))
        contracted = _truncate_counted(
            with_self_loops(
                edges.join(la, edges["doc_a"] == F.col("a_id"))
                .join(lb, edges["doc_b"] == F.col("b_id"))
                .filter(F.col("la") != F.col("lb"))
                .select(F.col("la").alias("doc_a"), F.col("lb").alias("doc_b"))
                .distinct()
            ),
            edge_rows,
        )
        # compose the original->current mapping (the just-materialized
        # labels move DOWN a level: they name the contracted nodes)
        mapping = comp if mapping is None else lift(mapping, comp)
        _release(edges)
        edges = contracted
        comp = init_labels(edges)  # lazy, as at loop start
    if local:
        # one partition without a shuffle: a single task reads every block
        id_type = edges.schema["doc_a"].dataType
        comp = _truncate_lineage(
            edges.coalesce(1).mapInArrow(
                _label_in_one_task,
                StructType([StructField("doc_id", id_type), StructField("comp", id_type)]),
            )
        )
        converged = True
    if stats is not None:
        stats.update(
            edge_rows=edge_rows,
            local_finish=local,
            iterations=iterations,
            convergence_checks=checks,
            converged=converged,
            contractions=contractions,
            reliable_checkpoint=reliable,
            pointer_jump_engaged=jump,
        )
    if not converged:
        raise RuntimeError(
            "connected_components did not converge within "
            f"{max_iterations} iterations; labels still propagating"
        )
    if mapping is not None:
        comp = lift(mapping, comp)  # back to the original nodes
    # the returned comp is materialized; the edges checkpoint is no
    # longer referenced by any surviving plan
    _release(edges)
    return comp


@_q(
    "dedup_components",
    "training-data dedup — duplicate-cluster assembly: connected components "
    "over MinHash-LSH candidate pairs (shared_bands ≥ 2) via iterative "
    "min-label propagation; component id = min doc_id reachable",
    f"""
    WITH RECURSIVE aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    sig AS ({_SIG_SQL}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b HAVING count(*) >= 2
    ),
    edges AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT doc_a, doc_b FROM edges
      UNION
      SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a
    )
    SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a
    """,
)
def dedup_components(spark, sf_dir):
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("shared_bands") >= 2)
        .select("doc_a", "doc_b")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    return connected_components(edges)


# --- cross-document exact-substring dedup (span-level) ----------------------

_SUBSTR_K = 8  # gram width in words; ExactSubstr uses 50 BPE tokens — 8 words
#               is the same order of magnitude on this corpus's short docs


def duplicated_spans(docs: DataFrame, k: int = _SUBSTR_K) -> DataFrame:
    """Cross-document duplicated SPANS — the ExactSubstr dedup of Lee et al.
    2021 (arXiv:2107.06499) re-expressed as three slim shuffles instead of a
    suffix array: any word ``k``-gram occurring in >1 document marks its
    k-token window as duplicated, and overlapping/touching windows merge
    into maximal per-doc spans (gaps-and-islands over positions).

    Returns (doc_id, span_start, span_end) with 0-based word offsets,
    end-exclusive.  Doc-level dedup (dedup_exact/minhash) removes whole
    near-copies; this finds the boilerplate/quote regions INSIDE otherwise
    unique docs — the case doc-level dedup cannot see.

    Deliberate narrowing vs the paper: the ``count_distinct(doc_id) > 1``
    gate detects CROSS-document repeats only.  A substring repeated twice
    inside one otherwise-unique doc yields no span here — that degeneracy
    is the repetition filters' job (``repetition_flags``: duplicate-trigram
    ratio, ``_max_equal_run``), which flag rather than scrub, because
    cutting every occurrence of a within-doc repeat would delete the
    content entirely instead of deduplicating it.

    Scale shape: the gram table is ~1 row per corpus token but each row is
    only (doc_id, pos, 16-byte md5) — the text itself never shuffles.
    groupBy(gh) and the semi-join back are co-partitioned on gh (one
    exchange each, map-side partial for the distinct-doc count); the island
    merge is one doc_id window.  A stop-phrase gram shared by millions of
    docs is not skew to fix but signal: every doc containing it IS
    partially duplicated, and the per-doc fan-out stays bounded by doc
    length.  No self-join, no cartesian, payload-free shuffles — linear at
    100 TB where suffix-array ExactSubstr needs a global sort."""
    grams = let(
        F.split(F.col("text"), " "),
        lambda toks: F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - k),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))).alias("gh"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,gh:string>>")),
    )
    g = docs.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", "g.pos", "g.gh"
    )
    # Fork point: the gram table feeds BOTH the distinct-doc count and the
    # probe side of the semi-join.  Left lazy, each branch re-tokenizes and
    # re-md5s the whole corpus (the DAG-diamond recompute measured 1.53× on
    # the curation flagship).  ReuseExchange cannot cut this one: column
    # pruning gives the two branches DIFFERENT exchange subtrees (the count
    # branch drops pos), so they never canonicalize equal — materialize the
    # fork instead, per the engine's _truncate_lineage discipline.
    g = _truncate_lineage(g)
    dup = (
        g.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    hits = g.join(dup, "gh", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "brk",
        F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0),
    ).withColumn("isl", F.sum("brk").over(w))
    return isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k).cast("int").alias("span_end"),
    ).select("doc_id", "span_start", "span_end")


def _substr_spans_sql(k: int = _SUBSTR_K) -> str:
    """Shared oracle CTE chain for the ExactSubstr family — the SQL twin of
    ``duplicated_spans`` (toks0 → grams → dup → hits → isl → grp → spans),
    factored like ``_shingle_sql`` so the detection and remedy oracles are
    provably the same logic: a k/gate/break tweak edits ONE place, and a
    half-applied change surfaces as a parity failure instead of a silent
    oracle fork."""
    return f"""
    toks0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    grams AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(t[i:i+{k - 1}], ' ')) AS gh
      FROM toks0, UNNEST(generate_series(1, len(t) - {k - 1})) AS u(i)
      WHERE len(t) >= {k}
    ),
    dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          + {k}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM isl
    ),
    spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + {k} AS span_end
      FROM grp GROUP BY doc_id, isl_id
    )"""


@_local_q(
    "dedup_substring_spans",
    "training-data dedup — cross-doc exact-substring spans (ExactSubstr, "
    "Lee et al. 2021): word 8-grams hashed and counted across docs, "
    "windows of >1-doc grams merged into maximal per-doc spans",
    f"""
    WITH aug AS ({_AUG_SQL}),
    {_substr_spans_sql()}
    SELECT doc_id,
           CAST(span_start AS INT) AS span_start,
           CAST(span_end AS INT) AS span_end
    FROM spans
    """,
)
def dedup_substring_spans(spark, sf_dir):
    return duplicated_spans(_augmented(spark, sf_dir))


def scrub_duplicated_spans(docs: DataFrame, k: int = _SUBSTR_K) -> DataFrame:
    """The remedy half of ExactSubstr dedup: cut every cross-document
    duplicated span out of each doc and return the scrubbed text — what Lee
    et al. 2021 apply to the corpus after detection (one copy of the
    duplicated region survives corpus-wide only if some doc's occurrence
    falls below the gram width; the paper accepts the same).

    Output: (doc_id, kept_tokens, dup_tokens, scrubbed_fp, scrubbed_text).
    Docs with no duplicated span pass through whole; fully-duplicated docs
    (exact copies) come out empty — doc-level dedup is the cheaper tool for
    those, which is why train_corpus_filtered runs BEFORE span scrubbing in
    a full pipeline.

    Scale shape: spans aggregate to one small array per affected doc (few
    spans × 8 bytes), joined back on doc_id — broadcastable at any realistic
    duplication rate, shuffle-join fallback is still linear.  The token
    filter is per-row Catalyst (filter + exists over the span array, O(len ×
    spans) with spans per doc bounded), so the rebuild never shuffles
    text."""
    spans = (
        duplicated_spans(docs, k)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("spans")
        )
    )
    # Null-fill the span array ONCE in the join projection: referenced from
    # inside the HOF filter lambda below, a coalesce(col, empty-array-cast)
    # would be re-evaluated per TOKEN (lambda bodies get no CSE) — here it
    # is one per-row expression and the lambda reads a plain attribute.
    joined = docs.join(spans, "doc_id", "left").withColumn(
        "spans",
        F.coalesce(
            F.col("spans"),
            F.array().cast("array<struct<span_start:int,span_end:int>>"),
        ),
    )
    # The whole output is ONE nested-let expression (toks bound once, the
    # filtered array bound once, scrubbed text bound once) so the HOF filter
    # runs exactly once per row — written as four separate select() columns
    # it was evaluated 5× per row (HOFs get no codegen CSE).
    out = let(
        F.split(F.col("text"), " "),
        lambda toks: let(
            F.filter(
                toks,
                lambda w, i: ~F.exists(
                    F.col("spans"),
                    lambda s: (i >= s.span_start) & (i < s.span_end),
                ),
            ),
            lambda kept: let(
                F.concat_ws(" ", kept),
                lambda scrubbed: F.struct(
                    F.size(kept).alias("kept_tokens"),
                    (F.size(toks) - F.size(kept)).alias("dup_tokens"),
                    F.md5(scrubbed).alias("scrubbed_fp"),
                    scrubbed.alias("scrubbed_text"),
                ),
            ),
        ),
    )
    return joined.select("doc_id", out.alias("o")).select("doc_id", "o.*")


@_local_q(
    "dedup_substring_scrub",
    "training-data dedup — ExactSubstr remedy: duplicated spans cut from "
    "each doc's token stream, scrubbed text fingerprinted",
    f"""
    WITH aug AS ({_AUG_SQL}),
    {_substr_spans_sql()},
    words AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS w
      FROM toks0, UNNEST(generate_series(1, len(t))) AS u(i)
    ),
    keep AS (
      SELECT words.doc_id, words.pos, words.w
      FROM words LEFT JOIN spans s
        ON words.doc_id = s.doc_id
       AND words.pos >= s.span_start AND words.pos < s.span_end
      WHERE s.doc_id IS NULL
    ),
    agg AS (
      SELECT doc_id,
             count(*) AS kept_tokens,
             string_agg(w, ' ' ORDER BY pos) AS scrubbed
      FROM keep GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(a.kept_tokens, 0) AS INT) AS kept_tokens,
           CAST(len(t.t) - coalesce(a.kept_tokens, 0) AS INT) AS dup_tokens,
           md5(coalesce(a.scrubbed, '')) AS scrubbed_fp,
           coalesce(a.scrubbed, '') AS scrubbed_text
    FROM toks0 t LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_substring_scrub(spark, sf_dir):
    return scrub_duplicated_spans(_augmented(spark, sf_dir))


# --- cross-document media dedup (the media half of the interleaved corpus) ---


def media_dedup_exact(blobs: DataFrame, min_refs: int = 3) -> DataFrame:
    """Cross-document EXACT media dedup — the media analogue of the text
    boilerplate filter: a payload (logo, stamp, letterhead, shared
    attachment) referenced verbatim from many documents is media
    boilerplate, exactly as a text span recurring across docs is text
    boilerplate (reference analogue: the boilerplate strip the routing
    layer applies to text, app/core/document/content_filters.py — the
    reference has no media-side equivalent; a 10^12-doc interleaved corpus
    needs one).

    Input: the blobs side of the interleaved corpus (media_ref, payload).
    Output per blob row: (media_ref, n_refs, canonical_ref,
    is_boilerplate) — n_refs = how many refs share these exact bytes,
    canonical_ref = the group's minimum ref (the copy a consumer keeps;
    train on one logo, not 10^8 of them), is_boilerplate = n_refs ≥
    ``min_refs``.  A curation pipeline semi-joins spans' media_ref against
    the boilerplate set to drop them, or rewrites media_ref →
    canonical_ref to share storage.

    Scale shape: payload bytes are hashed AT THE SCAN and dropped before
    any exchange — only (ref, 16-byte fp) rows shuffle.  One fp groupBy
    (map-side partial) + one fp equi-join back, both co-partitioned on fp;
    no skew concern because a hot fp (one logo in 10^8 docs) fans out to
    exactly its own group row.  count(*) not count_distinct: blobs carry
    one row per ref by contract (io hygiene dedupes upstream)."""
    fps = blobs.select("media_ref", F.md5(F.col("payload")).alias("fp"))
    return _dedup_refs_by_fp(fps, min_refs)


def _dedup_refs_by_fp(fps: DataFrame, min_refs: int) -> DataFrame:
    """(media_ref, fp) → per-ref group stats; shared by the exact (payload
    md5) and near-dup (feature signature) media dedup fronts.

    Group stats come from a WINDOW over fp, not groupBy+join-back: the join
    form consumed ``fps`` twice with two non-identical exchanges (the
    groupBy side carries a partial agg), so ReuseExchange never fired and
    the upstream subtree — the decode/render UDF chain, the expensive part
    of every media front — executed TWICE per action (guide §2.4: one
    partitioning, established once, shared by both computations).  The
    window form is one exchange on fp and one pass over the decoded rows;
    same rows out (count/min over the full fp partition)."""
    w = Window.partitionBy("fp")
    n = F.count("*").over(w)
    return fps.select(
        "media_ref",
        n.alias("n_refs"),
        F.min("media_ref").over(w).alias("canonical_ref"),
        (n >= F.lit(min_refs)).alias("is_boilerplate"),
    )


def media_dedup_features(blob_feats: DataFrame, min_refs: int = 3) -> DataFrame:
    """Cross-document NEAR-dup media dedup: the same page re-scanned (fresh
    speckle noise, a rotated pass through the scanner) is byte-distinct —
    ``media_dedup_exact`` correctly refuses to merge it — but it is the
    same document, and a training corpus wants one copy.  Instead of
    perceptual hashing the raw pixels, group by a signature of what the
    REAL detector pipeline extracted: page_kind (projection-profile route),
    region labels, title/body text, QR presence, boilerplate — all invariant
    to speckle and rotation because the detectors are (QR-orient rights the
    raster before region classification).  The media analogue of MinHash
    over normalized text rather than raw bytes.

    Input: decode_blobs(blobs) output (media_ref, feats PAGE_FEATURES).
    Output: same shape as media_dedup_exact.  qr_rotation and conf are
    deliberately OUTSIDE the signature (orientation is scan pose, not
    content; conf is a score, not content); decode failures group by their
    error string so corrupt payloads never merge with clean ones.

    Scale shape: the signature is one row-local md5 over already-extracted
    features — the expensive decode is the pipeline's existing scan-side
    pass, reused; then the same fp groupBy + equi-join as the exact front.
    Feature rows are tiny (no raster), so the exchanges stay payload-free."""
    fps = blob_feats.select("media_ref", feature_signature_col().alias("fp"))
    return _dedup_refs_by_fp(fps, min_refs)


@per_session
def feature_signature_col(feats_col: str = "feats") -> "F.Column":
    """Row-local content signature over a PAGE_FEATURES struct column — the
    near-dup grouping key shared by media_dedup_features (batch) and
    streaming.stream_dedup_media (ingest front line).  qr_rotation and conf
    stay OUTSIDE (scan pose / score, not content); decode_error is inside
    so corrupt payloads never merge with clean ones."""
    rs = "\x1e"
    c = lambda name: F.col(f"{feats_col}.{name}")  # noqa: E731
    return F.md5(
        F.concat_ws(
            "\x1f",
            F.coalesce(c("page_kind"), F.lit("")),
            F.array_join(F.coalesce(c("labels"), F.array()), rs),
            F.coalesce(c("title_text"), F.lit("")),
            F.array_join(F.coalesce(c("body_lines"), F.array()), rs),
            F.coalesce(c("has_qr"), F.lit(False)).cast("string"),
            F.array_join(F.coalesce(c("boilerplate"), F.array()), rs),
            F.coalesce(c("decode_error"), F.lit("")),
        )
    )


def strip_media_boilerplate(spans: DataFrame, groups: DataFrame) -> DataFrame:
    """Consume a media-dedup verdict frame (``media_dedup_exact`` /
    ``media_dedup_features`` output) against EXPLODED interleaved spans
    (doc_id, kind, text, media_ref, offset): media spans whose group is
    boilerplate (a recurring logo/stamp/blank page — layout, not content)
    are DROPPED, surviving media spans have media_ref rewritten to the
    group's canonical ref so downstream storage and exact-dedup passes
    share one blob per content class; text spans pass through untouched.
    The media analogue of the text branch's dropped_boilerplate strip, as
    a corpus-curation step rather than a per-doc one.

    Scale shape: one equi-join on media_ref between the media-span slice
    and the per-ref verdict frame (both carry no payload bytes and no span
    text on the media side), then a union with the text slice — no window,
    no re-nest; reassembly stays A2's job.  The join key is the blob key,
    so with both tables Iceberg-bucketed by media_ref (PLANS.md §5) the
    exchange is storage-local."""
    media = spans.filter(F.col("kind") == "media")
    text = spans.filter(F.col("kind") != "media")
    joined = media.join(
        groups.select("media_ref", "canonical_ref", "is_boilerplate"),
        "media_ref",
        "left",
    )
    kept = joined.filter(~F.coalesce(F.col("is_boilerplate"), F.lit(False))).select(
        "doc_id",
        "kind",
        "text",
        F.coalesce(F.col("canonical_ref"), F.col("media_ref")).alias("media_ref"),
        "offset",
    )
    return text.select("doc_id", "kind", "text", "media_ref", "offset").unionByName(
        kept
    )


_BPE_RE = r"'(?:s|t|re|ve|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@_q(
    "text_tokens_bpe",
    "text analysis — BPE-ish tokenization: GPT-style pre-tokenizer regex "
    "(contraction suffixes | letter runs | digit runs | single punctuation) "
    "counted per source; the whitespace variant is text_tokens",
    f"""
    SELECT source,
           CAST(sum(len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}'))) AS BIGINT)
             AS total_tokens,
           count(*) AS docs
    FROM documents GROUP BY source
    """,
)
def text_tokens_bpe(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    n = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
    return d.groupBy("source").agg(
        F.sum(n).alias("total_tokens"), F.count("*").alias("docs")
    )


# =========================================================================
# Similarity search over embeddings
# =========================================================================

_COS_SQL = """
      round(
        list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                         list_transform(q.embedding, x -> x::DOUBLE))
        / (sqrt(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                                 list_transform(e.embedding, x -> x::DOUBLE)))
         * sqrt(list_dot_product(list_transform(q.embedding, x -> x::DOUBLE),
                                 list_transform(q.embedding, x -> x::DOUBLE)))),
        4)
"""


def _cos(a, b):
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(F.transform(da, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x))
    nb = F.sqrt(F.aggregate(F.transform(db, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x))
    return F.round(dot / (na * nb), 4)


@_q(
    "sim_cosine_topk",
    "similarity search — brute-force cosine top-k against query vec_id=0 "
    "(baseline ANN path; F.aggregate/zip_with dot product)",
    f"""
    SELECT e.vec_id, {_COS_SQL} AS cos
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY cos DESC, e.vec_id LIMIT 10
    """,
)
def sim_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = F.broadcast(emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb")))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", _cos(F.col("embedding"), F.col("q_emb")).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
    )


@_q(
    "sim_ivf_label_topk",
    "similarity search — IVF-style bucketed ANN: probe only the query's "
    "coarse bucket (label) then rank within it (scale path: bucket pruning "
    "replaces the full scan)",
    f"""
    SELECT e.vec_id, {_COS_SQL} AS cos
    FROM embeddings e,
         (SELECT embedding, label FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0 AND e.label = q.label
    ORDER BY cos DESC, e.vec_id LIMIT 10
    """,
)
def sim_ivf_label_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_emb"), F.col("label").alias("q_label")
        )
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .filter(F.col("label") == F.col("q_label"))
        .select("vec_id", _cos(F.col("embedding"), F.col("q_emb")).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
    )


_PAIR_COS_SQL = """
      round(
        list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                         list_transform(b.embedding, x -> x::DOUBLE))
        / (sqrt(list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                                 list_transform(a.embedding, x -> x::DOUBLE)))
         * sqrt(list_dot_product(list_transform(b.embedding, x -> x::DOUBLE),
                                 list_transform(b.embedding, x -> x::DOUBLE)))),
        4)
"""


# --- random-hyperplane LSH: deterministic ±1 hyperplanes from md5 ----------
# Declared here (before dedup_embedding_cosine) because both the ANN bucket
# histogram AND the embedding near-dup pair generator use the same buckets.
import hashlib as _hashlib

_LSH_PLANES = 8
_LSH_DIMS = 64
_HYPERPLANES: list[list[int]] = [
    [
        1 if int(_hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:2], 16) & 1 else -1
        for d in range(_LSH_DIMS)
    ]
    for j in range(_LSH_PLANES)
]


def _lsh_bucket_sql(prefix: str = "") -> str:
    terms = []
    for j, hp in enumerate(_HYPERPLANES):
        dot = " + ".join(
            f"({'-' if s < 0 else ''}{prefix}embedding[{d + 1}]::DOUBLE)"
            for d, s in enumerate(hp)
        )
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def _lsh_bucket_col(emb_col) -> "F.Column":
    """Spark twin of _lsh_bucket_sql — same hyperplanes, same sign rule.

    Formulated as 8 zip_with/aggregate dot products against ±1 literal
    arrays rather than 8×64 unrolled element_at additions: the unrolled
    variant is a ~512-node expression tree that overflows codegen method
    limits and evaluates interpreted per node (~1.3 ms/row); the HOF loop
    runs in the JVM — measured 5× faster end-to-end."""
    e = F.transform(emb_col, lambda x: x.cast("double"))
    bucket = F.lit(0)
    for j, hp in enumerate(_HYPERPLANES):
        signs = F.array(*[F.lit(float(s)) for s in hp])
        dot = F.aggregate(
            F.zip_with(e, signs, lambda x, s: x * s), F.lit(0.0), lambda a, x: a + x
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings, repartitioned to shuffle width: one parquet file = one
    input split, which would run the (expensive) bucket/cosine expressions
    single-task.  Same rationale as _augmented — vector rows are small, so
    one round-robin shuffle buys full-width compute stages."""
    return load(spark, sf_dir, "embeddings").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    )


@_q(
    "dedup_embedding_cosine",
    "training-data dedup — embedding-cosine near-dup: candidates = equal "
    "(label, hyperplane-LSH bucket) — IVF coarse bucket composed with the "
    "8-bit sign-LSH bucket so within-bucket pair counts stay bounded at "
    "scale — then cosine ≥ 0.3 verify",
    f"""
    WITH bl AS (
      SELECT vec_id, label, embedding, {_lsh_bucket_sql()} AS bucket FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_PAIR_COS_SQL} AS cos
    FROM bl a JOIN bl b
      ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_PAIR_COS_SQL} >= 0.3
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir).withColumn("bucket", _lsh_bucket_col(F.col("embedding")))
    a = emb.alias("a")
    b = emb.alias("b")
    cos = _cos(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
    )


_SIMHASH_SQL_BODY = """
    WITH aug AS ({aug}),
    toks AS (
      SELECT doc_id, ('0x' || substr(md5(u.tok), 1, 4))::INTEGER AS h
      FROM aug, UNNEST(string_split(text, ' ')) AS u(tok)
    ),
    sh AS (SELECT doc_id, {bits} AS simhash FROM toks GROUP BY doc_id)
"""


# Pigeonhole banding for Hamming distance ≤ 2: split the 16-bit fingerprint
# into d+1 = 3 bands (6/5/5 bits) — any pair within distance 2 differs in at
# most 2 bands, so it MUST agree on at least one band.  Candidate generation
# is then an equi-join on (band_idx, band_bits) — linear in bucket sizes, no
# all-pairs — followed by an exact bit_count verify.  This is the same
# band→bucket→verify shape as dedup_minhash_lsh, which is the point: every
# pairing query in the dedup suite is a bounded equi-join at 100× scale.
_HAM_BANDS = [(0, 6), (6, 5), (11, 5)]  # (shift, width)


@_q(
    "dedup_simhash_hamming",
    "training-data dedup — SimHash near-dup pairing: 3-band pigeonhole "
    "equi-join candidates, then exact Hamming ≤ 2 verify via bit_count(xor) "
    "(Spark side banded; DuckDB oracle states the same result all-pairs)",
    _SIMHASH_SQL_BODY.format(aug=_AUG_SQL, bits=_simhash_bits("h"))
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) AS INTEGER) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) <= 2
    """,
)
def dedup_simhash_hamming(spark, sf_dir):
    sh = dedup_simhash(spark, sf_dir)
    bands = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.shiftright(F.col("simhash"), shift)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_bits"),
        )
        for i, (shift, width) in enumerate(_HAM_BANDS)
    ]
    banded = sh.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "simhash", "b.band_idx", "b.band_bits")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        # a close pair can agree on 2-3 bands → drop the duplicate candidates
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("sa").cast("bigint").bitwiseXOR(F.col("sb").cast("bigint")))
    return (
        cand.select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 2)
    )


@_q(
    "sim_lsh_hyperplane",
    "similarity search — random-hyperplane LSH: 8 deterministic ±1 "
    "hyperplanes → sign bits → bucket id; bucket histogram (the banding "
    "front-end of an ANN index; same hyperplane constants inlined into both "
    "engines)",
    f"""
    SELECT bucket, count(*) AS cnt FROM (
      SELECT {_lsh_bucket_sql()} AS bucket FROM embeddings
    ) GROUP BY bucket
    """,
)
def sim_lsh_hyperplane(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return (
        emb.select(_lsh_bucket_col(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


# Retired from the driver window round 4 (the single-query multi-probe shape
# is a special case of sim_batch_topk's probe expansion, which stays
# registered; green r3 row); local-oracle'd since r5.
@_local_q(
    "sim_lsh_multiprobe",
    "similarity search — multi-probe LSH ANN: candidates = vectors whose "
    "sign-bucket is within Hamming distance 1 of the query's bucket (probe "
    "the home bucket + its 8 single-bit neighbors), then exact cosine top-k "
    "— the recall-recovery step that makes single-table LSH usable at scale",
    f"""
    WITH bl AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql()} AS bucket FROM embeddings
    ),
    q AS (SELECT embedding, bucket FROM bl WHERE vec_id = 0)
    SELECT e.vec_id, {_COS_SQL} AS cos
    FROM bl e, q
    WHERE e.vec_id <> 0
      AND bit_count(xor(e.bucket::BIGINT, q.bucket::BIGINT)) <= 1
    ORDER BY cos DESC, e.vec_id LIMIT 10
    """,
)
def sim_lsh_multiprobe(spark, sf_dir):
    emb = _emb(spark, sf_dir).withColumn("bucket", _lsh_bucket_col(F.col("embedding")))
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket")
        )
    )
    near = F.bit_count(
        F.col("bucket").cast("bigint").bitwiseXOR(F.col("q_bucket").cast("bigint"))
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .filter(near <= 1)
        .select("vec_id", _cos(F.col("embedding"), F.col("q_emb")).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
    )


@_q(
    "sim_batch_topk",
    "similarity search — BATCHED multi-query ANN, the shape a training-data "
    "pipeline actually runs: a queries table (every 97th vector) explodes "
    "into its probe buckets (home + 8 Hamming-1 neighbors), candidates come "
    "from an EQUI-join on bucket (no per-query scan, no cross join), then "
    "exact cosine + per-query top-k via window",
    f"""
    WITH bl AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql()} AS bucket FROM embeddings
    ),
    q AS (
      SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
      FROM bl WHERE vec_id % 97 = 0
    ),
    cand AS (
      SELECT q.q_id, e.vec_id,
             round(
               list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                                list_transform(q.q_emb, x -> x::DOUBLE))
               / (sqrt(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                                        list_transform(e.embedding, x -> x::DOUBLE)))
                * sqrt(list_dot_product(list_transform(q.q_emb, x -> x::DOUBLE),
                                        list_transform(q.q_emb, x -> x::DOUBLE)))),
               4) AS cos
      FROM bl e JOIN q
        ON bit_count(xor(e.bucket::BIGINT, q.q_bucket::BIGINT)) <= 1
       AND e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos, rn FROM (
      SELECT q_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
                  AS INTEGER) AS rn
      FROM cand
    ) WHERE rn <= 5
    """,
)
def sim_batch_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir).withColumn("bucket", _lsh_bucket_col(F.col("embedding")))
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    # Hamming-1 probe expansion on the QUERY side (9 rows per query) so the
    # candidate step is a plain equi-join bucket == probe — the only join
    # shape that survives 10^9 queries × 10^12 vectors (a theta-join on
    # bit_count(xor) would be a cross product; the oracle may state it that
    # way because DuckDB's planner is free to nested-loop a tiny table).
    probes = queries.select(
        "q_id",
        "q_emb",
        F.explode(
            F.array(
                F.col("q_bucket"),
                *[
                    F.col("q_bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(_LSH_PLANES)
                ],
            )
        ).alias("probe"),
    )
    cand = emb.join(probes, emb["bucket"] == probes["probe"]).filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = cand.select(
        "q_id", "vec_id", _cos(F.col("embedding"), F.col("q_emb")).alias("cos")
    )
    win = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", "cos", "rn")
    )


# =========================================================================
# Text analysis
# =========================================================================

_EN_STOPS = ["the", "and", "of"]
_ES_STOPS = ["el", "de", "la"]


def _hits(col, words):
    out = F.lit(0)
    for w in words:
        out = out + F.when(col.rlike(rf"\b{w}\b"), 1).otherwise(0)
    return out


def _hits_sql(col: str, words: list[str]) -> str:
    return " + ".join(
        rf"(CASE WHEN regexp_matches({col}, '\b{w}\b') THEN 1 ELSE 0 END)" for w in words
    )


# Retired from the driver window round 4 (the stopword variant is redundant
# with text_langid_ngram, which stays registered; green r3 row);
# local-oracle'd since r5.
@_local_q(
    "text_langid",
    "text analysis — n-gram/stopword language-ID heuristic → confusion matrix "
    "vs the labeled lang column",
    f"""
    SELECT lang,
           CASE WHEN en > es THEN 'en' WHEN es > en THEN 'es' ELSE 'und' END AS pred,
           count(*) AS cnt
    FROM (
      SELECT lang, {_hits_sql('text', _EN_STOPS)} AS en, {_hits_sql('text', _ES_STOPS)} AS es
      FROM documents
    ) GROUP BY lang, pred
    """,
)
def text_langid(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    en = _hits(F.col("text"), _EN_STOPS)
    es = _hits(F.col("text"), _ES_STOPS)
    pred = F.when(en > es, "en").when(es > en, "es").otherwise("und")
    return (
        d.select("lang", pred.alias("pred")).groupBy("lang", "pred").agg(F.count("*").alias("cnt"))
    )


_EN_TRIGRAMS = ["the", "ing", "ort", "can"]  # from en-profile char 3-grams
_ES_TRIGRAMS = ["que", "ión", "ado", "nte"]


def _tri_hits_sql(col: str, grams: list[str]) -> str:
    return " + ".join(
        f"(len({col}) - len(replace({col}, '{g}', ''))) / 3" for g in grams
    )


def langid_pred_col(col=None):
    """Row-local char-trigram language prediction over ``text`` (en/es/und
    argmax) — the per-doc form text_langid_ngram aggregates and the CCNet
    composition routes on."""
    col = F.col("text") if col is None else col

    def tri_hits(grams):
        out = F.lit(0)
        for g in grams:
            out = out + (F.length(col) - F.length(F.replace(col, F.lit(g)))) / 3
        return out

    en, es = tri_hits(_EN_TRIGRAMS), tri_hits(_ES_TRIGRAMS)
    return F.when(en > es, "en").when(es > en, "es").otherwise("und")


def _langid_pred_sql(col: str = "text") -> str:
    """Oracle twin of langid_pred_col."""
    en, es = _tri_hits_sql(col, _EN_TRIGRAMS), _tri_hits_sql(col, _ES_TRIGRAMS)
    return (
        f"CASE WHEN {en} > {es} THEN 'en' "
        f"WHEN {es} > {en} THEN 'es' ELSE 'und' END"
    )


@_q(
    "text_langid_ngram",
    "text analysis — character-n-gram language ID: occurrence counts of "
    "language-profile char trigrams, argmax → prediction (the n-gram variant "
    "of text_langid's stopword heuristic)",
    f"""
    SELECT lang,
           CASE WHEN en > es THEN 'en' WHEN es > en THEN 'es' ELSE 'und' END AS pred,
           count(*) AS cnt
    FROM (
      SELECT lang,
             {_tri_hits_sql('text', _EN_TRIGRAMS)} AS en,
             {_tri_hits_sql('text', _ES_TRIGRAMS)} AS es
      FROM documents
    ) GROUP BY lang, pred
    """,
)
def text_langid_ngram(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.select("lang", langid_pred_col().alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("cnt"))
    )


@_q(
    "text_quality",
    "text analysis — quality scoring: token count, char/token ratio, "
    "length-window flag",
    """
    SELECT source, ok, count(*) AS cnt, CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM (
      SELECT source,
             len(string_split(text, ' ')) AS n_tokens,
             len(string_split(text, ' ')) BETWEEN 10 AND 500 AS ok
      FROM documents
    ) GROUP BY source, ok
    """,
)
def text_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    ok = (n_tokens >= 10) & (n_tokens <= 500)
    return (
        d.select("source", n_tokens.alias("n_tokens"), ok.alias("ok"))
        .groupBy("source", "ok")
        .agg(F.count("*").alias("cnt"), F.sum("n_tokens").alias("total_tokens"))
    )


# Retired from the driver window round 4 (whitespace counting is redundant
# with text_tokens_bpe, and text_quality also aggregates whitespace token
# counts; green r3 row); local-oracle'd since r5.
@_local_q(
    "text_tokens",
    "text analysis — token counting: total + distinct whitespace tokens per source",
    """
    SELECT source, count(*) AS total_tokens, count(DISTINCT tok) AS distinct_tokens
    FROM (SELECT source, u.tok FROM documents, UNNEST(string_split(text, ' ')) AS u(tok))
    GROUP BY source
    """,
)
def text_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source")
        .agg(F.count("*").alias("total_tokens"), F.countDistinct("tok").alias("distinct_tokens"))
    )


def _rep_doc_ctes(src: str) -> str:
    """Per-doc repetition-counter CTE chain over table/CTE ``src`` (must have
    doc_id + text): ends with bg_doc / tg_doc / run_doc, the left-joinable
    counter tables mirroring repetition_flags.  Shared by REPETITION_SQL and
    the corpus-curation oracle."""
    return f"""
    words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM {src}
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1])) AS g
      FROM words WHERE len(w) >= 2
    ),
    bgc AS (
      SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
    ),
    bg_doc AS (
      SELECT doc_id, max(c) AS top_bg, sum(c) AS total_bg
      FROM bgc GROUP BY doc_id
    ),
    tg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      FROM words WHERE len(w) >= 3
    ),
    tg_doc AS (
      SELECT doc_id, count(DISTINCT g) AS distinct_tg, count(*) AS total_tg
      FROM tg GROUP BY doc_id
    ),
    tok AS (
      SELECT doc_id, unnest(w) AS word,
             generate_subscripts(w, 1) AS pos
      FROM words
    ),
    new_runs AS (
      SELECT doc_id, pos,
             CASE WHEN word IS DISTINCT FROM
                       lag(word) OVER (PARTITION BY doc_id ORDER BY pos)
                  THEN 1 ELSE 0 END AS is_new
      FROM tok
    ),
    runs AS (
      SELECT doc_id,
             sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
      FROM new_runs
    ),
    run_doc AS (
      SELECT doc_id, max(run_len) AS max_word_run FROM (
        SELECT doc_id, count(*) AS run_len FROM runs GROUP BY doc_id, run_id
      ) GROUP BY doc_id
    )"""


# Per-doc flag expression over left-joined counters (aliases b = bg_doc,
# t = tg_doc): a doc too short to HAVE bigrams/trigrams is NOT flagged —
# per-side coalesce, mirroring repetition_flags.
_REP_FLAG_SQL = """coalesce(CAST(b.top_bg AS DOUBLE) / b.total_bg > 0.05, FALSE)
                OR coalesce(1.0 - CAST(t.distinct_tg AS DOUBLE) / t.total_tg > 0.3, FALSE)"""


REPETITION_SQL = f"""
    WITH {_rep_doc_ctes('documents')}
    SELECT d.source,
           count(*) AS docs,
           round(CAST(sum(b.top_bg) AS DOUBLE) / sum(b.total_bg), 6) AS top_bigram_ratio,
           round(1.0 - CAST(sum(t.distinct_tg) AS DOUBLE) / sum(t.total_tg), 6)
             AS dup_trigram_ratio,
           CAST(max(r.max_word_run) AS BIGINT) AS max_word_run,
           CAST(sum(CASE WHEN {_REP_FLAG_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs
    FROM documents d
    LEFT JOIN bg_doc b USING (doc_id)
    LEFT JOIN tg_doc t USING (doc_id)
    LEFT JOIN run_doc r USING (doc_id)
    GROUP BY d.source
"""


def _max_equal_run(arr, elem_type: str):
    """Longest run of equal ADJACENT elements in ``arr``, as a row-local
    array aggregate (state: current run, best run, previous element).  Over
    a SORTED array this is the max multiplicity of any value — the
    shuffle-free form of explode → groupBy(key) → count → max.  NULL array
    in → NULL out (CaseWhen-guarded callers rely on this)."""
    step = lambda acc, x: F.when(  # noqa: E731
        x.eqNullSafe(acc["prev"]), acc["run"] + 1
    ).otherwise(F.lit(1))
    return F.aggregate(
        arr,
        F.struct(
            F.lit(0).cast("int").alias("run"),
            F.lit(0).cast("int").alias("best"),
            F.lit(None).cast(elem_type).alias("prev"),
        ),
        lambda acc, x: F.struct(
            step(acc, x).alias("run"),
            F.greatest(acc["best"], step(acc, x)).alias("best"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"].cast("long"),
    )


def repetition_flags(d: DataFrame) -> DataFrame:
    """Per-doc repetition signals over (doc_id, source, text) — the
    composable form a filtering pipeline actually joins/anti-joins on:
    (doc_id, source, top_bg, total_bg, distinct_tg, total_tg, max_word_run,
    flagged).  Counters are integers; `flagged` applies the Gopher-style
    per-doc thresholds (top-bigram occurrence > 5% of bigrams, or duplicate
    trigrams > 30% of trigram occurrences).

    EVERY input doc_id appears exactly once in the output: a doc too short
    to have bigrams (<2 words) or trigrams (<3 words) carries NULL for those
    counters and flagged=false (per-side coalesce) — so inner-joining a
    pipeline on this frame never silently drops short docs.

    Scale shape: a PURE MAP PASS — every counter is a function of one row's
    word array (see _rep_counters), so the operator has ZERO
    exchanges; per-doc cost is O(k log k) in the doc's gram count for the
    one array sort.  Earlier r5 forms and their receipts: exploded-gram
    groupBys (the gram exchange was the curation cluster protocol's
    dominant non-scaling term — task-time +16% at 4 executors); doc_id
    pre-partitioning for exchange-free groupBys measured and REJECTED
    (wall 106 → 152 s, GC 12 → 67 s at 240k/8c: 4 un-reused doc-text
    shuffles + complete-mode agg hash maps).  The row-local form subsumes
    both — there is nothing left to co-partition."""
    flagged = F.coalesce(
        F.col("top_bg").cast("double") / F.col("total_bg") > 0.05, F.lit(False)
    ) | F.coalesce(
        F.lit(1.0) - F.col("distinct_tg").cast("double") / F.col("total_tg") > 0.3,
        F.lit(False),
    )
    # ALL five counters come out of ONE let-bound tokenization as a struct,
    # field-projected in a SECOND select: per-column let bindings would
    # split the text once per counter (measured: 5 `split(text)` instances
    # in the optimized plan → 1 with this form; CollapseProject does not
    # inline the struct because element_at(transform(...)) is not cheap and
    # is referenced five times).
    names = ("top_bg", "total_bg", "distinct_tg", "total_tg", "max_word_run")
    counters = let(
        F.split("text", " "),
        lambda w: F.struct(
            *[_rep_counters(w)[name].alias(name) for name in names]
        ),
    )
    return (
        d.select("doc_id", "source", counters.alias("_rc"))
        .select(
            "doc_id", "source", *[F.col("_rc")[name].alias(name) for name in names]
        )
        .withColumn("flagged", flagged)
    )


def _rep_counters(w) -> dict:
    """The per-doc repetition counters as row-local Column expressions over
    a LET-BOUND word array ``w`` (callers bind F.split("text") via let —
    referenced raw inside the gram lambdas it would re-split the text once
    per gram element) — shared by repetition_flags (materializes all of
    them) and repetition_flag_col (composes just the flag inline, so
    curation pipelines need NO join against a counters frame).

    Gram IDENTITY is all the counters need (max-multiplicity /
    countDistinct — the gram text never reaches the output), so each gram
    is hashed to int64 inside the transform: the array sort compares 8-byte
    ints, not strings.  xxhash64 collisions would merge two counters within
    one doc: P ≈ k²/2⁶⁵ per doc (k grams/doc ~10³ → ~10⁻¹³), accepted and
    shared with the DuckDB oracle only at the count level (the oracle
    groups by gram text; equal counts are the contract).

    Every counter is a function of ONE row's word array (max bigram
    multiplicity = longest equal-adjacent run in the SORTED hashed-bigram
    array; distinct trigrams = array_distinct) — no explode, no groupBy, no
    join, ZERO exchange.  The r5-mid form exploded hashed grams into two
    equi-key groupBys + a double join; those gram exchanges were the
    curation job's dominant non-scaling term on the cluster protocol
    (task-time +16% at 4 executors, BENCH/cluster-1x4-curation*.json).
    CaseWhen short-circuits, so the sequence() in grams() never runs
    backwards on short docs."""
    grams = lambda n: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: F.xxhash64(
            F.concat_ws(" ", *[F.element_at(w, (i + k + 1).cast("int")) for k in range(n)])
        ),
    )
    return {
        "top_bg": _max_equal_run(
            F.when(F.size(w) >= 2, F.array_sort(grams(2))), "long"
        ),
        "total_bg": F.when(F.size(w) >= 2, (F.size(w) - 1).cast("long")),
        "distinct_tg": F.when(
            F.size(w) >= 3, F.size(F.array_distinct(grams(3))).cast("long")
        ),
        "total_tg": F.when(F.size(w) >= 3, (F.size(w) - 2).cast("long")),
        # Longest same-word run: the same row-local sequential scan (landed
        # r5 for the word array, deleting a shuffle+sort of every token
        # string; wall-neutral single-node at 240k/8c, 105.9 vs 107.6 s).
        "max_word_run": _max_equal_run(w, "string"),
    }


@per_session
def quality_flag_col(min_tokens: int = 10, max_tokens: int = 500):
    """The curation quality window (token count outside [min, max]) as one
    row-local Column over `text` — the single definition the batch chain
    (curation_outcomes, train_corpus_semantic_filtered) and the streaming
    ingest front (streaming.stream_curate) share, so a doc gets the SAME
    quality verdict at ingest as overnight; inline copies of the bounds
    had already drifted into three call sites before this was factored."""
    n = F.size(F.split("text", " "))
    return (n < F.lit(min_tokens)) | (n > F.lit(max_tokens))


@per_session
def repetition_flag_col():
    """The Gopher repetition FLAG alone, as one row-local Column over
    `text` — lets a filtering pipeline compute it inline (a withColumn on
    the doc frame) instead of joining repetition_flags back on doc_id,
    which re-shuffled the full doc frame for a row-local fact."""

    def flag(w):
        c = _rep_counters(w)
        return F.coalesce(
            c["top_bg"].cast("double") / c["total_bg"] > 0.05, F.lit(False)
        ) | F.coalesce(
            F.lit(1.0) - c["distinct_tg"].cast("double") / c["total_tg"] > 0.3,
            F.lit(False),
        )

    return let(F.split("text", " "), flag)


@per_session
def pre_reason_col(min_tokens: int = 10, max_tokens: int = 500):
    """The row-local curation pre-verdict over `text`: "quality" outside the
    token window, else "repetition" on the Gopher flag, else NULL — the one
    definition the batch chains, incremental curation and the streaming
    front share.  Coalesce short-circuits, so quality failures never
    evaluate the gram expressions."""
    return F.coalesce(
        F.when(quality_flag_col(min_tokens, max_tokens), "quality"),
        F.when(repetition_flag_col(), "repetition"),
    )


@_q(
    "text_repetition",
    "training-data repetition filters — Gopher/C4-style degenerate-text "
    "signals per source: top-bigram ratio, duplicate-trigram ratio, longest "
    "same-word run, flagged-doc count (per-doc API: repetition_flags)",
    REPETITION_SQL,
)
def text_repetition(spark, sf_dir):
    """Training-data repetition filters (Gopher/C4-style degenerate-text
    signals) aggregated per source: top-bigram occurrence ratio,
    duplicate-trigram ratio, longest same-word run, and the flagged-doc
    count from repetition_flags' per-doc thresholds.

    Registered round 5 (window slot freed by retiring j2_positional_zip —
    COVERAGE.md §window budget).  All aggregations are integer sums with one
    final division, so the cross-engine hash is deterministic."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    per_doc = repetition_flags(d)
    return per_doc.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.round(F.sum("top_bg").cast("double") / F.sum("total_bg"), 6).alias(
            "top_bigram_ratio"
        ),
        F.round(
            F.lit(1.0) - F.sum("distinct_tg").cast("double") / F.sum("total_tg"), 6
        ).alias("dup_trigram_ratio"),
        F.max("max_word_run").cast("bigint").alias("max_word_run"),
        F.sum(F.col("flagged").cast("bigint")).alias("flagged_docs"),
    )


@_q(
    "text_fingerprint",
    "text analysis — document fingerprinting: md5 of whitespace-normalized "
    "lowercased text",
    """
    SELECT source,
           count(DISTINCT md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS distinct_fps,
           count(*) AS cnt
    FROM documents GROUP BY source
    """,
)
def text_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    return d.groupBy("source").agg(
        F.countDistinct(fp).alias("distinct_fps"), F.count("*").alias("cnt")
    )


# =========================================================================
# End-to-end corpus curation: the nightly 100 TB training-data shape
# =========================================================================

# Shared CTE chain for the corpus-curation oracles: augmented corpus →
# quality/repetition labels → survivor LSH pairs → recursive-CTE CC →
# per-doc outcome (`outc`).  train_corpus_filtered rolls it up;
# train_corpus_dsir appends the DSIR selection stage on the kept set.
_CURATION_CTES = f"""aug AS ({_AUG_SQL}),
    {_rep_doc_ctes('aug')},
    labeled AS (
      SELECT a.doc_id, a.source,
             CASE WHEN len(string_split(a.text, ' ')) NOT BETWEEN 10 AND 500
                    THEN 'quality'
                  WHEN {_REP_FLAG_SQL} THEN 'repetition'
             END AS pre_reason
      FROM aug a
      LEFT JOIN bg_doc b USING (doc_id)
      LEFT JOIN tg_doc t USING (doc_id)
    ),
    surv AS (
      SELECT a.doc_id, a.text FROM aug a
      JOIN labeled l USING (doc_id) WHERE l.pre_reason IS NULL
    ),
    sh AS ({_shingle_sql('surv')}),
    sig AS ({_SIG_SQL}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b HAVING count(*) >= 2
    ),
    edges AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT doc_a, doc_b FROM edges
      UNION
      SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a),
    outc AS (
      SELECT l.doc_id, l.source,
             CASE WHEN l.pre_reason IS NOT NULL THEN 'dropped_' || l.pre_reason
                  WHEN c.comp IS NOT NULL AND c.comp <> l.doc_id
                    THEN 'dropped_duplicate'
                  ELSE 'kept' END AS outcome
      FROM labeled l LEFT JOIN comp c USING (doc_id)
    )"""

CURATION_SQL = f"""
    WITH RECURSIVE {_CURATION_CTES}
    SELECT source, outcome, count(*) AS docs
    FROM outc GROUP BY source, outcome
"""


def _curation_outcomes(spark, sf_dir) -> DataFrame:
    """Per-doc curation verdict (doc_id, source, text, outcome) — the full
    training-data filtering pipeline composed end-to-end:

      documents → quality filter (token-count window, cheapest first)
                → repetition filter (Gopher/C4 per-doc flags, repetition_flags)
                → MinHash-LSH candidate pairs over the SURVIVORS only
                → connected components → keep-min-doc per duplicate cluster
                → outcome ∈ {{dropped_quality, dropped_repetition,
                             dropped_duplicate, kept}}

    Scale notes (the order IS the optimization): the per-token quality check
    runs first because it is a row-local projection; repetition flags cost
    two n-gram groupBys but no self-join; only the docs surviving both reach
    the shingle/minhash stage, so the LSH band join and the CC loop run on
    the smallest possible frame.  Precedence is deterministic — a doc failing
    quality is never also counted as a repetition or duplicate drop, and a
    duplicate cluster's representative is chosen among FILTERED survivors
    (dropping a low-quality doc never deletes its whole cluster's content:
    the cluster min is re-elected among the kept members).
    """
    return curation_outcomes(_augmented(spark, sf_dir))


def curation_labeled(aug: DataFrame) -> DataFrame:
    """Phase 1 of the curation verdict chain: the materialized per-doc
    quality/repetition pre-verdicts (doc_id, source, text, pre_reason) —
    factored out of curation_outcomes (r6) so curate_interleaved can
    overlap this eager phase with its independent media side."""
    # The repetition flag is row-local (repetition_flag_col), so it's a
    # withColumn on the doc frame — the earlier r5 form joined the
    # repetition_flags counters frame back on doc_id, shuffling the full
    # doc frame for a row-local fact.
    labeled = aug.withColumn("pre_reason", pre_reason_col())
    # DAG diamond: `labeled` feeds BOTH the dedup branch (survivors →
    # shingles → LSH → CC) and the final outcome join.  Without a lineage
    # cut the quality+repetition subtree re-executes once per branch —
    # measured 14.8 → 9.6 s at sf0.1/32c from this truncate alone
    # (PLANS.md §4j).
    return _truncate_lineage(
        labeled.select("doc_id", "source", "text", "pre_reason")
    )


def curation_edges(labeled: DataFrame) -> DataFrame:
    """Phase 2 (lazy): symmetric LSH candidate edges over the survivors."""
    surv = labeled.filter(F.col("pre_reason").isNull()).select("doc_id", "text")
    pairs = (
        _minhash_pairs(surv)
        .filter(F.col("shared_bands") >= 2)
        .select("doc_a", "doc_b")
    )
    return pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )


def curation_verdicts(labeled: DataFrame, comp: DataFrame) -> DataFrame:
    """Phase 3: final per-doc outcome from pre-verdicts + duplicate labels."""
    return labeled.join(comp, "doc_id", "left").select(
        "doc_id",
        "source",
        "text",
        F.when(
            F.col("pre_reason").isNotNull(),
            F.concat(F.lit("dropped_"), F.col("pre_reason")),
        )
        .when(
            F.col("comp").isNotNull() & (F.col("comp") != F.col("doc_id")),
            F.lit("dropped_duplicate"),
        )
        .otherwise(F.lit("kept"))
        .alias("outcome"),
    )


def curation_outcomes(aug: DataFrame) -> DataFrame:
    """Corpus-parametric core of _curation_outcomes: the full verdict chain
    over ANY (doc_id, source, text) frame — the sf-dir form feeds it the
    augmented documents table, curate_interleaved feeds it doc text
    assembled from interleaved spans.  Keep-min per duplicate cluster
    orders by the doc_id column's own type (numeric ids numerically,
    string ids lexicographically) — oracles must compare in the same id
    space."""
    labeled = curation_labeled(aug)
    comp = connected_components(curation_edges(labeled))
    return curation_verdicts(labeled, comp)


def curated_corpus(spark, sf_dir) -> DataFrame:
    """The materialized side of train_corpus_filtered: the kept documents
    (doc_id, source, text) a downstream tokenizer run would read.  Write it
    with engine.io.materialize-style partitioning in production; returned as
    a frame here so tests/bench control the sink."""
    return (
        _curation_outcomes(spark, sf_dir)
        .filter(F.col("outcome") == "kept")
        .select("doc_id", "source", "text")
    )


@_q(
    "train_corpus_filtered",
    "END-TO-END training-data corpus curation: quality window → repetition "
    "anti-filter → MinHash-LSH duplicate clusters (CC, keep-min-doc among "
    "survivors) → per-source kept/dropped lineage counts",
    CURATION_SQL,
    priority=PRIORITY_FLAGSHIP,
)
def train_corpus_filtered(spark, sf_dir):
    """Lineage-count rollup of _curation_outcomes — per (source, outcome)
    document counts, the audit table a nightly corpus-curation run publishes
    next to the curated corpus itself."""
    return (
        _curation_outcomes(spark, sf_dir)
        .groupBy("source", "outcome")
        .agg(F.count("*").alias("docs"))
    )


def assemble_doc_text(exploded: DataFrame) -> DataFrame:
    """(doc_id, kind, text, media_ref, offset) exploded spans → (doc_id,
    text): offset-ordered space-join of the text spans — the A2 reassembly
    discipline at curation granularity, so doc-level quality/repetition/
    dedup judge the document a reader would see, not span fragments.
    One groupBy; array_sort on (offset, text) structs orders by offset
    (offsets are unique per doc by the input contract)."""
    return (
        exploded.filter(F.col("kind") == "text")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("offset", "text"))),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("text")
        )
    )


def curate_interleaved(
    exploded: DataFrame, blob_feats: DataFrame, min_refs: int = 3
) -> DataFrame:
    """END-TO-END curation of an INTERLEAVED corpus — both sides of the
    graft cell in one pass:

      text side:  spans → assemble_doc_text → curation_outcomes (quality
                  window → repetition flags → LSH duplicate clusters →
                  keep-min) → per-doc verdict
      media side: decoded blob features → media_dedup_features groups →
                  strip_media_boilerplate (boilerplate media spans dropped,
                  survivors' refs canonicalized)

    Output: the kept documents' curated spans (text spans + surviving
    canonicalized media spans) — dropped docs disappear whole (left-semi on
    the kept verdicts), kept docs keep only content-bearing media.

    Scale shape: the spans scan feeds two column-pruned subtrees (text
    branch reads kind/text/offset, media branch kind/media_ref/offset —
    parquet reads each column set once); the curation chain runs on the
    assembled doc frame (one groupBy), the media chain on payload-free
    feature rows; the final semi-join ships only kept doc_ids.

    The two sides are INDEPENDENT until the final semi-join, and the text
    side is driver-synchronous (eager label and edge checkpoints, then CC's
    counted edge checkpoint and, for a graph this small, its one-task
    finish; a larger graph runs the loop's checkpoint and fixpoint jobs
    first), so the media verdicts are
    materialized from a driver-side worker thread while the text side runs
    (guide §2.6 — overlap independent jobs so one job's tiny stages
    back-fill the other's idle cores): the media side overlaps the whole
    text side, CC included.  The materialized frames are slim: the
    per-ref verdict table (media_ref, n_refs, canonical_ref,
    is_boilerplate — no payloads, no text) and the symmetric edge list CC
    would checkpoint anyway."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    assembled = assemble_doc_text(exploded).withColumn(
        "source", F.lit("interleaved")
    )
    with ThreadPoolExecutor(max_workers=1) as pool:
        # the media jobs carry the caller's job group and local properties
        groups_fut = pool.submit(
            inheritable_thread_target(exploded.sparkSession)(
                lambda: _truncate_lineage(media_dedup_features(blob_feats, min_refs))
            )
        )
        labeled = curation_labeled(assembled)  # eager
        edges = _truncate_lineage(curation_edges(labeled))  # eager, heavy chain
        comp = connected_components(edges)
        groups = groups_fut.result()
    outcomes = curation_verdicts(labeled, comp)
    stripped = strip_media_boilerplate(exploded, groups)
    kept = outcomes.filter(F.col("outcome") == "kept").select("doc_id")
    return stripped.join(kept, "doc_id", "semi")


def interleaved_outcomes(exploded: DataFrame) -> DataFrame:
    """Lineage side of curate_interleaved: per-doc curation verdicts over
    the span-assembled doc text (same chain, exposed for audit rollups)."""
    return curation_outcomes(
        assemble_doc_text(exploded).withColumn("source", F.lit("interleaved"))
    )


# =========================================================================
# PII redaction + eval-set decontamination (training-data compliance ops)
# =========================================================================

# Patterns deliberately simple and engine-portable (Java regex == DuckDB RE2
# for this subset: classes, bounded/unbounded counts, \b).  Order of dict =
# order of redaction passes; counts are taken on the ORIGINAL text so one
# pass can't hide another's matches.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+\d{1,3}-\d{3}-\d{4}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

_PII_AUG_SQL = """
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 11 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 17 = 0
                     THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
                     ELSE '' END AS text
      FROM documents
"""


def _pii_augmented(spark, sf_dir) -> DataFrame:
    """documents with deterministic PII injected into known rows (doc_id
    mod 11/13/17 → email/phone/ip) — the same synthesize-the-signal idiom as
    _augmented's planted duplicates, so redaction has ground truth to find."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                did % 11 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 17 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    ((did / 7).cast("long") % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def pii_redact(docs: DataFrame) -> DataFrame:
    """Column-level PII scrub — the composable core: returns (doc_id, source,
    n_email/n_phone/n_ip counts on the original text, redacted text).  Pure
    Catalyst (regexp_extract_all + chained regexp_replace): row-local,
    shuffle-free, whole-stage-codegen'd — the shape that runs at 100 TB as a
    map-only pass over the corpus scan."""
    counts = [
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    redacted = F.col("text")
    for name, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"[{name.upper()}]")
    return docs.select("doc_id", "source", *counts, redacted.alias("redacted"))


@_local_q(
    "text_pii_redact",
    "training-data compliance — PII redaction: regex scrub of emails/phones/"
    "IPs with per-doc counts, map-only over the corpus scan",
    f"""
    WITH pii AS ({_PII_AUG_SQL})
    SELECT doc_id, source,
           len(regexp_extract_all(text, '{PII_PATTERNS["email"]}')) AS n_email,
           len(regexp_extract_all(text, '{PII_PATTERNS["phone"]}')) AS n_phone,
           len(regexp_extract_all(text, '{PII_PATTERNS["ip"]}')) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{PII_PATTERNS["email"]}', '[EMAIL]', 'g'),
               '{PII_PATTERNS["phone"]}', '[PHONE]', 'g'),
               '{PII_PATTERNS["ip"]}', '[IP]', 'g')) AS redacted_fp
    FROM pii
    """,
)
def text_pii_redact(spark, sf_dir):
    r = pii_redact(_pii_augmented(spark, sf_dir))
    return r.select(
        "doc_id", "source", "n_email", "n_phone", "n_ip",
        F.md5("redacted").alias("redacted_fp"),
    )


@_q(  # promoted into the driver window end of r5 (slot freed by f20_id_pattern)
    "text_decontaminate",
    "training-data compliance — eval-set decontamination: corpus docs sharing "
    "n-grams with a (broadcast) benchmark set are counted and flagged",
    f"""
    WITH evald AS (SELECT doc_id, text FROM documents WHERE doc_id % 19 = 0),
    corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 19 <> 0),
    eg AS (SELECT DISTINCT shingle FROM ({_shingle_sql('evald')})),
    cg AS ({_shingle_sql('corpus')}),
    hits AS (
      SELECT cg.doc_id, count(*) AS contaminated_ngrams
      FROM cg JOIN eg USING (shingle) GROUP BY cg.doc_id
    )
    SELECT c.doc_id,
           COALESCE(h.contaminated_ngrams, 0) AS contaminated_ngrams,
           COALESCE(h.contaminated_ngrams, 0) >= 5 AS contaminated
    FROM corpus c LEFT JOIN hits h USING (doc_id)
    """,
)
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: count per-doc n-gram overlap between the
    training corpus and a held-out eval set, flag docs over threshold.  The
    eval set here is a deterministic slice of documents (doc_id % 19) — in
    production it's the actual benchmark suite, which is TINY relative to
    the corpus, so the eval n-gram set is broadcast and the whole op is a
    map-side hash semi-join + one per-doc groupBy: no corpus self-join, no
    shuffle of the eval side, linear in corpus size.  Gram width is 3 here
    (shared _shingles machinery + oracle); production uses 8-13-grams — the
    plan shape is identical."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    evald = d.filter(F.col("doc_id") % 19 == 0)
    corpus = d.filter(F.col("doc_id") % 19 != 0)
    eval_grams = _shingles(evald).select("shingle").distinct()
    hits = (
        _shingles(corpus)
        .join(F.broadcast(eval_grams), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("contaminated_ngrams"))
    )
    n = F.coalesce(F.col("contaminated_ngrams"), F.lit(0))
    return corpus.join(hits, "doc_id", "left").select(
        "doc_id",
        n.alias("contaminated_ngrams"),
        (n >= 5).alias("contaminated"),
    )


# =========================================================================
# Deterministic stratified mixture sampling (training-data weighting)
# =========================================================================

# Per-source sampling rates in basis points (÷10,000) — the "data mixture"
# a training run assigns its sources.  Deterministic fixture mixture here;
# production passes its own dict to sample_stratified.
MIXTURE_BP = {
    "src0": 10_000,  # keep all
    "src1": 5_000,  # half
    "src2": 2_500,
    "src3": 1_000,
    # unlisted sources fall back to DEFAULT_MIXTURE_BP
}
DEFAULT_MIXTURE_BP = 7_500

# Knuth multiplicative hash — chosen over xxhash64/md5 because the SAME
# arithmetic runs in any engine (the DuckDB oracle included): bucket =
# ((doc_id mod 2^31) * 2654435761) mod 2^32 mod 10000.  The 31-bit mask
# keeps the product inside int64 at any doc_id (unmasked, ids past ~3.47e9
# overflow — silent wrap under non-ANSI Spark, an ERROR in DuckDB).
# Uniform enough for rate sampling; crucially REPRODUCIBLE — re-running the
# pipeline (or running it in a different engine) keeps or drops exactly the
# same documents, which is what makes sampled corpora auditable.
_KNUTH = 2654435761


def _sample_bucket(doc_id_col):
    return (
        (doc_id_col % F.lit(2**31)) * F.lit(_KNUTH)
    ) % F.lit(2**32) % F.lit(10_000)


def sample_stratified(
    docs: DataFrame, rates_bp: dict[str, int] | None = None, default_bp: int = DEFAULT_MIXTURE_BP
) -> DataFrame:
    """Keep each doc iff its deterministic hash bucket falls under its
    source's rate — a row-local filter: no shuffle, no rand() (whose
    task-retry non-determinism silently changes the corpus on a 1000-executor
    run when a task re-executes), no per-source pass.  The rates map becomes
    one CASE expression, so mixtures with thousands of sources stay a single
    projection over the corpus scan."""
    rates = MIXTURE_BP if rates_bp is None else rates_bp
    rate = F.lit(default_bp)
    for src, bp in sorted(rates.items()):
        rate = F.when(F.col("source") == src, F.lit(bp)).otherwise(rate)
    return docs.filter(_sample_bucket(F.col("doc_id")) < rate)


def _mixture_case_sql(default_bp: int = DEFAULT_MIXTURE_BP) -> str:
    arms = " ".join(
        f"WHEN source = '{s}' THEN {bp}" for s, bp in sorted(MIXTURE_BP.items())
    )
    return f"CASE {arms} ELSE {default_bp} END"


@_local_q(
    "text_sample_stratified",
    "training-data mixture sampling — deterministic per-source rate filter "
    "(Knuth-hash bucket < rate), audited per source",
    f"""
    SELECT source, count(*) AS kept,
           min(doc_id) AS min_kept_doc, max(doc_id) AS max_kept_doc
    FROM (
      SELECT doc_id, source FROM documents
      WHERE ((doc_id % 2147483648) * {_KNUTH}) % 4294967296 % 10000
            < ({_mixture_case_sql()})
    )
    GROUP BY source
    """,
)
def text_sample_stratified(spark, sf_dir):
    kept = sample_stratified(load(spark, sf_dir, "documents"))
    return kept.groupBy("source").agg(
        F.count("*").alias("kept"),
        F.min("doc_id").alias("min_kept_doc"),
        F.max("doc_id").alias("max_kept_doc"),
    )


# --- sequence packing (training-batch assembly) ------------------------------

PACK_SEQ_LEN = 2048
PACK_BUCKETS = 16


def pack_sequences(
    docs: DataFrame, seq_len: int = PACK_SEQ_LEN, buckets: int = PACK_BUCKETS
) -> DataFrame:
    """Pack documents into fixed-token-length training sequences: the last
    curation step before a corpus feeds a trainer.  GPT-style greedy packing
    with document splitting — docs concatenate in a deterministic shuffled
    order and a doc crossing a seq_len boundary spills into the next
    sequence (start_offset tells the consumer where inside its first
    sequence the doc begins).

    Per doc: (doc_id, bucket, seq_id, start_offset, n_tokens), all integer,
    bit-reproducible across engines and re-runs: the shuffle order is the
    Knuth multiplicative hash of doc_id (same no-rand() discipline as
    sample_stratified — a task retry on a 1000-executor run must not change
    which sequence a doc lands in), tokens are the BPE-ish pre-tokenizer
    count of text_tokens_bpe.  doc_id is masked to 31 bits BEFORE the
    multiply so the product stays inside int64 at any id (unmasked,
    doc_id > ~3.47e9 wraps silently under non-ANSI Spark and ERRORS in
    DuckDB — an engine divergence); the bucket takes the hash's HIGH bits
    (floor(ord·buckets/2³²)) because an odd multiplier mod 2^32 is a
    BIJECTION on the low bits — ``ord % 16`` is literally ``doc_id % 16``,
    which collapses strided/sharded id schemes into one bucket.

    Scale shape: one map projection (token count + hash — text is dropped
    before any exchange), one shuffle on bucket, one running-total window
    per bucket.  Packing is BUCKET-LOCAL precisely so there is no global
    single-partition window: after a uniform hash shuffle any order is as
    good as any other, so bucket boundaries cost nothing but bound each
    window task's input to corpus/buckets.  Size buckets to the cluster's
    task slots at 10^12 docs; 16 matches this sandbox."""
    ord_col = ((F.col("doc_id") % F.lit(2**31)) * F.lit(_KNUTH)) % F.lit(2**32)
    slim = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0))).alias(
            "n_tokens"
        ),
        ord_col.alias("ord"),
        F.floor(ord_col * buckets / F.lit(2**32)).cast("int").alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    # seq_id is LONG: per-bucket cumulative tokens at the 10^12-doc design
    # point exceed int32 × seq_len; start_offset < seq_len stays int.
    return slim.select(
        "doc_id",
        "bucket",
        F.floor(cum / seq_len).cast("long").alias("seq_id"),
        (cum % seq_len).cast("int").alias("start_offset"),
        "n_tokens",
    )


@_local_q(
    "text_pack_sequences",
    "training-batch assembly — greedy sequence packing: deterministic "
    "Knuth-hash shuffle order, bucket-local running token total, "
    "seq_id/start_offset per doc at seq_len 2048",
    f"""
    WITH slim AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}'))
               AS n_tokens,
             ((doc_id % 2147483648) * {_KNUTH}) % 4294967296 AS ord,
             CAST(floor((((doc_id % 2147483648) * {_KNUTH}) % 4294967296)
                        * {PACK_BUCKETS} / 4294967296) AS INT) AS bucket
      FROM documents
    ),
    packed AS (
      SELECT doc_id, bucket, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM slim
    )
    SELECT doc_id, bucket,
           CAST(floor(cum / {PACK_SEQ_LEN}) AS BIGINT) AS seq_id,
           CAST(cum % {PACK_SEQ_LEN} AS INT) AS start_offset,
           CAST(n_tokens AS INT) AS n_tokens
    FROM packed
    """,
)
def text_pack_sequences(spark, sf_dir):
    return pack_sequences(load(spark, sf_dir, "documents"))


def pack_manifest(
    docs: DataFrame, seq_len: int = PACK_SEQ_LEN, buckets: int = PACK_BUCKETS
) -> DataFrame:
    """The consumable half of packing: invert pack_sequences' per-DOC rows
    into the per-SEQUENCE composition a dataloader reads — for every
    training sequence, which doc slices fill it and where.

    One row per (sequence, doc) intersection: (bucket, seq_id, doc_id,
    seq_offset, doc_tok_start, doc_tok_end) — doc tokens
    [doc_tok_start, doc_tok_end) land at seq_offset inside the sequence.
    A doc longer than its sequence remainder spills across rows (document
    splitting); gathering a (bucket, seq_id) group ordered by seq_offset
    yields one exactly-tiled seq_len sequence (the bucket's last sequence
    may be a short tail — the only one a trainer pads or drops).

    Scale shape: pack_sequences' plan plus one explode — each doc fans out
    to 1 + floor((start_offset + n_tokens - 1) / seq_len) - seq_id rows
    (≈ n_tokens/seq_len), so the manifest is ~corpus_tokens/seq_len rows:
    LINEAR, no new exchange, no join.  Zero-token docs occupy no sequence
    and are filtered before the explode (also keeps F.sequence() away from
    the end < start case, where Spark generates a DESCENDING range rather
    than an empty one)."""
    p = pack_sequences(docs, seq_len, buckets).filter(F.col("n_tokens") > 0)
    pos_start = F.col("seq_id") * seq_len + F.col("start_offset")
    rows = p.select(
        "doc_id",
        "bucket",
        "n_tokens",
        pos_start.alias("ps"),
        F.explode(
            F.sequence(
                F.col("seq_id"),
                F.floor((pos_start + F.col("n_tokens") - 1) / seq_len),
            )
        ).alias("seq_id"),
    )
    seq_base = F.col("seq_id") * seq_len
    return rows.select(
        "bucket",
        "seq_id",
        "doc_id",
        F.greatest(F.lit(0), seq_base - F.col("ps"))
        .cast("int")
        .alias("doc_tok_start"),
        F.least(F.col("n_tokens"), seq_base + seq_len - F.col("ps"))
        .cast("int")
        .alias("doc_tok_end"),
        F.greatest(F.lit(0), F.col("ps") - seq_base)
        .cast("int")
        .alias("seq_offset"),
    )


@_local_q(
    "text_pack_manifest",
    "training-batch assembly — per-sequence manifest: pack_sequences "
    "inverted into (sequence → doc slices), documents splitting across "
    "sequence boundaries, one explode over the packed rows",
    f"""
    WITH slim AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}'))
               AS n_tokens,
             ((doc_id % 2147483648) * {_KNUTH}) % 4294967296 AS ord,
             CAST(floor((((doc_id % 2147483648) * {_KNUTH}) % 4294967296)
                        * {PACK_BUCKETS} / 4294967296) AS INT) AS bucket
      FROM documents
    ),
    packed AS (
      SELECT doc_id, bucket, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM slim
      WHERE n_tokens > 0
    ),
    spans AS (
      SELECT doc_id, bucket, n_tokens, cum AS ps,
             unnest(generate_series(
               CAST(cum // {PACK_SEQ_LEN} AS BIGINT),
               CAST((cum + n_tokens - 1) // {PACK_SEQ_LEN} AS BIGINT)
             )) AS seq_id
      FROM packed
    )
    SELECT bucket,
           CAST(seq_id AS BIGINT) AS seq_id,
           doc_id,
           CAST(greatest(0, seq_id * {PACK_SEQ_LEN} - ps) AS INT)
             AS doc_tok_start,
           CAST(least(n_tokens, (seq_id + 1) * {PACK_SEQ_LEN} - ps) AS INT)
             AS doc_tok_end,
           CAST(greatest(0, ps - seq_id * {PACK_SEQ_LEN}) AS INT)
             AS seq_offset
    FROM spans
    """,
)
def text_pack_manifest(spark, sf_dir):
    return pack_manifest(load(spark, sf_dir, "documents"))


# =========================================================================
# Incremental dedup — nightly-delta state carry (reference has no analogue;
# this is the training-data-pipeline op a 10^12-doc corpus actually runs:
# full-corpus re-dedup is O(corpus) per night, the delta pattern is O(batch))
# =========================================================================


def dedup_incremental(
    corpus_sigs: DataFrame, new_docs: DataFrame, min_bands: int = 2
) -> DataFrame:
    """Dedup a NEW batch of documents against a persisted corpus MinHash
    index without touching the corpus text: (doc_id, verdict, dup_of) per
    new doc, verdict ∈ {duplicate_of_corpus, duplicate_in_batch, new}.

    ``corpus_sigs`` is the (doc_id, band, sig) table ``minhash_signatures``
    produced for the existing corpus — the only corpus-side input.  The
    probe is a pure (band, sig) equi-join: |batch|·bands rows against the
    index, no corpus rescan, no all-pairs.  Within-batch duplicates are
    resolved by the same LSH pairs → connected-components → keep-min
    discipline as train_corpus_filtered, with CORPUS-CONTAMINATION
    TRANSITIVITY: if any member of a within-batch duplicate component also
    matches the corpus, the whole component is dropped (its content is
    already represented), each non-matching member resolving dup_of to the
    corpus doc via the component's minimum corpus-matching member.  A pure
    in-batch component keeps its minimum doc_id (verdict ``new``); the rest
    point dup_of at it.

    Scale shape: one equi-join probe (bucket-local if both sides are
    Iceberg-bucketed by (band, sig)), one self-join over BATCH sigs only,
    one CC loop over batch-sized edges.  Corpus size appears solely as the
    probe join's build side — at 10^12 docs that is the point.
    """
    new_sigs = minhash_signatures(new_docs)
    # Hash-family format guard: a persisted index written under a DIFFERENT
    # band_mins family (e.g. the pre-r5-close 32-hex 'i:'-prefix md5 sigs)
    # would match NOTHING in the probe — every true corpus duplicate would
    # silently come back 'new' and contaminate the index forever.  The
    # current family's sigs are exactly 16 hex chars; any other length
    # raises ON THE EXECUTOR at first touch (when-guarded, so the happy
    # path costs one length() per probe row), turning a stale index into a
    # loud failure instead of silent duplicate admission.
    guarded_sig = F.when(F.length("sig") == 16, F.col("sig")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "corpus_sigs hash-family mismatch: expected 16-hex band "
                    "sigs (two-md5 64-bit-slice family, engine.trainops."
                    "minhash_signatures); got sig="
                ),
                F.col("sig"),
            )
        )
    )
    corpus_sigs = corpus_sigs.withColumn("sig", guarded_sig)
    c = corpus_sigs.alias("c")
    n = new_sigs.alias("n")
    corpus_hits = (
        n.join(c, (F.col("n.band") == F.col("c.band")) & (F.col("n.sig") == F.col("c.sig")))
        .groupBy(F.col("n.doc_id").alias("doc_id"), F.col("c.doc_id").alias("cdoc"))
        .agg(F.count("*").alias("shared_bands"))
        .filter(F.col("shared_bands") >= min_bands)
        .groupBy("doc_id")
        .agg(F.min("cdoc").alias("dup_of_corpus"))
    )
    a = new_sigs.alias("a")
    b = new_sigs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared_bands"))
        .filter(F.col("shared_bands") >= min_bands)
        .select("doc_a", "doc_b")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    comp = connected_components(edges)
    verd = (
        new_docs.select("doc_id")
        .join(corpus_hits, "doc_id", "left")
        .join(comp, "doc_id", "left")
    )
    # per-component corpus contamination: the minimum corpus-matching member
    # carries its corpus resolution to the whole component (min_by is
    # tie-free: doc_id is unique)
    comp_corpus = (
        verd.filter(F.col("dup_of_corpus").isNotNull() & F.col("comp").isNotNull())
        .groupBy("comp")
        .agg(F.min_by("dup_of_corpus", "doc_id").alias("comp_dup_of"))
    )
    return verd.join(comp_corpus, "comp", "left").select(
        "doc_id",
        F.when(F.col("dup_of_corpus").isNotNull(), F.lit("duplicate_of_corpus"))
        .when(F.col("comp_dup_of").isNotNull(), F.lit("duplicate_in_batch"))
        .when(
            F.col("comp").isNotNull() & (F.col("comp") != F.col("doc_id")),
            F.lit("duplicate_in_batch"),
        )
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.coalesce(
            "dup_of_corpus",
            "comp_dup_of",
            F.when(F.col("comp") != F.col("doc_id"), F.col("comp")),
        ).alias("dup_of"),
    )


def updated_signature_index(
    corpus_sigs: DataFrame, new_sigs: DataFrame, verdicts: DataFrame
) -> DataFrame:
    """State carry for the next delta: the corpus index plus the signatures
    of this batch's ``new``-verdict docs (duplicates contribute nothing —
    their content is already indexed).  Append-only, so on Iceberg this is
    a plain INSERT INTO the bucketed signature table, no rewrite."""
    kept = verdicts.filter(F.col("verdict") == "new").select("doc_id")
    return corpus_sigs.unionByName(new_sigs.join(kept, "doc_id", "left_semi"))


# the same fragment as _SIG_SQL with the shingle CTE left as a .format
# placeholder — single-sourced from _sig_sql so a hash-family change can
# never update one oracle copy and miss the other
_INCR_SIG_SQL = _sig_sql("{sh}")


@_q(
    "dedup_incremental",
    "training-data dedup — INCREMENTAL MinHash: nightly batch probed against "
    "the persisted corpus band-signature index (equi-join, no corpus "
    "recompute) + within-batch CC with corpus-contamination transitivity "
    "(promoted into the driver window r5 — the PLANS.md §5a priority — in "
    "the slot freed by f3_date_bucket)",
    f"""
    WITH RECURSIVE aug AS ({{aug}}),
    corpus AS (SELECT * FROM aug WHERE doc_id % 4 <> 0),
    batch AS (SELECT * FROM aug WHERE doc_id % 4 = 0),
    csh AS ({{csh}}),
    csig AS ({{csig}}),
    nsh AS ({{nsh}}),
    nsig AS ({{nsig}}),
    corpus_hits AS (
      SELECT doc_id, min(cdoc) AS dup_of_corpus FROM (
        SELECT n.doc_id, c.doc_id AS cdoc
        FROM nsig n JOIN csig c ON n.band = c.band AND n.sig = c.sig
        GROUP BY n.doc_id, c.doc_id HAVING count(*) >= 2
      ) GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM nsig a JOIN nsig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b HAVING count(*) >= 2
    ),
    edges AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
    reach(x, y) AS (
      SELECT doc_a, doc_b FROM edges
      UNION
      SELECT r.x, e.doc_b FROM reach r JOIN edges e ON r.y = e.doc_a
    ),
    comp AS (SELECT x AS doc_id, least(x, min(y)) AS comp FROM reach GROUP BY x),
    verd AS (
      SELECT d.doc_id, h.dup_of_corpus, c.comp
      FROM batch d
      LEFT JOIN corpus_hits h USING (doc_id)
      LEFT JOIN comp c USING (doc_id)
    ),
    comp_corpus AS (
      SELECT comp, arg_min(dup_of_corpus, doc_id) AS comp_dup_of
      FROM verd WHERE dup_of_corpus IS NOT NULL AND comp IS NOT NULL
      GROUP BY comp
    )
    SELECT v.doc_id,
           CASE WHEN v.dup_of_corpus IS NOT NULL THEN 'duplicate_of_corpus'
                WHEN cc.comp_dup_of IS NOT NULL THEN 'duplicate_in_batch'
                WHEN v.comp IS NOT NULL AND v.comp <> v.doc_id
                     THEN 'duplicate_in_batch'
                ELSE 'new' END AS verdict,
           coalesce(v.dup_of_corpus, cc.comp_dup_of,
                    CASE WHEN v.comp <> v.doc_id THEN v.comp END) AS dup_of
    FROM verd v LEFT JOIN comp_corpus cc ON v.comp = cc.comp
    """.format(
        aug=_AUG_SQL,
        csh=_shingle_sql("corpus"),
        csig=_INCR_SIG_SQL.format(sh="csh"),
        nsh=_shingle_sql("batch"),
        nsig=_INCR_SIG_SQL.format(sh="nsh"),
    ),
)
def text_dedup_incremental(spark, sf_dir):
    """Registered form: a deterministic doc_id % 4 split of the augmented
    documents plays corpus (3/4, pre-indexed via minhash_signatures) vs
    nightly batch (1/4) — the injected near/exact duplicate pairs land on
    both sides of the split, exercising every verdict."""
    aug = _augmented(spark, sf_dir)
    corpus_sigs = minhash_signatures(aug.filter(F.col("doc_id") % 4 != 0))
    batch = aug.filter(F.col("doc_id") % 4 == 0)
    return dedup_incremental(corpus_sigs, batch)


def curate_incremental(
    corpus_sigs: DataFrame,
    new_docs: DataFrame,
    min_bands: int = 2,
    min_tokens: int = 10,
    max_tokens: int = 500,
) -> DataFrame:
    """The full nightly curation job over a DELTA: quality window →
    repetition flags → incremental dedup against the persisted corpus index
    — train_corpus_filtered's pipeline re-expressed as an O(batch) job.
    (doc_id, source, outcome, dup_of) per new doc, outcome ∈
    {dropped_quality, dropped_repetition, dropped_duplicate_corpus,
    dropped_duplicate_batch, kept}.

    Same stage order and precedence as _curation_outcomes (cheapest filter
    first; only survivors reach the shingle/probe stage), with the dedup
    stage swapped for dedup_incremental — corpus cost appears only as the
    probe join's build side.  Index the kept docs for the next delta with
    ``updated_signature_index`` (a ``kept`` outcome here is exactly a
    ``new`` verdict there)."""
    # row-local flag inline, same as _curation_outcomes — no counters join
    labeled = new_docs.select("doc_id", "source", "text").withColumn(
        "pre_reason", pre_reason_col(min_tokens, max_tokens)
    )
    # same DAG-diamond cut as _curation_outcomes: labeled feeds both the
    # dedup branch and the final outcome join (PLANS.md §4j)
    labeled = _truncate_lineage(
        labeled.select("doc_id", "source", "text", "pre_reason")
    )
    surv = labeled.filter(F.col("pre_reason").isNull()).select("doc_id", "text")
    verd = dedup_incremental(corpus_sigs, surv, min_bands=min_bands)
    return labeled.join(verd, "doc_id", "left").select(
        "doc_id",
        "source",
        F.when(
            F.col("pre_reason").isNotNull(),
            F.concat(F.lit("dropped_"), F.col("pre_reason")),
        )
        .when(
            F.col("verdict") == "duplicate_of_corpus",
            F.lit("dropped_duplicate_corpus"),
        )
        .when(
            F.col("verdict") == "duplicate_in_batch",
            F.lit("dropped_duplicate_batch"),
        )
        .otherwise(F.lit("kept"))
        .alias("outcome"),
        "dup_of",
    )


@_local_q(
    "train_curate_incremental",
    "END-TO-END INCREMENTAL corpus curation: nightly batch → quality window "
    "→ repetition anti-filter → incremental MinHash dedup vs the persisted "
    "corpus index — the O(batch) delta form of train_corpus_filtered",
    f"""
    WITH RECURSIVE aug AS ({_AUG_SQL}),
    corpus AS (SELECT * FROM aug WHERE doc_id % 4 <> 0),
    batch AS (SELECT * FROM aug WHERE doc_id % 4 = 0),
    {{rep_ctes}},
    labeled AS (
      SELECT a.doc_id, a.source,
             CASE WHEN len(string_split(a.text, ' ')) NOT BETWEEN 10 AND 500
                    THEN 'quality'
                  WHEN {{rep_flag}} THEN 'repetition'
             END AS pre_reason
      FROM batch a
      LEFT JOIN bg_doc b USING (doc_id)
      LEFT JOIN tg_doc t USING (doc_id)
    ),
    surv AS (
      SELECT a.doc_id, a.text FROM batch a
      JOIN labeled l USING (doc_id) WHERE l.pre_reason IS NULL
    ),
    csh AS ({{csh}}),
    csig AS ({{csig}}),
    nsh AS ({{nsh}}),
    nsig AS ({{nsig}}),
    corpus_hits AS (
      SELECT doc_id, min(cdoc) AS dup_of_corpus FROM (
        SELECT n.doc_id, c.doc_id AS cdoc
        FROM nsig n JOIN csig c ON n.band = c.band AND n.sig = c.sig
        GROUP BY n.doc_id, c.doc_id HAVING count(*) >= 2
      ) GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM nsig a JOIN nsig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b HAVING count(*) >= 2
    ),
    edges AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
    reach(x, y) AS (
      SELECT doc_a, doc_b FROM edges
      UNION
      SELECT r.x, e.doc_b FROM reach r JOIN edges e ON r.y = e.doc_a
    ),
    comp AS (SELECT x AS doc_id, least(x, min(y)) AS comp FROM reach GROUP BY x),
    verd AS (
      SELECT s.doc_id, h.dup_of_corpus, c.comp
      FROM surv s
      LEFT JOIN corpus_hits h USING (doc_id)
      LEFT JOIN comp c USING (doc_id)
    ),
    comp_corpus AS (
      SELECT comp, arg_min(dup_of_corpus, doc_id) AS comp_dup_of
      FROM verd WHERE dup_of_corpus IS NOT NULL AND comp IS NOT NULL
      GROUP BY comp
    )
    SELECT l.doc_id, l.source,
           CASE WHEN l.pre_reason IS NOT NULL THEN 'dropped_' || l.pre_reason
                WHEN v.dup_of_corpus IS NOT NULL THEN 'dropped_duplicate_corpus'
                WHEN cc.comp_dup_of IS NOT NULL
                     OR (v.comp IS NOT NULL AND v.comp <> v.doc_id)
                     THEN 'dropped_duplicate_batch'
                ELSE 'kept' END AS outcome,
           coalesce(v.dup_of_corpus, cc.comp_dup_of,
                    CASE WHEN v.comp <> v.doc_id THEN v.comp END) AS dup_of
    FROM labeled l
    LEFT JOIN verd v USING (doc_id)
    LEFT JOIN comp_corpus cc ON v.comp = cc.comp
    """.format(
        rep_ctes=_rep_doc_ctes("batch"),
        rep_flag=_REP_FLAG_SQL,
        csh=_shingle_sql("corpus"),
        csig=_INCR_SIG_SQL.format(sh="csh"),
        nsh=_shingle_sql("surv"),
        nsig=_INCR_SIG_SQL.format(sh="nsh"),
    ),
)
def train_curate_incremental(spark, sf_dir):
    """Registered form: same doc_id % 4 corpus/batch split as
    dedup_incremental, full filter chain on the batch side."""
    aug = _augmented(spark, sf_dir)
    corpus_sigs = minhash_signatures(aug.filter(F.col("doc_id") % 4 != 0))
    batch = aug.filter(F.col("doc_id") % 4 == 0)
    return curate_incremental(corpus_sigs, batch)


# --- semantic dedup (SemDeDup, Abbas et al. 2023): k-means over embeddings
# then within-cluster cosine near-dup keep-min ------------------------------
#
# Complements the hyperplane-LSH embedding near-dup (dedup_embedding_cosine):
# LSH buckets are data-independent, k-means cells adapt to the corpus's
# actual density, which is why the published method clusters first.  The
# whole fit is deterministic — init from the k smallest vec_ids, a FIXED
# number of Lloyd assignment steps, centroid means quantized to 6 decimals
# after every update — so the DuckDB oracle replays the identical arithmetic
# as unrolled CTEs (no rand(), no convergence-dependent iteration count:
# the same task-retry-determinism discipline as sample_stratified).

_KMEANS_K = 4
_KMEANS_ITERS = 2  # assignment steps; ITERS - 1 centroid updates between
_SEMDEDUP_TAU = 0.3  # same verify threshold as dedup_embedding_cosine


def _dot(a, b):
    """Order-fixed dot product: left-to-right fold over dims, the same
    summation order as DuckDB's list_dot_product — centroid inputs are
    quantized (round 6), so both engines see bit-identical operands."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def kmeans_assign(
    emb: DataFrame, k: int = _KMEANS_K, iters: int = _KMEANS_ITERS
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means → (vec_id, cluster, emb).
    See kmeans_fit for the algorithm; this keeps the original single-frame
    API every SemDeDup-family consumer uses."""
    assigned, _ = kmeans_fit(emb, k=k, iters=iters)
    return assigned


def _double_emb(emb: DataFrame) -> DataFrame:
    """(vec_id, emb) with the float embedding widened to array<double>."""
    return emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )


def _nearest_cluster(cents, x):
    """Row-local argmin of ``x`` over a packed array<struct<cluster, c>>:
    the cluster minimizing dot(c,c) - 2*dot(x,c) (the ||x||² term is
    constant per point), ties to the smaller cluster id — array_min over
    per-centroid (score, cluster) structs.  Cluster ids are unique per
    packed array, so (s, cluster) already totally orders it."""
    return F.array_min(
        F.transform(
            cents,
            lambda ct: F.struct(
                (_dot(ct["c"], ct["c"]) - F.lit(2.0) * _dot(x, ct["c"])).alias("s"),
                ct["cluster"].alias("cluster"),
            ),
        )
    )["cluster"]


def kmeans_fit(
    emb: DataFrame, k: int = _KMEANS_K, iters: int = _KMEANS_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Deterministic fixed-iteration Lloyd k-means → ((vec_id, cluster, emb),
    (cluster, emb) centroids) — the centroid frame is the one the FINAL
    assignment ran against (what ADC distance tables must be built from;
    recomputing means from the final assignment would give the NEXT
    iteration's centroids, not these).

    - init: the k smallest vec_ids' embeddings, cluster = rank - 1 (the
      4-row sort/limit/window runs on a k-row frame — not a global window).
    - assign: argmin over dot(c,c) - 2*dot(x,c) (the ||x||² term is constant
      per point), ties broken by cluster id; the k centroids enter as ONE
      broadcast row carrying array<struct<cluster, c>>, and the argmin is a
      row-local array_min over per-centroid (score, cluster) structs — a
      ZERO-EXCHANGE map pass over the points (the k× dot-product compute is
      inherent to k-means assignment; nothing point-sided shuffles for it).
      Receipts vs the rejected crossJoin→groupBy argmin, which shuffled
      every point's embedding per iteration: BENCH/ab_kmeans_k_r5.json.
    - update: per-dimension mean, ROUNDED to 6 decimals — quantization makes
      the next assignment's operands identical across engines regardless of
      each engine's partial-sum order (doubles agree to ~1e-13; the round
      collapses that far below any decision boundary).
    - a cluster that empties after a step simply disappears from the next
      centroid frame (both engines agree; with init inside the data this
      does not occur on the bench corpora).

    At 10^12 docs: fit on a sample with more iterations offline, then this
    assignment step is one broadcast map pass over the corpus — the shape
    SemDeDup-style curation actually runs at scale.
    """
    e = _double_emb(emb)
    w = Window.orderBy("vec_id")
    cents = (
        e.orderBy("vec_id")
        .limit(k)
        .select((F.row_number().over(w) - 1).alias("cluster"), "emb")
    )
    assigned = None
    for step in range(iters):
        # ROW-LOCAL argmin: the k centroids are packed into ONE broadcast
        # row carrying an array<struct<cluster, c>>, and each point takes
        # array_min over per-centroid (score, cluster) structs — a pure map
        # pass.  The earlier crossJoin→groupBy(vec_id) form shuffled one
        # (vec_id, min-struct) row PER POINT — with the embedding inside the
        # struct, i.e. the whole corpus crossed the wire per iteration — and
        # min over a struct containing an array forces SortAggregate (plan
        # receipts + 0.76-0.86× walls at k=4..256 even single-node, where
        # the shuffle is in-process: BENCH/ab_kmeans_k_r5.json).
        packed = F.broadcast(
            cents.agg(
                F.collect_list(
                    F.struct(F.col("cluster"), F.col("emb").alias("c"))
                ).alias("cents")
            )
        )
        assigned = e.crossJoin(packed).select(
            "vec_id",
            _nearest_cluster(F.col("cents"), F.col("emb")).alias("cluster"),
            "emb",
        )
        if step < iters - 1:
            ex = assigned.select("cluster", F.posexplode("emb").alias("pos", "x"))
            u = ex.groupBy("cluster", "pos").agg(F.round(F.avg("x"), 6).alias("v"))
            cents = u.groupBy("cluster").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("emb")
            )
    return assigned, cents


def _kmeans_sql_ctes(
    k: int = _KMEANS_K,
    iters: int = _KMEANS_ITERS,
    dims: int = 64,
    src: str = "embeddings",
    prefix: str = "",
) -> str:
    """The oracle twin of kmeans_fit: unrolled Lloyd CTEs ({p}e, {p}c0,
    {p}a1, {p}u1, {p}c1, ..., {p}a{iters}); final assignment is
    {p}a{iters}, the centroids it ran against {p}c{iters-1}.  ``src`` is
    the (vec_id, embedding) table/CTE the fit runs over — "embeddings" for
    the whole-table queries, a survivors CTE for the filtered composition,
    per-subspace slices for PQ (``prefix`` keeps the M chains' CTE names
    disjoint inside one WITH)."""
    p = prefix
    assign = f"""
    {p}a{{i}} AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(c.emb, c.emb)
                          - 2 * list_dot_product(e.emb, c.emb),
                          c.cluster) AS rn
        FROM {p}e e, {{prev}} c) WHERE rn = 1)"""
    update = f"""
    {p}u{{i}} AS (
      SELECT a.cluster, t.i AS pos, round(avg(e.emb[t.i]), 6) AS v
      FROM {p}a{{i}} a JOIN {p}e e USING (vec_id) CROSS JOIN range(1, {{hi}}) t(i)
      GROUP BY a.cluster, t.i),
    {p}c{{i}} AS (SELECT cluster, list(v ORDER BY pos) AS emb
                  FROM {p}u{{i}} GROUP BY cluster)"""
    parts = [
        f"""
    {p}e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
          FROM {src}),
    {p}c0 AS (
      SELECT rn - 1 AS cluster, emb
      FROM (SELECT row_number() OVER (ORDER BY vec_id) AS rn, emb FROM {p}e)
      WHERE rn <= {k})"""
    ]
    for i in range(1, iters + 1):
        parts.append(assign.format(i=i, prev=f"{p}c{i - 1}"))
        if i < iters:
            parts.append(update.format(i=i, hi=dims + 1))
    return ",".join(parts)


@_local_q(
    "sim_kmeans_assign",
    "semantic clustering — deterministic fixed-iteration Lloyd k-means over "
    "the embedding column (init = k smallest vec_ids, quantized centroid "
    "updates): the cell structure SemDeDup and mixture balancing consume",
    f"WITH {_kmeans_sql_ctes()}\n"
    f"    SELECT vec_id, cluster FROM a{_KMEANS_ITERS}",
)
def sim_kmeans_assign(spark, sf_dir):
    return kmeans_assign(_emb(spark, sf_dir)).select("vec_id", "cluster")


def semdedup_dups(assigned: DataFrame) -> DataFrame:
    """Within-cell keep-min dup verdicts over a (vec_id, cluster, emb)
    assignment frame → (vec_id, dup_of) for every flagged vec: a vec is a
    dup iff a smaller same-cell vec_id sits within cosine _SEMDEDUP_TAU.
    The pairing is an EQUI-join on cluster (pair counts bounded by cell
    size ~ n/k).  Pass an ALREADY-truncated frame — it is referenced on
    both pair sides."""
    x = assigned.alias("x")
    y = assigned.alias("y")
    cos = _cos(F.col("x.emb"), F.col("y.emb"))
    return (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .filter(cos >= F.lit(_SEMDEDUP_TAU))
        .groupBy(F.col("y.vec_id").alias("vec_id"))
        .agg(F.min(F.col("x.vec_id")).alias("dup_of"))
    )


@_local_q(
    "dedup_semdedup",
    "training-data dedup — SemDeDup (Abbas et al. 2023): k-means cells over "
    "embeddings, then within-cell cosine >= tau keep-min-vec_id verdicts; "
    "the density-adaptive complement of the LSH-bucketed embedding near-dup",
    f"""
    WITH {_kmeans_sql_ctes()},
    dups AS (
      SELECT y.vec_id, min(x.vec_id) AS dup_of
      FROM a{_KMEANS_ITERS} x
      JOIN a{_KMEANS_ITERS} y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN embeddings a ON a.vec_id = x.vec_id
      JOIN embeddings b ON b.vec_id = y.vec_id
      WHERE {_PAIR_COS_SQL} >= {_SEMDEDUP_TAU}
      GROUP BY y.vec_id)
    SELECT a.vec_id, a.cluster, d.dup_of IS NOT NULL AS is_dup, d.dup_of
    FROM a{_KMEANS_ITERS} a LEFT JOIN dups d USING (vec_id)
    """,
)
def dedup_semdedup(spark, sf_dir):
    """Within-cell pairing is an EQUI-join on the cluster id (pair counts
    bounded by cell size ~ n/k; scale k with the corpus like the published
    method), then the same keep-min-doc verdict convention as every other
    dedup front: a vec is a dup iff a smaller same-cell vec_id sits within
    cosine tau, dup_of = the smallest such vec.

    The assignment frame sits at a DAG-diamond fork (both pair sides + the
    final verdict join), so it is materialized once via _truncate_lineage
    instead of re-running the k-means fit three times."""
    a2 = _truncate_lineage(kmeans_assign(_emb(spark, sf_dir)))
    dups = semdedup_dups(a2)
    return a2.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
    )


def _knuth_full(id_col):
    """Full-width Knuth value (no bucket fold): the deterministic per-id
    ORDER used where sampling needs a total order rather than a rate —
    same 31-bit-mask overflow discipline as _sample_bucket."""
    return ((id_col % F.lit(2**31)) * F.lit(_KNUTH)) % F.lit(2**32)


def sample_cluster_balanced(assigned: DataFrame) -> DataFrame:
    """Cluster-balanced subsample: per k-means cell, keep the m members with
    the smallest Knuth hash, where m = the smallest cell's size → every cell
    contributes EQUALLY to the sampled corpus (the mixture-balancing
    consumer of kmeans_assign: semantic cells stand in for source tags when
    the mixture should be balanced by CONTENT, not provenance).

    Deterministic by the same no-rand() argument as sample_stratified: the
    ordering is (knuth_hash(vec_id), vec_id), so task retries, re-runs, and
    other engines keep exactly the same members.  One groupBy for cell
    sizes (k rows, broadcast back) + one per-cell window — the same
    bucket-local window cost class as pack_sequences.  At extreme scale an
    approximate variant replaces the window with a rate filter
    (_sample_bucket < m/cell_size · 10⁴), trading exact counts for a
    shuffle-free map pass.
    """
    m_df = F.broadcast(
        assigned.groupBy("cluster").count().agg(F.min("count").alias("m"))
    )
    w = Window.partitionBy("cluster").orderBy(
        _knuth_full(F.col("vec_id")), F.col("vec_id")
    )
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .crossJoin(m_df)
        .select(
            "vec_id", "cluster", (F.col("rn") <= F.col("m")).alias("kept")
        )
    )


@_local_q(
    "sim_kmeans_balanced",
    "training-data mixture balancing — cluster-balanced subsample: per "
    "k-means cell keep the min-cell-size members with smallest Knuth hash "
    "(content-balanced corpus, deterministic across engines and retries)",
    f"""
    WITH {_kmeans_sql_ctes()},
    sz AS (SELECT cluster, count(*) AS n FROM a{_KMEANS_ITERS} GROUP BY cluster),
    m AS (SELECT min(n) AS m FROM sz),
    rk AS (
      SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY cluster
               ORDER BY ((vec_id % 2147483648) * {_KNUTH}) % 4294967296,
                        vec_id) AS rn
      FROM a{_KMEANS_ITERS})
    SELECT r.vec_id, r.cluster, r.rn <= m.m AS kept FROM rk r, m
    """,
)
def sim_kmeans_balanced(spark, sf_dir):
    return sample_cluster_balanced(
        kmeans_assign(_emb(spark, sf_dir)).select("vec_id", "cluster")
    )


# --- temperature sampling (mixture flattening) -------------------------------

TEMP_ALPHA = 0.7  # target share p_s ∝ n_s^alpha — the T5/mT5 flattening knob


def sample_temperature(docs: DataFrame, alpha: float = TEMP_ALPHA) -> DataFrame:
    """Temperature-flattened mixture sampling (the multilingual-LM standard:
    target per-source share p_s ∝ n_s^alpha, alpha < 1 downweights dominant
    sources).  Achieved as a per-doc keep rate
    ``rate_s = (n_min / n_s)^(1 - alpha)`` — the smallest source keeps
    everything, a source X× larger keeps X^(alpha-1) of itself — applied
    through the SAME deterministic Knuth-hash bucket as sample_stratified
    (no rand(): retries and engines agree doc-for-doc).

    Unlike sample_stratified's hand-written rates map, the rates here are
    DERIVED FROM THE DATA: one groupBy for source counts (tiny frame,
    broadcast back), then a row-local filter.  Rates quantize to basis
    points via floor(1e4·rate) so both engines compare the same integer.
    """
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    n_min = counts.agg(F.min("n_s").alias("n_min"))
    rates = F.broadcast(
        counts.crossJoin(F.broadcast(n_min)).select(
            "source",
            F.floor(
                F.lit(10_000.0)
                * F.pow(F.col("n_min") / F.col("n_s"), F.lit(1.0 - alpha))
            ).alias("rate_bp"),
        )
    )
    return docs.join(rates, "source").filter(
        _sample_bucket(F.col("doc_id")) < F.col("rate_bp")
    )


@_local_q(
    "text_sample_temperature",
    "training-data mixture flattening — temperature sampling (share ∝ "
    "n_s^alpha): data-derived per-source keep rates through the "
    "deterministic Knuth-hash bucket, audited per source",
    f"""
    WITH cnt AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
    rates AS (
      SELECT source,
             floor(10000.0 * pow((SELECT min(n_s) FROM cnt)::DOUBLE / n_s,
                                 {1.0 - TEMP_ALPHA}))::BIGINT AS rate_bp
      FROM cnt)
    SELECT d.source, r.rate_bp, count(*) AS kept,
           min(d.doc_id) AS min_kept_doc, max(d.doc_id) AS max_kept_doc
    FROM documents d JOIN rates r USING (source)
    WHERE ((d.doc_id % 2147483648) * {_KNUTH}) % 4294967296 % 10000 < r.rate_bp
    GROUP BY d.source, r.rate_bp
    """,
)
def text_sample_temperature(spark, sf_dir):
    kept = sample_temperature(load(spark, sf_dir, "documents"))
    return kept.groupBy("source", "rate_bp").agg(
        F.count("*").alias("kept"),
        F.min("doc_id").alias("min_kept_doc"),
        F.max("doc_id").alias("max_kept_doc"),
    )


@_local_q(
    "train_corpus_semantic",
    "corpus-level SemDeDup consumption: the embeddings' within-cell cosine "
    "verdicts applied to the documents table (vec_id = doc_id), per-(source, "
    "outcome) lineage counts — docs without an embedding pass through kept",
    f"""
    WITH {_kmeans_sql_ctes()},
    dups AS (
      SELECT y.vec_id, min(x.vec_id) AS dup_of
      FROM a{_KMEANS_ITERS} x
      JOIN a{_KMEANS_ITERS} y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN embeddings a ON a.vec_id = x.vec_id
      JOIN embeddings b ON b.vec_id = y.vec_id
      WHERE {_PAIR_COS_SQL} >= {_SEMDEDUP_TAU}
      GROUP BY y.vec_id)
    SELECT d.source,
           CASE WHEN dp.vec_id IS NOT NULL THEN 'dropped_semantic_dup'
                ELSE 'kept' END AS outcome,
           count(*) AS docs
    FROM documents d LEFT JOIN dups dp ON dp.vec_id = d.doc_id
    GROUP BY d.source, outcome
    """,
)
def train_corpus_semantic(spark, sf_dir):
    """The consumption shape a curation pipeline runs: dedup_semdedup's
    keep-min verdicts anti-join the corpus.  The verdict side carries only
    (vec_id) for flagged dups — tiny next to the corpus, and the join is a
    doc_id equi-join (bucket-local under the PLANS.md §5 layout).  Docs the
    embedding job never covered cannot be semantically deduped and pass
    through as kept (the same explicit-domain rule as repetition_flags)."""
    docs = load(spark, sf_dir, "documents")
    dups = (
        dedup_semdedup(spark, sf_dir)
        .filter(F.col("is_dup"))
        .select(F.col("vec_id").alias("doc_id"), F.lit(True).alias("dup"))
    )
    return (
        docs.join(dups, "doc_id", "left")
        .select(
            "source",
            F.when(F.col("dup"), F.lit("dropped_semantic_dup"))
            .otherwise(F.lit("kept"))
            .alias("outcome"),
        )
        .groupBy("source", "outcome")
        .agg(F.count("*").alias("docs"))
    )


@_local_q(
    "train_corpus_semantic_filtered",
    "survivor-fitted SemDeDup — the flagship's survivor discipline applied "
    "to the semantic front: quality window → repetition flags → k-means "
    "cells FIT ON THE SURVIVORS ONLY → within-cell cosine keep-min verdicts "
    "→ per-(source, outcome) lineage counts",
    f"""
    WITH {_rep_doc_ctes('documents')},
    labeled AS (
      SELECT d.doc_id, d.source,
             CASE WHEN len(string_split(d.text, ' ')) NOT BETWEEN 10 AND 500
                    THEN 'quality'
                  WHEN {_REP_FLAG_SQL} THEN 'repetition'
             END AS pre_reason
      FROM documents d
      LEFT JOIN bg_doc b USING (doc_id)
      LEFT JOIN tg_doc t USING (doc_id)
    ),
    surv_emb AS (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN labeled l ON l.doc_id = e.vec_id AND l.pre_reason IS NULL
    ),
    {_kmeans_sql_ctes(src='surv_emb')},
    dups AS (
      SELECT y.vec_id, min(x.vec_id) AS dup_of
      FROM a{_KMEANS_ITERS} x
      JOIN a{_KMEANS_ITERS} y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN embeddings a ON a.vec_id = x.vec_id
      JOIN embeddings b ON b.vec_id = y.vec_id
      WHERE {_PAIR_COS_SQL} >= {_SEMDEDUP_TAU}
      GROUP BY y.vec_id)
    SELECT l.source,
           CASE WHEN l.pre_reason IS NOT NULL THEN 'dropped_' || l.pre_reason
                WHEN dp.vec_id IS NOT NULL THEN 'dropped_semantic_dup'
                ELSE 'kept' END AS outcome,
           count(*) AS docs
    FROM labeled l LEFT JOIN dups dp ON dp.vec_id = l.doc_id
    GROUP BY l.source, outcome
    """,
)
def train_corpus_semantic_filtered(spark, sf_dir):
    """Survivor-fitted SemDeDup (the PLANS.md §5a "quality-survivors
    composition"): the cheap row-local filters run FIRST, and only their
    survivors reach — and SHAPE — the semantic front.  Fitting the k-means
    cells on survivors matters beyond cost: degenerate/repetitive docs form
    dense artificial clusters that drag centroids away from real content
    (the published SemDeDup pipelines fit after heuristic filtering for
    exactly this reason).

    Chain: quality token-count window (row-local projection) → Gopher/C4
    repetition flag (row-local, CaseWhen-short-circuited behind quality) →
    survivors semi-join the embeddings table (vec_id = doc_id; tiny id
    frame ships, vectors don't) → kmeans_assign fit+assign on the survivor
    subset → within-cell cosine keep-min verdicts (semdedup_dups) →
    per-(source, outcome) lineage counts.  Docs without an embedding cannot
    be semantically deduped and pass through kept (explicit-domain rule,
    as train_corpus_semantic).  Precedence is deterministic: quality ≺
    repetition ≺ semantic-dup ≺ kept."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    labeled = d.withColumn("pre_reason", pre_reason_col())
    # DAG diamond: `labeled` feeds the survivor semi-join AND the final
    # outcome rollup — truncate once (same rationale as curation_outcomes).
    labeled = _truncate_lineage(labeled.select("doc_id", "source", "pre_reason"))
    surv = labeled.filter(F.col("pre_reason").isNull()).select(
        F.col("doc_id").alias("vec_id")
    )
    emb_surv = _emb(spark, sf_dir).join(surv, "vec_id", "semi")
    assigned = _truncate_lineage(kmeans_assign(emb_surv))
    dups = semdedup_dups(assigned).select(
        "vec_id", F.lit(True).alias("sem_dup")
    )
    return (
        labeled.join(dups, labeled["doc_id"] == dups["vec_id"], "left")
        .select(
            "source",
            F.when(
                F.col("pre_reason").isNotNull(),
                F.concat(F.lit("dropped_"), F.col("pre_reason")),
            )
            .when(F.col("sem_dup"), F.lit("dropped_semantic_dup"))
            .otherwise(F.lit("kept"))
            .alias("outcome"),
        )
        .groupBy("source", "outcome")
        .agg(F.count("*").alias("docs"))
    )


# --- model-based quality filter (hashing-trick linear scorer) ----------------
#
# The DCLM/fastText-style slot in a curation pipeline: score every doc with a
# LINEAR model over hashed token features and threshold.  The Spark-side
# plumbing is the real thing — hashing-trick featurization (md5 → 16-bit
# bucket), per-token weight lookup, integer-exact accumulation, row-local
# zero-exchange scoring over the corpus scan.  The WEIGHTS are a frozen
# deterministic stand-in (hash-derived pseudo-weights in [-5000, 5000] cbp —
# no training corpus exists in this sandbox); a learned fastText/LR model
# drops in either as this same closed-form expression or as a broadcast
# (bucket → weight) table joined pre-aggregation, with an identical plan
# shape.  Scores accumulate as INTEGERS so both engines agree exactly
# regardless of summation order (the same determinism discipline as the
# Knuth-hash samplers; a float mean would differ in ULPs across engines).


def _token_hash16(tok):
    """Hashing-trick feature of one token: md5 → its first 16 bits as a
    bucket id in [0, 65536) — portable arithmetic shared with the DuckDB
    oracles (DSIR and the LM fold it mod 4096, see _dsir_bucket)."""
    return F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long")


def _model_weight(bucket):
    """Frozen pseudo-weight of one 16-bit bucket: Knuth mix →
    centi-basis-points in [-5000, 5000] (zero-mean over buckets)."""
    return (bucket * F.lit(_KNUTH)) % F.lit(2**32) % F.lit(10_001) - F.lit(5_000)


def _token_weight_sums(
    docs: DataFrame, weights: DataFrame, bucket, sums: dict[str, str]
) -> DataFrame:
    """The table-driven scoring operator every hashed-token model shares:
    tokenize → explode → ``bucket(tok)`` → BROADCAST hash join against the
    (bucket, weight…) frame → integer per-doc sums, one per ``sums`` entry
    (output column → weight column), keyed (doc_id, source, n_tokens).

    Plan shape: the corpus side stays exchange-free up to the join (explode
    and bucket are row-local on the scan; the weight table broadcasts),
    then ONE exchange of (doc_id, partial_sum) rows for the re-aggregation
    — map-side partial sums mean the shuffle carries one small row per
    (doc, reducer), not one per token."""
    toks = F.split(F.col("text"), " ")
    return (
        docs.select(
            "doc_id",
            "source",
            F.size(toks).alias("n_tokens"),
            F.explode(toks).alias("tok"),
        )
        .select("doc_id", "source", "n_tokens", bucket(F.col("tok")).alias("bucket"))
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "source", "n_tokens")
        .agg(*[F.sum(w).alias(name) for name, w in sums.items()])
    )


def quality_model_score(docs: DataFrame) -> DataFrame:
    """Per-doc linear quality score + keep flag — one projection, no
    exchange: the token transform/aggregate runs inside the corpus scan."""
    toks = F.split(F.col("text"), " ")
    sum_w = F.aggregate(
        F.transform(toks, lambda t: _model_weight(_token_hash16(t))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        sum_w.alias("score_sum"),
        (sum_w > 0).alias("kept"),
    )


@_local_q(
    "text_quality_model",
    "training-data quality — model-based filter (hashing-trick linear "
    "scorer, fastText/DCLM shape): md5 token buckets → frozen pseudo-weights "
    "→ integer-exact doc score → threshold flag; row-local, zero-exchange",
    f"""
    SELECT doc_id, source,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '),
             t -> ((('0x' || substr(md5(t), 1, 4))::BIGINT * {_KNUTH})
                   % 4294967296) % 10001 - 5000)) AS BIGINT) AS score_sum,
           CAST(list_sum(list_transform(string_split(text, ' '),
             t -> ((('0x' || substr(md5(t), 1, 4))::BIGINT * {_KNUTH})
                   % 4294967296) % 10001 - 5000)) AS BIGINT) > 0 AS kept
    FROM documents
    """,
)
def text_quality_model(spark, sf_dir):
    return quality_model_score(load(spark, sf_dir, "documents"))


def quality_model_weights(spark: SparkSession) -> DataFrame:
    """The (bucket → weight) table a LEARNED fastText/LR model ships as —
    65,536 rows (16-bit hashing trick), one integer weight per bucket.
    Here the weights are the same frozen Knuth-mix pseudo-weights
    (_model_weight) as the closed form, so the two forms score
    identically (locked by test_quality_model_join_matches_closed_form);
    in production this frame is simply replaced by the trained table."""
    return spark.range(65_536).select(
        F.col("id").alias("bucket"), _model_weight(F.col("id")).alias("weight")
    )


def quality_model_score_join(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Broadcast-join form of quality_model_score — the shape a real learned
    model deploys as (the weight table is model output, not an expression):
    the shared _token_weight_sums operator over 16-bit buckets and the
    65k-row weight table, then the threshold flag.  Versus the closed form
    it adds exactly one exchange (the per-doc re-aggregation).  A/B
    receipts: BENCH/ab_model_weights_r5.json."""
    return _token_weight_sums(
        docs, weights, _token_hash16, {"score_sum": "weight"}
    ).withColumn("kept", F.col("score_sum") > 0)


# --- DSIR: data selection with importance resampling -------------------------
#
# Xie et al. 2023 (arXiv:2302.03169) — select raw-corpus documents whose
# hashed-n-gram distribution looks like a TARGET domain: fit two bag-of-
# hashed-token models (target sample vs raw sample), per-doc importance =
# sum of per-token log-likelihood ratios, then Gumbel-top-k resampling.
# This is the data-SELECTION slot of a curation pipeline (the quality model
# above filters junk; DSIR steers the mixture toward a domain), and it is
# the natural consumer of the learned-table deployment seam receipted in
# BENCH/ab_model_weights_r5.json: the (bucket → weight) table here is
# DATA-DERIVED (two tiny count aggregations), so unlike the frozen quality
# pseudo-weights it CANNOT be inlined as a closed-form expression — the
# broadcast-join form is the only correct shape, exactly as §5a concluded.
#
# Determinism discipline: weights are quantized to integer 10^-4 nats
# (ROUND(1e4 * ln-ratio) — the kmeans 6-decimal precedent: both engines'
# libm ln agree to ~1 ulp, so a 1e-4 grid makes a rounding flip
# astronomically unlikely), per-doc scores then accumulate as INTEGERS, and
# the Gumbel noise is the Knuth-hash uniform pushed through -ln(-ln(u)) on
# the same grid — no rand(), so a task retry or a different engine selects
# exactly the same documents.

_DSIR_BUCKETS = 4096
_DSIR_SCALE = 10_000


def _dsir_bucket(tok):
    """Hashed-unigram feature bucket: the 16-bit token hash mod 4096."""
    return _token_hash16(tok) % F.lit(_DSIR_BUCKETS)


def _dsir_token_counts(docs: DataFrame, *keys) -> DataFrame:
    """(*keys, bucket, c) hashed-token counts over a document frame — the
    bag-of-hashed-ngrams "model fit" (tiny: ≤ 4096 rows per key out)."""
    return (
        docs.select(*keys, F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .select(*keys, _dsir_bucket(F.col("tok")).alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count("*").alias("c"))
    )


def dsir_weights(spark: SparkSession, target: DataFrame, raw_sample: DataFrame) -> DataFrame:
    """The DSIR importance model as a (bucket → weight) table: weight_b =
    round(1e4 * [ln p_target(b) - ln p_raw(b)]) with Laplace smoothing,
    integer nats×1e-4.  Two tiny groupBys (4096 rows each) + their totals
    broadcast back onto a dense spark.range(4096) spine — every bucket gets
    a weight, including unseen ones (the smoothing prior), which is what
    lets the scorer stay a pure inner join on an exhaustive key space."""
    tc = target.transform(_dsir_token_counts)
    rc = raw_sample.transform(_dsir_token_counts)
    tot = tc.agg(F.sum("c").alias("tt")).crossJoin(rc.agg(F.sum("c").alias("rt")))
    b = F.lit(_DSIR_BUCKETS).cast("double")
    lnr = (
        F.log(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1).cast("double"))
        - F.log(F.col("tt") + b)
        - F.log(F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1).cast("double"))
        + F.log(F.col("rt") + b)
    )
    return (
        spark.range(_DSIR_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .join(tc.withColumnRenamed("c", "ct"), "bucket", "left")
        .join(rc.withColumnRenamed("c", "cr"), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(F.lit(_DSIR_SCALE) * lnr, 0).cast("long").alias("weight"),
        )
    )


def dsir_score(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Per-doc DSIR importance: the shared _token_weight_sums operator over
    4096 buckets and the one weight table, plus the deterministic Gumbel
    resampling key: score + round(1e4 * -ln(-ln(u))) with u the
    md5-of-string-id uniform (id-type-agnostic)."""
    # id-TYPE-agnostic uniform: md5 of the STRING form of doc_id → 32-bit
    # integer (the numeric Knuth form silently yields NULL keys on string
    # doc_ids — selection would then ignore the scores entirely); +0.5
    # half-bucket offset keeps u strictly inside (0, 1)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    gumbel = F.round(F.lit(_DSIR_SCALE) * -F.log(-F.log(u)), 0).cast("long")
    return _token_weight_sums(
        docs, weights, _dsir_bucket, {"dsir_score": "weight"}
    ).withColumn("resample_key", F.col("dsir_score") + gumbel)


def dsir_select(
    spark: SparkSession,
    target: DataFrame,
    raw_sample: DataFrame,
    corpus: DataFrame,
    k: int,
) -> DataFrame:
    """Gumbel-top-k importance resampling: rank the corpus by resample_key
    (ties broken by doc_id) and keep k documents — globally, via the
    0-exchange TakeOrdered path (the t1_topk_orders precedent), so no full
    sort ever materializes.  At 10^12 docs k is large but the shape holds:
    per-partition top-k then a driver/tree merge of k-row frames."""
    scored = dsir_score(corpus, dsir_weights(spark, target, raw_sample))
    return scored.orderBy(F.desc("resample_key"), F.asc("doc_id")).limit(k)


def _dsir_sql_ctes(tgt: str, raws: str, corpus: str) -> str:
    """Oracle-side twin of dsir_weights + dsir_score as a reusable CTE chain
    (ttok…scored) over CTEs ``tgt``/``raws`` (doc_id, text) and ``corpus``
    (doc_id, source, text) — shared by text_dsir_select and the curation
    composition so the two oracles can't drift."""
    return f"""
    ttok AS (SELECT (('0x' || substr(md5(t), 1, 4))::BIGINT) % {_DSIR_BUCKETS}
                      AS bucket
             FROM {tgt}, unnest(string_split(text, ' ')) AS u(t)),
    rtok AS (SELECT (('0x' || substr(md5(t), 1, 4))::BIGINT) % {_DSIR_BUCKETS}
                      AS bucket
             FROM {raws}, unnest(string_split(text, ' ')) AS u(t)),
    tc AS (SELECT bucket, count(*) AS ct FROM ttok GROUP BY bucket),
    rc AS (SELECT bucket, count(*) AS cr FROM rtok GROUP BY bucket),
    tot AS (SELECT (SELECT count(*) FROM ttok) AS tt,
                   (SELECT count(*) FROM rtok) AS rt),
    w AS (
      SELECT b.range AS bucket,
             CAST(ROUND({_DSIR_SCALE} * (
                 ln(COALESCE(tc.ct, 0) + 1) - ln(tot.tt + {_DSIR_BUCKETS})
               - ln(COALESCE(rc.cr, 0) + 1) + ln(tot.rt + {_DSIR_BUCKETS})
             )) AS BIGINT) AS weight
      FROM range({_DSIR_BUCKETS}) b
      LEFT JOIN tc ON tc.bucket = b.range
      LEFT JOIN rc ON rc.bucket = b.range, tot
    ),
    ctok AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             unnest(list_transform(string_split(text, ' '),
               t -> (('0x' || substr(md5(t), 1, 4))::BIGINT) % {_DSIR_BUCKETS}))
               AS bucket
      FROM {corpus}
    ),
    scored AS (
      SELECT c.doc_id, c.source, c.n_tokens,
             CAST(SUM(w.weight) AS BIGINT) AS dsir_score
      FROM ctok c JOIN w USING (bucket)
      GROUP BY c.doc_id, c.source, c.n_tokens
    )"""


# Deterministic Gumbel resample key (doc_id must be in scope):
# score + round(SCALE * -ln(-ln(u))), u = md5-of-string-id uniform —
# id-type-agnostic, identical arithmetic in both engines.
_DSIR_KEY_SQL = f"""dsir_score + CAST(ROUND({_DSIR_SCALE} * -ln(-ln(
             ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               + 0.5) / 4294967296.0)))) AS BIGINT)"""


@_q(  # driver-window since end-r5 (slot freed by f8_price_coercion):
    # the suite's only data-selection / importance-resampling operator
    "text_dsir_select",
    "training-data selection — DSIR importance resampling (Xie et al. 2023): "
    "hashed-unigram log-likelihood-ratio weights fit target-vs-raw (two tiny "
    "aggs → 4096-row broadcast table), integer per-doc importance, "
    "deterministic Gumbel-top-k resample",
    f"""
    WITH tgt AS (SELECT doc_id, text FROM documents WHERE doc_id % 23 = 1),
    raws AS (SELECT doc_id, text FROM documents
             WHERE doc_id % 23 <> 1 AND doc_id % 29 = 2),
    corpus AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 23 <> 1),
    {_dsir_sql_ctes('tgt', 'raws', 'corpus')}
    SELECT doc_id, source, n_tokens, dsir_score,
           {_DSIR_KEY_SQL} AS resample_key
    FROM scored
    ORDER BY resample_key DESC, doc_id ASC
    LIMIT 400
    """,
)
def text_dsir_select(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    target = d.filter(F.col("doc_id") % 23 == 1)
    raw_sample = d.filter((F.col("doc_id") % 23 != 1) & (F.col("doc_id") % 29 == 2))
    corpus = d.filter(F.col("doc_id") % 23 != 1)
    return dsir_select(spark, target, raw_sample, corpus, k=400)


def train_corpus_dsir_outcomes(spark, sf_dir, k: int = 200) -> DataFrame:
    """The full modern curation pipeline — FILTER → DEDUP → SELECT — in one
    verdict frame: the flagship chain's per-doc outcomes (quality window →
    repetition flags → LSH clusters → keep-min), then DSIR importance
    resampling OVER THE KEPT SET ONLY (weights fit target-vs-kept, Gumbel
    top-k), splitting 'kept' into 'selected' / 'kept_not_selected'.

    Selection runs last for the same reason quality runs first in
    curation_outcomes: DSIR's raw distribution should describe the pool
    actually being resampled (post-filter, post-dedup — duplicate clusters
    would otherwise drag the raw model toward their shared vocabulary and
    distort every weight), and the scoring stage then runs on the smallest
    possible frame.  The outcome frame is lineage-truncated at its DAG fork
    (it feeds the raw-sample fit, the scoring pass, and the final rollup)."""
    out = _truncate_lineage(_curation_outcomes(spark, sf_dir))
    target = (
        _augmented(spark, sf_dir)
        .filter(F.col("doc_id") % 23 == 1)
        .select("doc_id", "text")
    )
    kept = out.filter(F.col("outcome") == "kept")
    raw_sample = kept.filter(F.col("doc_id") % 29 == 2).select("doc_id", "text")
    scored = dsir_score(
        kept.select("doc_id", "source", "text"),
        dsir_weights(spark, target, raw_sample),
    )
    topk = (
        scored.orderBy(F.desc("resample_key"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.lit(True).alias("sel"))
    )
    return out.join(topk, "doc_id", "left").select(
        "doc_id",
        "source",
        F.when(F.col("outcome") != "kept", F.col("outcome"))
        .when(F.col("sel").isNotNull(), F.lit("selected"))
        .otherwise(F.lit("kept_not_selected"))
        .alias("outcome"),
    )


@_local_q(
    "train_corpus_dsir",
    "END-TO-END curation + SELECTION: the flagship filter/dedup chain, then "
    "DSIR importance resampling over the kept set (weights fit "
    "target-vs-kept, deterministic Gumbel-top-k) — per-(source, outcome) "
    "counts with kept split into selected / kept_not_selected",
    f"""
    WITH RECURSIVE {_CURATION_CTES},
    tgt AS (SELECT doc_id, text FROM aug WHERE doc_id % 23 = 1),
    kept AS (
      SELECT o.doc_id, o.source, a.text
      FROM outc o JOIN aug a USING (doc_id) WHERE o.outcome = 'kept'
    ),
    raws AS (SELECT doc_id, text FROM kept WHERE doc_id % 29 = 2),
    {_dsir_sql_ctes('tgt', 'raws', 'kept')},
    sel AS (
      SELECT doc_id FROM (
        SELECT doc_id, {_DSIR_KEY_SQL} AS rk FROM scored
      ) ORDER BY rk DESC, doc_id ASC LIMIT 200
    )
    SELECT source, outcome, count(*) AS docs FROM (
      SELECT o.source,
             CASE WHEN o.outcome <> 'kept' THEN o.outcome
                  WHEN s.doc_id IS NOT NULL THEN 'selected'
                  ELSE 'kept_not_selected' END AS outcome
      FROM outc o LEFT JOIN sel s USING (doc_id)
    ) GROUP BY source, outcome
    """,
)
def train_corpus_dsir(spark, sf_dir):
    return (
        train_corpus_dsir_outcomes(spark, sf_dir)
        .groupBy("source", "outcome")
        .agg(F.count("*").alias("docs"))
    )


# --- Product quantization (PQ) + asymmetric distance (ADC) ANN ---------------
#
# The FAISS IVF-PQ compressed-domain slot (Jégou et al. 2011, "Product
# quantization for nearest neighbor search"): split the D-dim embedding into
# M subspaces, vector-quantize each sub-vector against a per-subspace
# codebook (the deterministic kmeans_fit), store only the M small codes, and
# rank candidates with ADC — the query builds one (M × K) table of
# query-slice·codeword dot products and every candidate's approximate inner
# product is M table lookups, no float vector ever touched.  At 10^12 docs
# this is THE memory lever: 64 float32 dims (256 B) become M=8 byte codes,
# and the scoring pass reads codes + one broadcast table.  Here M=4, K=4
# keeps the oracle's unrolled Lloyd CTEs tractable; production uses K=256
# (8-bit codes) with the identical plan shape.

_PQ_M = 4
_PQ_K = 4
_PQ_DIMS = 64


def pq_encode(
    emb: DataFrame, m: int = _PQ_M, k: int = _PQ_K, dims: int = _PQ_DIMS
) -> tuple[DataFrame, list[DataFrame]]:
    """PQ codebooks + codes: per subspace, kmeans_fit on the dim slice →
    (vec_id, code_0..code_{m-1}) plus the M centroid frames the codes were
    assigned against.  Each fit's assignment is the zero-exchange broadcast
    map pass (see kmeans_fit); the M thin (vec_id, code) frames then
    equi-join on vec_id.  At production scale the codebooks are fit on a
    sample offline and the M argmins fuse into one map pass over one scan —
    the M-pass form here keeps the fit itself on-frame and oracle-checkable."""
    d_sub = dims // m
    codes, cents = None, []
    for i in range(m):
        sub = emb.select(
            "vec_id", F.slice("embedding", i * d_sub + 1, d_sub).alias("embedding")
        )
        assigned, c = kmeans_fit(sub, k=k)
        ci = assigned.select("vec_id", F.col("cluster").alias(f"code_{i}"))
        codes = ci if codes is None else codes.join(ci, "vec_id")
        cents.append(c)
    return codes, cents


def pq_encode_fused(
    emb: DataFrame,
    cents: list[DataFrame],
    m: int = _PQ_M,
    dims: int = _PQ_DIMS,
) -> DataFrame:
    """Encode ALL M subspaces in ONE map pass over one corpus scan: the M
    codebooks pack into a single broadcast row (cb_0..cb_{m-1}, each an
    array<struct<cluster, c>>) and one projection emits every code via the
    same row-local array_min argmin as kmeans_fit — code-for-code equal to
    pq_encode's M-pass form (differential test) but with zero vec_id joins
    and one scan instead of M.  This is the production encode shape
    pq_encode's docstring names; pq_encode remains the oracle-shaped
    reference (its per-subspace assignments fall out of the fits
    themselves).  A/B receipts: BENCH/ab_pq_r5.json."""
    return _double_emb(emb).crossJoin(F.broadcast(_pq_codebook_row(cents))).select(
        "vec_id", *[_pq_code(i, dims // m).alias(f"code_{i}") for i in range(m)]
    )


def _pq_codebook_row(cents: list[DataFrame]) -> DataFrame:
    """The M centroid frames packed into ONE row: cb_0..cb_{m-1}, each an
    array<struct<cluster, c>> — the broadcast both the fused encode and the
    ADC ranker read."""
    packed = None
    for i, c in enumerate(cents):
        pi = c.agg(
            F.collect_list(F.struct("cluster", F.col("emb").alias("c"))).alias(
                f"cb_{i}"
            )
        )
        packed = pi if packed is None else packed.crossJoin(pi)
    return packed


def _pq_code(i: int, d_sub: int):
    """Subspace ``i``'s code of the row's ``emb``: the argmin of its dim
    slice over the packed codebook ``cb_i``."""
    return _nearest_cluster(
        F.col(f"cb_{i}"), F.slice(F.col("emb"), i * d_sub + 1, d_sub)
    )


def pq_adc_topk(
    emb: DataFrame,
    n: int = 10,
    m: int = _PQ_M,
    k: int = _PQ_K,
    dims: int = _PQ_DIMS,
    coarse: str | None = None,
) -> DataFrame:
    """ADC top-n for query vec_id=0 over PQ codes: M per-subspace lookup
    maps (cluster → query-slice·codeword, each ≤ k entries) are packed into
    ONE broadcast row; every candidate's approximate inner product is then
    M row-local map lookups over its codes — the corpus side never touches
    a float vector after encoding, and the cut is the 0-exchange
    TakeOrdered path.  Scores are bit-identical across engines: quantized
    centroids (round-6 means), fixed left-fold dot products, fixed t_0+…+
    t_{M-1} addition order."""
    _, cents = pq_encode(emb, m=m, k=k, dims=dims)
    return _pq_adc_rank(emb, cents, n=n, m=m, dims=dims, coarse=coarse)


def _pq_adc_rank(
    emb: DataFrame,
    cents: list[DataFrame],
    n: int = 10,
    m: int = _PQ_M,
    dims: int = _PQ_DIMS,
    coarse: str | None = None,
) -> DataFrame:
    """The shared ADC scoring body (pq_adc_topk and the sampled-fit front
    both rank through this; only where the codebooks come FROM differs).
    """
    d_sub = dims // m
    # Each centroid frame must have exactly ONE consumer: a naive plan
    # feeds cents[i] to both the encode row and the ADC table, and without
    # a lineage cut every Lloyd fit executes twice (verified: 8 init
    # windows for 4 subspaces).  Eager checkpoints were measured WORSE
    # (4 sequential jobs: 7.57 s vs 4.00 s shared-lineage) — the right
    # shape derives the lookup maps INSIDE the same packed broadcast row
    # the encode reads: t_i = map over cb_i of q_i·codeword, so the Lloyd
    # lineage appears once and the corpus pass computes each candidate's
    # code argmin AND its table lookup in one projection.
    q = emb.filter(F.col("vec_id") == 0)
    q_cols = [
        F.transform(
            F.slice("embedding", i * d_sub + 1, d_sub), lambda x: x.cast("double")
        ).alias(f"q_{i}")
        for i in range(m)
    ]
    def t_col(i: int):
        # (a 2-arg lambda would receive transform's array INDEX as its
        # second var — close over i via this helper's scope instead)
        return F.map_from_entries(
            F.transform(
                F.col(f"cb_{i}"),
                lambda ct: F.struct(ct["cluster"], _dot(F.col(f"q_{i}"), ct["c"])),
            )
        ).alias(f"t_{i}")

    packed = (
        _pq_codebook_row(cents)
        .crossJoin(F.broadcast(q.select(*q_cols)))
        .select(*[t_col(i) for i in range(m)], *[F.col(f"cb_{i}") for i in range(m)])
    )
    e = emb.filter(F.col("vec_id") != 0)
    if coarse is not None:
        # IVF-PQ: probe only the query's coarse cell — a row-local filter
        # against the broadcast query cell shrinks the scan-and-score set
        # BEFORE any argmin or lookup.
        qc = F.broadcast(q.select(F.col(coarse).alias("q_coarse")))
        e = e.crossJoin(qc).filter(F.col(coarse) == F.col("q_coarse"))
    e = _double_emb(e)
    score = F.element_at(F.col("t_0"), _pq_code(0, d_sub))
    for i in range(1, m):
        score = score + F.element_at(F.col(f"t_{i}"), _pq_code(i, d_sub))
    return (
        e.crossJoin(F.broadcast(packed))
        .select("vec_id", score.alias("s"))
        .orderBy(F.desc("s"), "vec_id")
        .limit(n)
        .select("vec_id", F.round("s", 6).alias("pq_score"))
    )


def _pq_sql(n: int = 10, coarse: str | None = None) -> str:
    """Oracle twin of pq_adc_topk over the embeddings table: M prefixed
    Lloyd chains on dim slices, per-subspace ADC tables from the final
    centroid CTEs, code joins, fixed-order sum, top-n; ``coarse`` adds the
    IVF probe filter (candidates share the query's coarse cell)."""
    d_sub = _PQ_DIMS // _PQ_M
    parts, joins = [], []
    for i in range(_PQ_M):
        lo, hi = i * d_sub + 1, (i + 1) * d_sub
        parts.append(
            f"sub{i} AS (SELECT vec_id, embedding[{lo}:{hi}] AS embedding "
            f"FROM embeddings)"
        )
        parts.append(
            _kmeans_sql_ctes(k=_PQ_K, dims=d_sub, src=f"sub{i}", prefix=f"s{i}")
        )
        parts.append(
            f"q{i} AS (SELECT list_transform(embedding[{lo}:{hi}], "
            f"x -> x::DOUBLE) AS q FROM embeddings WHERE vec_id = 0)"
        )
        parts.append(
            f"t{i} AS (SELECT c.cluster, list_dot_product(c.emb, q.q) AS t "
            f"FROM s{i}c{_KMEANS_ITERS - 1} c, q{i} q)"
        )
        joins.append(
            f"JOIN s{i}a{_KMEANS_ITERS} x{i} USING (vec_id) "
            f"JOIN t{i} ON t{i}.cluster = x{i}.cluster"
        )
    ctes = ",\n    ".join(parts)
    join_sql = "\n      ".join(joins)
    probe = (
        f"AND {coarse} = (SELECT {coarse} FROM embeddings WHERE vec_id = 0)"
        if coarse
        else ""
    )
    return f"""
    WITH {ctes},
    scored AS (
      SELECT v.vec_id, t0.t + t1.t + t2.t + t3.t AS s
      FROM (SELECT DISTINCT vec_id FROM embeddings
            WHERE vec_id <> 0 {probe}) v
      {join_sql}
    )
    SELECT vec_id, round(s, 6) AS pq_score FROM scored
    ORDER BY s DESC, vec_id LIMIT {n}
    """


@_local_q(
    "sim_pq_topk",
    "similarity search — product quantization + ADC (Jégou et al. 2011, the "
    "FAISS IVF-PQ compressed-domain slot): per-subspace deterministic "
    "codebooks, M-byte codes, query-side lookup table, approximate "
    "inner-product top-k without touching a float vector",
    _pq_sql(),
)
def sim_pq_topk(spark, sf_dir):
    return pq_adc_topk(_emb(spark, sf_dir))


@_local_q(
    "sim_ivfpq_topk",
    "similarity search — IVF-PQ (the full FAISS index shape): probe only "
    "the query's coarse cell, then ADC-rank its members over PQ codes — "
    "coarse pruning cuts the candidate set, compression cuts what scoring "
    "reads; no float vector touched after encoding",
    _pq_sql(coarse="label"),
)
def sim_ivfpq_topk(spark, sf_dir):
    return pq_adc_topk(_emb(spark, sf_dir), coarse="label")


# --- CCNet-style LM perplexity filter ----------------------------------------
#
# Wenzek et al. 2020 (CCNet): score every document with a language model
# trained on a clean reference corpus (their KenLM-on-Wikipedia), bucket by
# perplexity, keep the low-perplexity head.  Deterministic in-sandbox
# stand-in with the real plan shape: the "LM" is an add-one-smoothed BIGRAM
# model over hashed token buckets fit on a reference slice of the corpus —
# per-pair cost -ln P(w_i | w_{i-1}) decomposes as
#   ln(c1[b1] + B) - ln(c2[b1,b2] + 1)
# so the model ships as TWO tables (the learned-table seam again): a dense
# 4096-row unigram table A[b1] = round(1e4·ln(c1+B)) and a sparse bigram
# table C[pk] = round(1e4·ln(c2+1)) keyed by pk = b1·B + b2 (only seen
# bigrams — unseen lookups fall back to 0 = ln(0+1), which is exactly the
# smoothing's miss cost).  Per-doc cost is then an INTEGER sum over the
# doc's adjacent-pair keys via two broadcast hash joins; c2 ≤ c1 keeps
# every pair cost ≥ 0 for reference samples below ~4e7 tokens per bucket
# (beyond that, ln((c1+B)/(c1+1)) shrinks under the 1e-4 quantization grid
# and independent rounding could yield a stray −1 — harmless, but the
# invariant is stated with its bound; property-pinned in
# test_properties.py).  Buckets use FIXED thresholds (CCNet ships
# precomputed per-language cutoffs the same way); production swaps the two
# tables for a real KenLM's and nothing else changes.

# Fixed bucket cutoffs ≈ the corpus terciles at sf0.01 (avg pair cost in
# 1e-4 nats; measured 71.8k-80.5k, terciles 77.3k/77.9k) — CCNet ships
# precomputed per-language cutoffs exactly like this; re-derive offline
# when the reference model changes.
_LM_T_HEAD = 77_300  # avg pair cost below → 'head'
_LM_T_MIDDLE = 77_900  # below → 'middle'; else 'tail'


def _lm_pair_keys():
    """Row-local adjacent-bucket pair keys pk = b1·B + b2 over `text` —
    empty for <2-token docs (the sequence() backwards guard, as _shingles)."""
    return let(
        F.transform(F.split(F.col("text"), " "), _dsir_bucket),
        lambda bs: F.when(
            F.size(bs) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(bs) - 2),
                lambda i: bs[i] * F.lit(_DSIR_BUCKETS) + bs[i + 1],
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )


def _lm_tables(reference: DataFrame, *keys: str) -> tuple[DataFrame, DataFrame]:
    """The hashed-bigram model fit on ``reference`` (…keys, text) as its
    two weight tables: the DENSE unigram table (…keys, bucket, a_w) with
    a_w = round(1e4·ln(c1 + B)) over a (key groups × 4096) spine, and the
    sparse bigram table (…keys, pk, c_w) with c_w = round(1e4·ln(c2 + 1))
    over the seen pairs.  ``keys`` (the group column) is empty for the one
    pooled model; every scorer form reads its tables from here."""
    spine = reference.sparkSession.range(_DSIR_BUCKETS).select(
        F.col("id").alias("bucket")
    )
    if keys:
        spine = reference.select(*keys).distinct().crossJoin(spine)
    c1 = F.coalesce(F.col("c"), F.lit(0))
    a_table = spine.join(
        _dsir_token_counts(reference, *keys), [*keys, "bucket"], "left"
    ).select(
        *keys,
        "bucket",
        F.round(
            F.lit(_DSIR_SCALE) * F.log(c1 + F.lit(_DSIR_BUCKETS).cast("double")), 0
        ).cast("long").alias("a_w"),
    )
    c_table = (
        reference.select(*keys, F.explode(_lm_pair_keys()).alias("pk"))
        .groupBy(*keys, "pk")
        .agg(F.count("*").alias("c2"))
        .select(
            *keys,
            "pk",
            F.round(
                F.lit(_DSIR_SCALE) * F.log(F.col("c2") + F.lit(1).cast("double")), 0
            ).cast("long").alias("c_w"),
        )
    )
    return a_table, c_table


def _lm_verdict() -> list:
    """avg_cost + ppl_bucket from the ``lm_cost``/``n_pairs`` columns — the
    one verdict of the join, grouped and maps forms.  avg_cost is EXACT
    integer floor division: (lm_cost - pmod(lm_cost, n_pairs)) div n_pairs
    (a double quotient rounds once |lm_cost| passes 2^53, and a bare `div`
    truncates toward zero for a negative cost)."""
    avg = F.expr("(lm_cost - pmod(lm_cost, n_pairs)) div n_pairs")
    return [
        avg.alias("avg_cost"),
        F.when(avg < _LM_T_HEAD, "head")
        .when(avg < _LM_T_MIDDLE, "middle")
        .when(avg.isNotNull(), "tail")
        .alias("ppl_bucket"),
    ]


def _lm_score(
    corpus: DataFrame, reference: DataFrame, group_col: str | None = None
) -> DataFrame:
    """The join-form scorer behind lm_perplexity (one pooled model) and
    lm_perplexity_grouped (one model per ``group_col`` value, the group
    riding every weight-table key): explode the corpus pair keys → two
    BROADCAST joins against _lm_tables → one (doc_id, partial-sum)
    exchange → _lm_verdict.  Every corpus doc appears; docs without a
    scored pair (or without their group's model) carry NULLs."""
    grp = [] if group_col is None else [F.col(group_col).alias("grp")]
    keys = [] if group_col is None else ["grp"]
    a_table, c_table = _lm_tables(reference.select(*grp, "text"), *keys)
    pairs = corpus.select(
        "doc_id", *grp, F.explode(_lm_pair_keys()).alias("pk")
    ).select(
        "doc_id",
        *keys,
        "pk",
        F.floor(F.col("pk") / F.lit(_DSIR_BUCKETS)).cast("long").alias("bucket"),
    )
    costs = (
        pairs.join(F.broadcast(a_table), [*keys, "bucket"])
        .join(F.broadcast(c_table), [*keys, "pk"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("a_w") - F.coalesce(F.col("c_w"), F.lit(0))).alias("lm_cost"),
        )
    )
    out = ["doc_id", "source"] + ([] if group_col is None else [F.col(group_col)])
    return (
        corpus.select(*out)
        .join(costs, "doc_id", "left")
        .select(*out, "n_pairs", "lm_cost", *_lm_verdict())
    )


def lm_perplexity(corpus: DataFrame, reference: DataFrame) -> DataFrame:
    """Per-doc LM cost + CCNet bucket: fit the hashed-bigram model on
    ``reference`` (two tiny groupBys → the A/C weight tables), score every
    ``corpus`` doc as an integer pair-cost sum (explode pair keys → two
    BROADCAST joins → one (doc_id, partial-sum) exchange), bucket by fixed
    thresholds.  Every corpus doc appears: <2-token docs carry NULL
    cost/avg and NULL bucket (the repetition_flags explicit-domain rule)."""
    return _lm_score(corpus, reference)


_LM_BUCKET_SQL = f"(('0x' || substr(md5(t), 1, 4))::BIGINT) % {_DSIR_BUCKETS}"

_LM_PAIRS_SQL = f"""
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(bs) - 1),
               i -> bs[i] * {_DSIR_BUCKETS} + bs[i+1])) AS pk
      FROM (SELECT doc_id,
                   list_transform(string_split(text, ' '),
                                  t -> {_LM_BUCKET_SQL}) AS bs
            FROM {{src}})
      WHERE len(bs) >= 2
"""


def _lm_sql_ctes(ref: str, corpus: str) -> str:
    """Oracle twin of lm_perplexity's model fit + scoring as a reusable CTE
    chain (rt…costs) over CTEs ``ref``/``corpus`` (doc_id, text) — shared
    by text_lm_perplexity and the CCNet composition."""
    return f"""
    rt AS (SELECT {_LM_BUCKET_SQL} AS b1
           FROM {ref}, unnest(string_split(text, ' ')) AS u(t)),
    c1 AS (SELECT b1, count(*) AS c FROM rt GROUP BY b1),
    a_t AS (
      SELECT b.range AS b1,
             CAST(ROUND({_DSIR_SCALE} * ln(COALESCE(c1.c, 0)
                                           + {_DSIR_BUCKETS})) AS BIGINT) AS a_w
      FROM range({_DSIR_BUCKETS}) b LEFT JOIN c1 ON c1.b1 = b.range),
    rp AS ({_LM_PAIRS_SQL.format(src=ref)}),
    c_t AS (
      SELECT pk, CAST(ROUND({_DSIR_SCALE} * ln(count(*) + 1)) AS BIGINT) AS c_w
      FROM rp GROUP BY pk),
    cp AS ({_LM_PAIRS_SQL.format(src=corpus)}),
    costs AS (
      SELECT cp.doc_id, count(*) AS n_pairs,
             CAST(SUM(a_t.a_w - COALESCE(c_t.c_w, 0)) AS BIGINT) AS lm_cost
      FROM cp
      JOIN a_t ON a_t.b1 = cp.pk // {_DSIR_BUCKETS}
      LEFT JOIN c_t USING (pk)
      GROUP BY cp.doc_id)"""


# Per-doc bucket CASE over the `costs` CTE columns (alias c):
_LM_BUCKET_CASE = f"""CASE WHEN c.lm_cost // c.n_pairs < {_LM_T_HEAD} THEN 'head'
                WHEN c.lm_cost // c.n_pairs < {_LM_T_MIDDLE} THEN 'middle'
                WHEN c.n_pairs IS NOT NULL THEN 'tail'
           END"""


@_local_q(
    "text_lm_perplexity",
    "training-data quality — CCNet-style LM perplexity filter (Wenzek et "
    "al. 2020): hashed-bigram reference model as two broadcast weight "
    "tables, integer per-doc cost sum, fixed-threshold head/middle/tail "
    "buckets",
    f"""
    WITH ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 31 = 3),
    {_lm_sql_ctes('ref', 'documents')}
    SELECT d.doc_id, d.source, c.n_pairs, c.lm_cost,
           c.lm_cost // c.n_pairs AS avg_cost,
           {_LM_BUCKET_CASE} AS ppl_bucket
    FROM documents d LEFT JOIN costs c USING (doc_id)
    """,
)
def text_lm_perplexity(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return lm_perplexity(d, d.filter(F.col("doc_id") % 31 == 3))


def train_corpus_ccnet_outcomes(spark, sf_dir) -> DataFrame:
    """The literal CCNet pipeline (Wenzek et al. 2020) composed end-to-end,
    in the paper's own order: EXACT DEDUP (paragraph-hash analogue: md5 of
    the text, keep the min-doc_id copy) → LANGUAGE ID (char-trigram argmax)
    → LM PERPLEXITY BUCKETS fit on the DEDUPED survivors (their reference
    slice; fitting on raw text would let boilerplate copies drag the model,
    the same survivor-fit discipline as train_corpus_semantic_filtered).

    Per-doc verdict: 'dropped_duplicate' for non-canonical copies, else the
    doc's head/middle/tail bucket ('unscored' for the <2-token survivors
    lm_perplexity's domain rule leaves NULL — outcomes PARTITION the
    corpus); language prediction rides along so the
    rollup is the per-(pred, outcome) table CCNet publishes per language.
    Plan shape: one md5 groupBy + fingerprint join-back (the dedup_exact
    core), row-local langid, the LM chain's two broadcast joins + one
    exchange — linear, no self-joins; the labeled frame is lineage-truncated
    at its fork (it feeds the reference fit, the scoring pass and the final
    rollup)."""
    d = _augmented(spark, sf_dir).select("doc_id", "source", "text")
    fp = d.withColumn("f", F.md5("text"))
    canon = fp.groupBy("f").agg(F.min("doc_id").alias("canon_id"))
    lab = _truncate_lineage(
        fp.join(canon, "f").select(
            "doc_id",
            "source",
            "text",
            (F.col("doc_id") != F.col("canon_id")).alias("is_dup"),
        )
    )
    surv = lab.filter(~F.col("is_dup")).select("doc_id", "source", "text")
    ppl = lm_perplexity(surv, surv.filter(F.col("doc_id") % 31 == 3)).select(
        "doc_id", "ppl_bucket"
    )
    return (
        lab.join(ppl, "doc_id", "left")
        .select(
            "doc_id",
            langid_pred_col().alias("pred"),
            # <2-token survivors get NULL ppl_bucket (lm_perplexity's
            # explicit domain) — surface them as 'unscored' so outcomes
            # PARTITION the corpus instead of leaking a NULL row
            F.when(F.col("is_dup"), "dropped_duplicate")
            .otherwise(F.coalesce(F.col("ppl_bucket"), F.lit("unscored")))
            .alias("outcome"),
        )
    )


@_q(  # driver-window since end-r5 (slot freed by w2_word_dedup): the
    # CCNet end-to-end composition — dedup, langid and LM-quality families
    # value-checked in one row
    "train_corpus_ccnet",
    "END-TO-END CCNet pipeline (Wenzek et al. 2020), in the paper's order: "
    "exact dedup (md5 keep-min) → char-trigram language ID → LM perplexity "
    "buckets fit on deduped survivors; per-(predicted-lang, outcome) doc "
    "counts — the per-language head/middle/tail table CCNet publishes",
    f"""
    WITH aug AS ({_AUG_SQL}),
    fp AS (SELECT doc_id, source, text, md5(text) AS f FROM aug),
    canon AS (SELECT f, min(doc_id) AS canon_id FROM fp GROUP BY f),
    lab AS (
      SELECT fp.doc_id, fp.source, fp.text, fp.doc_id <> canon.canon_id AS is_dup
      FROM fp JOIN canon USING (f)),
    surv AS (SELECT doc_id, text FROM lab WHERE NOT is_dup),
    ref AS (SELECT doc_id, text FROM surv WHERE doc_id % 31 = 3),
    {_lm_sql_ctes('ref', 'surv')}
    SELECT pred, outcome, count(*) AS docs FROM (
      SELECT l.doc_id,
             {_langid_pred_sql('l.text')} AS pred,
             CASE WHEN l.is_dup THEN 'dropped_duplicate'
                  ELSE COALESCE({_LM_BUCKET_CASE}, 'unscored') END AS outcome
      FROM lab l LEFT JOIN costs c USING (doc_id)
    ) GROUP BY pred, outcome
    """,
)
def train_corpus_ccnet(spark, sf_dir):
    return (
        train_corpus_ccnet_outcomes(spark, sf_dir)
        .groupBy("pred", "outcome")
        .agg(F.count("*").alias("docs"))
    )


@_local_q(
    "text_vocab_topk",
    "tokenizer prep — corpus vocabulary: global token counts (map-side "
    "combined), top-500 by frequency via the 0-exchange TakeOrdered path; "
    "the count table a WordPiece/BPE trainer seeds from",
    """
    SELECT t AS token, count(*) AS cnt
    FROM documents, unnest(string_split(text, ' ')) AS u(t)
    GROUP BY t
    ORDER BY cnt DESC, token ASC LIMIT 500
    """,
)
def text_vocab_topk(spark, sf_dir):
    """Corpus token-frequency table, top-k — the first artifact a tokenizer
    training run (WordPiece/BPE seed vocab, coverage stats) derives from a
    curated corpus.  One token-keyed exchange (partial counts combine
    map-side, so the shuffle carries one row per (token, reducer) not per
    occurrence), then TakeOrdered for the cut; token cardinality — not
    corpus size — bounds the aggregate state, which is what makes this
    linear at 10^12 docs."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(500)
    )


def dsir_select_threshold(
    spark: SparkSession,
    target: DataFrame,
    raw_sample: DataFrame,
    corpus: DataFrame,
    k: int,
    bucket_width: int = 4096,
) -> DataFrame:
    """dsir_select's EXTREME-k form: TakeOrdered merges every partition's
    top-k on the driver — fine at k=400, driver-fatal at k ~ 10^7 (a 1%
    resample of 10^9 docs).  This computes the exact same selection with
    driver state bounded by the KEY RANGE, not k:

      pass 1 — integer histogram of resample_key div bucket_width (one
      tiny groupBy; the driver walks ~range/width cumulative counts to find
      the boundary bucket and the residual quota r inside it);
      pass 2 — keys in buckets strictly above the boundary are selected
      outright (a row-local filter), and only the boundary bucket's
      members — a ~bucket-width-bounded population — go through an ordered
      cut for the last r slots.

    Same total order (resample_key DESC, doc_id ASC), same result set as
    dsir_select (differential test); the scored frame is lineage-truncated
    since both passes read it."""
    scored = _truncate_lineage(
        dsir_score(corpus, dsir_weights(spark, target, raw_sample))
    )
    bucketed = scored.withColumn("kb", F.expr(f"resample_key div {bucket_width}"))
    hist = sorted(
        (
            (r["kb"], r["n"])
            for r in bucketed.groupBy("kb").agg(F.count("*").alias("n")).collect()
        ),
        key=lambda x: -x[0],
    )
    cum = 0
    boundary, residual = None, 0
    for kb, n in hist:
        if cum + n >= k:
            boundary, residual = kb, k - cum
            break
        cum += n
    if boundary is None:  # corpus smaller than k: everything is selected
        return bucketed.drop("kb")
    above = bucketed.filter(F.col("kb") > boundary).drop("kb")
    edge = (
        bucketed.filter(F.col("kb") == boundary)
        .drop("kb")
        .orderBy(F.desc("resample_key"), F.asc("doc_id"))
        .limit(residual)
    )
    return above.unionByName(edge)


def pq_fit_sampled(
    emb: DataFrame,
    m: int = _PQ_M,
    k: int = _PQ_K,
    dims: int = _PQ_DIMS,
    sample_bp: int = 2_500,
) -> list[DataFrame]:
    """PQ codebooks fit on a DETERMINISTIC sample — the production fit
    path: the published method fits on a sample (codebooks describe the
    space, not the corpus), and the receipt prices it honestly —
    BENCH/ab_pq_k256_r5.json (128k vectors, K=256, fit+encode interleaved
    best-of-2, burns 2.71/2.78): full fit 88.8 s vs 25% sampled fit
    63.3 s = 1.4×; the per-vector ENCODE (k·m dot products) dominates at
    K=256 (~55 s of both arms, linear-estimate), so the sampling win is
    the fit's corpus-pass share and grows with corpus:sample ratio — at
    10^12 docs the fit sample is a fixed ~10^6 vectors and the fit cost
    vanishes entirely.  The sample is the Knuth-hash
    bucket filter over vec_id (sample_bp basis points — the
    sample_stratified discipline: no rand(), so task retries and re-runs
    fit IDENTICAL codebooks); encode everything with pq_encode_fused /
    _pq_adc_rank against these frames."""
    sample = emb.filter(_sample_bucket(F.col("vec_id")) < F.lit(sample_bp))
    # pq_encode's fit on the sample; its code joins are lazy and never run
    _, cents = pq_encode(sample, m=m, k=k, dims=dims)
    return cents


def _pq_sampled_sql(n: int = 10, sample_bp: int = 2_500) -> str:
    """Oracle twin of pq_fit_sampled + _pq_adc_rank: the Lloyd chains fit
    on the SAMPLE CTE, a separate full-corpus assignment (enc{i}) encodes
    EVERY vector against each chain's final centroids, then the usual ADC
    tables/join/top-n."""
    d_sub = _PQ_DIMS // _PQ_M
    parts, joins = [], []
    parts.append(
        f"""samp AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE ((vec_id % 2147483648) * {_KNUTH}) % 4294967296 % 10000
            < {sample_bp})"""
    )
    for i in range(_PQ_M):
        lo, hi = i * d_sub + 1, (i + 1) * d_sub
        parts.append(
            f"sub{i} AS (SELECT vec_id, embedding[{lo}:{hi}] AS embedding "
            f"FROM samp)"
        )
        parts.append(
            _kmeans_sql_ctes(k=_PQ_K, dims=d_sub, src=f"sub{i}", prefix=f"s{i}")
        )
        parts.append(
            f"""full{i} AS (
      SELECT vec_id, list_transform(embedding[{lo}:{hi}], x -> x::DOUBLE) AS emb
      FROM embeddings)"""
        )
        parts.append(
            f"""enc{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(c.emb, c.emb)
                          - 2 * list_dot_product(e.emb, c.emb),
                          c.cluster) AS rn
        FROM full{i} e, s{i}c{_KMEANS_ITERS - 1} c) WHERE rn = 1)"""
        )
        parts.append(
            f"q{i} AS (SELECT list_transform(embedding[{lo}:{hi}], "
            f"x -> x::DOUBLE) AS q FROM embeddings WHERE vec_id = 0)"
        )
        parts.append(
            f"t{i} AS (SELECT c.cluster, list_dot_product(c.emb, q.q) AS t "
            f"FROM s{i}c{_KMEANS_ITERS - 1} c, q{i} q)"
        )
        joins.append(
            f"JOIN enc{i} x{i} USING (vec_id) "
            f"JOIN t{i} ON t{i}.cluster = x{i}.cluster"
        )
    ctes = ",\n    ".join(parts)
    join_sql = "\n      ".join(joins)
    return f"""
    WITH {ctes},
    scored AS (
      SELECT v.vec_id, t0.t + t1.t + t2.t + t3.t AS s
      FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id <> 0) v
      {join_sql}
    )
    SELECT vec_id, round(s, 6) AS pq_score FROM scored
    ORDER BY s DESC, vec_id LIMIT {n}
    """


@_local_q(
    "sim_pq_sampled_topk",
    "similarity search — PQ/ADC with codebooks fit on a deterministic "
    "Knuth-hash 25% sample (the production fit path: codebooks describe "
    "the space, not the corpus), every vector encoded and ADC-ranked",
    _pq_sampled_sql(),
)
def sim_pq_sampled_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _pq_adc_rank(emb, pq_fit_sampled(emb))

def dsir_scores_multi(
    spark: SparkSession,
    targets: dict[str, DataFrame],
    raw_sample: DataFrame,
    corpus: DataFrame,
) -> DataFrame:
    """Multi-target DSIR (the paper's multi-distribution variant): one
    weight table PER TARGET DOMAIN, but the domains' weights are joined
    into ONE (bucket, w_<domain>...) broadcast frame so the corpus is
    exploded, joined and aggregated EXACTLY ONCE regardless of how many
    domains score it — per-domain importance comes out as one integer
    column each, plus best_domain (argmax, ties to the first domain in
    dict order).  Downstream per-domain selection reuses dsir_select /
    dsir_select_threshold on the chosen column."""
    names = list(targets)
    merged = None
    for name, target in targets.items():
        w = dsir_weights(spark, target, raw_sample).withColumnRenamed(
            "weight", f"w_{name}"
        )
        merged = w if merged is None else merged.join(w, "bucket")
    agg = _token_weight_sums(
        corpus, merged, _dsir_bucket, {f"score_{n}": f"w_{n}" for n in names}
    )
    best = None
    for n in names:
        cond = F.lit(True)
        for o in names:
            if o != n:
                # strict for earlier domains, >= for later → first wins ties
                op = (
                    F.col(f"score_{n}") >= F.col(f"score_{o}")
                    if names.index(o) > names.index(n)
                    else F.col(f"score_{n}") > F.col(f"score_{o}")
                )
                cond = cond & op
        best = F.when(cond, n) if best is None else best.when(cond, n)
    return agg.withColumn("best_domain", best)


@_local_q(
    "text_dsir_multi",
    "training-data selection — multi-target DSIR: per-domain importance "
    "weight tables merged into ONE broadcast frame, so every domain's "
    "integer score comes out of a single corpus pass; best_domain argmax",
    f"""
    WITH tgta AS (SELECT doc_id, text FROM documents WHERE doc_id % 23 = 1),
    tgtb AS (SELECT doc_id, text FROM documents WHERE doc_id % 23 = 2),
    raws AS (SELECT doc_id, text FROM documents
             WHERE doc_id % 23 NOT IN (1, 2) AND doc_id % 29 = 2),
    corpus AS (SELECT doc_id, source, text FROM documents
               WHERE doc_id % 23 NOT IN (1, 2)),
    rtok AS (SELECT (('0x' || substr(md5(t), 1, 4))::BIGINT) % {_DSIR_BUCKETS}
                      AS bucket
             FROM raws, unnest(string_split(text, ' ')) AS u(t)),
    rc AS (SELECT bucket, count(*) AS cr FROM rtok GROUP BY bucket),
    atok AS (SELECT (('0x' || substr(md5(t), 1, 4))::BIGINT) % {_DSIR_BUCKETS}
                      AS bucket
             FROM tgta, unnest(string_split(text, ' ')) AS u(t)),
    ac AS (SELECT bucket, count(*) AS ct FROM atok GROUP BY bucket),
    btok AS (SELECT (('0x' || substr(md5(t), 1, 4))::BIGINT) % {_DSIR_BUCKETS}
                      AS bucket
             FROM tgtb, unnest(string_split(text, ' ')) AS u(t)),
    bc AS (SELECT bucket, count(*) AS ct FROM btok GROUP BY bucket),
    tot AS (SELECT (SELECT count(*) FROM atok) AS ta,
                   (SELECT count(*) FROM btok) AS tb,
                   (SELECT count(*) FROM rtok) AS rt),
    w AS (
      SELECT b.range AS bucket,
             CAST(ROUND({_DSIR_SCALE} * (
                 ln(COALESCE(ac.ct, 0) + 1) - ln(tot.ta + {_DSIR_BUCKETS})
               - ln(COALESCE(rc.cr, 0) + 1) + ln(tot.rt + {_DSIR_BUCKETS})
             )) AS BIGINT) AS w_a,
             CAST(ROUND({_DSIR_SCALE} * (
                 ln(COALESCE(bc.ct, 0) + 1) - ln(tot.tb + {_DSIR_BUCKETS})
               - ln(COALESCE(rc.cr, 0) + 1) + ln(tot.rt + {_DSIR_BUCKETS})
             )) AS BIGINT) AS w_b
      FROM range({_DSIR_BUCKETS}) b
      LEFT JOIN ac ON ac.bucket = b.range
      LEFT JOIN bc ON bc.bucket = b.range
      LEFT JOIN rc ON rc.bucket = b.range, tot
    ),
    ctok AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             unnest(list_transform(string_split(text, ' '),
               t -> (('0x' || substr(md5(t), 1, 4))::BIGINT) % {_DSIR_BUCKETS}))
               AS bucket
      FROM corpus
    )
    SELECT c.doc_id, c.source, c.n_tokens,
           CAST(SUM(w.w_a) AS BIGINT) AS score_a,
           CAST(SUM(w.w_b) AS BIGINT) AS score_b,
           CASE WHEN CAST(SUM(w.w_a) AS BIGINT) >= CAST(SUM(w.w_b) AS BIGINT)
                THEN 'a' ELSE 'b' END AS best_domain
    FROM ctok c JOIN w USING (bucket)
    GROUP BY c.doc_id, c.source, c.n_tokens
    """,
)
def text_dsir_multi(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    in_t = (F.col("doc_id") % 23 == 1) | (F.col("doc_id") % 23 == 2)
    targets = {
        "a": d.filter(F.col("doc_id") % 23 == 1),
        "b": d.filter(F.col("doc_id") % 23 == 2),
    }
    raw_sample = d.filter(~in_t & (F.col("doc_id") % 29 == 2))
    corpus = d.filter(~in_t)
    return dsir_scores_multi(spark, targets, raw_sample, corpus)

def lm_perplexity_grouped(
    corpus: DataFrame, reference: DataFrame, group_col: str = "pred"
) -> DataFrame:
    """Per-GROUP LM perplexity — the published CCNet discipline: one
    reference model per language, each doc scored against ITS OWN group's
    model (a single pooled model makes the majority language's n-grams
    look 'clean' for every language).  Both frames must carry
    ``group_col``; the fit is the same hashed-bigram decomposition as
    lm_perplexity with the group woven through every key: unigram table on
    a dense (group × 4096) spine, bigram table keyed (group, pk), scoring
    joins on (group, bucket) — still broadcast-sized (|groups| × 4096 and
    the groups' seen bigrams), still one corpus-side exchange.  Buckets
    use the shared cutoffs; production CCNet derives per-language cutoffs
    the same way the shared ones were derived (COVERAGE.md)."""
    return _lm_score(corpus, reference, group_col)


@_local_q(
    "text_lm_perplexity_by_lang",
    "training-data quality — CCNet per-LANGUAGE LM perplexity: one "
    "hashed-bigram reference model per predicted language, every doc "
    "scored against its own language's model (group woven through the "
    "weight-table keys; still broadcast joins + one exchange)",
    f"""
    WITH pd AS (SELECT doc_id, source, text,
                       {_langid_pred_sql('text')} AS pred
                FROM documents),
    refp AS (SELECT * FROM pd WHERE doc_id % 31 = 3),
    rt AS (SELECT pred AS grp, {_LM_BUCKET_SQL} AS b1
           FROM refp, unnest(string_split(text, ' ')) AS u(t)),
    c1 AS (SELECT grp, b1, count(*) AS c FROM rt GROUP BY grp, b1),
    a_t AS (
      SELECT g.grp, b.range AS b1,
             CAST(ROUND({_DSIR_SCALE} * ln(COALESCE(c1.c, 0)
                                           + {_DSIR_BUCKETS})) AS BIGINT) AS a_w
      FROM (SELECT DISTINCT pred AS grp FROM refp) g
      CROSS JOIN range({_DSIR_BUCKETS}) b
      LEFT JOIN c1 ON c1.grp = g.grp AND c1.b1 = b.range),
    rp AS (
      SELECT grp, unnest(list_transform(
               generate_series(1, len(bs) - 1),
               i -> bs[i] * {_DSIR_BUCKETS} + bs[i+1])) AS pk
      FROM (SELECT pred AS grp,
                   list_transform(string_split(text, ' '),
                                  t -> {_LM_BUCKET_SQL}) AS bs
            FROM refp)
      WHERE len(bs) >= 2),
    c_t AS (
      SELECT grp, pk,
             CAST(ROUND({_DSIR_SCALE} * ln(count(*) + 1)) AS BIGINT) AS c_w
      FROM rp GROUP BY grp, pk),
    cp AS (
      SELECT doc_id, grp, pk FROM (
        SELECT doc_id, pred AS grp, unnest(list_transform(
                 generate_series(1, len(bs) - 1),
                 i -> bs[i] * {_DSIR_BUCKETS} + bs[i+1])) AS pk
        FROM (SELECT doc_id, pred,
                     list_transform(string_split(text, ' '),
                                    t -> {_LM_BUCKET_SQL}) AS bs
              FROM pd)
        WHERE len(bs) >= 2)),
    costs AS (
      SELECT cp.doc_id, count(*) AS n_pairs,
             CAST(SUM(a_t.a_w - COALESCE(c_t.c_w, 0)) AS BIGINT) AS lm_cost
      FROM cp
      JOIN a_t ON a_t.grp = cp.grp AND a_t.b1 = cp.pk // {_DSIR_BUCKETS}
      LEFT JOIN c_t ON c_t.grp = cp.grp AND c_t.pk = cp.pk
      GROUP BY cp.doc_id)
    SELECT d.doc_id, d.source, d.pred, c.n_pairs, c.lm_cost,
           c.lm_cost // c.n_pairs AS avg_cost,
           {_LM_BUCKET_CASE} AS ppl_bucket
    FROM pd d LEFT JOIN costs c USING (doc_id)
    """,
)
def text_lm_perplexity_by_lang(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    pd_ = d.withColumn("pred", langid_pred_col())
    return lm_perplexity_grouped(
        pd_, pd_.filter(F.col("doc_id") % 31 == 3), group_col="pred"
    )


def lm_weight_maps(reference: DataFrame) -> DataFrame:
    """The lm_perplexity model packed as ONE row of two maps — a_map
    (bucket → unigram weight, 4096 entries) and c_map (pair key → bigram
    weight, the reference's seen bigrams).  In this form the per-doc cost
    is a row-local array aggregate over the doc's pair keys (element_at
    lookups — the PQ packed-row idiom), so scoring needs NO explode, NO
    join and NO aggregation state: it runs inside a scan, batch or
    STREAMING (where the per-doc sum of the join form would be a stateful
    streaming aggregation)."""
    a_table, c_table = _lm_tables(reference)
    return a_table.agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "a_w"))).alias("a_map")
    ).crossJoin(
        c_table.agg(
            F.map_from_entries(F.collect_list(F.struct("pk", "c_w"))).alias("c_map")
        )
    )


def lm_perplexity_maps(docs: DataFrame, weight_maps: DataFrame) -> DataFrame:
    """lm_perplexity's scoring half over the packed weight-map row —
    row-local (one broadcast crossJoin, zero exchanges on the doc side),
    cost-for-cost equal to the join form (differential test).  This is the
    form the STREAMING ingest front uses (streaming.stream_lm_perplexity):
    the maps come from a batch-side fit and enter the stream as a static
    broadcast."""
    b = F.lit(_DSIR_BUCKETS)
    cost = let(
        _lm_pair_keys(),
        lambda pks: F.when(
            F.size(pks) >= 1,
            F.aggregate(
                pks,
                F.lit(0).cast("long"),
                lambda acc, pk: acc
                + F.element_at(F.col("a_map"), F.floor(pk / b).cast("long"))
                - F.coalesce(F.element_at(F.col("c_map"), pk), F.lit(0).cast("long")),
            ),
        ),
    )
    n_pairs_raw = F.greatest(
        F.size(F.split(F.col("text"), " ")) - F.lit(1), F.lit(0)
    )
    n_pairs = F.when(n_pairs_raw >= 1, n_pairs_raw)
    return (
        docs.crossJoin(F.broadcast(weight_maps))
        .select("doc_id", "source", n_pairs.alias("n_pairs"), cost.alias("lm_cost"))
        .select("doc_id", "source", "n_pairs", "lm_cost", *_lm_verdict())
    )
