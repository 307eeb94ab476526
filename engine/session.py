"""SparkSession factory and the per-session expression cache.

Local-mode settings chosen so the same code is cluster-ready: AQE on (skew join +
partition coalesce), Arrow enabled for pandas UDFs, shuffle partitions ≈ cores
(never the 200 default), UTC session timezone so DuckDB-oracle comparisons are
stable.

Generated classes are cached JVM-wide in an LRU keyed by their source
(``spark.sql.codegen.cache.maxEntries``, a static conf; Spark's default is
100).  The cap is sized to the engine's working set with headroom
(perfbench, 4 cores): the receipt path compiles 74 classes on a cold run
and none on a warm one; the curation capstone compiles ~153 cold, and at
the default cap its working set thrashed the LRU, recompiling 142-144
byte-identical classes on every warm iteration (the interleaved curation
query at sf0.001: 108 cold, 52-60 per warm run).  At 1000 a warm run
compiles 0-4, the few classes AQE renumbers when concurrent stages finish
in another order.  ``extra_conf`` can still override the cap.

:func:`per_session` builds an expression tree once per live SparkContext.
Every PySpark ``F.*`` call is a Py4J round trip (~0.2-0.3 ms), and the
receipt path's frames are built from ~10^4 of them, so rebuilding the same
trees on every query costs more driver time than planning them.  The
curation path's Column factories (the quality, repetition and pre-verdict
columns, the media feature signature and the MinHash band-signature tree)
are cached the same way: a repeated ``curation_labeled`` +
``curation_edges`` build makes 386 calls instead of 2,252.  The rules for a
factory wrapped by it:

- it returns a Column, a list of Columns or a tuple of them (lists come back
  as tuples, so a caller can never mutate the cached value);
- it takes only hashable plain values (column names, literals, a run id) as
  positional arguments — never a DataFrame or a Column, whose identity would
  key the cache and pin JVM objects.  Every distinct argument tuple stays
  cached for the session's life, so a value that changes per run (a fresh
  run id) is better added by the caller, outside the factory;
- it builds no seeded or nondeterministic expression (``rand``, ``randn``,
  ``uuid``, ``shuffle``, ``spark_partition_id``): a seeded expression fixes
  its seed when the Column is built, so a cached one would repeat the same
  "random" values on every query.  Callers add those next to the cached
  columns.
"""

from __future__ import annotations

import functools
import os
import threading
import weakref
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")

# SparkContext → {(factory, args): expression}.  Weak keys: a stopped
# session's context is dropped with its JVM references, and a new session
# (a new SparkContext object) starts from an empty cache.
_EXPRESSIONS: "weakref.WeakKeyDictionary[SparkContext, dict]" = weakref.WeakKeyDictionary()
_EXPRESSIONS_LOCK = threading.Lock()


def per_session(factory: Callable[..., T]) -> Callable[..., T]:
    """Cache ``factory(*args)`` per live SparkContext (rules in the module
    docstring).  Concurrent first builds may both run the factory; the first
    stored value wins, and both trees are identical anyway."""

    @functools.wraps(factory)
    def cached(*args):
        sc = SparkContext._active_spark_context
        if sc is None:
            return factory(*args)
        key = (factory, args)
        with _EXPRESSIONS_LOCK:
            memo = _EXPRESSIONS.setdefault(sc, {})
            if key in memo:
                return memo[key]
        value = factory(*args)
        if isinstance(value, list):
            value = tuple(value)
        with _EXPRESSIONS_LOCK:
            return memo.setdefault(key, value)

    return cached


def get_spark(
    app_name: str = "extraction-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` → ``local[*]``.  On a real cluster the master comes from
    spark-submit and these configs are still the right defaults.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    # SPARK_GRAFT_MASTER overrides local mode with a real cluster master URL
    # (bench/cluster.py's standalone cluster; a deployment's spark-submit).
    # ``cores`` then means TOTAL cluster cores and still sizes the shuffle
    # partitioning below.
    master = os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{cores}]" if cores and cores > 0 else "local[*]"
    )
    if shuffle_partitions is None:
        # 2× the core count, not 1×: with reducers == cores one slow/skewed
        # reduce partition stalls the whole tail (measured: the 120k-doc
        # extraction at pinned 8 cores ran 75 s with 8 shuffle partitions vs
        # 22.6 s with 16; ~7% at 2 cores; a wash at 32).  AQE coalesces the
        # extra partitions away whenever stages are small, so the slack is
        # free.
        shuffle_partitions = 2 * (cores if cores and cores > 0 else (os.cpu_count() or 8))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Media payloads are decoded on the SCAN partitions (no payload
        # shuffle); smaller splits keep the Arrow-UDF stage parallel even for
        # modest inputs.  At cluster scale this is the per-executor knob too.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # Generated-class cache (static, JVM-wide LRU; default 100), sized
        # to the engine's working set with headroom (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if os.environ.get("SPARK_GRAFT_PIN_HEAP") == "1":
        # Pin the heap (-Xms == -Xmx) and pre-touch it: without this, G1
        # repeatedly uncommits idle regions and re-commits them at the next
        # query, and the kernel-side page churn showed up as 300+ s of JVM
        # *system* time on identical re-runs (measured: dedup_minhash_lsh at
        # sf0.1/32c swung 3.2-21.8 s; pinned heap bounds it at 3.9-6.6 s with
        # jvm_sys 5-13 s).  OPT-IN (bench scripts set it): committing +
        # page-touching the full heap at JVM start fails or thrashes on hosts
        # with less free RAM than the configured heap, which is the wrong
        # default for dev/test sessions.  On a cluster the same flags belong
        # in spark.executor.extraJavaOptions (-Xmx itself must stay under
        # spark.{driver,executor}.memory control).
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '8g')} -XX:+AlwaysPreTouch",
        )
    if os.environ.get("SPARK_GRAFT_ICEBERG") == "1":
        # Opt-in Iceberg catalog wiring (ICEBERG.md) — requires the
        # iceberg-spark-runtime jar on the classpath; the sandbox has none,
        # so this path is exercised only on a real deployment.
        builder = (
            builder.config(
                "spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog"
            )
            .config(
                "spark.sql.catalog.lake.type",
                os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "hadoop"),
            )
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.sources.v2.bucketing.enabled", "true")
        )
        warehouse = os.environ.get("SPARK_GRAFT_ICEBERG_WAREHOUSE")
        if warehouse:
            builder = builder.config("spark.sql.catalog.lake.warehouse", warehouse)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
