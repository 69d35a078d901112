"""SparkSession factory with the engine's standard configuration.

Every entry point (library callers, tools, the flagship job) builds its
session here.  Knobs chosen for correctness-vs-oracle and 100TB-scale
hygiene:
  * Arrow exchange on (every Python stage is Arrow-batched, never per-row).
  * AQE on (runtime coalescing + skew-join splitting).
  * UTC session timezone (parity with DuckDB oracle timestamps).
  * shuffle partitions = the session's defaultParallelism (one per core
    in local mode), never Spark's fixed 200: AQE cannot coalesce the
    output of a persisted plan, so every scan of a plan-keyed persist
    runs as many tasks as the shuffle that built it.

Under ``spark-submit`` the launcher's ``--master`` and ``--conf`` values
win over these defaults; see get_spark.
"""

from __future__ import annotations

import os
import threading

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def get_spark(
    app_name: str = "harvesttext_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Each setting comes from the first of: an explicit argument
    (``master``, ``shuffle_partitions``, ``extra_conf``); the value a
    launcher set (``spark-submit --master/--conf``, which starts the JVM
    before this runs and hands over its port in PYSPARK_GATEWAY_PORT);
    the engine default.  The default master is ``local[$SPARK_GRAFT_CPUS]``;
    the default shuffle partition count is the session's
    ``defaultParallelism``.  On a cluster, executors may not
    have registered when the session starts, so pass
    ``--conf spark.sql.shuffle.partitions=N`` there.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        # a no-op under a launcher (the JVM is already up); plain-python
        # runs need more than the 1g default for the LM stage and for
        # CacheManager's plan normalization over chained persists
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
    }
    launched: set[str] = set()
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # connect to the launcher's JVM to read its settings; in plain
        # python this would start the JVM before spark.driver.memory
        # reached it, hence the guard
        SparkContext._ensure_initialized()
        launched = {k for k, _ in SparkConf().getAll()}
    conf = {k: v for k, v in conf.items() if k not in launched}
    if master is not None:
        conf["spark.master"] = master
    if shuffle_partitions is not None:
        conf[SHUFFLE_PARTITIONS] = str(shuffle_partitions)
    conf.update(extra_conf or {})

    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if SHUFFLE_PARTITIONS not in conf and SHUFFLE_PARTITIONS not in launched:
        spark.conf.set(SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism))
    return spark


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_scaled(spark: SparkSession, path: str, key: str | None = None):
    """Parquet scan that guarantees at least default-parallelism partitions.

    The driver's test parquet files are single row groups, so a plain scan
    yields ONE partition and serializes every CPU-bound expression/UDF.  On
    a real 100TB table (thousands of row groups) the condition is false and
    this is a zero-cost no-op — the repartition only fires for degenerate
    small scans.

    ``key``: hash-partition on this column instead of round-robin.  Two
    wins, both measured (guide §2.4/§2.5): (a) a keyless repartition(n)
    first LOCAL-SORTS its input rows so retried tasks reproduce the same
    assignment (SPARK-23207) — hashing a deterministic unique id needs no
    sort; (b) HashPartitioning(key) satisfies ClusteredDistribution for
    every downstream groupBy/window whose keys include ``key`` (explode
    and aliasing Projects preserve it), so per-doc aggregations run in
    place with ZERO further exchange.  Unique ids spread uniformly, so
    balance matches round-robin."""
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        from pyspark.sql import functions as F

        df = (
            df.repartition(target, F.col(key))
            if key is not None
            else df.repartition(target)
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Read the driver's parquet tables and register temp views.

    Returns dict name -> DataFrame. Columns are pruned/pushed down by
    Catalyst at use-sites; this only declares scans.
    """
    out = {}
    for name in names or TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


# --- plan-keyed LRU-1 persist ----------------------------------------------

_persist_slots: dict = {}
_persist_lock = threading.Lock()


def plan_keyed_persist(df, slot: str):
    """Persist ``df`` under a named slot with LRU-1 eviction keyed by PLAN
    identity: a repeated call with the same analyzed plan reuses the
    already-materialized cache (no double-persist, stays warm); a call
    with a different plan unpersists the previous occupant first.  One
    cached table per slot bounds executor memory in long-lived sessions;
    unpersisting a frame a caller still holds only costs recompute, never
    correctness.  Used by the minhash signature table, the LM count
    tables, the langid weight table, and the word-discovery candidate
    stream.

    The sameResult probe and the unpersist are guarded SEPARATELY: a
    Py4J failure in the probe must not skip the eviction — otherwise the
    slot is overwritten while the old table stays persisted and the
    LRU-1 memory bound silently degrades.  A lock serializes concurrent
    callers (threaded jobs share the module-level slot dict)."""
    with _persist_lock:
        prev = _persist_slots.get(slot)
        if prev is not None:
            try:
                same = prev._jdf.queryExecution().analyzed().sameResult(
                    df._jdf.queryExecution().analyzed()
                )
            except Exception:
                same = False
            if same:
                return prev
            try:
                prev.unpersist()
            except Exception:
                pass
        df = df.persist()
        _persist_slots[slot] = df
        return df


def clear_persist_slots() -> int:
    """Evict every plan-keyed persist slot (best-effort unpersist).
    Used by tools/check_contract.py --determinism so the second run is a
    true plan re-execution instead of a read from the first run's cache,
    and available to tests that need a cold engine.  Returns the number
    of slots evicted."""
    with _persist_lock:
        n = len(_persist_slots)
        for df in _persist_slots.values():
            try:
                df.unpersist()
            except Exception:
                pass
        _persist_slots.clear()
        return n
