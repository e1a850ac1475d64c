"""SparkSession factory with scale-aware defaults.

The reference creates a bare ``local[*]`` session with all Spark defaults
(reference ``spark/SparkStreamingService.java:76-80``) — including 200
shuffle partitions for a ~10-key stream. Here we centralize a tuned
configuration that is correct on ``local[N]`` test runs and remains sane
on a real multi-executor cluster:

* AQE on (runtime partition coalescing, skew-join splitting);
* shuffle partitions sized from available cores (overridable; a cluster
  deployment would raise this to ~2-3x total cores);
* Arrow enabled for the few Pandas-UDF paths (vectorized transfer);
* UTC session timezone so epoch arithmetic matches the DuckDB oracle.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager, nullcontext

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "spark-stream-analyzer",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a shared test host this reuses any active session; config options
    that require a fresh JVM are applied only when creating one.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    n_shuffle = int(shuffle_partitions or max(int(cpus), 8))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # -- memory --------------------------------------------------------
        # Spark's 1g default heap is sized for a driver-only process, but
        # local[N] hosts ALL executor tasks in this one JVM: 32 concurrent
        # tasks x a few hundred MB of shuffle/agg pages blows 1g instantly.
        # ~512m/core keeps execution memory per task in the range a real
        # executor would provide. Only applies when this call creates the
        # JVM (driver memory cannot change on a live session).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(int(cpus) // 2, 4)}g"),
        )
        # -- planner / optimizer ------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- IO ------------------------------------------------------------
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # -- python interop ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- determinism for the oracle ------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # quieter local runs
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: serializes every scoped change to a session-global SQL conf
#: (:func:`conf_scope`).  Re-entrant, so a scope opened inside another
#: on the same thread does not deadlock; the nested restore is LIFO.
_CONF_LOCK = threading.RLock()


@contextmanager
def conf_scope(spark: SparkSession, key: str, value: str):
    """Set one session-global SQL conf for the body, then restore it.

    The session conf is shared: a query that another thread plans or
    starts on the same session while the scope is open sees ``value``.
    The module lock is held for the whole body, so overlapping scopes on
    different threads run one after the other and each restores what it
    found (unlocked, the second would save the first's value as its
    "previous" and leave it behind).
    """
    with _CONF_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            yield
        finally:
            spark.conf.set(key, prev)


#: opt-in AQE toggle for iterative fixpoint LOOP BODIES (r15, verdict
#: r14 task 6).  AQE re-optimizes every materialization action, so each
#: lineage-cut round of the CC / bisection loops fans into 3-6 extra
#: runtime-replanning jobs (measured: CC round 10-11 jobs with AQE, 3-4
#: without; bisect pass 4-5 vs 2).  On a cluster those same rounds WANT
#: AQE (skew-join splitting, runtime coalescing over real data sizes),
#: and the loop tables here are tiny — so the DEFAULT IS UNCHANGED
#: (AQE stays exactly as the session configured it) and the toggle is a
#: deployment knob: a single-node deployment whose loop tables are known
#: small can set SSA_LOOP_AQE=off to trade AQE's runtime replanning for
#: fewer scheduler round-trips.  Results are identical either way (AQE
#: never changes values, only physical shape) — pinned by the oracle
#: rows that run under both settings in tests/test_round15_opt.py.
LOOP_AQE_ENV = "SSA_LOOP_AQE"


def loop_aqe_scope(spark: SparkSession):
    """Context manager applying the SSA_LOOP_AQE policy around a loop body.

    Unset (the default): a lock-free no-op.  ``off``: AQE is disabled
    through :func:`conf_scope` for the body and restored on exit, so
    every other query on the session runs without AQE meanwhile, and
    other conf scopes wait for the loop round to finish.
    """
    if os.environ.get(LOOP_AQE_ENV, "").lower() in ("off", "0", "false"):
        return conf_scope(spark, "spark.sql.adaptive.enabled", "false")
    return nullcontext()


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """IDs of every RDD currently persisted/checkpointed in the context.

    ``localCheckpoint`` persists its RDD and Spark's ContextCleaner only
    frees the blocks when the JVM-side reference is GC'd — which, with
    Py4J holding references, can be never within a long session. Round-3
    benchmarking showed these blocks accumulating across a 125-query run
    (storage-memory residue ≈ across-the-board slowdown), so iterative
    operators and the bench harness scope their checkpoints explicitly
    via this + :func:`unpersist_rdds`.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def unpersist_rdds(
    spark: SparkSession, ids: set[int] | None = None, blocking: bool = False
) -> int:
    """Unpersist the given RDD ids (or every persistent RDD if ``None``).

    Returns the number of RDDs unpersisted. Safe to call on ids that have
    already been freed. The full sweep (``ids=None``) also clears the SQL
    CacheManager so ``materialize``'s persisted DataFrames don't leave
    stale InMemoryRelation entries that later identical plan fragments
    would silently re-cache against.
    """
    if ids is None:
        # clear the SQL cache FIRST: it unpersists its own relations, so
        # the RDD-level loop below only sees what remains (checkpoint
        # residue) — the other order double-frees and spams
        # "Asked to remove block" warnings
        spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for k in list(jmap.keySet().toArray()):
        if ids is None or int(k) in ids:
            jmap.get(k).unpersist(blocking)
            n += 1
    return n
