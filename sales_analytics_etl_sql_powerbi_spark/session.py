"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster reading 100 TB:

- AQE on (coalesce post-shuffle partitions, skew-join splitting) — the
  state/platform unit shares in the reference are genuinely skewed
  (FL ~10%, Amazon ~56%; reference README.md:152-158), so skew handling
  is semantic, not hypothetical.
- ``spark.sql.session.timeZone=UTC`` — oracle (DuckDB) timestamps are
  UTC-naive; pinning the session TZ makes window/date results
  engine-independent.
- shuffle partitions default to cores locally; at cluster scale this is
  overridden by AQE's coalescing from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.

Library code that needs a different setting never writes the caller's
session: :func:`scoped` hands it a session with the setting, and
:func:`adopt` moves frames between the two.
"""

from __future__ import annotations

import os
import threading
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "sales-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession — the one builder every
    entry point (bench, scripts, tests) goes through; callers add their
    own settings through ``extra_conf``."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # -- determinism / oracle parity --
        .config("spark.sql.session.timeZone", "UTC")
        # -- adaptive execution: post-shuffle coalesce + skew-join --
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- shuffle sizing --
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- scan sizing: 128MB splits keep 100TB scans at ~800k tasks --
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # -- broadcast: dims in the star schema are tiny; let Catalyst
        #    broadcast them (explicit broadcast() hints are still used at
        #    join sites for clarity) --
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- Arrow for the few pandas interchange points (Excel shim,
        #    pandas_udf variants) --
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- Arrow batch rows cap the per-batch memory of every
        #    pandas_udf/mapInPandas worker; a memory-tight caller
        #    lowers it through ``extra_conf`` --
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- a crashed Python worker dumps a traceback instead of the
        #    bare "exited unexpectedly" (cost: one extra signal handler)
        .config("spark.python.worker.faulthandler.enabled", "true")
        # -- the driver's events.parquet carries INT64 TIMESTAMP(NANOS)
        #    which Spark's parquet reader rejects by default; read as
        #    long and convert (readers.read_events) --
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # reliable checkpoint dir (used by keys.with_dense_id to pin range
    # partitioning): on a cluster point this at durable storage so the
    # numbering materialization survives executor loss; unset, the code
    # falls back to localCheckpoint (fails loudly instead of silently
    # recomputing).
    ckpt = os.environ.get("SPARK_CHECKPOINT_DIR")
    if ckpt and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark


#: caller session → {override set → its child session}; weak keys, so a
#: caller that is dropped takes its children with it
_CHILDREN: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CHILDREN_LOCK = threading.Lock()


def scoped(spark: SparkSession, overrides: dict[str, str]) -> SparkSession:
    """A session running under ``spark``'s confs plus ``overrides`` —
    the one way library code scopes a conf; it never writes the
    caller's session.

    Returns ``spark`` itself when every override already holds on it.
    Otherwise returns a child from ``spark.newSession()``: its own
    SQLConf over the caller's SparkContext, cache and global temp
    views. One child is kept per (caller, override set), so frames a
    library memoizes stay in the session that built them. On every call
    the child gets the caller's current modifiable runtime confs again
    (a new session sees only the builder's confs), then the overrides.
    """
    if all(spark.conf.get(k, None) == v for k, v in overrides.items()):
        return spark
    with _CHILDREN_LOCK:
        children = _CHILDREN.setdefault(spark, {})
        key = frozenset(overrides.items())
        child = children.get(key)
        if child is None:
            child = children[key] = spark.newSession()
        want = {
            k: v for k, v in spark.conf.getAll.items() if spark.conf.isModifiable(k)
        }
        want.update(overrides)
        have = child.conf.getAll
        for k in have.keys() - want.keys():
            if child.conf.isModifiable(k):
                child.conf.unset(k)
        for k, v in want.items():
            if have.get(k) != v:
                child.conf.set(k, v)
    return child


def adopt(session: SparkSession, df: DataFrame) -> DataFrame:
    """``df`` as a frame of ``session``: same analyzed plan (conf-bound
    parts such as a cast's zone or a parquet relation's reader settings
    keep the values they were built under), planned and run under
    ``session``'s confs, and still served from any cache ``df``'s plan
    is in. Goes through a global temp view, dropped before returning;
    no job runs."""
    if df.sparkSession is session:
        return df
    name = "adopt_" + uuid.uuid4().hex
    df.createOrReplaceGlobalTempView(name)
    try:
        db = session.conf.get("spark.sql.globalTempDatabase")
        return session.table(f"{db}.{name}")
    finally:
        # the session catalog's drop, not ``session.catalog``'s: that
        # one also uncaches the view's plan — ``df``'s own cache entry
        session._jsparkSession.sessionState().catalog().dropGlobalTempView(name)


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's own size estimate for a plan — the SAME statistic
    Spark's planner compares to ``autoBroadcastJoinThreshold`` when it
    decides whether a join side broadcasts, so a regime decision based
    on it agrees with the planner's by construction."""
    return int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )


def broadcast_threshold_bytes(df: DataFrame) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` of ``df``'s session in
    bytes (−1 = broadcasting disabled). Size-string forms ('10MB') are
    parsed with Spark's own JavaUtils so the semantics can't drift."""
    spark = df.sparkSession
    v = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try:
        return int(v)
    except ValueError:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(v)
        )
