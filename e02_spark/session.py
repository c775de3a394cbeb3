"""SparkSession factory.

Defaults chosen for correctness-determinism and scale-readiness:
  - AQE on (runtime re-plan: skew joins, partition coalescing, broadcast
    conversion) — on a real cluster this is the main lever that keeps the
    same code efficient from sf0.001 to 100 TB.
  - spark.sql.session.timeZone=UTC so timestamp collection is deterministic
    and matches the DuckDB oracle (naive UTC).
  - shuffle.partitions defaults to the local core count; on a cluster this
    should be ~2-3x total executor cores (AQE coalesces the excess).
  - Arrow enabled: vectorized toPandas / pandas_udf transfer.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "e02-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    # Shuffle/spill dirs: prefer RAM-backed tmpfs when present. On a real
    # cluster this is the "local NVMe for shuffle" deployment knob
    # (spark.local.dir); on this box the root disk is shared/contended
    # (high iowait at near-idle CPU) and shuffle writes are the only
    # disk-bound step at test scale, so tmpfs removes the noise.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # INT96 (the legacy default) carries NO parquet footer min/max
        # stats, which kills file-level stats pruning on timestamp
        # columns (ops/snapshot.py harvests footers at commit time);
        # MICROS is the modern encoding every reader here handles.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # PySpark's error-context capture walks the Python stack AND makes
        # a JVM round-trip on EVERY DataFrame API call (pyspark/errors/
        # utils.py _capture_call_site). The engine's build-heavy paths
        # (iterative graph loops, lakehouse commit chains) issue thousands
        # of API calls per query — profiled at ~3% of a lifecycle entry's
        # wall. Static conf, so set here; errors lose only the "user code
        # line" annotation, never the error itself.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable knobs to an externally provided session.

    The driver hands us its own SparkSession for entry()/queries(); static
    conf (master, memory) is fixed by then, but these still apply.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # shuffle.partitions is runtime-settable and defaults to 200 on a
    # plain session — sized instead to the local core count (AQE
    # coalesces the excess; on a cluster the driver would own this knob)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    # stats-bearing timestamp encoding (see get_spark) — runtime-settable
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static in some deployments
    return spark


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Scope spark.sql.shuffle.partitions to `n`, restoring the previous
    value on exit (the body raising included); scopes nest.

    Shared by the streaming entries (state-store count per stateful
    operator) and the iterative small-graph pipelines (per-round exchange
    width) — both size the shuffle to the DATA, not the session default.

    A plain save/set/restore: the conf is per session, and concurrent
    composite parts each run on their own cloned session
    (composites._make_query), so no two threads scope one session."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(int(n)))
    try:
        yield
    finally:
        spark.conf.set(key, before)
