"""SparkSession construction with scale-ready defaults.

The reference runs single-threaded against one MySQL cursor
(/root/reference/main.go:87-110); our engine's unit of parallelism is the
Spark cluster. Defaults here are chosen so the SAME code runs on
local[32] for tests and on a 1000-executor cluster unchanged:

- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split,
  dynamic broadcast conversion).
- shuffle.partitions sized for the local test box; on a real cluster AQE's
  coalescing makes the initial number mostly a ceiling.
- Arrow enabled for the Pandas-UDF paths (vectorized Python boundary).
- zstd as the session's parquet codec: every writer that names no
  codec of its own follows it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def _running_session() -> SparkSession | None:
    """The session already running in this process, or None.

    ``getActiveSession()`` alone is thread-local: a host that built its
    session on another thread has none active on this one, yet
    ``getOrCreate`` would still return its process-global default."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is None:
        return None
    return SparkSession.getActiveSession() or SparkSession._instantiatedSession


def get_spark(
    app_name: str = "mysql2parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with engine defaults, or return the one
    already running in this process UNCHANGED.

    A running session belongs to whoever built it (a host application,
    the test suite): ``getOrCreate`` would re-apply every modifiable
    builder conf below to it, e.g. resetting its shuffle partitions.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it None and let spark-submit supply it.
    """
    running = _running_session()
    if running is not None:
        return running
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime adaptivity: coalesce small shuffle partitions, split skewed
        # ones, convert sort-merge joins to broadcast when a side turns out
        # small. This is the main 100-TB insurance policy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow-batched transfer for pandas_udf / mapInPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep timestamp semantics deterministic across JVMs/zones.
        .config("spark.sql.session.timeZone", "UTC")
        # Partition-size ceiling for file scans; at 100 TB this bounds task
        # input so a scan yields ~800k tasks of ~128MB rather than OOMing.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Parquet TIMESTAMP(NANOS) columns (events.ts) read as long; the
        # io layer converts them to microsecond timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The one parquet codec for every sink (io writers, CLI sidecars,
        # persisted artifacts, streaming sinks): zstd writes 27 % fewer
        # bytes than snappy on the benchmark's export tables and 20 % fewer
        # on sf0.1 lineitem, at a write time within run-to-run noise of
        # snappy's on a 4-core host (plans/r15/export_profile.md). The
        # reference's parquet-go default is snappy; exports no longer
        # match its codec.
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
