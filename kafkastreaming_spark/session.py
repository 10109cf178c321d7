"""SparkSession construction and the engine's session confs.

There is one path.  :func:`prepare` is the only code that writes the
engine's runtime SQL confs, and it writes them once per session: the
first call marks the session, and every later call (``io.load_table``
makes one per table load) returns at once.  It runs the same way on a
session :func:`get_session` built and on one the caller owns (the
driver hands us its own ``SparkSession``).  Verified:
``spark.sql.legacy.parquet.nanosAsLong`` and
``spark.sql.session.timeZone`` are runtime-settable SQL confs in Spark
4.1.2 (SURVEY.md §7.5).

A deployment that wants a different runtime conf, such as 256 MB input
splits at 100 TB, calls ``prepare(spark)`` and then sets that conf with
``spark.conf.set``; the engine never writes it again on that session.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied by prepare().  shuffle.partitions is
# added per session from the session's own cores.
_RUNTIME_CONFS: dict[str, str] = {
    # Determinism: all testdata timestamps are tz-naive; pin UTC so Spark
    # and the DuckDB oracle agree to the microsecond (SURVEY.md §5.4).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS); Spark 4.1.2 refuses it unless
    # read as raw int64 nanos (SURVEY.md §7.5). io.load_table converts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Exact ASCII semantics for upper/lower etc. independent of JVM locale.
    "spark.sql.ansi.enabled": "false",
    # Performance subset — every one of these is a runtime-settable SQL
    # conf, so an externally-owned session (the driver's) gets the same
    # physical plans as get_session().  AQE coalesces small shuffle
    # partitions, splits skewed ones and demotes/promotes join strategies
    # with runtime stats (SURVEY.md §4); it is the main lever that carries
    # a plan from local[32] to 1000 executors, and a pure performance layer:
    # the verify_local aqe_off axis runs every key with it off.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas — the only acceptable
    # Python boundary in the hot path (SURVEY.md §3.2c).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Split size sized to the LOCAL bench layout: the sf0.1 tables are
    # single ≤11 MB files, which the 128 MB default packs into ~3 input
    # splits — 32 cores sit idle through every scan.  2 MB splits give
    # the scans real parallelism here (measured: join_smj 0.91→0.58 s).
    # A cluster deployment against 100 TB sets it back to 128–512 MB after
    # prepare() (SCALE.md "Layout and scan path").
    "spark.sql.files.maxPartitionBytes": "2m",
    # Write codec: zstd strictly dominated the snappy default in the r15
    # codec A/B (SCALE_PROBE_r15 codec_ab_hundredfold — 24% smaller AND
    # 27% faster scans over identical 60M rows; at object-store
    # bandwidth the gap widens).  Values are codec-independent, so every
    # hash oracle is unaffected; DuckDB reads zstd parquet natively.
    "spark.sql.parquet.compression.codec": "zstd",
}

# Session-local marker: a spark.conf value lives in the JVM session, so it
# holds for every Python handle on that session, is copied into the
# session clones streaming queries run on, and is absent from a
# spark.newSession() child, which then gets prepared on its own.
_PREPARED = "spark.kafkastreaming.prepared"
_PREPARE_LOCK = threading.Lock()


def prepare(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to ``spark`` once.

    ``spark.sql.shuffle.partitions`` is the session's
    ``sparkContext.defaultParallelism`` (a vanilla session's 200 shuffle
    partitions schedule 6x the tasks per tiny local shuffle; AQE
    coalescing hides most but not all of it).  A caller's later
    ``spark.conf.set`` of any of these confs stays in effect: no engine
    code writes them again on this session.

    Note one deliberate bytes-on-disk side effect: this sets
    ``spark.sql.parquet.compression.codec=zstd`` session-wide, so any
    parquet the *host* session writes after ``prepare()`` — not just this
    engine's sink operators — comes out zstd-compressed instead of the
    snappy default.  Values are codec-independent and every mainstream
    reader (Spark 3.2+, DuckDB, pyarrow, Trino, Hive 4) decodes zstd
    natively; a caller that must keep snappy for a legacy reader can
    re-set the conf after ``prepare()`` without affecting this engine's
    correctness (the r15 codec A/B showed zstd only changes size/speed).
    """
    with _PREPARE_LOCK:
        if spark.conf.get(_PREPARED, None) != "true":
            for k, v in _RUNTIME_CONFS.items():
                spark.conf.set(k, v)
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(cores))
            spark.conf.set(_PREPARED, "true")
    return spark


def get_session(
    app_name: str = "kafkastreaming_spark",
    master: str | None = None,
) -> SparkSession:
    """Build a session for this engine and :func:`prepare` it.

    The builder sets only what must be fixed before the JVM starts: the
    master (default ``local[$SPARK_GRAFT_CPUS]``, 32 when unset), the
    driver heap and thread stack, and the UI switch.  Every runtime SQL
    conf comes from :func:`prepare`; on a real cluster the caller passes
    its own master/deploy config and gets the same runtime confs.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Driver JVM thread stack, applied only when the first session of the
    # process is built here.  Needed by the 100x streaming-state probe:
    # at 10M-event replays the stream execution thread dies with a
    # StackOverflowError inside java.util.regex (a backtracking pattern
    # over a per-batch string that grows with scale); 32m absorbs it
    # (tools/scale_probe.py run_streaming_state).  Unset by default.
    xss = os.environ.get("SPARK_GRAFT_DRIVER_XSS")
    if xss:
        builder = builder.config("spark.driver.extraJavaOptions", f"-Xss{xss}")
    return prepare(builder.getOrCreate())
