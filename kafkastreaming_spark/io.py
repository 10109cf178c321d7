"""Table loaders over the driver-generated parquet fixtures.

All queries load inputs through :func:`load_table` so that:

* the events timestamp shim is applied exactly once, at load
  (SURVEY.md §7.5): whatever physical encoding the fixture uses (int64
  nanos, TIMESTAMP_NTZ micros, or plain TIMESTAMP), downstream operators
  always see a session-UTC TIMESTAMP ``ts`` column.
* column pruning / predicate pushdown stay available — we return the raw
  ``spark.read.parquet`` DataFrame untouched for every other table, so
  Catalyst pushes filters and projections into the scan.

At 100 TB the same function signature holds; only the path changes to a
partitioned directory layout (e.g. ``events/date=.../``), which activates
partition pruning on top of row-group pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkastreaming_spark.session import prepare

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# DuckDB oracle-side CTE for the events view: normalize TIMESTAMP_NS to
# microseconds so both engines see identical timestamps (SURVEY.md §5.4).
EVENTS_ORACLE_CTE = (
    # `main.events` avoids DuckDB 1.0.0's circular-CTE error when the CTE
    # shadows the pre-registered view of the same name.
    "events AS (SELECT event_id, "
    "CAST(date_trunc('microsecond', ts) AS TIMESTAMP) AS ts, "
    "user_id, event_type, value, props FROM main.events)"
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; events gets a schema-adaptive ts shim.

    The fixture generator has shipped ``events.ts`` as both TIMESTAMP(NANOS)
    (read as int64 via nanosAsLong) and plain TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ) across rounds, so we
    dispatch on the actual scan schema instead of assuming one encoding.
    Either way downstream operators see a session-UTC TIMESTAMP column.
    The call to :func:`prepare` gives a caller-owned session the engine's
    confs; after the first call on a session it changes nothing.
    """
    prepare(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # int64 nanoseconds: integer `div` keeps exact microseconds;
            # timestamp_micros is UTC-pinned.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, T.TimestampNTZType):
            # tz-naive micros: session tz is pinned UTC, so this cast is a
            # pure type relabel (no wall-clock shift).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


# ---------------------------------------------------------------------------
# Input-skew repair (optimization guide §2.5): parquet cannot be split below
# row-group granularity, so a table written as one file with one row group is
# an UNSPLITTABLE input — Spark plans maxPartitionBytes-sized splits, but only
# the split containing the row-group midpoint carries rows; every byte of
# scan + all whole-stage compute fused above it runs in ONE task.  The r16
# profile showed exactly that for every sf fixture (one row group each), which
# serializes the expensive per-row work (decimal casts, explode+md5 lattices,
# XML parsing, edit distance) of the whole suite onto one core.
#
# ``spread`` is the guide's remedy ("repartition immediately after the read"),
# gated on the MEASURED layout so it is scale-adaptive, not a local[32] tune:
# it counts real row groups via the parquet footers (driver-side, cached, the
# same metadata Spark itself reads to plan the scan) and no-ops whenever the
# layout already yields at least ``cores // 4`` row-carrying tasks — at 100 TB
# any healthy table has thousands of row groups and the helper never fires.
# Non-local / non-parquet inputs are treated as healthy (no footer to read —
# assume the layout parallelizes rather than pay a blind shuffle).
# ---------------------------------------------------------------------------

_ROW_GROUP_CACHE: dict[str, int] = {}


def _parquet_row_groups(uri: str) -> int | None:
    """Row-group count of one local parquet file; None if unreadable."""
    if uri in _ROW_GROUP_CACHE:
        return _ROW_GROUP_CACHE[uri]
    path = uri[7:] if uri.startswith("file://") else uri
    if not os.path.isfile(path):
        return None
    try:
        import pyarrow.parquet as pq

        n = pq.ParquetFile(path).metadata.num_row_groups
    except Exception:  # noqa: BLE001 — unreadable footer: treat as unknown
        return None
    _ROW_GROUP_CACHE[uri] = n
    return n


def scan_width(df: DataFrame) -> int | None:
    """Number of tasks that will actually carry rows out of ``df``'s file
    scan = total parquet row groups across its input files.  ``None`` means
    "cannot tell cheaply" (no file scan, >256 files, remote storage)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — no file source below this plan
        return None
    if not files or len(files) > 256:
        return None  # many files = layout already parallelizes (or unknowable)
    total = 0
    for f in files:
        n = _parquet_row_groups(f)
        if n is None:
            return None
        total += n
    return total


def spread(
    df: DataFrame,
    key: Column | str | None = None,
    cores: int | None = None,
) -> DataFrame:
    """Repartition after a narrow scan when the input layout caps real scan
    parallelism far below the session's cores (guide §2.5 "input skew: one
    huge unsplittable file ... repartition immediately after the read").

    No-op when the scan already fans out to >= cores // 4 row-carrying
    tasks, so on a healthy large layout (100 TB = thousands of row groups)
    this adds nothing.  When it fires, the shuffle moves only the columns
    the caller has already projected; pass a high-cardinality ``key`` to
    hash-partition (deterministic, no sort-before-repartition cost) —
    without one, round-robin is used.  ``cores`` defaults to the
    ``defaultParallelism`` of the session ``df`` belongs to.
    """
    if cores is None:
        cores = df.sparkSession.sparkContext.defaultParallelism
    width = scan_width(df)
    if width is None or width >= max(2, cores // 4):
        return df
    if key is not None:
        k = F.col(key) if isinstance(key, str) else key
        return df.repartition(cores, k)
    return df.repartition(cores)
