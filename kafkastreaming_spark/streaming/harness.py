"""Streaming replay harness (SURVEY.md §5.2 layer 3).

Replays the bounded events table as a genuine multi-micro-batch stream:

1. sort events by ts, split into N parquet chunk files (arrival order);
   optionally displace a slice of mid-timeline rows into the final chunk
   to create *late* arrivals for watermark tests;
2. ``file_event_stream`` reads the chunk dir with maxFilesPerTrigger=1;
3. ``run_to_memory`` executes with Trigger.AvailableNow — Spark processes
   chunk-by-chunk (real incremental state, real watermark advancement),
   then stops — and returns the memory-sink table.

This is how watermark/late-data/stateful semantics are verified without a
Kafka broker (none exists in this sandbox — SURVEY.md §7.5).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from kafkastreaming_spark.io import load_table
from kafkastreaming_spark.sources.factory import file_event_stream

# chunk dirs already built by THIS process: (path,) -> reuse; the lock
# makes check-build-record one step for concurrent lifecycles
_REPLAY_BUILT: set[tuple] = set()
_REPLAY_LOCK = threading.Lock()


def scratch_dir() -> str:
    """Scratch root for harness artifacts (replay chunk dirs, streaming
    checkpoints, staging sinks).  Override with SPARK_GRAFT_SCRATCH.

    Default is the system tempdir, NOT tmpfs — measured r13: a tmpfs
    (/dev/shm) default was A/B-flat in a fresh process (per-lifecycle
    checkpoint I/O is buffered small writes either way, never fsync-
    bound) but 25-60% SLOWER for the Python-stateful and stateful
    streaming keys inside a long bench session, where tmpfs page
    allocation competes with the parquet page cache under memory
    pressure (harness section 55.9 s on /dev/shm vs 44.9 s on /tmp,
    clean canaries both, byte-identical code).  Checkpoint semantics
    are medium-independent; on a real cluster checkpoints belong on
    HDFS/object storage — this knob tunes the single-box replay
    HARNESS, not the operator."""
    cand = os.environ.get("SPARK_GRAFT_SCRATCH")
    if cand and os.path.isdir(cand) and os.access(cand, os.W_OK):
        return cand
    return tempfile.gettempdir()

# Replay-sized state-partition ceiling.  Streaming state stores cost
# O(partitions) per micro-batch per stateful operator (provider init,
# snapshot/delta files, commit) regardless of data volume, and AQE is
# disabled in streaming so nothing coalesces the session's batch-sized
# shuffle partitions back down.  You size state partitions for state
# VOLUME: the replay fixtures carry <=100k rows of state, so they get at
# most ONE WAVE of partitions, min(8, cores) (:func:`state_partitions`).
# 8 was swept on 32 cores, where it cut the fixed per-batch state-store
# overhead 4x against 32 (r11, VERDICT r10 item 2 —
# stream_stream_join/_outer were 13.1 s each with 32-partition state).
# On a 4-core session 8 partitions take two waves: sizing to 4 halved
# the traced stream workload's state-commit time (5.5-5.9 -> 2.6-3.0 s
# per pass, 110 -> 76 tasks) and cut its p80 key latency from 2.65 to
# 1.96 s (10 A/B pairs, sf0.1).  At 100 TB you'd raise
# spark.sql.shuffle.partitions (or use RocksDB + more partitions) — this
# constant tunes the HARNESS, not the operator.
_STREAM_SHUFFLE = 8

# State-volume threshold above which the harness stops trusting the
# low-overhead replay default and sizes state partitions to the machine
# (VERDICT r14 item 3, promoting the r14 100x-probe finding from a
# docstring to a tested default).  The probe's A/B at 10M events through
# stream_session_ttl measured 447 s at 32 partitions vs 1270-1348 s at 8
# in fresh processes: once per-group state compute dominates the fixed
# per-partition state-store overhead, fewer-partitions-than-cores is a
# 3x loss.  Replay fixtures (<=100k state rows) stay at one wave.
_STATE_VOLUME_THRESHOLD = 1_000_000


def state_partitions(state_groups: int | None, cores: int) -> int:
    """State-partition count for a stateful streaming lifecycle, derived
    from expected STATE VOLUME (``state_groups`` = rows/groups the state
    store will track; pass the best estimate available, e.g. distinct
    keys x windows) and the session's ``cores`` (task slots).

    Below :data:`_STATE_VOLUME_THRESHOLD` the fixed per-partition
    per-micro-batch state-store cost (provider init, snapshot/delta
    files, commit) dominates, so replay-sized state gets at most one
    wave: ``min(_STREAM_SHUFFLE, cores)``.  That is the swept 8 on 32
    cores and 4 on a 4-core box, where 8 partitions took two waves and
    each commit ran slower the more ran at once (sink_memory probe:
    ~25 ms per partition commit at 1 partition, 65 ms at 4, 90 ms at 8).
    At or above the threshold, per-group state compute dominates and
    the rule flips to >= one partition per core, ``max(cores,
    _STREAM_SHUFFLE)`` — the r14 100x probe measured the flip at 3x
    (447 s @32 vs 1270-1348 s @8 for 10M events / ~150k Python-stateful
    groups).  ``None`` state volume means "unknown, assume
    replay-sized"."""
    if state_groups is not None and state_groups >= _STATE_VOLUME_THRESHOLD:
        return max(cores, _STREAM_SHUFFLE)
    return min(_STREAM_SHUFFLE, cores)


def await_drained(q: StreamingQuery, timeout_sec: float, what: str) -> None:
    """Wait for an AvailableNow query to drain its input and stop it
    either way.  Raises TimeoutError if it did not finish within
    ``timeout_sec``: a caller must never read a partial sink."""
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"{what} did not finish in {timeout_sec}s — "
                "refusing to return a partial result"
            )
    finally:
        if q.isActive:
            q.stop()


# Held while a lifecycle sets its confs on the session, calls start() and
# restores them.  That window is all the scoping a query needs: start()
# clones the session for the stream, and the clone keeps the confs it saw
# for the query's whole life.  Probed on Spark 4.1.2 (local[4]): restoring
# right after start() and restoring after awaitTermination gave the same
# state partitions on disk, the same batch and empty-batch counts with
# noDataMicroBatches off, the same state-store provider files and the same
# sink rows.  Child sessions (spark.newSession()) would isolate confs
# without a lock, but a StreamingQueryListener on the parent session
# receives no events from their queries, so the per-layer stream metrics
# would read zero.
_START_LOCK = threading.Lock()


def lifecycle(
    spark: SparkSession,
    writer: DataStreamWriter,
    what: str,
    *,
    confs: dict[str, str] | None = None,
    state_groups: int | None = None,
    checkpoint: str | None = None,
    timeout_sec: float = 120,
) -> StreamingQuery:
    """Run one streaming query to completion: ``writer`` (the sink side of
    ``sdf.writeStream``, without checkpoint or trigger) is started with
    Trigger.AvailableNow on ``spark``, the session of its DataFrame, and
    waited for in :func:`await_drained`.  Returns the stopped query, whose
    ``name`` and ``recentProgress`` stay readable.

    ``confs`` are session confs for this query only (set for its start,
    restored after).  ``spark.sql.shuffle.partitions`` defaults to
    :func:`state_partitions` of ``state_groups`` and the session's
    ``defaultParallelism`` unless ``confs`` names it.  The checkpoint is a
    fresh directory under :func:`scratch_dir`, removed on return; a caller
    that passes its own ``checkpoint`` owns that path and keeps it."""
    confs = dict(confs or {})
    confs.setdefault(
        "spark.sql.shuffle.partitions",
        str(state_partitions(state_groups, spark.sparkContext.defaultParallelism)),
    )
    ckpt = checkpoint or os.path.join(
        scratch_dir(), f"ks_ckpt_{uuid.uuid4().hex[:12]}"
    )
    try:
        with _START_LOCK:
            old = {k: spark.conf.get(k, None) for k in confs}
            try:
                for k, v in confs.items():
                    spark.conf.set(k, v)
                q = (
                    writer.option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
            finally:
                for k, v in old.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
        await_drained(q, timeout_sec, what)
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return q


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small driver-side result (``rows`` with schema ``ddl``) as a
    frame that plans as ``LocalTableScan``.

    ``createDataFrame`` over a Python list plans as ``Scan ExistingRDD``:
    every action on it launches a job over a Python RDD (0.28-0.40 s for
    a 3-row noop write, warm).  Through an Arrow-converted pandas frame
    the rows become a local relation that needs no job (~0.05 s).
    Column names, types and nullability are exactly ``ddl``'s."""
    schema = StructType.fromDDL(ddl)
    return spark.createDataFrame(
        pd.DataFrame.from_records(rows, columns=schema.names), schema
    )


def replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 6,
    late_fraction: float = 0.0,
) -> str:
    """Write events as n_chunks arrival-ordered parquet files; optionally
    move a slice of mid-timeline rows into the last chunk (late data).
    Returns the chunk directory.

    The replay is a pure function of (sf_dir, n_chunks, late_fraction) —
    every streaming key reads the same events table — so the chunk dir
    is built ONCE per (process, params) and shared across keys, queries
    (each has its own checkpoint), and bench repeats.  Before this memo
    the rows-only bench paid a toPandas + parquet rewrite per
    invocation: ~12 rewrites of the full events table per repeat at
    sf0.1 (r8 roadmap item)."""
    out = os.path.join(
        scratch_dir(),
        "ks_stream_shared_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{n_chunks}"
        f"_{int(late_fraction * 10_000)}_{os.getpid()}",
    )
    with _REPLAY_LOCK:
        if (out,) in _REPLAY_BUILT:
            return out
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        ev = load_table(spark, sf_dir, "events").orderBy("ts", "event_id")
        rows_per_chunk = ev.count() // n_chunks + 1
        pdf = ev.toPandas()
        late = None
        if late_fraction > 0:
            # displace rows from the 2nd chunk to arrive last → late by most
            # of the timeline, far beyond any reasonable watermark delay
            lo = rows_per_chunk
            hi = rows_per_chunk + int(len(pdf) * late_fraction)
            late = pdf.iloc[lo:hi]
            pdf = pdf.drop(pdf.index[lo:hi])
        for i in range(n_chunks):
            chunk = pdf.iloc[i * rows_per_chunk : (i + 1) * rows_per_chunk]
            if len(chunk) == 0:
                continue
            chunk.to_parquet(
                os.path.join(out, f"chunk_{i:03d}.parquet"),
                index=False,
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
        if late is not None and len(late):
            late.to_parquet(
                os.path.join(out, "chunk_999_late.parquet"),
                index=False,
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
        _REPLAY_BUILT.add((out,))
    return out


# memory-sink temp views registered by run_to_memory, oldest first —
# each holds its full result rows on the driver until dropped
_SINK_TABLES: list[str] = []


def release_sinks(spark: SparkSession, keep: int = 4) -> int:
    """Drop memory-sink temp views registered by earlier
    :func:`run_to_memory` calls, keeping the newest ``keep``.

    A memory sink retains its full result rows on the driver for as
    long as its temp view exists; a long session that runs many
    streaming lifecycles (bench: ~30 keys × 4 runs) otherwise
    accumulates every sink ever produced.  Callers that have fully
    materialized the frames a key returned (bench between keys, the
    verifier between keys) can release all but the newest few — frames
    from dropped views fail loudly on re-use, never silently.  Returns
    the number of views dropped."""
    dropped = 0
    while len(_SINK_TABLES) > max(keep, 0):
        name = _SINK_TABLES.pop(0)
        try:
            spark.catalog.dropTempView(name)
            dropped += 1
        except Exception:  # noqa: BLE001 — already gone is fine
            pass
    return dropped


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
    timeout_sec: int = 120,
    shuffle_n: int | None = None,
    no_data_batches: bool = True,
    state_groups: int | None = None,
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink; returns the sink table as a batch DataFrame.
    ``shuffle_n`` is a per-key state-partition override.  When it is
    None, ``state_groups`` (expected state-store volume) picks the
    default via :func:`state_partitions` — replay-sized state gets one
    wave of the session's cores (at most 8), >=threshold state sizes to
    the machine (r14 100x A/B: 3x faster at one partition per core).

    Per-key overrides (r12 sweep on 32 cores, VERDICT r11 item 7 —
    4/8/16/32 probed per key at sf0.1): the pure-JVM 3-lifecycle
    ``stream_late_update`` wins at 4 (fixed per-partition state-store
    cost x 3 lifecycles dominates: 5.3 s vs 5.6 s at 8, 12.0 s at 32),
    as do the stream-stream joins (r13 re-sweep).  The Python-stateful
    ``stream_session_ttl`` keeps the default (r14 sweep at 2 chunks on
    32 cores: 8 ahead of 16, 4 and 32).

    ``no_data_batches=False`` sets
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` for this
    lifecycle: the trailing zero-row micro-batch exists ONLY to advance
    the watermark and fire state evictions/timeouts after the last data
    batch — operators whose evictions EMIT (outer joins, session
    timeouts, append-mode window finalization) need it; operators whose
    evictions are output-silent (inner stream-stream join: eviction
    just drops matched state) pay its full state-store-commit floor
    (~0.7-0.9 s at 8 partitions × 4 join stores, r13 profile: an EMPTY
    batch costs addBatch≈712 ms) for nothing.  Only pass False when the
    final sink is provably independent of the trailing batch.

    ``confs`` are further session confs for this query only (see
    :func:`lifecycle`)."""
    confs = dict(confs or {})
    if shuffle_n is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_n)
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    name = f"sink_{uuid.uuid4().hex[:12]}"
    try:
        lifecycle(
            sdf.sparkSession,
            sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
            f"streaming query {name}",
            confs=confs,
            state_groups=state_groups,
            timeout_sec=timeout_sec,
        )
    finally:
        # a started query has registered the view; release_sinks
        # tolerates a name whose start() failed
        _SINK_TABLES.append(name)
    return sdf.sparkSession.table(name)


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 6,
    late_fraction: float = 0.0,
) -> DataFrame:
    """Convenience: chunked replay of the events table as a streaming DF."""
    chunk_dir = replay_chunks(spark, sf_dir, n_chunks, late_fraction)
    return file_event_stream(spark, chunk_dir)


def console_sink(
    sdf: DataFrame,
    num_rows: int = 5,
    timeout_sec: int = 60,
    state_groups: int | None = None,
) -> None:
    """Console sink (operational debugging sink; SURVEY.md §2.1).

    ``state_groups`` (expected state-store volume) sizes state partitions
    via :func:`state_partitions`, exactly like :func:`run_to_memory` —
    replay-sized state gets one wave of the session's cores, >=threshold
    state sizes to the machine (ADVICE r15: previously only run_to_memory
    had this, so large-state lifecycles through this sink silently kept
    the 3x-slow small-state default).  Raises TimeoutError if the replay
    does not drain within ``timeout_sec``."""
    lifecycle(
        sdf.sparkSession,
        sdf.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", "true"),
        "console query",
        state_groups=state_groups,
        timeout_sec=timeout_sec,
    )


def foreach_batch_collect(
    sdf: DataFrame, timeout_sec: int = 120, state_groups: int | None = None
) -> list:
    """foreachBatch sink: collects (batch_id, row_count) per micro-batch —
    the arbitrary-sink escape hatch (JDBC/object-store writes in prod).

    ``state_groups`` sizes state partitions via :func:`state_partitions`,
    matching :func:`run_to_memory` (ADVICE r15 — see :func:`console_sink`)."""
    seen: list = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    lifecycle(
        sdf.sparkSession,
        sdf.writeStream.foreachBatch(handle),
        "foreachBatch query",
        state_groups=state_groups,
        timeout_sec=timeout_sec,
    )
    return seen
