"""Streaming-semantics tests (SURVEY.md §5.2 layer 3).

The rows-only streaming keys have no SQL oracle; these tests pin their
semantics against batch twins over the same events table.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafkastreaming_spark.all import QUERIES
from kafkastreaming_spark.io import load_table


def test_source_kafka_file_twin_rowcount(spark, sf_dir):
    out = QUERIES["source_kafka"](spark, sf_dir)
    expected = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .count()
    )
    assert out.count() == expected


def test_sink_memory_complete_equals_batch(spark, sf_dir):
    out = {r["event_type"]: r for r in QUERIES["sink_memory"](spark, sf_dir).collect()}
    batch = {
        r["event_type"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert set(out) == set(batch)
    for et, row in batch.items():
        assert out[et]["n_events"] == row["n_events"]


def test_sink_exactly_once_idempotent_retry(spark, sf_dir):
    """The exactly-once recipe's core claim: re-writing the SAME batch id
    (a retry after failure) replaces its output instead of appending —
    read-back row count is unchanged after a double write."""
    ev = load_table(spark, sf_dir, "events").limit(100)
    out = os.path.join(tempfile.gettempdir(), f"ks_e1_test_{os.getpid()}")
    for _ in range(2):  # initial write + simulated retry of batch 0
        ev.write.mode("overwrite").parquet(os.path.join(out, "batch=0"))
    assert spark.read.parquet(out).count() == 100
    # and the full streaming key aggregates to the batch answer
    got = {
        r["event_type"]: r["n_events"]
        for r in QUERIES["sink_exactly_once"](spark, sf_dir).collect()
    }
    want = {
        r["event_type"]: r["cnt"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want


def test_sink_console_foreachbatch_multi_batch(spark, sf_dir):
    batches = QUERIES["sink_console"](spark, sf_dir).collect()
    assert len(batches) >= 2, "replay must produce multiple micro-batches"
    assert sum(r["n_rows"] for r in batches) == load_table(spark, sf_dir, "events").count()


def test_stream_watermark_drops_late_rows(spark, sf_dir):
    """Late-displaced rows must be missing from append-mode output."""
    out = QUERIES["stream_watermark"](spark, sf_dir)
    emitted = out.agg(F.sum("n_events")).collect()[0][0]
    total = load_table(spark, sf_dir, "events").count()
    # append mode: tail windows not finalized + late rows dropped
    assert emitted < total
    # batch counts per (window_start, event_type) are an upper bound, and
    # the late slice's windows must be strictly below their batch counts
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_batch"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_batch")
    )
    j = out.join(batch, ["window_start", "event_type"]).collect()
    assert all(r["n_events"] <= r["n_batch"] for r in j)
    # the displaced (late) rows' windows are long-finalized when they
    # arrive, so they are absent from append output even though the batch
    # twin has them: batch-only windows well before the final watermark
    # are the observed drops.  (At low SF an event often owns its whole
    # 5-min window, so drops surface as missing windows, not lower counts.)
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    batch_only = (
        batch.join(out, ["window_start", "event_type"], "left_anti")
        .filter(F.col("window_start") < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
        .count()
    )
    assert batch_only > 0, "no late-row drop observed"


def test_stream_stream_join_matches_batch_twin(spark, sf_dir):
    out = QUERIES["stream_stream_join"](spark, sf_dir)
    twin = (
        QUERIES["join_interval"](spark, sf_dir)
        .filter(F.col("right_type") == "purchase")
        .count()
    )
    assert out.count() == twin


def test_stream_stateful_final_state_equals_batch_agg(spark, sf_dir):
    out = {r["user_id"]: r for r in QUERIES["stream_stateful"](spark, sf_dir).collect()}
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    )
    assert len(out) == len(batch)
    for r in batch:
        got = out[r["user_id"]]
        assert got["n_events"] == r["n_events"]
        assert abs(got["sum_value"] - r["sum_value"]) < 0.01


def test_stream_late_update_mode_semantics(spark, sf_dir):
    rows = {r["output_mode"]: r["emitted_rows"] for r in
            QUERIES["stream_late_update"](spark, sf_dir).collect()}
    assert set(rows) == {"append", "update", "complete"}
    # memory-sink semantics: complete REPLACES (final full table), update
    # ACCUMULATES per-batch changed rows, append holds finalized windows
    # only.  So: append misses the unfinalized tail (< complete), update
    # re-emits changed windows across batches (>= complete).
    n_windows = (
        load_table(spark, sf_dir, "events")
        .select(F.window("ts", "60 minutes"))
        .distinct()
        .count()
    )
    assert rows["complete"] == n_windows
    assert rows["append"] < rows["complete"]
    assert rows["update"] >= rows["complete"]


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark removes cross-batch duplicates."""
    from kafkastreaming_spark.sources.factory import file_event_stream
    from kafkastreaming_spark.streaming.harness import replay_chunks, run_to_memory

    # replay dirs are SHARED per (sf, params) since r8 — copy to a
    # private dir before injecting the duplicate chunk, or the mutation
    # would poison every later consumer of the shared dir
    import shutil
    import tempfile

    shared = replay_chunks(spark, sf_dir, n_chunks=3, tag="deduptest")
    chunk_dir = os.path.join(tempfile.gettempdir(), "ks_stream_deduptest_priv")
    shutil.rmtree(chunk_dir, ignore_errors=True)
    shutil.copytree(shared, chunk_dir)
    # duplicate the first 40 rows of chunk 0 into a later-arriving file
    first = pd.read_parquet(os.path.join(chunk_dir, "chunk_000.parquet")).head(40)
    first.to_parquet(
        os.path.join(chunk_dir, "chunk_001a_dupes.parquet"),
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    sdf = file_event_stream(spark, chunk_dir)
    deduped = sdf.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_to_memory(deduped, "append")
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events, "duplicates must be removed exactly once"
    assert out.select("event_id").distinct().count() == n_events


def test_sessionize_matches_session_window_twin(spark, sf_dir):
    """events_sessionize (gaps-and-islands batch sessionization) and
    stream_session (Spark session_window) implement the SAME 30-minute
    gap semantics through entirely different machinery — their
    (user, session_start, n_events) sets must be identical."""
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in QUERIES["events_sessionize"](spark, sf_dir).collect()
    }
    twin = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in QUERIES["stream_session"](spark, sf_dir).collect()
    }
    assert batch == twin


def test_stream_stream_outer_matches_batch_twin(spark, sf_dir):
    """stream_stream_outer: matched pairs must equal the batch
    left-outer interval join exactly, and matched + null-padded rows
    must cover every click (the watermark eventually proves every
    unmatched click unmatched — AvailableNow drains the stream, so the
    final watermark passes the whole timeline)."""
    rows = QUERIES["stream_stream_outer"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    twin = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")
        ),
        "left_outer",
    ).collect()
    got_matched = {
        (r.click_id, r.purchase_id) for r in rows if r.purchase_id is not None
    }
    want_matched = {
        (r.click_id, r.purchase_id)
        for r in twin
        if r.purchase_id is not None
    }
    assert got_matched == want_matched
    # Null-padding needs the watermark to PROVE no match can arrive,
    # and the watermark used by micro-batch N is computed from data
    # through batch N-1.  With the 4-chunk replay, the LAST batch runs
    # under a watermark of max(ts of chunks 0-2) - 10 min; clicks whose
    # 5-min match window reaches past it are legitimately still held in
    # state when AvailableNow drains — the append-mode tail.  Clicks
    # strictly older than that horizon must appear exactly once.
    import datetime

    ts_sorted = [r.ts for r in ev.select("ts").orderBy("ts").collect()]
    rpc = len(ts_sorted) // 4 + 1
    wm_basis = ts_sorted[min(3 * rpc, len(ts_sorted)) - 1]
    horizon = wm_basis - datetime.timedelta(minutes=15)
    finalized = {r.click_id for r in twin if r.click_ts < horizon}
    got_clicks = {r.click_id for r in rows}
    assert finalized <= got_clicks
    assert got_clicks <= {r.click_id for r in twin}


def test_stream_session_ttl_matches_batch_sessions(spark, sf_dir):
    """Eviction-based sessionization twin pin: every emitted closed
    session must EXACTLY equal one of events_sessionize's batch
    sessions (same user, bounds, count), and every batch session whose
    gap horizon provably fell inside the final watermark must have been
    emitted — state eviction may not lose or invent sessions."""
    from pyspark.sql import functions as F

    from kafkastreaming_spark.io import load_table

    emitted = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in QUERIES["stream_session_ttl"](spark, sf_dir).collect()
    }
    assert emitted, "no sessions closed — harness regression"

    batch = {
        (
            r["user_id"],
            r["session_start_us"],
            r["session_end_us"],
            r["n_events"],
        )
        for r in QUERIES["events_sessionize"](spark, sf_dir)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        )
        .collect()
    }
    assert emitted <= batch, f"invented sessions: {sorted(emitted - batch)[:3]}"

    # final watermark = max event time - 10 min delay; sessions whose
    # last event + 30 min gap precedes it MUST have timed out and emitted
    max_us = load_table(spark, sf_dir, "events").agg(
        F.max(F.unix_micros("ts"))
    ).collect()[0][0]
    horizon = max_us - 10 * 60 * 1_000_000
    must_emit = {
        s for s in batch if s[2] + 30 * 60 * 1_000_000 < horizon
    }
    missing = must_emit - emitted
    assert not missing, f"evicted-but-unemitted sessions: {sorted(missing)[:3]}"


def test_python_stream_source_exactly_once(spark, sf_dir):
    """source_python_stream: across the availableNow restart loop every
    offset lands exactly once — no seq duplicated by a replayed batch,
    none dropped by a lost offset — and the bucket rollup conserves the
    full offset range."""
    from kafkastreaming_spark.all import QUERIES
    from kafkastreaming_spark.sources.python_ds import _FEED_MAX

    rows = QUERIES["source_python_stream"](spark, sf_dir).collect()
    assert len(rows) == 8
    assert sum(r.n_msgs for r in rows) == _FEED_MAX
    assert min(r.min_seq for r in rows) == 0
    assert max(r.max_seq for r in rows) == _FEED_MAX - 1
    # conservation of the arithmetic series = no dup, no drop
    got = {r.bucket: r.n_msgs for r in rows}
    assert all(got[b] == _FEED_MAX // 8 for b in range(8))


def test_state_reader_matches_batch_and_partitioning(spark, sf_dir):
    """stream_state_reader: the state rows recovered from the checkpoint
    must equal the straight batch aggregate (state integrity), and the
    store must hold exactly one row per grouping key."""
    from kafkastreaming_spark.all import QUERIES
    from kafkastreaming_spark.io import load_table

    rows = QUERIES["stream_state_reader"](spark, sf_dir).collect()
    got = {r.event_type: (r.n_events, r.cents) for r in rows}
    assert len(rows) == len(got)  # one state row per key
    expect = {
        r.event_type: (r.n, r.c)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    assert got == expect


def test_python_sink_two_phase_commit_clean(spark, sf_dir):
    """sink_python_stream: after the run the sink directory holds ONLY
    committed batch files (no _tmp_ stragglers — abort/commit cleaned
    up), and the landed rows equal the events table exactly."""
    import glob
    import os

    from kafkastreaming_spark.all import QUERIES
    from kafkastreaming_spark.io import load_table
    from kafkastreaming_spark.streaming.harness import scratch_dir

    before = set(glob.glob(os.path.join(scratch_dir(), "ks_pysink_*")))
    row = QUERIES["sink_python_stream"](spark, sf_dir).collect()[0]
    newdirs = (
        set(glob.glob(os.path.join(scratch_dir(), "ks_pysink_*")))
        - before
    )
    assert len(newdirs) == 1
    out = os.path.join(newdirs.pop(), "out")
    assert not glob.glob(os.path.join(out, "_tmp_*"))  # staging cleaned
    assert glob.glob(os.path.join(out, "batch_*.jsonl"))
    ev = load_table(spark, sf_dir, "events")
    assert row.n_rows == ev.count()
    expect = ev.agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
    ).collect()[0][0]
    assert row.sum_cents == expect


def test_listener_metrics_conserve_and_order(spark, sf_dir):
    """stream_listener_metrics: the per-batch trail must partition the
    events table exactly (conservation), with contiguous batch ids from
    0 and arrival-ordered non-increasing tail sizes (ceil-division
    chunking)."""
    from kafkastreaming_spark.all import QUERIES
    from kafkastreaming_spark.io import load_table

    rows = sorted(
        QUERIES["stream_listener_metrics"](spark, sf_dir).collect(),
        key=lambda r: r.batch_id,
    )
    assert [r.batch_id for r in rows] == list(range(len(rows)))
    n = load_table(spark, sf_dir, "events").count()
    assert sum(r.num_input_rows for r in rows) == n
    sizes = [r.num_input_rows for r in rows]
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))


def test_dedup_watermark_duplicates_really_delivered(spark, sf_dir):
    """stream_dedup_watermark's claim is vacuous unless the replay dir
    truly contains re-deliveries: the dup chunk must exist, be non-empty,
    and every dup row must be byte-identical to an original — and the
    streaming output must still equal the distinct originals."""
    from kafkastreaming_spark.streaming.runtime import _ddww_chunks

    sf = sf_dir
    out = QUERIES["stream_dedup_watermark"](spark, sf).toPandas()
    d = _ddww_chunks(spark, sf)
    dup_path = os.path.join(d, "chunk_999_dup.parquet")
    assert os.path.exists(dup_path)
    dups = pd.read_parquet(dup_path)
    assert len(dups) > 0
    originals = pd.concat(
        [
            pd.read_parquet(os.path.join(d, f))
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet") and not f.startswith("chunk_999")
        ]
    )
    # every dup is a re-delivery of an original, keyed by event_id
    assert set(dups["event_id"]) <= set(originals["event_id"])
    assert (dups["event_id"] % 7 == 0).all()
    # output = distinct originals despite len(dups) duplicate deliveries
    assert len(out) == originals["event_id"].nunique()
    assert sorted(out["event_id"]) == sorted(originals["event_id"].unique())


def test_state_partitions_sized_for_state_volume():
    """VERDICT r14 item 3 pin: the harness derives state partitions from
    expected state VOLUME.  The r14 100x probe A/B'd 10M events through
    stream_session_ttl in fresh processes: 447 s at 32 partitions vs
    1270-1348 s at 8 — once per-group state compute dominates the fixed
    per-partition state-store overhead, fewer-partitions-than-cores is a
    3x loss.  Below the threshold replay-sized state gets at most one
    wave of the session's cores: the swept 8 on a 32-core session, 4 on
    a 4-core one (where 8 took two waves and doubled state-commit
    time)."""
    from kafkastreaming_spark.streaming.harness import (
        _STATE_VOLUME_THRESHOLD,
        _STREAM_SHUFFLE,
        state_partitions,
    )

    assert _STREAM_SHUFFLE == 8
    # below threshold / unknown: one wave, capped at the swept default
    for groups in (None, 100_000, _STATE_VOLUME_THRESHOLD - 1):
        assert state_partitions(groups, cores=4) == 4
        assert state_partitions(groups, cores=8) == 8
        assert state_partitions(groups, cores=32) == 8
    # at/above threshold: >= one partition per core, never below 8
    for groups in (_STATE_VOLUME_THRESHOLD, 10_000_000):
        assert state_partitions(groups, cores=4) == 8
        assert state_partitions(groups, cores=8) == 8
        assert state_partitions(groups, cores=32) == 32
        assert state_partitions(groups, cores=64) == 64


def test_sinks_thread_state_groups_to_state_partitions(spark, sf_dir, monkeypatch):
    """ADVICE r15 pin: console_sink and foreach_batch_collect size their
    state partitions from ``state_groups`` and the running session's
    cores (defaultParallelism) through stream_shuffle, the same way
    run_to_memory does — a large-state lifecycle through these sinks
    must not silently keep the replay-sized default.  The replay ceiling
    is lowered to 2 so that the two rules give different counts on the
    test session's 8 cores."""
    import contextlib

    from kafkastreaming_spark.streaming import harness

    monkeypatch.setattr(harness, "_STREAM_SHUFFLE", 2)
    cores = spark.sparkContext.defaultParallelism
    assert cores > 2
    captured: list[int] = []
    real = harness.stream_shuffle

    @contextlib.contextmanager
    def spy(session, n=None, state_groups=None):
        with real(session, n, state_groups):
            captured.append(int(session.conf.get("spark.sql.shuffle.partitions")))
            yield

    monkeypatch.setattr(harness, "stream_shuffle", spy)

    sdf = harness.stream_events(spark, sf_dir, n_chunks=2).select(
        "event_id", "ts", "event_type", "value"
    )
    big = 10_000_000  # above _STATE_VOLUME_THRESHOLD
    harness.console_sink(sdf, num_rows=1, state_groups=big)
    batches = harness.foreach_batch_collect(sdf, state_groups=big)
    harness.run_to_memory(sdf, state_groups=big)
    assert captured == [cores] * 3
    assert sum(n for _, n in batches) == sdf.sparkSession.read.parquet(
        harness.replay_chunks(spark, sf_dir, 2)
    ).count()
    # default path (no state_groups): one wave, capped at the replay ceiling
    harness.console_sink(sdf, num_rows=1)
    harness.run_to_memory(sdf)
    # an explicit per-key override wins over both rules
    harness.run_to_memory(sdf, shuffle_n=3, state_groups=big)
    assert captured[3:] == [2, 2, 3]


@pytest.mark.parametrize(
    "key, ddl",
    [
        ("sink_console", "batch_id long, n_rows long"),
        ("stream_listener_metrics", "batch_id long, num_input_rows long"),
        ("stream_late_update", "output_mode string, emitted_rows long"),
    ],
)
def test_stream_result_frames_are_driver_local(spark, sf_dir, key, ddl):
    """The small driver-side results of these keys plan as
    LocalTableScan, not Scan ExistingRDD: materializing them launches no
    Python RDD job.  Names, types and nullability stay exactly ``ddl``."""
    from pyspark.sql.types import StructType

    df = QUERIES[key](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert df.schema == StructType.fromDDL(ddl)
    assert df.count() >= 2


def test_local_frame_keeps_schema_when_empty(spark):
    from pyspark.sql.types import StructType

    from kafkastreaming_spark.streaming.harness import local_frame

    ddl = "batch_id long, num_input_rows long"
    df = local_frame(spark, [], ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert df.collect() == []


def test_console_sink_raises_on_timeout(spark, sf_dir, monkeypatch):
    """A lifecycle that does not drain in time must raise, never return
    as if done; the query is stopped and its checkpoint removed."""
    import glob

    from pyspark.sql.streaming.query import StreamingQuery

    from kafkastreaming_spark.streaming import harness

    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    sdf = harness.stream_events(spark, sf_dir, n_chunks=2)
    ckpts = os.path.join(harness.scratch_dir(), "ks_ckpt_console_*")
    before = set(glob.glob(ckpts))
    with pytest.raises(TimeoutError, match="did not finish"):
        harness.console_sink(sdf, num_rows=1, timeout_sec=1)
    assert not any(q.isActive for q in spark.streams.active)
    assert set(glob.glob(ckpts)) <= before
