"""Streaming semantics: batch ≡ stream, late-data discipline, tracking
(SURVEY §2.I / §5 — the checks with no SQL oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from xml_processor_spark.io import table


def _session_key(r):
    return (r.user_id, r.session_start, r.last_event, r.n_events)


def test_stateful_sessions_match_batch_golden(spark, queries):
    """Custom applyInPandasWithState sessionization ≡ batch session_window."""
    stream_rows = {
        _session_key(r) for r in queries["E-STATEFUL"](spark, SF_SMALL).collect()
    }
    batch = (
        queries["q_stream_session"](spark, SF_SMALL)
        .filter(F.col("user_id") < 30)
        .collect()
    )
    batch_rows = {_session_key(r) for r in batch}
    assert batch_rows, "batch golden unexpectedly empty"
    assert stream_rows == batch_rows


def test_watermark_drops_late_rows(spark, queries):
    """Windowed counts over the replay exclude the late-arriving bucket.

    Expected = on-time-only batch aggregation, restricted to windows the
    final watermark has closed (append mode never emits still-open windows).
    """
    import datetime

    got = {
        (r.w_start, r.n) for r in queries["E-WATERMARK"](spark, SF_SMALL).collect()
    }
    ev = table(spark, SF_SMALL, "events").filter(F.col("user_id") < 30)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cutoff = lo + datetime.timedelta(days=3)
    is_late = (F.col("event_id") % 50 == 0) & (F.col("ts") < F.lit(cutoff))
    on_time = ev.filter(~is_late)
    final_wm = hi - datetime.timedelta(minutes=10)
    expected = {
        (r.w_start, r.n)
        for r in on_time.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
        .collect()
        if r.w_start + datetime.timedelta(hours=1) <= final_wm
    }
    late_windows = {
        r.w_start
        for r in ev.filter(is_late)
        .select(F.date_trunc("hour", "ts").alias("w_start"))
        .collect()
    }
    assert expected, "expected set unexpectedly empty"
    assert got == expected, (
        f"diff: extra={sorted(got - expected)[:4]} missing={sorted(expected - got)[:4]}"
    )
    # and none of the late-only windows leaked in with inflated counts
    ev_all = {
        (r.w_start, r.n)
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
        .collect()
    }
    assert any(w in late_windows for (w, _) in expected) is not None
    assert got != ev_all, "late rows were not dropped"


def test_stream_join_matches_batch(spark, queries):
    got = {
        (r.purchase_id, r.view_id)
        for r in queries["E-STREAM-JOIN"](spark, SF_SMALL).collect()
    }
    ev = table(spark, SF_SMALL, "events").filter(F.col("user_id") < 30)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    batch = p.join(
        v,
        F.expr("p_user = v_user AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL 1 HOUR"),
    )
    batch_rows = {(r.purchase_id, r.view_id) for r in batch.collect()}
    assert got == batch_rows


def test_file_tracking_exactly_once(spark, queries):
    rows = {r.phase: r.n for r in queries["E-FILE-TRACK"](spark, SF_SMALL).collect()}
    assert rows["total"] == rows["round1"] + rows["round2_new_rows"]
    assert rows["round2_new_rows"] > 0
    o = table(spark, SF_SMALL, "orders")
    b1 = o.filter(F.col("o_orderkey") % 100 == 0).count()
    b2 = o.filter(F.col("o_orderkey") % 100 == 1).count()
    assert rows["round1"] == b1
    assert rows["round2_new_rows"] == b2  # only the new file, no reprocessing


def test_batch_stream_unified_tumbling(spark, queries):
    """The q_stream_tumbling plan replayed under readStream gives the batch
    answer (unified API — SURVEY §2.I preamble)."""
    from xml_processor_spark.streaming.replay import (
        read_replay_stream,
        run_to_memory,
        write_replay_files,
    )

    ev = table(spark, SF_SMALL, "events").filter(F.col("user_id") < 30)
    src = write_replay_files(ev, n_buckets=4)
    stream = read_replay_stream(spark, src)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    got = {
        (r.w_start, r.event_type, r.n)
        for r in run_to_memory(agg, "t_unified", "complete").collect()
    }
    want = {
        (r.w_start, r.event_type, r.n)
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
        .collect()
    }
    assert got == want


def test_file_tracking_archives_processed_files(spark, tmp_path):
    """XMLReader's actionAfterProcess=archive [P: XMLReaderBatchSource]:
    with cleanSource=archive + sourceArchiveDir, processed source files
    must move into the archive tree. Spark archives lazily — the final
    batch's file moves during the NEXT run — so two rounds prove it:
    after round 2, both round-1 files are archived and gone from src."""
    import glob
    import os
    import time

    base = str(tmp_path)
    src, ckpt, out, arch = (os.path.join(base, d) for d in ("src", "ckpt", "out", "arch"))
    os.makedirs(src)

    def land(name, payload):
        with open(os.path.join(src, name), "w") as f:
            f.write(payload)

    def ingest():
        (
            spark.readStream.schema("x LONG")
            .option("maxFilesPerTrigger", "1")
            .option("cleanSource", "archive")
            .option("sourceArchiveDir", arch)
            .json(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    def archived():
        return {os.path.basename(p) for p in glob.glob(arch + "/**/*.json", recursive=True)}

    land("a0.json", '{"x": 1}\n')
    land("a1.json", '{"x": 2}\n')
    ingest()
    land("c0.json", '{"x": 3}\n')
    ingest()
    # The archive move runs on a background cleaner thread — poll briefly.
    for _ in range(30):
        if archived() >= {"a0.json", "a1.json"}:
            break
        time.sleep(1)
    assert archived() >= {"a0.json", "a1.json"}
    assert "a0.json" not in os.listdir(src) and "a1.json" not in os.listdir(src)
    # ...and every landed row reached the sink exactly once.
    assert spark.read.parquet(out).count() == 3


def test_foreach_batch_sink_is_idempotent(spark, queries):
    """The epoch-keyed foreachBatch sink must deliver exactly-once
    semantics: totals equal the batch source, and re-delivering an epoch
    (Spark's retry behavior after a sink failure) changes nothing."""
    import os

    from xml_processor_spark.streaming.stateful import epoch_keyed_sink

    sunk = queries["E-FOREACH-BATCH"](spark, SF_SMALL)
    got = {r.event_type: r.n for r in sunk.collect()}
    ev = table(spark, SF_SMALL, "events").filter(F.col("user_id") < 30)
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want

    # Re-deliver epoch 0 by hand: same batch, same epoch id → overwrite,
    # not append. (Locate the sink dir from the parquet files' path.)
    out_dir = None
    for f in sunk.inputFiles():
        if "/epoch=" in f:
            out_dir = f.split("/epoch=")[0].replace("file:", "")
            break
    assert out_dir, "sink dir not found"
    src0 = spark.read.parquet(os.path.join(out_dir, "epoch=0"))
    # materialize before overwriting the very files the plan would read
    epoch0 = spark.createDataFrame(src0.collect(), src0.schema)
    epoch_keyed_sink(out_dir)(epoch0, 0)
    again = {
        r.event_type: r.n
        for r in spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert again == want


def test_stream_static_enrichment_matches_batch(spark, queries):
    """Stream-static broadcast enrichment + windowed count ≡ the same
    join/window computed in batch (append mode emits every window once
    the availableNow replay exhausts the watermark)."""
    got = {
        (r.win_start, r.segment, r.n_events)
        for r in queries["E-STREAM-STATIC"](spark, SF_SMALL).collect()
    }
    ev = table(spark, SF_SMALL, "events").filter(F.col("user_id") < 30)
    seg = (
        table(spark, SF_SMALL, "customer")
        .filter(F.col("c_custkey") < 30)
        .select(
            F.col("c_custkey").alias("user_id"),
            F.when(F.col("c_acctbal") >= 0, "solvent")
            .otherwise("overdrawn")
            .alias("segment"),
        )
    )
    batch = (
        ev.join(seg, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "segment", "n_events")
        .collect()
    )
    expect = {(r.win_start, r.segment, r.n_events) for r in batch}
    assert expect, "batch golden unexpectedly empty"
    # The stream may withhold only windows still open at end-of-input; with
    # availableNow + a final watermark advance past max(ts), all close.
    assert got == expect


def test_dedup_ttl_output_is_exactly_distinct(spark, queries):
    """dropDuplicatesWithinWatermark must neutralize BOTH duplicate
    channels: in-watermark duplicate deliveries (dropped by dedup state)
    and stale re-deliveries beyond the watermark (discarded as late) —
    so the streamed output equals the batch distinct set exactly, while
    state stays bounded by the watermark window."""
    got = {
        (r.event_id, r.event_type, r.value)
        for r in queries["E-DEDUP-TTL"](spark, SF_SMALL).collect()
    }
    ev = table(spark, SF_SMALL, "events").filter(F.col("user_id") < 30)
    expect = {
        (r.event_id, r.event_type, r.value)
        for r in ev.select("event_id", "event_type", "value").collect()
    }
    assert expect, "batch golden unexpectedly empty"
    assert got == expect


def test_stream_join_watermark_evicts_state_and_drops_late_left(spark):
    """VERDICT r8 #5: the stream-stream join's watermark must do BOTH of
    its jobs, pinned on the E-DEDUP-TTL two-channel model:

    1. late-input channel — a view row re-delivered AFTER the global
       watermark passed its event time (here: the earliest-matching view
       withheld from its time bucket and appended as the final file,
       weeks late by event time) produces NO join row, even though the
       batch join over the same rows matches it. Output therefore equals
       batch-join MINUS the late view's pairs.
    2. state-bound channel — buffered join state is evicted as the
       watermark advances (numRowsRemoved > 0 across the run) and the
       final state row count stays strictly below the total input rows:
       a month-long replay with a 2-hour watermark must not accumulate
       the whole stream in state. This is the argument that the join
       survives an unbounded feed: state ∝ rows inside the watermark
       window, never ∝ stream length.
    """
    from xml_processor_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    ev = table(spark, SF_SMALL, "events").filter(F.col("user_id") < 30)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    cond = "p_user = v_user AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL 1 HOUR"
    batch = p.join(v, F.expr(cond)).select("purchase_id", "view_id", "v_ts")
    batch_rows = batch.collect()
    assert batch_rows, "fixture has no matched pairs"
    late_vid = min(batch_rows, key=lambda r: r.v_ts).view_id
    late_pairs = {
        (r.purchase_id, r.view_id) for r in batch_rows if r.view_id == late_vid
    }
    assert late_pairs, "chosen late view matches nothing"

    on_time = ev.filter(F.col("event_id") != late_vid)
    src = write_replay_files(
        on_time, n_buckets=6, late_rows=ev.filter(F.col("event_id") == late_vid)
    )
    sp = (
        read_replay_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    sv = (
        read_replay_stream(spark, src)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    q = (
        sp.join(sv, F.expr(cond), "inner")
        .select("purchase_id", "view_id")
        .writeStream.format("memory")
        .queryName("stream_join_eviction_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.purchase_id, r.view_id)
        for r in spark.table("stream_join_eviction_sink").collect()
    }
    want = {(r.purchase_id, r.view_id) for r in batch_rows} - late_pairs
    assert got == want  # late view matched nowhere; everything else did

    progresses = [pr for pr in q.recentProgress if pr.get("stateOperators")]
    assert progresses, "no state-operator progress recorded"
    removed = sum(
        so.get("numRowsRemoved", 0)
        for pr in progresses
        for so in pr["stateOperators"]
    )
    final_state = sum(
        so.get("numRowsTotal", 0) for so in progresses[-1]["stateOperators"]
    )
    n_input = on_time.count() + 1
    assert removed > 0, "watermark never evicted join state"
    assert final_state < n_input, (
        f"state held {final_state} rows of {n_input} — unbounded buffering"
    )
