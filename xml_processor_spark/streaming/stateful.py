"""Stateful streaming operators (SURVEY §2.I E-WATERMARK / E-STATEFUL /
E-STREAM-JOIN).

Late-data discipline, custom sessionization state (HYPERSONIC-style CEP
sessioning, PAPERS.md), and stream-stream joins. Batch twins
(`q_stream_*`) are the golden answers; tests/test_streaming.py asserts
batch ≡ stream on the overlap, and — since r13 — every key here ALSO
carries a full DuckDB oracle: the replay harness is deterministic
(time-ordered buckets, sentinel-advanced final watermark, ms-truncated
JSON event times), which makes each key's post-watermark streamed output
batch-expressible SQL.

State at 100 TB: watermarks bound every state store; sessionization keys by
user (state ∝ |active users|, not |events|); RocksDB state store is the
deployment default for large keyspaces (config note in session.py).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from xml_processor_spark.io import scratch_dir, table
from xml_processor_spark.registry import register
from xml_processor_spark.streaming.replay import (
    read_replay_stream,
    run_to_memory,
    write_replay_files,
)

_GAP_MS = 30 * 60 * 1000


@register(
    "E-WATERMARK",
    oracle="""
        WITH et AS (
            SELECT event_id, ts FROM events WHERE user_id < 30
        ), bounds AS (
            SELECT min(ts) AS lo FROM et
        ), on_time AS (
            SELECT e.ts FROM et e, bounds b
            WHERE NOT (e.event_id % 50 = 0 AND e.ts < b.lo + INTERVAL 3 DAY)
        ), wm AS (
            SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 10 MINUTE
                       AS w
            FROM on_time
        ), agg AS (
            SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
                   CAST(count(*) AS BIGINT) AS n
            FROM on_time GROUP BY 1
        )
        SELECT w_start, n FROM agg, wm
        WHERE w_start + INTERVAL 1 HOUR <= wm.w
    """,
    doc="Late-data drop: 10-minute watermark + 1h tumbling count in append "
        "mode; a deliberately late bucket (early timestamps arriving last) "
        "is discarded once the watermark has passed its windows. "
        "tests/test_streaming.py asserts the late rows are absent. "
        "Oracle-checked since r13 (VERDICT r12 #6): the post-watermark "
        "append output IS batch-expressible — hourly counts over the "
        "on-time rows, restricted to windows whose end precedes the FINAL "
        "watermark (max on-time event time, ms-truncated as Spark's "
        "EventTimeStats does, minus the 10-minute delay); late rows are "
        "days beyond the watermark, and the replay's availableNow "
        "triggers leave the tail windows (end past the final watermark) "
        "unemitted, which the oracle's window-end predicate states "
        "directly. Boundary note: window ends are hour-aligned while the "
        "watermark sits at max-10min, so the <=-vs-< emission boundary "
        "is only reachable if max(ts) lands exactly on hh:10:00.000 — "
        "not a case any fixture produces; the full result-set equality "
        "was verified empirically at sf0.01 (679 windows) before "
        "oracle-izing.",
)
def e_watermark(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    # Late rows: early-timestamped (first 3 days) but arriving after the
    # whole month has streamed — unambiguously beyond the watermark.
    lo = ev.agg(F.min("ts")).collect()[0][0]
    cutoff = F.lit(lo) + F.expr("INTERVAL 3 DAYS")
    is_late = (F.col("event_id") % 50 == 0) & (F.col("ts") < cutoff)
    on_time = ev.filter(~is_late)
    late = ev.filter(is_late)
    src = write_replay_files(on_time, n_buckets=6, late_rows=late)
    stream = read_replay_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    return run_to_memory(agg, "e_watermark_sink", "append")


def _sessionize(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """30-min-gap sessionization with event-time timeout.

    State = open session (start_ms, last_ms, n). Closed sessions emit as
    (user_id, session_start, last_event, n_events) — the same shape as the
    batch `q_stream_session` golden answer.
    """
    (user_id,) = key

    def emit(start_ms: int, last_ms: int, n: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_ms, unit="ms")],
                "last_event": [pd.Timestamp(last_ms, unit="ms")],
                "n_events": [n],
            }
        )

    if state.hasTimedOut:
        start_ms, last_ms, n = state.get
        state.remove()
        yield emit(start_ms, last_ms, n)
        return

    ts_ms: list[int] = []
    for pdf in pdfs:
        ts_ms.extend(
            int(t.value // 1_000_000) for t in pd.to_datetime(pdf["ts"])
        )
    ts_ms.sort()
    if state.exists:
        start_ms, last_ms, n = state.get
    else:
        start_ms = last_ms = ts_ms[0]
        n = 0
        ts_ms = ts_ms[:]
    for t in ts_ms:
        if n > 0 and t - last_ms >= _GAP_MS:
            yield emit(start_ms, last_ms, n)
            start_ms, n = t, 0
        last_ms = max(last_ms, t)
        n += 1
    state.update((start_ms, last_ms, n))
    state.setTimeoutTimestamp(last_ms + _GAP_MS)


@register(
    "E-STATEFUL",
    oracle="""
        WITH et AS (
            -- the replay serializes event times through JSON at
            -- millisecond precision — the processor sees ms-truncated ts
            SELECT event_id, user_id, date_trunc('milliseconds', ts) AS ts
            FROM events WHERE user_id < 30
        ), flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
            FROM et
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            -- (ts, event_id) tie-break matches flagged's window (ADVICE
            -- r13): two same-user events sharing an ms timestamp at a
            -- session boundary must accumulate in the order the flags
            -- were computed, or the session assignment is nondeterministic
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               date_trunc('second', min(ts)) AS session_start,
               date_trunc('second', max(ts)) AS last_event,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sessions GROUP BY user_id, sid
    """,
    doc="Custom stateful sessionization via applyInPandasWithState with "
        "event-time timeout (the CEP-style escape hatch; cf. HYPERSONIC, "
        "PAPERS.md). Golden answer = batch q_stream_session; equality on "
        "the replayed subset asserted in tests/test_streaming.py. "
        "Oracle-checked since r13: the sentinel row advances the final "
        "watermark a day past max(ts), firing every real user's terminal "
        "session timeout (the sentinel's own open session belongs to "
        "user -1, outside the user_id < 30 slice), so the streamed "
        "output is exactly the 30-min gaps-and-islands sessionization "
        "the oracle states — the q_stream_session oracle restricted to "
        "the replayed slice, over ms-truncated event times (what the "
        "JSON replay delivers).",
)
def e_stateful(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    src = write_replay_files(ev, n_buckets=6, sentinel=True)
    stream = read_replay_stream(spark, src)
    sessions = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=(
                "user_id LONG, session_start TIMESTAMP, "
                "last_event TIMESTAMP, n_events LONG"
            ),
            stateStructType="start_ms LONG, last_ms LONG, n LONG",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    out = run_to_memory(sessions, "e_stateful_sink", "append")
    # Second-truncated to match the batch golden (json replay is ms-precise).
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.date_trunc("second", "session_start").alias("session_start"),
        F.date_trunc("second", "last_event").alias("last_event"),
        "n_events",
    )


@register(
    "E-STREAM-JOIN",
    oracle="""
        WITH et AS (
            -- the replay harness serializes event times through JSON at
            -- millisecond precision; the stream (and therefore the join
            -- predicate) sees ms-truncated timestamps
            SELECT event_id, user_id, event_type,
                   date_trunc('milliseconds', ts) AS ts
            FROM events WHERE user_id < 30
        )
        SELECT p.event_id AS purchase_id, v.event_id AS view_id,
               p.user_id AS p_user, p.ts AS p_ts, v.ts AS v_ts
        FROM et p
        JOIN et v
          ON v.user_id = p.user_id
         AND v.ts <= p.ts
         AND v.ts >= p.ts - INTERVAL 1 HOUR
        WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
    doc="Stream-stream inner join with watermark bounds: purchases joined "
        "to views by the same user within the preceding hour — the "
        "streaming twin of q_join_range's interval semantics. "
        "Oracle-checked since r13: the replay delivers both sides from "
        "the SAME time-ordered buckets with no late channel, and the 2 h "
        "watermark exceeds the 1 h join range, so no match is ever "
        "evicted before its partner arrives — the streamed inner-join "
        "output equals the batch interval join, which the oracle states "
        "directly (the same equality tests/test_streaming.py asserts).",
)
def e_stream_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    src = write_replay_files(ev, n_buckets=6)
    stream = read_replay_stream(spark, src)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    views = (
        read_replay_stream(spark, src)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        F.expr(
            "p_user = v_user AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL 1 HOUR"
        ),
        "inner",
    ).select("purchase_id", "view_id", "p_user", "p_ts", "v_ts")
    return run_to_memory(joined, "e_stream_join_sink", "append")


def epoch_keyed_sink(out_dir: str):
    """Idempotent foreachBatch writer: epoch id keys the output path, so a
    replayed epoch overwrites its own prior attempt (no duplicates)."""
    def sink(bdf, epoch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    return sink


@register(
    "E-FOREACH-BATCH",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events WHERE user_id < 30
        GROUP BY event_type ORDER BY event_type
    """,
    doc="Oracle-checked since r13: the epoch-keyed sink is exactly-once, "
        "so reading the sink back yields precisely the source rows and "
        "the per-type counts equal the batch aggregation the oracle "
        "states directly (the same equality tests/test_streaming.py "
        "asserts, including after a hand-replayed epoch). "
        "Exactly-once idempotent sink via foreachBatch: each micro-batch "
        "is written to a path keyed by its epoch id, so a re-delivered "
        "epoch (Spark replays the batch after a sink failure — "
        "at-least-once delivery into the sink function) OVERWRITES its "
        "own previous attempt instead of duplicating rows. This epoch-id "
        "keying is the standard recipe for making a non-transactional "
        "sink effectively exactly-once. tests/test_streaming.py replays "
        "an epoch by hand and asserts counts are unchanged, and that the "
        "sink total equals the batch source.",
)
def e_foreach_batch(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    src = write_replay_files(ev, n_buckets=4)
    base = scratch_dir(spark, "foreach_batch", fresh=True)
    out_dir, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    sink = epoch_keyed_sink(out_dir)

    q = (
        read_replay_stream(spark, src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    sunk = spark.read.parquet(out_dir).drop("epoch")
    return (
        sunk.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


# transformWithStateInPandas (the Spark 4 successor stateful API with typed
# ValueState/timers) was evaluated here and deliberately NOT registered: its
# Python runner requires google.protobuf, which this container does not ship
# (verified: the streaming runner crashes with ImportError at init). The
# arbitrary-stateful contract is covered by E-STATEFUL's
# applyInPandasWithState sessionization; on an environment with protobuf the
# same processor pattern ports over with only the handle/state-API renames.


@register(
    "E-STREAM-STATIC",
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', e.ts) AS win_start,
               CASE WHEN c.c_acctbal >= 0 THEN 'solvent' ELSE 'overdrawn'
                    END AS segment,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events e
        JOIN customer c ON c.c_custkey = e.user_id
        WHERE e.user_id < 30
        GROUP BY 1, 2
    """,
    doc="Oracle-checked since r13 (VERDICT r12 #6): the sentinel flush "
        "row advances the final watermark a full day past max(ts), so "
        "EVERY window closes and the append-mode output equals the plain "
        "batch join+window aggregation — which the oracle states "
        "directly in SQL (the sentinel's user_id=-1 misses the inner "
        "join and can never appear). "
        "Stream-static enrichment join: the event stream joins a STATIC "
        "dimension (per-user segment derived from customer) inside the "
        "micro-batch plan — the canonical streaming-ETL enrichment shape. "
        "The static side needs no watermark and no stream state: Spark "
        "broadcasts it into every micro-batch like any dimension join, so "
        "state size stays zero regardless of stream length (contrast "
        "E-STREAM-JOIN, whose stream-stream state is watermark-bounded). "
        "Windowed counts per (segment, 1h window) come out in append mode "
        "after the watermark closes each window; "
        "tests/test_streaming.py asserts the result equals the batch "
        "computation of the same join + window.",
)
def e_stream_static(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    # sentinel: one flush row a day past max(ts) advances the watermark so
    # the final windows close; its user_id=-1 misses the dim (inner join)
    # and never reaches the output.
    src = write_replay_files(ev, n_buckets=6, sentinel=True)
    # Static dim: user segment from the customer table (user_id keys map
    # onto c_custkey residues in the fixture).
    seg = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 30)
        .select(
            F.col("c_custkey").alias("user_id"),
            F.when(F.col("c_acctbal") >= 0, "solvent")
            .otherwise("overdrawn")
            .alias("segment"),
        )
    )
    stream = read_replay_stream(spark, src).withWatermark("ts", "2 hours")
    enriched = stream.join(F.broadcast(seg), "user_id", "inner")
    agg = (
        enriched.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("segment")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("win_start"),
            "segment",
            "n_events",
        )
    )
    return run_to_memory(agg, "e_stream_static_sink", "append")


@register(
    "E-DEDUP-TTL",
    oracle="""
        SELECT event_id, event_type, value
        FROM events WHERE user_id < 30
    """,
    doc="Oracle-checked since r13: both duplicate channels are dropped "
        "(in-watermark copies by dedup state, stale re-deliveries as "
        "late data) and event_id is unique in the base table, so the "
        "streamed output is exactly the base event set — stated "
        "directly by the oracle; the same equality "
        "tests/test_streaming.py asserts. "
        "Streaming dedup with BOUNDED state — dropDuplicatesWithinWatermark "
        "(the TTL successor to plain streaming dropDuplicates, whose "
        "per-key state grows forever on an infinite stream): duplicate "
        "deliveries arriving WITHIN the 10-minute watermark are dropped by "
        "the dedup state; stale re-deliveries arriving after the watermark "
        "has passed their event time are discarded as late data — so the "
        "output is exactly the distinct event set while state size is "
        "bounded by the watermark window, the property that makes "
        "streaming dedup viable on an unbounded 100 TB/day feed.",
)
def e_dedup_ttl(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    # Channel 1: duplicate delivery at the SAME event time — lands in the
    # same replay bucket, well inside the watermark; dedup state drops it.
    inline_dup = ev.filter(F.col("event_id") % 7 == 0)
    # Channel 2: stale re-delivery — the whole month has streamed by the
    # time these arrive (last file), so the watermark has passed their
    # event times and they are discarded as late, never re-emitted.
    stale_dup = ev.filter(F.col("event_id") % 11 == 0)
    src = write_replay_files(
        ev.unionAll(inline_dup), n_buckets=6, late_rows=stale_dup
    )
    stream = read_replay_stream(spark, src)
    out = (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "value")
    )
    return run_to_memory(out, "e_dedup_ttl_sink", "append")
