"""Streaming-native declared keys — STR-01 / STR-05 (+STR-08) with REAL
Structured Streaming execution inside the driver's correctness window.

The batch-form keys (str_tw/str_sd/str_07/str_08 in combined.py and
relational.py) certify the *semantics* of each §2.8 row; these two keys
certify the *streaming machinery itself*: each callable spills the
events fixture into a watch directory as chronologically-ordered chunk
files, runs a genuine ``readStream`` query over them with
``maxFilesPerTrigger=1`` (so the replay is multi-micro-batch, not one
big batch) under ``trigger(availableNow=True)``, appends to a parquet
sink through a checkpoint, and returns the sink read back — so the
DuckDB oracle hash certifies what the streaming runtime actually wrote.

Reference anchors: the reference's continuous surfaces are the
/var/lib/aktin file-drop import volume (src/docker/template.yml:51) and
the PT1M broker poll loop (src/build.sh:255-256); STR-01/STR-05 are
their Structured Streaming upgrades per SURVEY.md §2.8.

Scale notes (100 TB posture):
- The file source lists incrementally and checkpoints consumed files —
  the same code runs against a cloud-storage landing zone; chunk count
  here is a fixture detail, not a design bound.
- str_05's state is bounded by the watermark: hourly windows × a 10-day
  late horizon caps the state store regardless of stream length.  The
  oracle encodes the watermark contract exactly: a window is emitted in
  append mode iff its end precedes the final watermark (max event time
  minus the delay), and every row whose disorder stays within the delay
  is counted — no loss, no duplication, across micro-batch boundaries.
"""

from __future__ import annotations

import datetime
import pathlib
import shutil
import tempfile
import threading

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..registry import QuerySpec
from ..session import local_frame

_EV_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def _spill_chunks(df: DataFrame, base: str, n_chunks: int,
                  halves: bool = False, name: str = "watch") -> str:
    """Write ``df`` into ``base/watch`` as single-file parquet chunks in
    chronological ntile order; file mtimes increase in arrival order so
    the file source replays them in sequence (one per trigger).

    With ``halves=True`` each chunk is split by event_id parity into two
    files that arrive in *separate* triggers — every hour's rows are
    torn across micro-batches, which is exactly the within-watermark
    disorder STR-05 must absorb losslessly.
    """
    from pyspark.sql.window import Window

    ranked = df.withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy("ts", "event_id")))
    if halves:
        ranked = ranked.withColumn("_half", F.pmod("event_id", F.lit(2)))
    watch = pathlib.Path(base) / name
    watch.mkdir(parents=True)
    drop_cols = ["_chunk"] + (["_half"] if halves else [])
    for i in range(1, n_chunks + 1):
        for h in ((0, 1) if halves else (None,)):
            cond = F.col("_chunk") == i
            if h is not None:
                cond = cond & (F.col("_half") == h)
            out = pathlib.Path(base) / f"{name}_c{i}_{h}"
            (ranked.filter(cond).drop(*drop_cols)
             .coalesce(1).write.mode("overwrite").parquet(str(out)))
            for j, p in enumerate(sorted(out.glob("*.parquet"))):
                shutil.copy(p, watch / f"{i:02d}_{h}_{j}.parquet")
    return str(watch)


def _materialized(df: DataFrame, base: str) -> DataFrame:
    """Snapshot ``df`` off the temp tree, then delete the tree.

    ``localCheckpoint(eager=True)`` computes the frame once and pins the
    partitions in executor block storage, cutting the lineage back to the
    parquet files under ``base`` — after which the whole mkdtemp tree
    (watch dir, chunk spills, sink, checkpoint) can be removed without
    invalidating the returned frame.  Distributed: no driver collect.
    """
    try:
        return df.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


#: serializes the shuffle-partition pin below: the session conf is
#: global, and the test suite runs declared keys from a thread pool —
#: without the lock two interleaved streaming runs could restore each
#: other's pinned value into the session.
_SINK_LOCK = threading.Lock()

#: per-thread stash of the most recent replay's progress (ADVICE r7:
#: a single shared module attribute was last-writer-wins across the
#: test pool's concurrent replays; thread-local keys the stash to the
#: thread that ran the builder, which is also the thread that reads
#: it — fn(...).count() then last_replay_progress() in bench/tests)
_REPLAY_PROGRESS = threading.local()

#: Spark gives the Python process that plans a Python DataSource stream
#: a fixed 10 s to connect back (PythonWorkerFactory.createSimpleWorker).
#: On an oversubscribed host the query can die in INITIALIZING on that
#: timeout before it plans a single batch; such a start is retried —
#: no offset was logged, so the restart replays the stream from scratch.
_CONNECT_BACK = "Python worker failed to connect back"
_START_ATTEMPTS = 5


def await_query(start):
    """Run ``start()`` (which starts a streaming query) and await the
    query's termination; return the finished query.  A start that dies
    on the connect-back timeout before logging progress is started
    again, at most ``_START_ATTEMPTS`` times; any other failure raises."""
    for attempt in range(1, _START_ATTEMPTS + 1):
        q = start()
        try:
            q.awaitTermination()
            return q
        except StreamingQueryException as e:
            if (_CONNECT_BACK not in str(e) or q.recentProgress
                    or attempt == _START_ATTEMPTS):
                raise


def last_replay_progress() -> list[dict]:
    """Progress dicts of the replay most recently run BY THIS THREAD
    (raises if none ran here — reading another thread's replay was
    exactly the race this replaces)."""
    return _REPLAY_PROGRESS.progress


def start_append_sink(df: DataFrame, base: str):
    """Start ``df`` as an append-mode availableNow query into a
    checkpointed parquet sink under ``base`` and await termination;
    returns the finished StreamingQuery (its handle still explains the
    last micro-batch plan — the plans report uses that).

    Streaming disables AQE, so the state-store partition count is the
    raw ``spark.sql.shuffle.partitions`` at query start (then frozen
    into the checkpoint).  On a driver-owned session that defaults to
    200 — 200 state tasks per micro-batch for a fixture-sized stream —
    so pin a bounded count for the query and restore the caller's value
    after.  At real scale the state partition count is a capacity
    choice made once per pipeline, not inherited from batch defaults.
    """
    spark = df.sparkSession

    def run():
        q = await_query(lambda: (
            df.writeStream.format("parquet")
            .option("path", f"{base}/sink")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append").trigger(availableNow=True).start()))
        # stash the replay's progress (micro-batch count + state-store
        # rows/memory per stateOperator) for the bench's streaming
        # scale lane — thread-local so concurrent pool replays can't
        # overwrite each other's evidence (last_replay_progress)
        _REPLAY_PROGRESS.progress = _progress_dicts(q)
        return q

    # read the conf UNDER the lock: the slow path below holds the lock
    # for its whole pin window, so a locked read can never observe a
    # concurrent thread's temporary '8' and mistake it for the
    # session-wide setting (the TOCTOU an unlocked read would have)
    _SINK_LOCK.acquire()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if int(prev) <= 8:
        # already pinned session-wide (the tests session runs at 8):
        # no conf churn needed, so replays from concurrent sweep
        # threads can run WITHOUT the lock — serializing latency-bound
        # availableNow replays was the r7 suite's wall-clock bottleneck
        _SINK_LOCK.release()
        return run()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        return run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        _SINK_LOCK.release()


def _progress_dicts(q) -> list[dict]:
    """q.recentProgress normalized to plain dicts (PySpark returns
    JSON strings on some versions, objects on others)."""
    import json as _json
    out = []
    for p in (q.recentProgress or []):
        if isinstance(p, str):
            out.append(_json.loads(p))
        elif isinstance(p, dict):
            out.append(p)
        else:                      # StreamingQueryProgress object
            out.append(_json.loads(p.json))
    return out


def state_metrics(progress: list[dict]) -> dict:
    """Aggregate state-store evidence over a replay's micro-batches:
    the peak buffered row count / memory across state operators, total
    evictions (rows removed when the watermark passed their horizon),
    and the micro-batch count.  This is the 100 TB streaming claim made
    measurable: bounded state ⇔ peak rows track the watermark horizon,
    not the stream length."""
    rows_max = mem_max = removed = 0
    for p in progress:
        for op in p.get("stateOperators", []) or []:
            rows_max = max(rows_max, int(op.get("numRowsTotal", 0) or 0))
            mem_max = max(mem_max, int(op.get("memoryUsedBytes", 0) or 0))
            removed += int(op.get("numRowsRemoved", 0) or 0)
    return {"state_rows_max": rows_max, "state_mem_max_bytes": mem_max,
            "state_rows_removed": removed, "micro_batches": len(progress)}


def _run_to_parquet(df: DataFrame, base: str) -> DataFrame:
    """start_append_sink + the committed sink read back."""
    start_append_sink(df, base)
    return df.sparkSession.read.parquet(f"{base}/sink")


def str01_stream(spark: SparkSession, sf: str, base: str) -> DataFrame:
    """The unstarted STR-01 streaming frame (file source over spilled
    chunks + broadcast enrich) — shared by the declared key and the
    plans report, which starts it with its own sink to capture the
    executed micro-batch plan."""
    ev = catalog.load(spark, sf, "events").select(*_EV_COLS)
    cls = (F.when(F.col("event_type").isin("click", "view"), "interaction")
            .when(F.col("event_type").isin("purchase", "signup"), "conversion")
            .otherwise("fault"))
    # static side computed batch-side (robust to the fixture's type set)
    dim = ev.select("event_type").distinct().withColumn("concept_class", cls)
    watch = _spill_chunks(ev, base, 3)
    src = (spark.readStream.format("parquet").schema(ev.schema)
           .option("maxFilesPerTrigger", "1").load(watch))
    assert src.isStreaming
    return src.join(F.broadcast(dim), "event_type", "inner")


def str05_stream(spark: SparkSession, sf: str, base: str) -> DataFrame:
    """The unstarted STR-05 streaming frame (10 torn chunks, hourly
    tumbling counts behind a 10-day watermark)."""
    ev = catalog.load(spark, sf, "events").select(*_EV_COLS)
    watch = _spill_chunks(ev, base, 5, halves=True)
    src = (spark.readStream.format("parquet").schema(ev.schema)
           .option("maxFilesPerTrigger", "1").load(watch))
    assert src.isStreaming
    # withWatermark requires LTZ event time; the session zone is pinned
    # UTC (session.py) so NTZ→LTZ is a pure reinterpretation, reversed
    # on the window start for oracle parity.
    return (src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
            .withWatermark("ts_ltz", "10 days")
            .groupBy(F.window("ts_ltz", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").cast("timestamp_ntz").alias("ws"),
                    "n"))


def str11_stream(spark: SparkSession, sf: str, base: str,
                 how: str = "inner") -> DataFrame:
    """The unstarted STR-11 stream–stream join frame: interactions and
    conversions arrive as two INDEPENDENT file streams (separate watch
    dirs, separate chunk sequences), each watermarked, inner-joined per
    user under a 2-hour event-time correlation bound.

    This is the attribution shape (request↔response, click↔purchase,
    order↔result-upload in the broker flow): neither side is static, so
    the join must buffer both sides in the state store.  The event-time
    range condition plus BOTH watermarks is what bounds that state at
    100 TB — each side retires rows once the other side's watermark
    passes its correlation horizon; without the bound the state grows
    with the stream.  Matches landing in different micro-batches (the
    two sources advance one file per trigger independently) certify the
    cross-batch stateful join, not just per-batch co-occurrence.
    """
    ev = catalog.load(spark, sf, "events").select(*_EV_COLS)
    inter = ev.filter(F.col("event_type").isin("click", "view"))
    conv = ev.filter(F.col("event_type").isin("purchase", "signup"))
    watch_a = _spill_chunks(inter, base, 3, name="watch_a")
    watch_b = _spill_chunks(conv, base, 3, name="watch_b")

    def side(watch, prefix):
        src = (spark.readStream.format("parquet").schema(ev.schema)
               .option("maxFilesPerTrigger", "1").load(watch))
        assert src.isStreaming
        return (src.select(
                    F.col("event_id").alias(f"{prefix}_id"),
                    F.col("user_id").alias(f"{prefix}_user"),
                    F.col("ts").cast("timestamp").alias(f"{prefix}_ts"))
                .withWatermark(f"{prefix}_ts", "10 days"))

    a, b = side(watch_a, "a"), side(watch_b, "b")
    return (a.join(b, F.expr(
                "a_user = b_user AND "
                "b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 2 HOURS"), how)
             .select(F.col("a_id"), F.col("b_id"),
                     F.col("a_user").alias("user_id"),
                     F.col("a_ts").cast("timestamp_ntz").alias("a_ts"),
                     F.col("b_ts").cast("timestamp_ntz").alias("b_ts")))


def str_11(spark: SparkSession, sf: str) -> DataFrame:
    """STR-11 stream–stream interval join, streaming-native: both sides
    replayed file-by-file through independent readStream sources, joined
    statefully across micro-batches, appended to a parquet sink.  Oracle
    = the same interval join in batch SQL — a hash match proves the
    stateful buffering matched batch inner-join semantics exactly (no
    match lost to a premature state eviction, none duplicated across
    triggers)."""
    base = tempfile.mkdtemp(prefix="spark_str11_")
    try:
        joined = str11_stream(spark, sf, base)
        snap = _materialized(_run_to_parquet(joined, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("a_id", "b_id")


_STR_11_ORACLE = """
SELECT a.event_id AS a_id, b.event_id AS b_id,
       a.user_id, a.ts AS a_ts, b.ts AS b_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
WHERE a.event_type IN ('click', 'view')
  AND b.event_type IN ('purchase', 'signup')
ORDER BY a_id, b_id
"""


def str_12(spark: SparkSession, sf: str) -> DataFrame:
    """STR-12 stream–stream LEFT OUTER interval join — the outer-join
    watermark contract made hash-observable, the way str_05 does it
    for windowed aggregation.

    Semantics under append-mode replay: matched pairs emit eagerly
    (inner-join behavior); an UNMATCHED left row emits with nulls only
    when the join state evicts it — i.e. once the global watermark
    passes its correlation horizon (a_ts + 2h < final watermark).
    Left rows the stream ends on while still inside the horizon are
    NEVER emitted (state dies with the query) — the classic
    outer-stream-join pitfall, stated here as the contract and encoded
    in the oracle's WHERE clause rather than papered over.  The global
    watermark is min(max_a, max_b) − 10 days because Spark advances a
    multi-source query's watermark by its slowest input.
    """
    base = tempfile.mkdtemp(prefix="spark_str12_")
    try:
        joined = str11_stream(spark, sf, base, how="left_outer")
        snap = _materialized(_run_to_parquet(joined, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("a_id", F.col("b_id").asc_nulls_last())


_STR_12_ORACLE = """
WITH a AS (
  SELECT event_id AS a_id, user_id, ts AS a_ts FROM events
  WHERE event_type IN ('click', 'view')),
b AS (
  SELECT event_id AS b_id, user_id, ts AS b_ts FROM events
  WHERE event_type IN ('purchase', 'signup')),
wm AS (
  SELECT LEAST((SELECT max(a_ts) FROM a), (SELECT max(b_ts) FROM b))
         - INTERVAL 10 DAY AS w),
matched AS (
  SELECT a.a_id, b.b_id, a.user_id, a.a_ts, b.b_ts
  FROM a JOIN b ON a.user_id = b.user_id
   AND b.b_ts >= a.a_ts AND b.b_ts <= a.a_ts + INTERVAL 2 HOUR),
unmatched AS (
  SELECT a.a_id, CAST(NULL AS BIGINT) AS b_id, a.user_id, a.a_ts,
         CAST(NULL AS TIMESTAMP) AS b_ts
  FROM a, wm
  WHERE a.a_id NOT IN (SELECT a_id FROM matched)
    AND a.a_ts + INTERVAL 2 HOUR < wm.w)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
ORDER BY a_id, b_id NULLS LAST
"""


def str13_stream(spark: SparkSession, sf: str, base: str) -> DataFrame:
    """The unstarted STR-13 frame: gap-based sessionization through
    applyInPandasWithState with EVENT-TIME timeouts — the stateful
    operator str_07 demonstrates, now driven by the real timer
    machinery instead of inline closes only.  A session emits when a
    later event opens the next one (inline) or when the watermark
    passes last_event + gap (timer); per-user state is one open
    session, bounded regardless of stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming.stateful import (SESS_OUTPUT_SCHEMA,
                                      SESS_STATE_SCHEMA, session_tracker)

    ev = catalog.load(spark, sf, "events").select(*_EV_COLS)
    watch = _spill_chunks(ev, base, 5, name="watch13")
    src = (spark.readStream.format("parquet").schema(ev.schema)
           .option("maxFilesPerTrigger", "1").load(watch))
    assert src.isStreaming
    stream = (src.withColumn("ts", F.col("ts").cast("timestamp"))
                 .withWatermark("ts", "1 hour")
                 .select("user_id", "ts", "event_id"))
    out = (stream.groupBy("user_id")
           .applyInPandasWithState(session_tracker, SESS_OUTPUT_SCHEMA,
                                   SESS_STATE_SCHEMA, "append",
                                   GroupStateTimeout.EventTimeTimeout))
    return out.select(
        "user_id",
        F.date_trunc("second", F.timestamp_micros("start_us"))
         .cast("timestamp_ntz").alias("sess_start"),
        "n_events")


def str_13(spark: SparkSession, sf: str) -> DataFrame:
    """STR-13 stateful sessionization with event-time timers,
    streaming-native: 5 chronological chunks, one per trigger; the
    committed sink holds every session closed inline by a successor
    plus every tail session whose gap horizon the final watermark
    passed.  Oracle = str_04's gaps-and-islands sessions filtered by
    exactly that emission rule."""
    base = tempfile.mkdtemp(prefix="spark_str13_")
    try:
        sessions = str13_stream(spark, sf, base)
        snap = _materialized(_run_to_parquet(sessions, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("user_id", "sess_start", "n_events")


_STR_13_ORACLE = """
WITH w AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
b AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) IS NULL
                OR ts >= lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
                     + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS ns
  FROM events),
s AS (SELECT user_id, ts,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS seq
      FROM b),
g AS (SELECT user_id, seq,
             CAST(date_trunc('second', min(ts)) AS TIMESTAMP)
               AS sess_start,
             max(ts) AS last_ts, count(*) AS n_events
      FROM s GROUP BY 1, 2),
m AS (SELECT user_id, max(seq) AS mx FROM g GROUP BY 1)
SELECT user_id, sess_start, n_events
FROM g JOIN m USING (user_id), w
WHERE seq < mx OR last_ts + INTERVAL 30 MINUTE < wm
ORDER BY user_id, sess_start, n_events
"""


#: acceptance band for str_15's sketch (agg_03's 5·rsd discipline;
#: approx_count_distinct default rsd ≈ 0.05, still exact in sparse
#: mode at fixture cardinalities — the hash certifies the streaming
#: sketch plumbing, the bound keeps the check real if fixtures grow)
_STR15_RSD = 0.05


def str15_stream(spark: SparkSession, sf: str, base: str) -> DataFrame:
    """The unstarted STR-15 frame: hourly distinct-user counts with the
    HLL SKETCH living in the streaming state store — the 100 TB shape
    for per-window cardinality (an exact distinct would buffer every
    user id per window; the sketch keeps state at bytes-per-window,
    and partial sketches merge across micro-batches exactly like
    fed_hll's site merge)."""
    ev = catalog.load(spark, sf, "events").select(*_EV_COLS)
    watch = _spill_chunks(ev, base, 5, name="watch15")
    src = (spark.readStream.format("parquet").schema(ev.schema)
           .option("maxFilesPerTrigger", "1").load(watch))
    assert src.isStreaming
    return (src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
            .withWatermark("ts_ltz", "10 days")
            .groupBy(F.window("ts_ltz", "1 hour").alias("w"))
            .agg(F.approx_count_distinct("user_id").alias("apx"))
            .select(F.col("w.start").cast("timestamp_ntz").alias("ws"),
                    "apx"))


def str_15(spark: SparkSession, sf: str) -> DataFrame:
    """STR-15 windowed approximate distinct, streaming-native: the
    committed sink holds one sketch estimate per watermark-finalized
    hour (str_05's append contract); the declared result joins the
    batch-side EXACT distinct per emitted window and certifies
    |apx − exact| ≤ 5·rsd·exact as a hashed boolean (the agg_03 /
    fed_hll bounded-self-check pattern — the oracle states TRUE, so
    the hash proves the streamed sketch stayed inside the band)."""
    base = tempfile.mkdtemp(prefix="spark_str15_")
    try:
        est = str15_stream(spark, sf, base)
        snap = _materialized(_run_to_parquet(est, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    ev = catalog.load(spark, sf, "events")
    exact = (ev.groupBy(F.date_trunc("hour", "ts").alias("ws"))
             .agg(F.countDistinct("user_id").alias("exact_users")))
    return (snap.join(exact, "ws")
            .select("ws", "exact_users",
                    (F.abs(F.col("apx") - F.col("exact_users"))
                     <= 5 * _STR15_RSD * F.col("exact_users"))
                    .alias("within_bound"))
            .orderBy("ws"))


_STR_15_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
       count(DISTINCT user_id) AS exact_users, TRUE AS within_bound
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT max(ts) - INTERVAL 10 DAY FROM events)
GROUP BY 1 ORDER BY 1
"""


#: str_16 duplicate plant: every DUP_STRIDE-th event from the last
#: DUP_RECENT_DAYS of the stream is re-delivered in a final extra file
#: (at-least-once delivery).  Recency keeps the planted keys' dedup
#: state provably LIVE when the re-delivery arrives (state for key k
#: is retired once the watermark passes ts(k) + delay — duplicating
#: only events with ts ≥ max_ts − 5 d under a 10-day delay guarantees
#: no planted dup ever races its own eviction), while the 30-day
#: fixture span still lets the watermark retire OLDER keys during the
#: replay — bounded state AND guaranteed dedup, both by construction.
STR16_DUP_STRIDE = 3
STR16_DUP_RECENT_DAYS = 5


def str16_stream(spark: SparkSession, sf: str, base: str) -> DataFrame:
    """The unstarted STR-16 frame: dropDuplicatesWithinWatermark over
    a replay with planted at-least-once re-deliveries — the exactly-
    once-ingest verb every landing pipeline needs (the reference's
    file-drop import volume re-delivers on retry,
    src/docker/template.yml:51).  State is keyed by event_id and
    retired by the watermark — bytes per in-horizon key, never
    stream-length state (the STR-06 batch form's contract, now run on
    the real state store)."""
    ev = catalog.load(spark, sf, "events").select(*_EV_COLS)
    watch = _spill_chunks(ev, base, 5, name="watch16")
    cut = (ev.agg(F.max("ts")).first()[0]
           - datetime.timedelta(days=STR16_DUP_RECENT_DAYS))
    dups = ev.filter((F.col("ts") >= F.lit(cut))
                     & (F.col("event_id") % STR16_DUP_STRIDE == 0))
    out = pathlib.Path(base) / "watch16_dups"
    dups.coalesce(1).write.mode("overwrite").parquet(str(out))
    for j, p in enumerate(sorted(out.glob("*.parquet"))):
        shutil.copy(p, pathlib.Path(watch) / f"99_redeliver_{j}.parquet")
    src = (spark.readStream.format("parquet").schema(ev.schema)
           .option("maxFilesPerTrigger", "1").load(watch))
    assert src.isStreaming
    return (src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
            .withWatermark("ts_ltz", "10 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select(*_EV_COLS))


def str_16(spark: SparkSession, sf: str) -> DataFrame:
    """STR-16 streaming exactly-once dedup, streaming-native: the
    committed sink holds each event exactly once even though every
    planted key was delivered twice across micro-batches; the oracle
    is the CLEAN events selection, so the hash certifies both no-loss
    (every event emitted) and no-duplication (every re-delivery
    dropped) through the real state store."""
    base = tempfile.mkdtemp(prefix="spark_str16_")
    try:
        deduped = str16_stream(spark, sf, base)
        snap = _materialized(_run_to_parquet(deduped, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("event_id")


_STR_16_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


# ------------------------------------------- str_17 streaming Count-Min

#: streaming CMS geometry: the maintained store is ≤ D·W rows — BYTES
#: of state no matter how long the stream runs (the whole point of a
#: mergeable sketch on an unbounded stream)
STR17_D = 4
STR17_W = 256
#: fixed probe user ids — constants so both engines probe identical
#: cells (present or absent in the fixture, both arms deterministic)
STR17_QUERY_IDS = (0, 1, 2, 3, 5, 8, 13)
STR17_SLACK = 4.0


def _cms17_cell(uid_col, d_col, w: int = STR17_W):
    """md5-derived CMS cell for (user_id, hash-row d) — the cms_01
    integer-bits discipline, so DuckDB probes the identical cell."""
    return (F.conv(F.substring(
        F.md5(F.concat_ws("|", uid_col.cast("string"),
                          d_col.cast("string"))), 1, 6), 16, 10)
            .cast("long") % w)


def make_sketch_applier(store_path: str, w: int = STR17_W):
    """foreachBatch applier maintaining the merged Count-Min sketch:
    each micro-batch reduces to a PARTIAL sketch (groupBy (d, cell)
    count — map-side combinable, ≤ D·W rows regardless of batch
    size), which sums into the store.  Addition commutes, so ANY
    split of the stream converges to the batch sketch — the fed_hll
    site-merge algebra driven by a stream.  Batch-id idempotent via
    the ivm_02 marker discipline (retried micro-batches are no-ops
    under foreachBatch's at-least-once contract)."""
    import os as _os

    from ..functions.barrier import materialize

    marker = store_path.rstrip("/") + ".last_batch"

    def apply_sketch(batch: DataFrame, batch_id: int) -> None:
        try:
            with open(marker) as f:
                last = int(f.read())
        except (OSError, ValueError):
            last = -1
        if batch_id <= last:        # retried batch: already applied
            return
        rows = batch.select(
            "user_id",
            F.explode(F.array(*[F.lit(i) for i in range(STR17_D)]))
             .alias("d"))
        part = (rows.groupBy(
                    "d", _cms17_cell(F.col("user_id"), F.col("d"), w)
                         .alias("w"))
                    .agg(F.count("*").alias("c")))
        cur = batch.sparkSession.read.parquet(store_path)
        merged = materialize(
            cur.unionByName(part.select("d", "w",
                                        F.col("c").cast("long")
                                         .alias("c")))
               .groupBy("d", "w").agg(F.sum("c").alias("c")))
        merged.write.mode("overwrite").parquet(store_path)
        tmp = f"{marker}.tmp.{_os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        _os.replace(tmp, marker)    # atomic on POSIX

    return apply_sketch


def str17_sketch(spark: SparkSession, sf: str, base: str,
                 n_chunks: int = 5, w: int = STR17_W) -> DataFrame:
    """Replay the event stream in ``n_chunks`` micro-batches through
    the sketch applier; return the maintained (d, w, c) store."""
    ev = catalog.load(spark, sf, "events").select(*_EV_COLS)
    watch = _spill_chunks(ev, base, n_chunks, name="watch17")
    store = f"{base}/sketch17"
    local_frame(spark, [], "d int, w bigint, c bigint") \
        .write.mode("overwrite").parquet(store)
    src = (spark.readStream.format("parquet").schema(ev.schema)
           .option("maxFilesPerTrigger", "1").load(watch))
    assert src.isStreaming
    q = (src.writeStream.foreachBatch(make_sketch_applier(store, w))
         .option("checkpointLocation", f"{base}/ckpt17")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(store)


def str_17(spark: SparkSession, sf: str) -> DataFrame:
    """STR-17 streaming Count-Min frequency sketch: per-micro-batch
    partial sketches merged into a D×W counter store by exact integer
    addition — state stays ≤ D·W rows for ANY stream length, the
    mergeable-sketch answer to "how often has key k occurred, ever"
    on an unbounded stream (exact per-key counts would need unbounded
    state).  After the replay, fixed probe ids are estimated from the
    maintained store and certified against the batch-exact counts:
    est ≥ exact (CMS never undercounts) and est ≤ exact + slack·
    (e/W)·N — and because addition commutes, the streamed counters
    EQUAL the batch sketch's, so the oracle recomputes the whole
    thing in SQL and the hash certifies streamed ≡ batch, not just
    the bounds."""
    import math

    base = tempfile.mkdtemp(prefix="spark_str17_")
    try:
        sketch = _materialized(str17_sketch(spark, sf, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    ev = catalog.load(spark, sf, "events")
    ids = local_frame(spark, [(int(i),) for i in STR17_QUERY_IDS],
                      "user_id bigint")
    probes = ids.select(
        "user_id",
        F.explode(F.array(*[F.lit(i) for i in range(STR17_D)]))
         .alias("d"))
    probes = probes.select(
        "user_id", "d",
        _cms17_cell(F.col("user_id"), F.col("d")).alias("w"))
    est = (probes.join(sketch, ["d", "w"], "left")
           .groupBy("user_id")
           .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long")))
                 .alias("est")))
    exact = (ev.groupBy("user_id").agg(F.count("*").alias("exact"))
             .join(ids, "user_id", "right")
             .select("user_id",
                     F.coalesce("exact", F.lit(0).cast("long"))
                      .alias("exact")))
    n_total = ev.agg(F.count("*").alias("n_total"))
    eps = STR17_SLACK * math.e / STR17_W
    return (est.join(exact, "user_id").crossJoin(F.broadcast(n_total))
            .select("user_id", "exact", "est",
                    (F.col("est") >= F.col("exact")).alias("ge_exact"),
                    (F.col("est") <= F.col("exact")
                     + F.lit(eps) * F.col("n_total"))
                    .alias("within_bound"))
            .orderBy("user_id"))


def _str17_oracle() -> str:
    import math

    eps = STR17_SLACK * math.e / STR17_W
    qlist = ", ".join(str(i) for i in STR17_QUERY_IDS)
    cell = ("CAST(('0x' || substr(md5(CAST({u} AS VARCHAR) || '|' || d),"
            " 1, 6)) AS BIGINT) % " + str(STR17_W))
    return f"""
WITH sketch AS (
  SELECT d, {cell.format(u='user_id')} AS w, count(*) AS c
  FROM events CROSS JOIN (SELECT unnest(range({STR17_D})) AS d) x
  GROUP BY 1, 2),
q AS (SELECT CAST(unnest([{qlist}]) AS BIGINT) AS user_id),
probes AS (
  SELECT q.user_id, x.d, {cell.format(u='q.user_id')} AS w
  FROM q CROSS JOIN (SELECT unnest(range({STR17_D})) AS d) x),
est AS (
  SELECT p.user_id, min(COALESCE(s.c, 0)) AS est
  FROM probes p LEFT JOIN sketch s ON s.d = p.d AND s.w = p.w
  GROUP BY 1),
exact AS (
  SELECT q.user_id, COALESCE(e.c, 0) AS exact
  FROM q LEFT JOIN (SELECT user_id, count(*) AS c
                    FROM events GROUP BY 1) e
       ON e.user_id = q.user_id),
tot AS (SELECT count(*) AS n_total FROM events)
SELECT est.user_id, exact, est,
       est >= exact AS ge_exact,
       est <= exact + {eps} * n_total AS within_bound
FROM est JOIN exact ON est.user_id = exact.user_id CROSS JOIN tot
ORDER BY est.user_id
"""


_STR_17_ORACLE = _str17_oracle()


# ---------------------------------- STR-18: streaming heavy hitters (MG)

#: Misra–Gries summary capacity — DELIBERATELY below the fixture's
#: distinct-user count (50 at sf0.01) so the pruning step really runs;
#: the MG guarantee (undercount ≤ N/K per item, every item with
#: frequency > N/K survives ANY batch split) needs θ > 1/K
STR18_K = 32
#: heavy-hitter threshold (share of total stream): at sf0.01 the
#: planted users sit at ~6.3%/5.3%, natural uniform users at ~0.6%,
#: the MG error floor at 1/(K+1) ≈ 3.0% — θ separates all bands (at
#: sf0.001 the fixture has only 15 users, so EVERY user clears θ —
#: the output is still ≡ the batch answer, just not selective)
STR18_THETA = 0.04
#: planted heavy users enter the stream STR18_COPIES+1 times (the
#: fixture is uniform — without a plant no sf0.01 user is heavy and
#: the operator certifies nothing, the dq_01/pii_01 pattern); ids
#: chosen < 15 so BOTH exist at every fixture incl. sf0.001's
#: 15-user universe
STR18_PLANT = (8, 11)
STR18_COPIES = 8


def _str18_stream(ev: DataFrame) -> DataFrame:
    plant = (ev.filter(F.col("user_id").isin(*STR18_PLANT))
               .withColumn("_rep", F.explode(F.array(
                   *[F.lit(i) for i in range(STR18_COPIES)])))
               .drop("_rep"))
    return ev.unionByName(plant)


def make_mg_applier(store_path: str, k: int = STR18_K):
    """foreachBatch applier maintaining a merged Misra–Gries summary:
    each micro-batch reduces to per-user counts (map-side combinable),
    sums into the store, then the MG prune subtracts the (k+1)-th
    largest count from every counter and drops the non-positive —
    state ≤ k rows for ANY stream length.  The prune threshold is ONE
    control-plane scalar over the summary-sized merged frame (≤ k +
    batch-distinct rows).  Merging MG summaries by count addition
    then pruning preserves the guarantee: total undercount per item
    ≤ N/(k+1), so every item with share > 1/(k+1) is STILL in the
    summary after any split of the stream — which is what lets the
    exact verify pass certify the final answer deterministically.
    Batch-id idempotent via the ivm_02 marker discipline."""
    import os as _os

    from ..functions.barrier import materialize

    marker = store_path.rstrip("/") + ".last_batch"

    def apply_mg(batch: DataFrame, batch_id: int) -> None:
        try:
            with open(marker) as f:
                last = int(f.read())
        except (OSError, ValueError):
            last = -1
        if batch_id <= last:
            return
        part = batch.groupBy("user_id").agg(F.count("*").alias("c"))
        cur = batch.sparkSession.read.parquet(store_path)
        merged = materialize(
            cur.unionByName(part.select("user_id",
                                        F.col("c").cast("long")
                                         .alias("c")))
               .groupBy("user_id").agg(F.sum("c").alias("c")))
        # (k+1)-th largest count — 0 when the summary still fits
        kth = (merged.orderBy(F.desc("c"), "user_id")
                     .limit(k + 1).orderBy(F.asc("c")).limit(1)
                     .collect())
        t = int(kth[0]["c"]) if merged.count() > k else 0
        pruned = (merged.select("user_id",
                                (F.col("c") - F.lit(t)).alias("c"))
                        .filter(F.col("c") > 0))
        pruned.write.mode("overwrite").parquet(store_path)
        tmp = f"{marker}.tmp.{_os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        _os.replace(tmp, marker)

    return apply_mg


def str18_summary(spark: SparkSession, sf: str, base: str,
                  n_chunks: int = 5, k: int = STR18_K) -> DataFrame:
    """Replay the planted event stream in micro-batches through the
    MG applier; return the maintained (user_id, c) summary (≤ k
    rows)."""
    ev = _str18_stream(
        catalog.load(spark, sf, "events").select(*_EV_COLS))
    watch = _spill_chunks(ev, base, n_chunks, name="watch18")
    store = f"{base}/mg18"
    local_frame(spark, [], "user_id bigint, c bigint") \
        .write.mode("overwrite").parquet(store)
    src = (spark.readStream.format("parquet").schema(ev.schema)
           .option("maxFilesPerTrigger", "1").load(watch))
    assert src.isStreaming
    q = (src.writeStream.foreachBatch(make_mg_applier(store, k))
         .option("checkpointLocation", f"{base}/ckpt18")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(store)


def str_18(spark: SparkSession, sf: str) -> DataFrame:
    """STR-18 streaming heavy hitters: all-time heavy users on an
    unbounded stream with O(K) state — a Misra–Gries summary
    maintained per micro-batch (state ≤ STR18_K rows no matter the
    stream length), then ONE exact verify pass over the summary's
    candidates (the hh_01 two-pass discipline driven by a stream).

    The MG guarantee makes the output split-deterministic: every user
    with share > 1/(K+1) is in the final summary for ANY micro-batch
    split, so the θ-filtered exact counts equal the plain batch
    answer and the oracle states it in SQL — the summary is
    load-bearing in the hash (a lost candidate loses an output row),
    not just bounded."""
    base = tempfile.mkdtemp(prefix="spark_str18_")
    try:
        summary = _materialized(str18_summary(spark, sf, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    ev = _str18_stream(
        catalog.load(spark, sf, "events").select(*_EV_COLS))
    exact = (ev.groupBy("user_id").agg(F.count("*").alias("n"))
               .join(summary.select("user_id"), "user_id", "semi"))
    n_total = ev.agg(F.count("*").alias("n_total"))
    return (exact.crossJoin(F.broadcast(n_total))
            .filter(F.col("n") >= F.lit(STR18_THETA) * F.col("n_total"))
            .select("user_id", "n",
                    F.round(F.col("n") / F.col("n_total"), 4)
                     .alias("share"))
            .orderBy("user_id"))


def _str18_oracle() -> str:
    plist = ", ".join(str(u) for u in STR18_PLANT)
    copies = STR18_COPIES
    return f"""
WITH s AS (
  SELECT user_id FROM events
  UNION ALL
  SELECT user_id FROM events
  CROSS JOIN (SELECT unnest(range({copies})) AS r)
  WHERE user_id IN ({plist})),
c AS (SELECT user_id, count(*) AS n FROM s GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM s)
SELECT user_id, n, ROUND(n / CAST(n_total AS DOUBLE), 4) AS share
FROM c CROSS JOIN tot
WHERE n >= {STR18_THETA} * n_total
ORDER BY user_id
"""


_STR_18_ORACLE = _str18_oracle()


def str_19(spark: SparkSession, sf: str) -> DataFrame:
    """STR-19 streaming ingest FROM the transactional table
    (sources/txnstream — a Spark 4 Python DataSource): the commit log
    IS the stream.  Offsets are commit versions; each micro-batch
    reads exactly the data files the tailed commits added (Delta's
    streaming-source design on the same txnlog protocol ups_02/ivm_03
    write through), executor-parallel per file via Arrow batches, and
    every row carries the commit version that added it.

    The table is built as three appended slices (v0 create, v1/v2
    appends); the oracle recomputes the slice → version assignment in
    SQL, so the hash certifies no loss, no duplication, and
    log-faithful version tagging.  Only COMMITTED files are visible —
    a crashed writer's staged orphan never reaches the stream, and a
    rewriting commit raises (append-only source; both pinned in
    tests/test_txnlog.py)."""
    from ..sources import txnlog
    from ..sources import txnstream as _txnstream

    base = tempfile.mkdtemp(prefix="spark_str19_")
    try:
        path = base + "/tbl"
        vis = catalog.visit_dimension(spark, sf).select(
            "encounter_num", "patient_num", "inout_cd")
        txnlog.create_table(
            spark, vis.filter(F.col("encounter_num") < 200), path,
            key="encounter_num")
        txnlog.append(
            spark, vis.filter((F.col("encounter_num") >= 200)
                              & (F.col("encounter_num") < 350)),
            path, key="encounter_num")
        txnlog.append(
            spark, vis.filter((F.col("encounter_num") >= 350)
                              & (F.col("encounter_num") < 450)),
            path, key="encounter_num")
        _txnstream.register(spark)
        stream = (spark.readStream.format("txnlog_stream")
                  .option("path", path).load()
                  .withColumnRenamed("_commit_version", "commit_version"))
        snap = _materialized(_run_to_parquet(stream, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("encounter_num")


def _str19_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """,
vis AS (SELECT encounter_num, patient_num, inout_cd
        FROM visit_dimension)
SELECT encounter_num, patient_num, inout_cd,
       CAST(CASE WHEN encounter_num < 200 THEN 0
                 WHEN encounter_num < 350 THEN 1
                 ELSE 2 END AS BIGINT) AS commit_version
FROM vis WHERE encounter_num < 450
"""


_STR_19_ORACLE = _str19_oracle()


def str_21(spark: SparkSession, sf: str) -> DataFrame:
    """STR-21 streaming CHANGE-DATA-FEED from the transactional table
    (sources/cdcstream — Delta's readChangeFeed as a stream): the
    cdc_03 table history (v1 MERGE of updates+inserts, v2 stats-
    skipped DELETE, v3 re-insert of original values) tailed as a
    stream of CLASSIFIED per-version diffs — insert / delete /
    update_preimage / update_postimage, version-tagged — computed on
    executors from the version-asymmetric file sets and deletion-
    vector deltas, never a full table read.  This is the CDC form the
    append-only source's guard points rewrites at; it shares cdc_03's
    oracle, so the hash certifies streamed ≡ the batch per-version
    feed including intermediate visibility (delete@2 then insert@3
    for the re-inserted keys)."""
    from ..sources import cdcstream, txnlog

    base = tempfile.mkdtemp(prefix="spark_str21_")
    try:
        path = base + "/tbl"
        vis = catalog.visit_dimension(spark, sf).select(
            "encounter_num", "patient_num", "start_date", "inout_cd")
        tbl = vis.filter(F.col("encounter_num") < 400)
        txnlog.create_table(
            spark, tbl.repartitionByRange(4, "encounter_num"), path,
            key="encounter_num")
        ups = (tbl.filter((F.col("encounter_num") >= 100)
                          & (F.col("encounter_num") < 200))
               .select("encounter_num", "patient_num",
                       (F.col("start_date") + F.expr("INTERVAL 40 DAYS"))
                        .alias("start_date"),
                       F.lit("U").alias("inout_cd")))
        ins = vis.filter((F.col("encounter_num") >= 400)
                         & (F.col("encounter_num") < 450))
        txnlog.merge(spark, path, ups.unionByName(ins),
                     key="encounter_num")                        # v1
        txnlog.delete_range(spark, path, key="encounter_num",
                            lo=0, hi=50)                         # v2
        txnlog.merge(spark, path,
                     tbl.filter(F.col("encounter_num") < 5),
                     key="encounter_num")                        # v3
        cdcstream.register(spark)
        feed = (spark.readStream.format("txnlog_cdc")
                .option("path", path)
                .option("key", "encounter_num").load()
                .withColumnRenamed("_commit_version", "commit_version"))
        snap = _materialized(_run_to_parquet(feed, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("commit_version", "encounter_num",
                        "change_type")


def str_01(spark: SparkSession, sf: str) -> DataFrame:
    """STR-01 file-arrival source + STR-08 stream–static broadcast
    enrich, streaming-native: 3 chronological chunk files replayed one
    per micro-batch through ``readStream``, each row broadcast-joined to
    the static event-class dimension, appended to a parquet sink.

    Oracle = the identity selection with the same CASE enrich — a hash
    match proves the streaming replay lost, duplicated, and reordered
    nothing and the stream–static join matched batch semantics.
    """
    base = tempfile.mkdtemp(prefix="spark_str01_")
    try:
        enriched = str01_stream(spark, sf, base)
        got = _run_to_parquet(enriched, base)
        snap = _materialized(
            got.select("event_id", "ts", "user_id", "event_type", "value",
                       "props", "concept_class"), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("event_id")


_STR_01_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props,
       CASE WHEN event_type IN ('click', 'view') THEN 'interaction'
            WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
            ELSE 'fault' END AS concept_class
FROM events
"""


def str_05(spark: SparkSession, sf: str) -> DataFrame:
    """STR-05 watermark contract, streaming-native: 5 chronological
    chunks each torn into two files by event_id parity (10 triggers —
    every hour's rows split across micro-batches, disorder ≈ one chunk
    span ≪ the 10-day watermark), hourly tumbling counts in APPEND mode.

    Append mode makes the watermark observable in the committed output:
    a window reaches the sink iff the final watermark (max event time −
    10 days) passed its end, and the no-loss guarantee makes each
    emitted count exact despite the cross-file disorder.  Both halves of
    the contract are what the oracle's WHERE clause states in SQL.
    """
    base = tempfile.mkdtemp(prefix="spark_str05_")
    try:
        counts = str05_stream(spark, sf, base)
        snap = _materialized(_run_to_parquet(counts, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("ws")


_STR_05_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, count(*) AS n
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT max(ts) - INTERVAL 10 DAY FROM events)
GROUP BY 1
"""


def str_rep(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-replay certification union (r11 slot economy,
    VERDICT r10 item 7's named fold): str_01 (file-arrival source +
    stream–static broadcast enrich, 3-trigger replay) and str_05
    (watermark-finalized hourly counts under cross-batch disorder,
    10-trigger append replay) — BUILDERS VERBATIM, so the one CORE50
    slot certifies both streaming contracts; the fine-grained keys
    stay registered and individually oracle-tested post-50.  The two
    replays are independent and eager — a thread pool runs them
    together (the str_out discipline, r11)."""
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as _ex:
        _f1 = _ex.submit(str_01, spark, sf)
        _f5 = _ex.submit(str_05, spark, sf)
    s1 = _f1.result()
    v1 = F.concat_ws(
        "|", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
        "user_id", "event_type",
        F.round(F.col("value") * 1_000_000).cast("long"),
        "props", "concept_class")
    s5 = _f5.result()
    v5 = F.concat_ws(
        "|",
        F.unix_micros(F.col("ws").cast("timestamp")).cast("string"),
        "n")
    out = (s1.select(F.lit("r01").alias("tag"), v1.alias("v"))
           .unionByName(
               s5.select(F.lit("r05").alias("tag"), v5.alias("v"))))
    return out.orderBy("tag", "v")


def _str_rep_oracle() -> str:
    c1 = ("CAST(event_id AS VARCHAR) || '|' || "
          "CAST(epoch_us(ts) AS VARCHAR) || '|' || "
          "CAST(user_id AS VARCHAR) || '|' || event_type || '|' || "
          "CAST(CAST(ROUND(value * 1000000) AS BIGINT) AS VARCHAR) "
          "|| '|' || props || '|' || concept_class")
    c5 = ("CAST(epoch_us(ws) AS VARCHAR) || '|' || CAST(n AS VARCHAR)")
    return (f"SELECT 'r01' AS tag, {c1} AS v FROM ({_STR_01_ORACLE})\n"
            f"UNION ALL\nSELECT 'r05' AS tag, {c5} AS v "
            f"FROM ({_STR_05_ORACLE})")


def str14_stream(spark: SparkSession, sf: str, base: str) -> DataFrame:
    """The unstarted STR-14 frame: Spark's NATIVE session_window
    aggregation (dynamic gap-merged windows in the state store) — the
    built-in counterpart to str_13's hand-rolled
    applyInPandasWithState timers.  Same 30-minute gap, same
    5-chunk chronological replay."""
    ev = catalog.load(spark, sf, "events").select(*_EV_COLS)
    watch = _spill_chunks(ev, base, 5, name="watch14")
    src = (spark.readStream.format("parquet").schema(ev.schema)
           .option("maxFilesPerTrigger", "1").load(watch))
    assert src.isStreaming
    return (src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
            .withWatermark("ts_ltz", "1 hour")
            .groupBy("user_id",
                     F.session_window("ts_ltz", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.date_trunc("second", F.col("w.start"))
                     .cast("timestamp_ntz").alias("sess_start"),
                    "n_events"))


def str_14(spark: SparkSession, sf: str) -> DataFrame:
    """STR-14 native session windows, streaming-native: append-mode
    emission is purely WATERMARK-driven — a session reaches the sink
    iff the final watermark passed its end (last event + gap); unlike
    str_13's tracker, a session closed inline by a later event is NOT
    emitted until the watermark confirms no late event can reopen it
    (session windows MERGE on late data — that is the semantic
    difference the two oracles' WHERE clauses state).  Tail sessions
    inside the horizon at stream end never emit, same contract as
    str_05/str_12/str_13."""
    base = tempfile.mkdtemp(prefix="spark_str14_")
    try:
        sessions = str14_stream(spark, sf, base)
        snap = _materialized(_run_to_parquet(sessions, base), base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("user_id", "sess_start", "n_events")


_STR_14_ORACLE = """
WITH w AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
b AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) IS NULL
                OR ts >= lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
                     + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS ns
  FROM events),
s AS (SELECT user_id, ts,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS seq
      FROM b),
g AS (SELECT user_id, seq,
             CAST(date_trunc('second', min(ts)) AS TIMESTAMP)
               AS sess_start,
             max(ts) AS last_ts, count(*) AS n_events
      FROM s GROUP BY 1, 2)
SELECT user_id, sess_start, n_events
FROM g, w
WHERE last_ts + INTERVAL 30 MINUTE < wm
ORDER BY user_id, sess_start, n_events
"""


# --------------------------- str_20 streaming bottom-k hash sample

#: per-group sample size for the streaming deterministic sample
STR20_K = 16


def make_sample_applier(store_path: str, k: int = STR20_K):
    """foreachBatch applier maintaining the per-lang deterministic
    bottom-k hash sample — smp_04's KMV construction driven by a
    stream: each batch reduces to its OWN per-lang bottom-k first
    (work ∝ batch), then merges with the ≤ k·L store and keeps the k
    smallest md5 priorities per lang.  State is bounded at k rows per
    group for ANY stream length, and bottom-k merge is associative,
    commutative AND idempotent (re-merging the same rows changes
    nothing) — so the maintained sample equals the batch sample under
    every split of the stream.  Batch-id idempotent via the ivm_02
    marker discipline regardless."""
    import os as _os

    from pyspark.sql.window import Window

    from ..functions.barrier import materialize

    marker = store_path.rstrip("/") + ".last_batch"

    def bottom_k(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("lang").orderBy("pr", "doc_id")
        return (df.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= k).drop("_rn"))

    def apply_sample(batch: DataFrame, batch_id: int) -> None:
        try:
            with open(marker) as f:
                last = int(f.read())
        except (OSError, ValueError):
            last = -1
        if batch_id <= last:        # retried batch: already applied
            return
        cand = bottom_k(batch.select(
            "doc_id", "lang",
            F.md5(F.col("doc_id").cast("string")).alias("pr")))
        cur = batch.sparkSession.read.parquet(store_path)
        merged = materialize(bottom_k(cur.unionByName(cand)))
        merged.write.mode("overwrite").parquet(store_path)
        tmp = f"{marker}.tmp.{_os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        _os.replace(tmp, marker)    # atomic on POSIX

    return apply_sample


def str20_sample(spark: SparkSession, sf: str, base: str,
                 n_chunks: int = 4) -> DataFrame:
    """Replay the documents corpus in ``n_chunks`` micro-batches
    through the sample applier; return the maintained store."""
    import pathlib as _pl
    import shutil as _sh

    docs = catalog.load(spark, sf, "documents") \
                  .select("doc_id", "lang")
    watch = _pl.Path(base) / "watch20"
    watch.mkdir(parents=True)
    for b in range(n_chunks):
        out = _pl.Path(base) / f"s20b{b}"
        (docs.filter(F.pmod("doc_id", F.lit(n_chunks)) == b)
         .coalesce(1).write.mode("overwrite").parquet(str(out)))
        for j, pq in enumerate(sorted(out.glob("*.parquet"))):
            _sh.copy(pq, watch / f"{b:02d}_{j}.parquet")
    store = f"{base}/sample20"
    local_frame(spark, [], "doc_id bigint, lang string, pr string") \
        .write.mode("overwrite").parquet(store)
    src = (spark.readStream.format("parquet").schema(docs.schema)
           .option("maxFilesPerTrigger", "1").load(str(watch)))
    assert src.isStreaming
    q = (src.writeStream.foreachBatch(make_sample_applier(store))
         .option("checkpointLocation", f"{base}/ckpt20")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(store)


def str_20(spark: SparkSession, sf: str) -> DataFrame:
    """STR-20 streaming deterministic bottom-k sample: the per-lang
    KMV sample (smp_04's primitive) maintained across micro-batches
    with k-rows-per-group bounded state; the oracle computes the
    batch per-lang bottom-k in SQL, so the hash certifies the
    streamed sample ≡ the batch sample — the merge-exactness that
    makes hash sampling THE distributed/streaming sampling primitive
    at 100 TB (shards sample independently, merges are exact)."""
    base = tempfile.mkdtemp(prefix="spark_str20_")
    try:
        sample = str20_sample(spark, sf, base)
        snap = _materialized(sample, base)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    return snap.orderBy("lang", "doc_id")


_STR_20_ORACLE = f"""
WITH pr AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS pr
            FROM documents),
r AS (SELECT doc_id, lang, pr,
             row_number() OVER (PARTITION BY lang
                                ORDER BY pr, doc_id) AS rn
      FROM pr)
SELECT doc_id, lang, pr FROM r WHERE rn <= {STR20_K}
ORDER BY lang, doc_id
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec(key="str_20", fn=str_20, oracle=_STR_20_ORACLE,
                  doc=("STR-20 streaming deterministic bottom-k hash "
                       "sample (KMV): per-lang k-row bounded state, "
                       "merge-exact under any stream split; oracle = "
                       "the batch per-lang bottom-k"),
                  tags=("streaming",)),
        QuerySpec(key="str_16", fn=str_16, oracle=_STR_16_ORACLE,
                  doc=("STR-16 streaming exactly-once dedup: "
                       "dropDuplicatesWithinWatermark over planted "
                       "at-least-once re-deliveries; oracle = the "
                       "clean selection (no loss, no duplication)"),
                  tags=("streaming",)),
        QuerySpec(key="str_17", fn=str_17, oracle=_STR_17_ORACLE,
                  doc=("STR-17 streaming Count-Min sketch: per-batch "
                       "partial sketches merged by exact addition into "
                       "a D×W store (bounded state on an unbounded "
                       "stream); probes certified est ≥ exact and "
                       "within the ε-bound; streamed ≡ batch sketch"),
                  tags=("streaming",)),
        QuerySpec(key="str_18", fn=str_18, oracle=_STR_18_ORACLE,
                  doc=("STR-18 streaming heavy hitters: Misra–Gries "
                       "summary maintained per micro-batch (state ≤ K "
                       "rows on an unbounded stream), exact verify "
                       "pass over its candidates — split-deterministic "
                       "by the MG survival guarantee, planted heavy "
                       "users certified vs the plain batch answer"),
                  tags=("streaming",)),
        QuerySpec(key="str_19", fn=str_19, oracle=_STR_19_ORACLE,
                  doc=("STR-19 streaming source OVER the txnlog table "
                       "(Python DataSource, version offsets = commit "
                       "tailing): three appended slices replayed with "
                       "per-row commit-version tags; committed files "
                       "only, append-only guard"),
                  tags=("streaming",)),
        QuerySpec(key="str_14", fn=str_14, oracle=_STR_14_ORACLE,
                  doc=("STR-14 NATIVE session_window sessionization "
                       "(gap-merged state-store windows), append-mode "
                       "watermark emission vs gaps-and-islands SQL"),
                  tags=("streaming",)),
        QuerySpec(key="str_15", fn=str_15, oracle=_STR_15_ORACLE,
                  doc=("STR-15 windowed approximate distinct: HLL "
                       "sketch in the streaming state store, bounded "
                       "self-check vs batch exact per finalized window"),
                  tags=("streaming",)),
        QuerySpec(key="str_21", fn=str_21,
                  oracle=__import__(
                      "docker_aktin_dwh_spark.operators.roundtrips",
                      fromlist=["x"])._cdc_03_oracle(),
                  doc=("STR-21 streaming change-data feed from the "
                       "txnlog table (txnlog_cdc DataSource): "
                       "classified per-version diffs computed from "
                       "file-set + DV deltas, streamed ≡ batch "
                       "(shares cdc_03's oracle)"),
                  tags=("streaming",)),
        QuerySpec(key="str_rep", fn=str_rep, oracle=_str_rep_oracle(),
                  doc=("Streaming-replay union (r11 slot economy): "
                       "str_01 + str_05 builders verbatim — one slot "
                       "certifies the file-source enrich AND the "
                       "watermark-finalization contract"),
                  tags=("streaming",)),
        QuerySpec(key="str_01", fn=str_01, oracle=_STR_01_ORACLE,
                  doc=("STR-01 file streaming source + STR-08 enrich, "
                       "real availableNow replay (3 micro-batches)"),
                  tags=("streaming",)),
        QuerySpec(key="str_05", fn=str_05, oracle=_STR_05_ORACLE,
                  doc=("STR-05 watermark finalization + no-loss under "
                       "cross-batch disorder, real availableNow replay "
                       "(10 micro-batches, append mode)"),
                  tags=("streaming",)),
        QuerySpec(key="str_11", fn=str_11, oracle=_STR_11_ORACLE,
                  doc=("STR-11 stream-stream interval join: two "
                       "independent watermarked file streams, stateful "
                       "cross-micro-batch matching vs batch SQL"),
                  tags=("streaming",)),
        QuerySpec(key="str_12", fn=str_12, oracle=_STR_12_ORACLE,
                  doc=("STR-12 stream-stream LEFT OUTER interval join: "
                       "null emission gated by the final watermark "
                       "(state-eviction contract in the oracle)"),
                  tags=("streaming",)),
        QuerySpec(key="str_13", fn=str_13, oracle=_STR_13_ORACLE,
                  doc=("STR-13 stateful sessionization with event-time "
                       "timers (applyInPandasWithState + "
                       "EventTimeTimeout) vs gaps-and-islands SQL"),
                  tags=("streaming",)),
    ]
