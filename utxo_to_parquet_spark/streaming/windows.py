"""Structured Streaming operators over the events table.

The reference is batch-only (SURVEY §2.3: no streaming), so these cover
the driver-mandated streaming extension: file-source readStream, tumbling
windows, watermarks, and a custom stateful operator. Local runs drive the
stream synchronously with ``processAllAvailable`` over the static parquet
— same code shape as a kafka-fed deployment.
"""

from __future__ import annotations

import atexit
import shutil as _shutil
import tempfile as _tempfile
import uuid
from typing import Iterator

from pyspark.sql import functions as F

from ..operators.events import BOT_MIN_GAPS, MIN_NS_GAP, normalize_ts_ns
from ..operators.registry import memoized, register

NS = 1_000_000_000

_TMP_ROOT: list[str] = []


def _tmpdir(prefix: str) -> str:
    """mkdtemp under ONE session-scoped root that is removed at
    interpreter exit (atexit) — bench sweeps rerun these streaming ops
    many times per process, and unrooted mkdtemp source/sink dirs would
    otherwise accumulate in /tmp for the life of the machine."""
    if not _TMP_ROOT:
        root = _tempfile.mkdtemp(prefix="spark_stream_tmp_")
        _TMP_ROOT.append(root)
        atexit.register(_shutil.rmtree, root, ignore_errors=True)
    return _tempfile.mkdtemp(prefix=prefix, dir=_TMP_ROOT[0])


def _events_stream(spark, sf_dir):
    """readStream over the events parquet (``ts`` normalized to a
    nanosecond-epoch long whatever the fixture's physical type — see
    operators/events.py:normalize_ts_ns) plus a real TimestampType
    column for window()/watermark operators."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file streaming source monitors a directory; expose the single
    # fixture file through a temp dir symlink
    stream_dir = _tmpdir("events_stream_")
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(stream_dir, "events.parquet"))
    sdf = normalize_ts_ns(spark.readStream.schema(schema).parquet(stream_dir))
    return sdf.withColumn("event_ts", F.timestamp_seconds(F.expr(f"ts div {NS}")))


STREAM_SHUFFLE_PARTITIONS = "8"


class _stream_partitions:
    """Clamp ``spark.sql.shuffle.partitions`` while a stream runs.

    Stateful streaming creates one state store per shuffle partition and
    pays its init/commit on every micro-batch — with the session's batch
    setting (cores=32) that overhead dominates these bounded-key streams
    (stream-stream join: 11.5s → 2.9s at 8 partitions). The partition
    count is baked into each checkpoint at stream start, so a scoped
    override is safe; production sizes it to key cardinality ×
    throughput, not to cores."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


# executed physical plan of the most recently completed micro-batch,
# keyed "latest" — read by tools/plan_audit.py, which runs one streaming
# query at a time and then audits this instead of the memory-sink scan
# the registered callable returns. Batch queries expose executedPlan()
# directly; a streaming plan only exists per-trigger, so it must be
# captured here while the query object is live.
LAST_STREAM_PLANS: dict[str, str] = {}


def _capture_stream_plan(q) -> None:
    try:
        LAST_STREAM_PLANS["latest"] = q._jsq.explainInternal(False)
    except Exception:  # noqa: BLE001 - diagnostics must never fail the query
        pass


def _run_to_memory(agg_df, output_mode: str):
    """Drive a streaming aggregation to completion against the static
    input; returns the materialized result table."""
    name = "stream_out_" + uuid.uuid4().hex[:8]
    with _stream_partitions(agg_df.sparkSession):
        q = (
            agg_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()
    return name


@register(
    "q_stream_tumbling_5min",
    oracle="""
    SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 AS BIGINT) AS bucket_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling_5min(spark, sf_dir):
    """The streaming twin of q_events_tumbling_5min: readStream →
    window(event_ts, 5 minutes) → count/sum → memory sink in complete
    mode. Over static input this must equal the batch query — which is
    exactly what the oracle checks."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("event_ts", "5 minutes"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).cast("long").alias("bucket_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    table = _run_to_memory(agg, "complete")
    return spark.table(table)


@register(
    "q_stream_watermark_late_data",
    # append mode over a fully-replayed static input is deterministic:
    # the final watermark is max(event_ts) - 10 min (event_ts truncated
    # to whole seconds by timestamp_seconds(ts div 1e9)), and exactly
    # the sliding windows whose end <= watermark are emitted. Each event
    # lands in two (10 min, slide 5 min) windows: starts floor(t/300)*300
    # and that minus 300 — which the UNNEST([0,1]) explode reproduces.
    oracle="""
    WITH ev AS (SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t, event_type FROM events),
    wm AS (SELECT MAX(t) - 600 AS w FROM ev),
    exploded AS (
      SELECT t, event_type, (t // 300) * 300 - 300 * k AS bucket_start
      FROM ev, (SELECT UNNEST([0, 1]) AS k)
    )
    SELECT bucket_start, event_type, COUNT(*) AS n
    FROM exploded, wm
    WHERE bucket_start + 600 <= wm.w
    GROUP BY bucket_start, event_type
    """,
)
def q_stream_watermark_late_data(spark, sf_dir):
    """Watermarked sliding window in append mode: 10-minute windows
    sliding by 5, 10-minute lateness bound. Append mode only emits
    windows the watermark has closed — which, on a fully-replayed
    static input, is a DETERMINISTIC set (final watermark =
    max event time - 10 min), so the batch-SQL oracle reproduces it
    exactly: explode each event into its two sliding windows and keep
    windows whose end the watermark passed. If the watermark ever
    stops advancing, emits an open window, or drops a closed one, the
    value hash breaks."""
    agg = watermark_sliding_agg(_events_stream(spark, sf_dir))
    table = _run_to_memory(agg, "append")
    return spark.table(table)


def watermark_sliding_agg(sdf):
    """The watermarked sliding-window aggregation plan — factored so the
    recovery probe (tools/bench_stream_recovery.py) can restart the
    identical windowed-state operator from its own checkpoint."""
    return (
        sdf.withWatermark("event_ts", "10 minutes")
        .groupBy(F.window("event_ts", "10 minutes", "5 minutes"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).cast("long").alias("bucket_start"),
            "event_type",
            "n",
        )
    )


@register(
    "q_stream_stateful_running_max",
    oracle="""
    SELECT event_type,
           ROUND(MAX(value), 2) AS max_value,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_stream_stateful_running_max(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState: per event
    type, track the running maximum value and emit its final state —
    the structured-streaming shape of the reference's running
    max_height fold (main.rs:220,229).

    Hash-gated: the FINAL state per key over a fully-replayed static
    input is exactly the batch MAX/COUNT per event_type, which is what
    the oracle computes — if the state fold ever drops a batch, double
    counts, or mis-merges state across micro-batches, the value hash
    breaks."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sdf = _events_stream(spark, sf_dir)

    def track_max(key, pdf_iter: Iterator["pd.DataFrame"], state: GroupState):
        mx = state.get[0] if state.exists else float("-inf")
        n = state.get[1] if state.exists else 0
        for pdf in pdf_iter:
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                n += int(len(pdf))
        state.update((mx, n))
        yield pd.DataFrame(
            {"event_type": [key[0]], "max_value": [mx], "n_events": [n]}
        )

    out = sdf.select("event_type", "value").groupBy("event_type").applyInPandasWithState(
        track_max,
        outputStructType="event_type string, max_value double, n_events long",
        stateStructType="max_value double, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    table = _run_to_memory(out, "update")
    # the last update per key is the final state over the static input
    df = spark.table(table)
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.round("max_value", 2).alias("max_value"), "n_events")
    )


@register(
    "q_stream_stream_join",
    oracle=f"""
    WITH c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS purchase_ts, value FROM events
               WHERE event_type = 'purchase')
    SELECT c.user_id,
           CAST(FLOOR(EPOCH(c.click_ts)) AS BIGINT) AS click_s,
           CAST(FLOOR(EPOCH(p.purchase_ts)) AS BIGINT) AS purchase_s,
           ROUND(p.value, 2) AS purchase_value
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND FLOOR(EPOCH(p.purchase_ts)) >= FLOOR(EPOCH(c.click_ts))
     AND FLOOR(EPOCH(p.purchase_ts)) <= FLOOR(EPOCH(c.click_ts)) + 300
    """,
)
def q_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join: purchases attributed to a
    click by the same user within 5 minutes. Both sides carry watermarks
    and the join condition bounds event-time distance, so state for
    expired intervals is evicted — the standing-memory requirement is
    O(watermark window), not O(stream). On a static replay every match
    is emitted, which is exactly the batch join the oracle runs.
    """
    sdf = _events_stream(spark, sf_dir)
    clicks = (
        sdf.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select(
        "user_id",
        F.unix_timestamp("click_ts").cast("long").alias("click_s"),
        F.unix_timestamp("purchase_ts").cast("long").alias("purchase_s"),
        F.round("value", 2).alias("purchase_value"),
    )
    table = _run_to_memory(joined, "append")
    return spark.table(table)


@register(
    "q_stream_dedup",
    oracle="""
    SELECT event_id, event_type,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_s,
           ROUND(value, 2) AS value
    FROM events
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Streaming deduplication: the input is replayed TWICE (two files
    of the same data) and dropDuplicatesWithinWatermark on the event key
    restores exactly the original rows — which is what the oracle
    checks. The watermark bounds dedup state: keys older than the delay
    are evicted, so memory is O(events within the watermark window), not
    O(stream); the 90-day delay here covers the whole fixture to make
    the replay exact (production tunes it to the real duplicate
    horizon).
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema
    stream_dir = _tmpdir("events_dup_")
    os.symlink(src, os.path.join(stream_dir, "copy_a.parquet"))
    os.symlink(src, os.path.join(stream_dir, "copy_b.parquet"))
    sdf = normalize_ts_ns(
        spark.readStream.schema(schema).parquet(stream_dir)
    ).withColumn("event_ts", F.timestamp_seconds(F.expr(f"ts div {NS}")))
    deduped = (
        sdf.withWatermark("event_ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "event_type",
            F.expr(f"ts div {NS}").cast("long").alias("ts_s"),
            F.round("value", 2).alias("value"),
        )
    )
    table = _run_to_memory(deduped, "append")
    return spark.table(table)


@register(
    "q_stream_session_window",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_s, event_id
      FROM events
    ),
    gaps AS (
      SELECT user_id, ts_s,
             CASE WHEN LAG(ts_s) OVER w IS NULL
                       OR ts_s - LAG(ts_s) OVER w >= 1800
                  THEN 1 ELSE 0 END AS new_s,
             event_id
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ),
    sess AS (
      SELECT user_id, ts_s,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT user_id, CAST(MIN(ts_s) AS BIGINT) AS session_start,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    HAVING MAX(ts_s) + 1800 < (SELECT MAX(ts_s) FROM e)
    """,
)
def q_stream_session_window(spark, sf_dir):
    """Dynamic-gap session windows via session_window(): consecutive
    events of a user merge while the silence stays under 30 minutes
    (diff >= gap starts a new session — note the boundary differs from
    the batch sessionize's strict >). Complete mode is unsupported for
    session windows (state would be unbounded) and so is update, so this
    runs append mode with a zero-delay watermark: after the single
    micro-batch the watermark stands at the max event time, and exactly
    the sessions already closed by it (session end = last event + gap
    before the watermark) are emitted. The gaps-and-islands oracle
    applies the same closure rule in its HAVING."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("event_ts", "0 seconds")
        .groupBy(F.session_window("event_ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).cast("long").alias("session_start"),
            "n_events",
        )
    )
    table = _run_to_memory(agg, "append")
    return spark.table(table)


@register(
    "q_stream_foreachbatch_sink",
    oracle="""
    SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 AS BIGINT) AS bucket_start,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_foreachbatch_sink(spark, sf_dir):
    """foreachBatch sink: the escape hatch to any batch writer from a
    stream. The windowed aggregate is written to PARQUET per micro-batch
    (overwrite in complete mode — each batch holds the full updated
    state), then read back; over the static input the files must equal
    the batch aggregation, which is what the oracle checks. This is the
    shape production uses for streaming upserts into warehouse tables
    Spark has no native sink for."""

    sdf = _events_stream(spark, sf_dir)
    out_dir = _tmpdir("fb_sink_") + "/data"
    agg = (
        sdf.groupBy(F.window("event_ts", "5 minutes"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).cast("long").alias("bucket_start"),
            "event_type",
            "n",
        )
    )

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(out_dir)

    with _stream_partitions(spark):
        q = agg.writeStream.outputMode("complete").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()
    return spark.read.parquet(out_dir)


@register(
    "q_stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.event_type,
           CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) AS ts_s,
           c.c_name, n.n_name
    FROM events e
      JOIN customer c ON c.c_custkey = e.user_id + 1
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE e.event_type = 'purchase'
    """,
)
def q_stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment join: a live event stream joined to a
    slowly-changing dimension table (customer → nation) that is NOT a
    stream — the most common production streaming shape (clickstream +
    user profile). The static side is broadcast per micro-batch, so the
    stream never shuffles; state stays empty because static joins need
    no buffering (unlike stream-stream). Over a static replay the result
    must equal the batch join — which is what the oracle checks. The
    dimension is re-read each micro-batch, so dimension updates between
    batches are picked up automatically — the poor-man's SCD join."""
    sdf = _events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    dim = F.broadcast(cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey))
    enriched = (
        sdf.join(dim, sdf.user_id + 1 == dim.c_custkey)
        .select(
            "event_id",
            "event_type",
            F.unix_timestamp("event_ts").cast("long").alias("ts_s"),
            "c_name",
            "n_name",
        )
    )
    table = _run_to_memory(enriched, "append")
    return spark.table(table)


@register(
    "q_stream_transform_with_state",
    oracle="""
    SELECT user_id % 100 AS user_bucket,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def q_stream_transform_with_state(spark, sf_dir):
    """Arbitrary stateful processing via transformWithStateInPandas
    (Spark 4's successor to applyInPandasWithState): a StatefulProcessor
    holding a ValueState of (count, sum) per user bucket, emitting the
    running totals on every micro-batch. State lives in the state store
    (one per shuffle partition, RocksDB-backed in production) so the
    operator scales with keys × partitions, not with stream length.
    Over a static replay, the LAST update per key equals the batch
    aggregate — which is exactly what the oracle checks.

    Environment gate: the transformWithStateInPandas worker protocol
    needs the ``google.protobuf`` package (state requests are proto
    messages over the state-server socket). When it is absent — as in
    this test container — the SAME per-key (count, sum) state machine
    runs through applyInPandasWithState, which speaks the legacy Arrow
    protocol and needs no proto. Output is identical by construction;
    deployments with protobuf take the first path."""
    import importlib.util

    import pandas as pd

    sdf = _events_stream(spark, sf_dir)
    keyed = sdf.select((F.col("user_id") % 100).alias("user_bucket"), "value").groupBy(
        "user_bucket"
    )
    out_schema = "user_bucket long, n_events long, total_value double"

    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        has_protobuf = False
    if has_protobuf:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class RunningTotals(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._state = handle.getValueState(
                    "totals", "n_events long, total_value double"
                )

            def handleInputRows(self, key, rows, timerValues):
                n, tot = self._state.get() if self._state.exists() else (0, 0.0)
                for pdf in rows:
                    if len(pdf):
                        n += int(len(pdf))
                        tot += float(pdf["value"].sum())
                self._state.update((n, tot))
                yield pd.DataFrame(
                    {"user_bucket": [key[0]], "n_events": [n], "total_value": [tot]}
                )

            def close(self) -> None:
                pass

        out = keyed.transformWithStateInPandas(
            RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    else:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def totals(key, pdf_iter, state: GroupState):
            n, tot = state.get if state.exists else (0, 0.0)
            for pdf in pdf_iter:
                if len(pdf):
                    n += int(len(pdf))
                    tot += float(pdf["value"].sum())
            state.update((n, tot))
            yield pd.DataFrame(
                {"user_bucket": [key[0]], "n_events": [n], "total_value": [tot]}
            )

        out = keyed.applyInPandasWithState(
            totals,
            outputStructType=out_schema,
            stateStructType="n_events long, total_value double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    table = _run_to_memory(out, "update")
    df = spark.table(table)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_bucket").orderBy(F.desc("n_events"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_bucket", "n_events", F.round("total_value", 2).alias("total_value"))
    )


@register(
    "q_stream_available_now",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_available_now(spark, sf_dir):
    """Trigger.AvailableNow drain: process everything currently in the
    source across as many micro-batches as needed, then STOP — the
    production shape for streaming backfills and catch-up runs (unlike
    processAllAvailable, which is a test-harness call, AvailableNow is a
    first-class trigger that respects per-batch source limits and
    checkpoints between batches). Over the static fixture the drained
    aggregate must equal the batch groupBy — which is what the oracle
    checks."""
    sdf = _events_stream(spark, sf_dir)
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )
    name = "stream_an_" + uuid.uuid4().hex[:8]
    with _stream_partitions(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
            _capture_stream_plan(q)
        finally:
            q.stop()  # no-op after normal AvailableNow termination; kills a hung/errored query
    return spark.table(name)


_DOC_STREAM_DIRS: dict[str, str] = {}


def _documents_stream(spark, sf_dir):
    """readStream over the documents parquet (temp-dir symlink, same
    mechanism as _events_stream). The symlink dir is memoized per
    fixture path so repeated invocations (the full-registry gate runs this
    many times per session) reuse one dir instead of leaking a mkdtemp
    per call."""
    import os

    src = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(src).schema
    if src not in _DOC_STREAM_DIRS:
        stream_dir = _tmpdir("documents_stream_")
        os.symlink(src, os.path.join(stream_dir, "documents.parquet"))
        _DOC_STREAM_DIRS[src] = stream_dir
    return spark.readStream.schema(schema).parquet(_DOC_STREAM_DIRS[src])


def _incremental_oracle() -> str:
    from ..operators.dedup import BATCH_MOD, _minhash_bands_cte

    return f"""
    WITH {_minhash_bands_cte()},
    batch AS (SELECT doc_id FROM documents WHERE doc_id % {BATCH_MOD} = 0),
    corpus_hits AS (
      SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS n
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id % {BATCH_MOD} = 0 AND b.doc_id % {BATCH_MOD} <> 0
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(ch.n, 0) AS BIGINT) AS n_corpus_matches,
           (COALESCE(ch.n, 0) = 0) AS kept
    FROM batch d LEFT JOIN corpus_hits ch ON ch.doc_id = d.doc_id
    """


def incremental_dedup_matches(spark, sf_dir, sdf):
    """The stream-side admission-control plan (per-row MinHash bands →
    stream-static band-index join) — factored so the recovery probe
    (tools/bench_stream_recovery.py) can restart the identical
    stream-static join from its own checkpoint. ``sdf`` is a streaming
    DataFrame with the documents schema."""
    from ..operators.dedup import (
        BATCH_MOD,
        MINHASH_AB,
        SHINGLE_TRANSFORM_SQL,
        _minhash_bands_df,
        mh_sql,
        minhash_band_structs,
        x_hash_sql,
    )

    sdf = (
        sdf.filter(F.col("doc_id") % BATCH_MOD == 0)
        .select("doc_id", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 3)
        .withColumn("shingles", F.array_distinct(F.expr(SHINGLE_TRANSFORM_SQL)))
        .withColumn("xs", F.expr(f"transform(shingles, s -> {x_hash_sql('s')})"))
    )
    for i in range(len(MINHASH_AB)):
        sdf = sdf.withColumn(f"mh{i}", F.expr(mh_sql(i)))
    stream_bands = sdf.select(
        "doc_id", F.explode(minhash_band_structs()).alias("bk")
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    corpus_index = (
        _minhash_bands_df(spark, sf_dir)
        .filter(F.col("doc_id") % BATCH_MOD != 0)
        .select(
            F.col("doc_id").alias("corpus_doc_id"), "band", "band_key"
        )
    )
    return stream_bands.join(corpus_index, ["band", "band_key"]).select(
        "doc_id", "corpus_doc_id"
    )


@register("q_stream_incremental_dedup", oracle=_incremental_oracle())
def q_stream_incremental_dedup(spark, sf_dir):
    """Streaming admission control: newly-arriving documents probe the
    STATIC corpus band index as they stream in — the online form of
    q_dedup_incremental (operators/dedup.py), sharing its oracle's
    corpus-probe half.

    The streaming half is deliberately SHUFFLE-FREE on the stream side:
    the MinHash signature is a function of one row's text, so it is
    computed per row with higher-order functions (transform/array_min
    over the shingle array — one md5 per shingle feeding all seeds, the
    same family as the batch path, bit-identical band keys) instead of
    the batch path's explode + groupBy-min, which would be a streaming
    aggregation needing watermark semantics. Band rows then join the
    static index per micro-batch (stream-static inner join, no state
    buffering) and matches land in the sink in append mode. The summary
    (match count + admission verdict per batch doc) is a batch
    aggregation over the materialized sink — in production, the sink is
    the admission log and this summary is its reader."""
    from ..operators.dedup import BATCH_MOD

    matches = incremental_dedup_matches(
        spark, sf_dir, _documents_stream(spark, sf_dir)
    )
    table = _run_to_memory(matches, "append")
    hits = (
        spark.table(table)
        .groupBy("doc_id")
        .agg(F.countDistinct("corpus_doc_id").alias("n"))
    )
    batch_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % BATCH_MOD == 0)
        .select("doc_id")
    )
    return batch_docs.join(F.broadcast(hits), "doc_id", "left_outer").select(
        "doc_id",
        F.coalesce("n", F.lit(0)).alias("n_corpus_matches"),
        (F.coalesce("n", F.lit(0)) == 0).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Streaming EWMA: the ORDER-SENSITIVE per-key recurrence across
# micro-batch commits — unlike running-max (order-insensitive), this
# state fold is only correct if rows reach it in event-time order, so
# the replay source is built time-ordered the way a production log
# source (Kafka per-partition order, date-partitioned files) is.

_ORDERED_STREAM_DIRS: dict[str, str] = {}
_HLL_SINK_DIRS: dict[str, str] = {}
EWMA_REPLAY_BATCHES = 4


def _events_time_ordered_stream(spark, sf_dir):
    """Multi-batch, TIME-ORDERED replay of the events fixture: the
    corpus is range-split on ts into EWMA_REPLAY_BATCHES parquet files
    written oldest-range-first (the file source admits oldest mod-time
    first), and the reader caps maxFilesPerTrigger=1 — so per-key state
    crosses EWMA_REPLAY_BATCHES real micro-batch commits in event-time
    order. Range splitting (not row chunking) guarantees ts ties never
    straddle a batch boundary. Memoized per fixture dir; the split is
    executor-side (filter + write), never a driver collect."""
    import os
    import shutil

    from ..operators.events import load_events

    src_key = f"{sf_dir}/events.parquet"
    if src_key not in _ORDERED_STREAM_DIRS:
        stream_dir = _tmpdir("events_ordered_stream_")
        ev = load_events(spark, sf_dir)
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
        span = max(hi - lo + 1, 1)
        for i in range(EWMA_REPLAY_BATCHES):
            a = lo + span * i // EWMA_REPLAY_BATCHES
            b = lo + span * (i + 1) // EWMA_REPLAY_BATCHES
            tmp = os.path.join(stream_dir, f"_tmp{i}")
            (
                ev.filter((F.col("ts") >= a) & (F.col("ts") < b))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
            if part:  # a skewed ts distribution can leave a range empty
                shutil.move(
                    os.path.join(tmp, part[0]),
                    os.path.join(stream_dir, f"b{i:02d}.parquet"),
                )
            shutil.rmtree(tmp)
        _ORDERED_STREAM_DIRS[src_key] = stream_dir
    d = _ORDERED_STREAM_DIRS[src_key]
    schema = spark.read.parquet(d).schema
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )


def _ewma_stream_oracle() -> str:
    from ..operators.events import ewma_oracle

    return ewma_oracle()


def ewma_stateful(sdf):
    """The applyInPandasWithState EWMA plan over an events stream —
    factored out of q_stream_ewma so the kill-and-restart recovery probe
    (tools/bench_stream_recovery.py) drives the IDENTICAL stateful
    operator against its own checkpointed source."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.events import EWMA_ALPHA

    def fold(key, pdf_iter: Iterator["pd.DataFrame"], state: GroupState):
        y, n = state.get if state.exists else (0.0, 0)
        chunks = [pdf[["ts", "event_id", "value"]] for pdf in pdf_iter if len(pdf)]
        if chunks:
            batch = pd.concat(chunks).sort_values(["ts", "event_id"])
            for x in batch["value"]:
                x = float(x)
                if n == 0:
                    y = x
                else:
                    y = EWMA_ALPHA * x + (1.0 - EWMA_ALPHA) * y
                n += 1
        state.update((y, n))
        yield pd.DataFrame({"user_id": [key[0]], "ewma": [y], "n_events": [n]})

    return (
        sdf.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType="user_id long, ewma double, n_events long",
            stateStructType="ewma double, n_events long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register("q_stream_ewma", oracle=_ewma_stream_oracle())
def q_stream_ewma(spark, sf_dir):
    """Streaming twin of q_events_ewma via applyInPandasWithState: per
    user, the state row carries (ewma, n_events); each micro-batch sorts
    its slice by (ts, event_id) and folds with the IDENTICAL
    ``(a*x) + ((1.0-a)*acc)`` expression the batch op and the DuckDB
    oracle use, seeding from the first observation (n_events=0 marks an
    unseeded key). Because the fold is order-sensitive, hash-equality
    with the batch recurrence proves not just that no batch was dropped
    or double-counted but that state crossed every commit in event-time
    order — a strictly stronger gate than the order-insensitive
    running-max contract."""
    out = ewma_stateful(_events_time_ordered_stream(spark, sf_dir))
    table = _run_to_memory(out, "update")
    df = spark.table(table)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("ewma", 6).alias("ewma"))
    )


@register(
    "q_stream_hll_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS multi_batch,
           TRUE AS merged_within_tol
    FROM events
    """,
)
def q_stream_hll_distinct(spark, sf_dir):
    """Streaming incremental sketch maintenance: each micro-batch folds
    its users into ONE DataSketches HLL row appended to a parquet sketch
    table (foreachBatch), and the final distinct-user estimate is
    hll_union_agg over the per-batch sketches — the production shape for
    streaming distinct counts, where state is a KB-sized mergeable value
    per commit instead of a distinct-keys store that grows with
    cardinality. Replays the time-ordered {EWMA_REPLAY_BATCHES}-file
    source (maxFilesPerTrigger=1) so the union genuinely crosses
    multiple commits: ``multi_batch`` asserts >=2 sketch rows landed,
    and ``merged_within_tol`` asserts the unioned estimate is within 5%
    of the exact batch-side distinct count (oracle emits literal TRUE
    for both — sketch drift or a single-commit replay breaks the
    hash)."""
    import os
    import shutil

    from ..operators.events import load_events

    sdf = _events_time_ordered_stream(spark, sf_dir)
    # one memoized mkdtemp per (process, fixture), CLEARED each run: the
    # sink appends, so stale sketches from a prior invocation would
    # inflate n_sketches/est; unique-per-process avoids cross-session
    # races, memoization bounds the /tmp footprint to one dir
    if sf_dir not in _HLL_SINK_DIRS:
        _HLL_SINK_DIRS[sf_dir] = _tmpdir("hll_sink_")
    sk_dir = _HLL_SINK_DIRS[sf_dir] + "/sketches"
    shutil.rmtree(sk_dir, ignore_errors=True)
    os.makedirs(sk_dir)

    def write_batch(batch_df, batch_id):
        (
            batch_df.agg(F.hll_sketch_agg("user_id").alias("sk"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(sk_dir)
        )

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()
    merged = spark.read.parquet(sk_dir).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_sketches"),
    )
    exact = load_events(spark, sf_dir).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.crossJoin(merged).select(
        "exact_users",
        (F.col("n_sketches") >= 2).alias("multi_batch"),
        (
            F.abs(F.col("est") - F.col("exact_users")) / F.col("exact_users")
            <= 0.05
        ).alias("merged_within_tol"),
    )


_CM_SINK_DIRS: dict[str, str] = {}
CM_STREAM_TOP = 10


@register(
    "q_stream_countmin",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
    ),
    top AS (
      SELECT user_id, exact_n,
             ROW_NUMBER() OVER (ORDER BY exact_n DESC, user_id) AS rn
      FROM counts
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(exact_n AS BIGINT) AS exact_n,
           TRUE AS multi_commit, TRUE AS never_undercounts,
           TRUE AS within_eps
    FROM top WHERE rn <= {CM_STREAM_TOP}
    """,
)
def q_stream_countmin(spark, sf_dir):
    """Streaming Count-Min maintenance — the LINEAR-sketch twin of
    ``q_stream_hll_distinct``'s union sketch: each micro-batch appends
    its own bounded (row, col, count) cell table (a groupBy over the
    fixed DEPTH x WIDTH grid, so per-commit state is KBs regardless of
    batch size), and merging commits is plain ``SUM`` per cell because
    CM sketches are additive. Point lookups for the busiest
    CM_STREAM_TOP=10 users (exact twin computed batch-side with a
    deterministic tiebreak) must satisfy both CM theorems over the
    SUMMED sketch — ``never_undercounts`` and the 4N/WIDTH ``within_eps``
    bound — and ``multi_commit`` pins that the merge genuinely crossed
    >= 2 commits. Cell addressing reuses the batch operator's
    ``_cm_cells`` expression, so streaming and batch sketches are
    bit-compatible and could be unioned freely."""
    import os
    import shutil

    from ..operators.events import load_events
    from ..operators.text import _cm_cells

    sdf = _events_time_ordered_stream(spark, sf_dir)
    if sf_dir not in _CM_SINK_DIRS:
        _CM_SINK_DIRS[sf_dir] = _tmpdir("cm_sink_")
    sk_dir = _CM_SINK_DIRS[sf_dir] + "/cells"
    shutil.rmtree(sk_dir, ignore_errors=True)
    os.makedirs(sk_dir)

    def write_batch(batch_df, batch_id):
        (
            batch_df.select(
                F.explode(
                    _cm_cells(F.col("user_id").cast("string"))
                ).alias("cell")
            )
            .select("cell.r", "cell.c")
            .groupBy("r", "c")
            .agg(F.count(F.lit(1)).alias("cm"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sk_dir)
        )

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    cells = spark.read.parquet(sk_dir)
    merged = (
        cells.groupBy("r", "c").agg(F.sum("cm").alias("cm")).localCheckpoint(eager=True)
    )
    n_commits = cells.select("batch_id").distinct().count()
    total = merged.filter(F.col("r") == 0).agg(F.sum("cm").alias("n"))

    ev = load_events(spark, sf_dir)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    # TakeOrderedAndProject: map-side partial top-k, never a one-task
    # global sort; the (exact_n, user_id) total order makes the cut
    # deterministic under count ties
    top = (
        counts.orderBy(F.col("exact_n").desc(), F.col("user_id"))
        .limit(CM_STREAM_TOP)
        .localCheckpoint(eager=True)  # bounded: CM_STREAM_TOP rows; reused twice
    )
    est = (
        top.select(
            "user_id",
            F.explode(_cm_cells(F.col("user_id").cast("string"))).alias("cell"),
        )
        .join(
            F.broadcast(merged),
            [F.col("cell.r") == F.col("r"), F.col("cell.c") == F.col("c")],
        )
        .groupBy("user_id")
        .agg(F.min("cm").alias("cm_est"))
    )
    from ..operators.text import CM_WIDTH

    return (
        top.join(F.broadcast(est), "user_id")
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "exact_n",
            F.lit(n_commits >= 2).alias("multi_commit"),
            (F.col("cm_est") >= F.col("exact_n")).alias("never_undercounts"),
            (
                (F.col("cm_est") - F.col("exact_n")) * CM_WIDTH <= 4 * F.col("n")
            ).alias("within_eps"),
        )
    )


_QS_SINK_DIRS: dict[str, str] = {}


@register(
    "q_stream_quantile_sketch",
    oracle="""
    SELECT CAST(q AS DOUBLE) AS q,
           (SELECT COUNT(*) FROM events) AS n,
           TRUE AS multi_commit, TRUE AS within_rank_bound
    FROM (VALUES (0.01), (0.25), (0.5), (0.75), (0.99)) AS t(q)
    """,
)
def q_stream_quantile_sketch(spark, sf_dir):
    """Streaming quantile maintenance — the third member of the
    streaming sketch family (HLL: union merge; Count-Min: additive
    merge; this: CONCATENATIVE merge — quantile summaries compose by
    pooling their weighted points, so each commit just appends its
    per-batch summaries and the final answer is one bounded merge over
    everything ever written). Reuses the batch operator's
    ``_qs_partial``/``_qs_merge`` verbatim, so streaming summaries are
    row-compatible with batch ones and the SAME rank-error theorem
    (2N/QS_CAP + B + 2, B now counting batches across all commits)
    applies; the exact counting pass re-verifies it after the stream
    drains, and ``multi_commit`` pins that the merge genuinely crossed
    >= 2 commits."""
    import os
    import shutil

    from ..operators.events import load_events
    from ..operators.relational import _qs_merge, _qs_partial

    sdf = _events_time_ordered_stream(spark, sf_dir)
    if sf_dir not in _QS_SINK_DIRS:
        _QS_SINK_DIRS[sf_dir] = _tmpdir("qs_sink_")
    sk_dir = _QS_SINK_DIRS[sf_dir] + "/summaries"
    shutil.rmtree(sk_dir, ignore_errors=True)
    os.makedirs(sk_dir)

    def write_batch(batch_df, batch_id):
        (
            batch_df.select(F.col("value").alias("v"))
            .mapInPandas(_qs_partial, "v double, w long, sentinel boolean")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sk_dir)
        )

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    summaries = spark.read.parquet(sk_dir)
    n_commits = summaries.select("batch_id").distinct().count()
    merged = (
        summaries.drop("batch_id")
        .withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            lambda _, pdf: _qs_merge(pdf),
            "q double, approx double, target_rank long, n long, bound long",
        )
        .collect()  # bounded: exactly len(QS_TARGETS) rows
    )
    ev = load_events(spark, sf_dir).select(F.col("value").alias("v"))
    aggs = []
    for i, r in enumerate(merged):
        aggs.append(F.sum((F.col("v") < r.approx).cast("long")).alias(f"lt{i}"))
        aggs.append(F.sum((F.col("v") <= r.approx).cast("long")).alias(f"le{i}"))
    ranks = ev.agg(*aggs).collect()[0]
    rows = [
        (
            r.q,
            r.n,
            n_commits >= 2,
            bool(
                ranks[f"lt{i}"] + 1 <= r.target_rank + r.bound
                and ranks[f"le{i}"] >= r.target_rank - r.bound
            ),
        )
        for i, r in enumerate(merged)
    ]
    return spark.createDataFrame(
        rows, "q double, n long, multi_commit boolean, within_rank_bound boolean"
    )


# --- Streaming Misra-Gries heavy-hitter maintenance --------------------

_SS_SINK_DIRS: dict[str, str] = {}
HH_STREAM_TOP = 10


@register(
    "q_stream_heavy_hitters",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
    ),
    top AS (
      SELECT user_id, exact_n,
             ROW_NUMBER() OVER (ORDER BY exact_n DESC, user_id) AS rn
      FROM counts
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(exact_n AS BIGINT) AS exact_n,
           TRUE AS multi_commit, TRUE AS never_overcounts,
           TRUE AS within_undercount
    FROM top WHERE rn <= {HH_STREAM_TOP}
    """,
)
def q_stream_heavy_hitters(spark, sf_dir):
    """Streaming Misra-Gries heavy-hitter maintenance — the fourth
    member of the mergeable-sketch stream family (HLL union, Count-Min
    sum, quantile-summary merge, and now MG): each micro-batch appends
    its own bounded summary — at most HH_K counters per stream
    partition via the SAME ``_mg_partial`` reducer as the batch
    operator, plus one sentinel row carrying the partition's exact
    token total — and commits merge by plain per-token SUM of the
    partial lower bounds. Per-commit durable state is
    O(HH_K x partitions) rows, independent of batch size and corpus
    cardinality.

    The merged sketch must satisfy the summed MG theorems against the
    batch-side exact twin for the busiest HH_STREAM_TOP users:
    ``never_overcounts`` (every partial is a lower bound, so their sum
    is) and ``within_undercount`` — each partial undercounts any token
    by <= n_p/(HH_K+1), and the bounds ADD across partials to
    N/(HH_K+1) total, checked in exact integer arithmetic
    ((exact - merged) * (HH_K+1) <= N). ``multi_commit`` pins that the
    merge genuinely crossed >= 2 commits, so the property tested is
    sketch MERGING, not one batch's summary."""
    import os
    import shutil

    from ..operators.events import load_events
    from ..operators.text import HH_K, _mg_partial

    sdf = _events_time_ordered_stream(spark, sf_dir)
    if sf_dir not in _SS_SINK_DIRS:
        _SS_SINK_DIRS[sf_dir] = _tmpdir("ss_sink_")
    sk_dir = _SS_SINK_DIRS[sf_dir] + "/partials"
    shutil.rmtree(sk_dir, ignore_errors=True)
    os.makedirs(sk_dir)

    def write_batch(batch_df, batch_id):
        (
            batch_df.select(F.col("user_id").cast("string").alias("token"))
            .mapInPandas(_mg_partial, "token string, mg_count long")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sk_dir)
        )

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    partials = spark.read.parquet(sk_dir).localCheckpoint(eager=True)
    n_commits = partials.select("batch_id").distinct().count()
    # sentinel rows (token NULL) carry each partition's exact total
    total = partials.filter(F.col("token").isNull()).agg(
        F.sum("mg_count").alias("n")
    )
    merged = (
        partials.filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("mg_count").alias("mg"))
    )

    ev = load_events(spark, sf_dir)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    top = (
        counts.orderBy(F.col("exact_n").desc(), F.col("user_id"))
        .limit(HH_STREAM_TOP)
    )
    return (
        top.join(
            F.broadcast(merged),
            top.user_id.cast("string") == merged.token,
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "exact_n",
            F.lit(n_commits >= 2).alias("multi_commit"),
            (F.coalesce(F.col("mg"), F.lit(0)) <= F.col("exact_n")).alias(
                "never_overcounts"
            ),
            (
                (F.col("exact_n") - F.coalesce(F.col("mg"), F.lit(0)))
                * (HH_K + 1)
                <= F.col("n")
            ).alias("within_undercount"),
        )
    )


# --- streaming cadence maintenance: mergeable per-user gap moment sums ----

def cadence_batch_summary(batch_df):
    """One micro-batch's per-user cadence summary — the monoid element
    (first_ts, last_ts, gap count/sum/sum-of-squares). Factored so the
    recovery probe (tools/bench_stream_recovery.py) drives the identical
    per-commit work the registered q_stream_cadence sink performs."""
    gap = F.expr(
        f"(ts - lag(ts) over (partition by user_id "
        f"order by ts, event_id)) div {MIN_NS_GAP}"
    )
    return (
        batch_df.select("user_id", "ts", gap.alias("gap_min"))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum(F.when(F.col("gap_min").isNotNull(), 1).otherwise(0)).alias("ng"),
            F.coalesce(F.sum("gap_min"), F.lit(0)).alias("sg"),
            F.coalesce(
                F.sum(F.col("gap_min") * F.col("gap_min")), F.lit(0)
            ).alias("sgg"),
        )
    )


_CAD_SINK_DIRS: dict[str, str] = {}


@register(
    "q_stream_cadence",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             (CAST(epoch_ns(ts) AS BIGINT)
              - LAG(CAST(epoch_ns(ts) AS BIGINT)) OVER (
                  PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
             // {MIN_NS_GAP} AS gap_min
      FROM events
    ),
    s AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_min) AS BIGINT) AS sg,
             CAST(SUM(gap_min * gap_min) AS BIGINT) AS sgg
      FROM seq WHERE gap_min IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_gaps, sg AS sum_gap_min,
           CAST(FLOOR((CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
                       - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                      / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                      * 1e6 + 0.5) AS BIGINT) AS cv2_e6,
           TRUE AS multi_commit
    FROM s
    WHERE n_gaps >= {BOT_MIN_GAPS} AND sg > 0
    """,
)
def q_stream_cadence(spark, sf_dir):
    """Streaming per-user cadence maintenance — the mergeable-state twin
    of ``q_events_bot_regularity``. Per-user gap statistics form a
    MONOID: each micro-batch commits only its per-user summary row
    (first_ts, last_ts, n_events, batch-internal gap count/sum/sum-of-
    squares — bounded by |users in batch|, never |events|), and two
    adjacent summaries merge by adding their sums plus ONE bridging gap
    (next.first − prev.last). The read-side fold is a lag over batch
    summaries per user (at most REPLAY_BATCHES rows per user), after
    which cv² must equal the batch operator's value EXACTLY — the oracle
    IS the batch SQL, so this gate proves the decomposition is lossless,
    not approximately right. Time-range batch splitting means ts ties
    never straddle commits, and equal-ts permutations change no gap
    value, so the merged moment sums are bit-identical to the
    single-pass ones. ``multi_commit`` pins that the fold genuinely
    crossed >= 2 commits."""
    import os
    import shutil

    sdf = _events_time_ordered_stream(spark, sf_dir)
    if sf_dir not in _CAD_SINK_DIRS:
        _CAD_SINK_DIRS[sf_dir] = _tmpdir("cadence_sink_")
    sk_dir = _CAD_SINK_DIRS[sf_dir] + "/summaries"
    shutil.rmtree(sk_dir, ignore_errors=True)
    os.makedirs(sk_dir)

    def write_batch(batch_df, batch_id):
        (
            cadence_batch_summary(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sk_dir)
        )

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    summ = spark.read.parquet(sk_dir)
    n_commits = summ.select("batch_id").distinct().count()
    bridged = summ.select(
        "user_id",
        "ng",
        "sg",
        "sgg",
        F.expr(
            f"(first_ts - lag(last_ts) over (partition by user_id "
            f"order by batch_id)) div {MIN_NS_GAP}"
        ).alias("bridge"),
    )
    s = (
        bridged.groupBy("user_id")
        .agg(
            (
                F.sum("ng")
                + F.sum(F.when(F.col("bridge").isNotNull(), 1).otherwise(0))
            ).alias("n_gaps"),
            (F.sum("sg") + F.coalesce(F.sum("bridge"), F.lit(0))).alias("sg"),
            (
                F.sum("sgg")
                + F.coalesce(F.sum(F.col("bridge") * F.col("bridge")), F.lit(0))
            ).alias("sgg"),
        )
        .filter((F.col("n_gaps") >= BOT_MIN_GAPS) & (F.col("sg") > 0))
    )
    nd = F.col("n_gaps").cast("double")
    sgd = F.col("sg").cast("double")
    cv2 = (nd * F.col("sgg").cast("double") - sgd * sgd) / (sgd * sgd)
    return s.select(
        "user_id",
        "n_gaps",
        F.col("sg").alias("sum_gap_min"),
        F.floor(cv2 * 1e6 + F.lit(0.5)).cast("long").alias("cv2_e6"),
        F.lit(n_commits >= 2).alias("multi_commit"),
    )


# --- streaming Markov-transition maintenance --------------------------------

_MKV_SINK_DIRS: dict[str, str] = {}


def markov_batch_summary(batch_df):
    """Per-commit summary for streaming transition-count maintenance:
    (a) per-user INTERNAL adjacent-pair counts within the batch and
    (b) the user's first/last event type (ts, event_id order) so two
    adjacent commits merge with ONE bridging transition. Bounded by
    |users in batch| x |type pairs|, never |events|."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        batch_df.select(
            "user_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("user_id", "src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ends = batch_df.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("first_type"),
        F.max(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("last_type"),
    )
    return pairs, ends


@register(
    "q_stream_markov_transition",
    # static-replay equivalence: the fold across commits must reproduce
    # the BATCH operator exactly, so the oracle IS the batch SQL — the
    # gate proves the (internal counts + boundary bridge) decomposition
    # is lossless, not approximately right
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    c AS (SELECT src, dst, COUNT(*) AS n FROM seq WHERE dst IS NOT NULL
          GROUP BY src, dst)
    SELECT src, dst, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src), 6) AS p
    FROM c
    """,
)
def q_stream_markov_transition(spark, sf_dir):
    """Streaming maintenance of the event-type transition matrix — the
    mergeable-state twin of ``q_events_markov_transition``: adjacency
    counts are a MONOID under concatenation of time-ordered streams
    (internal counts add; the only cross-commit information is one
    bridging transition per user per boundary, last_type(prev) ->
    first_type(next)). Each micro-batch commits its bounded summary
    (per-user pair counts + endpoints); the read-side fold is one lag
    over batch endpoints per user (<= EWMA_REPLAY_BATCHES rows/user)
    plus two hash aggregates. Time-range batch splitting keeps ts ties
    inside one commit, so the fold is bit-identical to the single-pass
    LEAD — the oracle is the batch operator's own SQL."""
    import os
    import shutil

    from pyspark.sql import Window as W

    sdf = _events_time_ordered_stream(spark, sf_dir)
    if sf_dir not in _MKV_SINK_DIRS:
        _MKV_SINK_DIRS[sf_dir] = _tmpdir("markov_sink_")
    base = _MKV_SINK_DIRS[sf_dir]
    p_dir, e_dir = base + "/pairs", base + "/ends"
    for d in (p_dir, e_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)

    def write_batch(batch_df, batch_id):
        pairs, ends = markov_batch_summary(batch_df)
        pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(p_dir)
        ends.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(e_dir)

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    internal = (
        spark.read.parquet(p_dir)
        .groupBy("src", "dst")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    ends = spark.read.parquet(e_dir)
    wb = W.partitionBy("user_id").orderBy("batch_id")
    bridges = (
        ends.select(
            "user_id",
            F.lag("last_type").over(wb).alias("src"),
            F.col("first_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    c = (
        internal.unionByName(bridges)
        .groupBy("src", "dst")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    tot = W.partitionBy("src")
    return c.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(tot), 6).alias("p"),
    )


# --- streaming Naive Bayes count maintenance ---------------------------------

_NB_STREAM_DIRS: dict[str, str] = {}
_NB_SINK_DIRS: dict[str, str] = {}
NB_REPLAY_BATCHES = 4


def _documents_chunked_stream(spark, sf_dir):
    """Multi-batch replay of the documents fixture: range-split on
    doc_id into NB_REPLAY_BATCHES files, maxFilesPerTrigger=1 — the
    documents twin of _events_time_ordered_stream (ingest order is
    arrival order; NB counts are order-free, which is exactly what the
    equivalence gate demonstrates). Memoized per fixture dir."""
    import os
    import shutil

    src_key = f"{sf_dir}/documents.parquet"
    if src_key not in _NB_STREAM_DIRS:
        stream_dir = _tmpdir("documents_chunked_stream_")
        docs = spark.read.parquet(src_key)
        lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
        span = max(hi - lo + 1, 1)
        for i in range(NB_REPLAY_BATCHES):
            a = lo + span * i // NB_REPLAY_BATCHES
            b = lo + span * (i + 1) // NB_REPLAY_BATCHES
            tmp = os.path.join(stream_dir, f"_tmp{i}")
            (
                docs.filter((F.col("doc_id") >= a) & (F.col("doc_id") < b))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = next(
                p for p in os.listdir(tmp) if p.endswith(".parquet")
            )
            os.rename(
                os.path.join(tmp, part),
                os.path.join(stream_dir, f"chunk{i}.parquet"),
            )
            shutil.rmtree(tmp)
        _NB_STREAM_DIRS[src_key] = stream_dir
    schema = spark.read.parquet(src_key).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_NB_STREAM_DIRS[src_key])
    )


def _nb_stream_oracle() -> str:
    from ..operators.text import _NB_MODEL_SQL

    return f"""
    WITH {_NB_MODEL_SQL}
    SELECT token, c_good, c_bad, logodds_e6,
           TRUE AS multi_commit, TRUE AS matches_batch
    FROM nbmodel WHERE token <> '__prior__'
    """


@register("q_stream_nb_counts", oracle=_nb_stream_oracle())
def q_stream_nb_counts(spark, sf_dir):
    """STREAMING CLASSIFIER REFRESH — the online half of the Naive
    Bayes pair: per micro-batch, each arriving document chunk
    contributes its (token, class) counts to an append-only sink
    (per-commit state is vocab-bounded, KBs regardless of batch size),
    and the live model is just ``SUM`` per token because count
    matrices are ADDITIVE — the same mergeable-monoid argument as the
    Count-Min/HLL maintenance twins, here carrying a full classifier.
    After the replay the merged counts must equal the BATCH trainer's
    counts exactly and the e6 log-odds recomputed from them must equal
    the batch model (``matches_batch`` is a REAL comparison per token,
    not asserted), with ``multi_commit`` pinning that the equivalence
    genuinely crossed >= {NB_REPLAY_BATCHES - 1}+ commits. This is the
    production shape for keeping a quality filter current while the
    crawl streams in: no retraining, one additive merge per commit."""
    import shutil

    from ..operators.text import _nb_model

    sdf = _documents_chunked_stream(spark, sf_dir)
    if sf_dir not in _NB_SINK_DIRS:
        _NB_SINK_DIRS[sf_dir] = _tmpdir("nb_sink_")
    sink = _NB_SINK_DIRS[sf_dir] + "/counts"
    shutil.rmtree(sink, ignore_errors=True)

    is_bad = (F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 11 == 0)
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" ### $$$ @@@")).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" 0 1 22 333")).otherwise(""),
    )

    def write_batch(batch_df, batch_id):
        (
            batch_df.select(is_bad.alias("is_bad"), aug.alias("aug"))
            .select("is_bad", F.explode(F.split("aug", " ")).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(
                F.count(F.when(~F.col("is_bad"), 1)).cast("long").alias("c_good"),
                F.count(F.when(F.col("is_bad"), 1)).cast("long").alias("c_bad"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    cells = spark.read.parquet(sink)
    n_commits = cells.select("batch_id").distinct().count()
    merged = (
        cells.groupBy("token")
        .agg(
            F.sum("c_good").cast("long").alias("c_good"),
            F.sum("c_bad").cast("long").alias("c_bad"),
        )
        .localCheckpoint(eager=True)
    )
    tot = merged.agg(
        F.sum("c_good").cast("long").alias("n_good"),
        F.sum("c_bad").cast("long").alias("n_bad"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    logodds = F.floor(
        (
            F.log((F.col("c_good") + 1).cast("double"))
            - F.log((F.col("n_good") + F.col("v")).cast("double"))
            - F.log((F.col("c_bad") + 1).cast("double"))
            + F.log((F.col("n_bad") + F.col("v")).cast("double"))
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    live = merged.crossJoin(F.broadcast(tot)).select(
        "token", "c_good", "c_bad", logodds.alias("logodds_e6")
    )
    batch_model, _ = _nb_model(spark, sf_dir)
    ref = batch_model.filter(F.col("token") != "__prior__").select(
        F.col("token"),
        F.col("c_good").alias("ref_good"),
        F.col("c_bad").alias("ref_bad"),
        F.col("logodds_e6").alias("ref_lo"),
    )
    return (
        live.join(ref, "token", "full_outer")
        .select(
            "token", "c_good", "c_bad", "logodds_e6",
            F.lit(n_commits >= NB_REPLAY_BATCHES - 1).alias("multi_commit"),
            (
                (F.col("c_good") == F.col("ref_good"))
                & (F.col("c_bad") == F.col("ref_bad"))
                & (F.col("logodds_e6") == F.col("ref_lo"))
            ).alias("matches_batch"),
        )
    )


# --- streaming tokenizer-trainer input maintenance ---------------------------


def _unigram_stream_oracle() -> str:
    from ..operators.text import _unigram_chain_sql

    return f"""
    WITH {_unigram_chain_sql()}
    SELECT tok AS token, freq, score_e6,
           TRUE AS multi_commit, TRUE AS matches_batch
    FROM uscored
    """


@register("q_stream_unigram_counts", oracle=_unigram_stream_oracle())
def q_stream_unigram_counts(spark, sf_dir):
    """STREAMING TOKENIZER REFRESH — the online half of the unigram
    trainer family: per micro-batch, each arriving document chunk
    contributes its (word, count) cells to an append-only sink (state
    per commit is the batch's own vocabulary, never the corpus), and
    the live word-frequency relation is just ``SUM`` per word because
    counts are ADDITIVE — the same mergeable-monoid argument as the
    Count-Min/HLL/NB maintenance twins, here feeding a TRAINER. After
    the replay, the seed vocab re-derived from the merged counts
    (``_scored_vocab_from_wf``, the literal batch vocab stage) must
    equal the batch trainer's scored vocab token-for-token — freq AND
    e6 log-prob score (``matches_batch`` is a REAL comparison, not
    asserted), with ``multi_commit`` pinning >= {NB_REPLAY_BATCHES - 1}
    commits. This is the production shape for keeping a tokenizer
    current while the crawl streams in: no corpus re-scan, one additive
    merge per commit, vocab re-derivation touches only the vocab-
    bounded word table."""
    import shutil

    from ..operators.text import _scored_vocab_from_wf, _unigram_train_cached

    sdf = _documents_chunked_stream(spark, sf_dir)
    key = sf_dir + "#unigram"
    if key not in _NB_SINK_DIRS:
        _NB_SINK_DIRS[key] = _tmpdir("unigram_sink_")
    sink = _NB_SINK_DIRS[key] + "/counts"
    shutil.rmtree(sink, ignore_errors=True)

    def write_batch(batch_df, batch_id):
        (
            batch_df.select(F.explode(F.split("text", " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    cells = spark.read.parquet(sink)
    n_commits = cells.select("batch_id").distinct().count()
    merged = (
        cells.groupBy("word")
        .agg(F.sum("n").cast("long").alias("freq"))
        .localCheckpoint(eager=True)
    )
    live = _scored_vocab_from_wf(merged).select(
        F.col("tok").alias("token"), "freq", "score_e6"
    )
    _, batch_scored, _ = _unigram_train_cached(spark, sf_dir)
    ref = batch_scored.select(
        F.col("tok").alias("token"),
        F.col("freq").alias("ref_freq"),
        F.col("score_e6").alias("ref_score"),
    )
    return live.join(ref, "token", "full_outer").select(
        "token", "freq", "score_e6",
        F.lit(n_commits >= NB_REPLAY_BATCHES - 1).alias("multi_commit"),
        (
            (F.col("freq") == F.col("ref_freq"))
            & (F.col("score_e6") == F.col("ref_score"))
        ).alias("matches_batch"),
    )


# --- streaming ANN index maintenance ------------------------------------------

_ANN_STREAM_DIRS: dict[str, str] = {}
_ANN_SINK_DIRS: dict[str, str] = {}
ANN_REPLAY_BATCHES = 4


def _embeddings_chunked_stream(spark, sf_dir):
    """File-source readStream over the embeddings table range-split on
    vec_id into ANN_REPLAY_BATCHES files, maxFilesPerTrigger=1 — the
    vector twin of _documents_chunked_stream (arrival order is ingest
    order; the band index is order-free, which is what the equivalence
    gate demonstrates). Memoized per fixture dir."""
    import os
    import shutil

    src_key = f"{sf_dir}/embeddings.parquet"
    if src_key not in _ANN_STREAM_DIRS:
        stream_dir = _tmpdir("embeddings_chunked_stream_")
        emb = spark.read.parquet(src_key)
        lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
        span = max(hi - lo + 1, 1)
        for i in range(ANN_REPLAY_BATCHES):
            a = lo + span * i // ANN_REPLAY_BATCHES
            b = lo + span * (i + 1) // ANN_REPLAY_BATCHES
            tmp = os.path.join(stream_dir, f"_tmp{i}")
            (
                emb.filter((F.col("vec_id") >= a) & (F.col("vec_id") < b))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            os.rename(
                os.path.join(tmp, part),
                os.path.join(stream_dir, f"chunk{i}.parquet"),
            )
            shutil.rmtree(tmp)
        _ANN_STREAM_DIRS[src_key] = stream_dir
    schema = spark.read.parquet(src_key).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_ANN_STREAM_DIRS[src_key])
    )


def _ann_delta_oracle() -> str:
    from ..operators.dedup import _emb_lsh_cte

    return f"""
    WITH {_emb_lsh_cte()}
    SELECT CAST(band AS BIGINT) AS band, bkey,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           BIT_XOR(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT)
             AS member_fp,
           TRUE AS multi_commit, TRUE AS matches_batch
    FROM bands
    GROUP BY band, bkey
    """


@register("q_stream_ann_delta", oracle=_ann_delta_oracle())
def q_stream_ann_delta(spark, sf_dir):
    """STREAMING ANN INDEX MAINTENANCE — the online half of the banded
    sign-LSH index every embedding-dedup / semantic-decontamination /
    candidate-generation chain in this library searches: per
    micro-batch, each ARRIVING vector appends its {EMB_BANDS} band
    rows (band, bucket key, vec_id) to an append-only posting sink —
    the per-commit state is exactly the delta's own band rows (bounded
    by batch size, never the corpus), because bucket keys are
    per-vector deterministic (fixed hyperplanes) and a banded index is
    an ADDITIVE relation: index(base + delta) == index(base) UNION
    index(delta), the same mergeable-monoid argument as the sketch
    twins, here carrying a vector-search index. No rebuild, no
    re-bucketing, one append per commit — the production shape for
    keeping a vector store's candidate generator current while
    embeddings stream in.

    After the replay the merged index must equal the BATCH-built index
    bucket-for-bucket: per (band, bkey) the occupancy AND an order-free
    member-set fingerprint (BIT_XOR of the engine-identical md5-derived
    member ids) are compared against the static construction
    (``matches_batch`` is a real comparison, not asserted), with
    ``multi_commit`` pinning >= {ANN_REPLAY_BATCHES} - 1 real commits.
    Bucket-set equality makes any index-derived search — candidate
    pairs, incremental-dedup admission, filtered top-k over the probed
    buckets — identical over base+delta vs rebuild, which is the
    search-equivalence claim, reduced to its generating relation.

    The key width is pinned to the batch index's corpus-scaled width
    (a deployment config in production — an appending index cannot
    re-derive it per commit, and re-keying on growth is exactly the
    REBUILD this twin exists to avoid)."""
    import shutil

    import numpy as np
    import pandas as pd

    from ..operators.dedup import (
        EMB_BANDS,
        EMB_MAX_BITS,
        _PLANES,
        emb_band_bits_for,
    )
    from ..operators.registry import load
    from ..operators.similarity import _to_matrix, lr_matmul

    static = load(spark, sf_dir, "embeddings")
    band_bits = emb_band_bits_for(static.count())
    P = np.array(
        [
            _PLANES[b * EMB_MAX_BITS + j]
            for b in range(EMB_BANDS)
            for j in range(band_bits)
        ],
        dtype=np.float64,
    )

    def band_rows(pdf: "pd.DataFrame") -> "pd.DataFrame":
        C = _to_matrix(pdf["embedding"])
        dots, _ = lr_matmul(C, P)
        bits = dots > 0
        frames = []
        for b in range(EMB_BANDS):
            bkey = np.zeros(len(C), dtype=np.int64)
            for j in range(band_bits):
                bkey += np.where(bits[:, b * band_bits + j], 1 << j, 0)
            frames.append(
                pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "band": np.full(len(C), b, dtype=np.int64),
                        "bkey": bkey,
                    }
                )
            )
        return pd.concat(frames)

    sdf = _embeddings_chunked_stream(spark, sf_dir)
    key = f"{sf_dir}/ann_delta"
    if key not in _ANN_SINK_DIRS:
        _ANN_SINK_DIRS[key] = _tmpdir("ann_delta_sink_")
    sink = _ANN_SINK_DIRS[key] + "/postings"
    shutil.rmtree(sink, ignore_errors=True)

    def write_batch(batch_df, batch_id):
        pdf = batch_df.select("vec_id", "embedding").toPandas()
        if not len(pdf):
            return
        out = band_rows(pdf)
        out["batch_id"] = batch_id
        batch_df.sparkSession.createDataFrame(
            out, "vec_id long, band long, bkey long, batch_id long"
        ).write.mode("append").parquet(sink)

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    postings = spark.read.parquet(sink)
    n_commits = postings.select("batch_id").distinct().count()
    fp = F.expr(
        "bit_xor(cast(conv(substring(md5(cast(vec_id as string)), 1, 15),"
        " 16, 10) as bigint))"
    )
    live = postings.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        fp.alias("member_fp"),
    )
    # batch-built index: the identical keying pass over the static table
    batch_postings = (
        static.select("vec_id", "embedding")
        .mapInPandas(
            lambda it: (band_rows(pdf) for pdf in it if len(pdf)),
            "vec_id long, band long, bkey long",
        )
    )
    ref = batch_postings.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).cast("long").alias("ref_n"),
        fp.alias("ref_fp"),
    )
    return live.join(ref, ["band", "bkey"], "full_outer").select(
        "band",
        "bkey",
        "n_vecs",
        "member_fp",
        F.lit(n_commits >= ANN_REPLAY_BATCHES - 1).alias("multi_commit"),
        (
            (F.col("n_vecs") == F.col("ref_n"))
            & (F.col("member_fp") == F.col("ref_fp"))
        ).alias("matches_batch"),
    )


# --- streaming BM25 index maintenance -----------------------------------------


def _bm25_stream_oracle() -> str:
    from ..operators.text import _BM25_ORACLE

    return f"""
    SELECT query_id, doc_id, bm25_rank, score,
           TRUE AS multi_commit, TRUE AS matches_batch
    FROM ({_BM25_ORACLE})
    """


@register("q_stream_bm25_delta", oracle=_bm25_stream_oracle())
def q_stream_bm25_delta(spark, sf_dir):
    """STREAMING SEARCH-INDEX MAINTENANCE — the online half of the BM25
    pair: per micro-batch, each arriving document chunk appends its
    (doc_id, term, tf) postings cells to an append-only sink (per-commit
    state is the batch's own postings, never the corpus), and the live
    index is ``SUM`` per (doc, term) because term-frequency cells are
    ADDITIVE — the same mergeable-monoid argument as the NB/unigram/ANN
    maintenance twins, here carrying a full RETRIEVAL index: document
    lengths, corpus stats (n_docs, avgdl), per-term document frequencies
    and the query-term selection are all re-derived from the merged
    postings by the SAME scorer the batch query uses (_bm25_rank). After
    the replay the live top-{5} ranking must equal the batch BM25
    ranking rank-for-rank and score-for-score (``matches_batch`` is a
    REAL per-row comparison, not asserted), with ``multi_commit``
    pinning that the equivalence crossed multiple commits. This is the
    production shape for keeping a search index fresh while the crawl
    streams in: one additive postings merge per commit, no re-scan —
    exactly how segment-merging engines (Lucene) treat term statistics."""
    import shutil

    from ..operators.text import _bm25_rank, q_text_bm25_topk

    sdf = _documents_chunked_stream(spark, sf_dir)
    key = sf_dir + "#bm25"
    if key not in _NB_SINK_DIRS:
        _NB_SINK_DIRS[key] = _tmpdir("bm25_sink_")
    sink = _NB_SINK_DIRS[key] + "/postings"
    shutil.rmtree(sink, ignore_errors=True)

    def write_batch(batch_df, batch_id):
        (
            batch_df.select(
                "doc_id", F.explode(F.split("text", " ")).alias("term")
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    cells = spark.read.parquet(sink)
    n_commits = cells.select("batch_id").distinct().count()
    merged = (
        cells.groupBy("doc_id", "term")
        .agg(F.sum("tf").cast("long").alias("tf"))
        .localCheckpoint(eager=True)
    )
    live = _bm25_rank(merged)
    ref = q_text_bm25_topk(spark, sf_dir).select(
        "query_id",
        "doc_id",
        F.col("bm25_rank").alias("ref_rank"),
        F.col("score").alias("ref_score"),
    )
    return live.join(ref, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "bm25_rank",
        "score",
        F.lit(n_commits >= NB_REPLAY_BATCHES - 1).alias("multi_commit"),
        (
            (F.col("bm25_rank") == F.col("ref_rank"))
            & (F.col("score") == F.col("ref_score"))
        ).alias("matches_batch"),
    )


# --- streaming graph-ANN maintenance (HNSW insert) ----------------------------
#
# The hierarchical graph index (operators/similarity.py q_sim_graph_
# search_topk) is the one ANN structure in this library that previously
# required a full rebuild when vectors arrived: kNN edges are not an
# additive relation. The production answer (Malkov & Yashunin 2016 —
# the HNSW INSERT) is: a new vector SEARCHES the existing graph and
# connects to the best results it saw; the base graph is never
# recomputed. This twin streams an ingest increment (vec_id %
# {GANN_MOD} == 0) against the base graph built from everything else,
# and per commit appends each arriving vector's insert edges — the
# routing-layer scoring plus ONE neighbor expansion of its top
# entries, then the top-{GANN_INS_M} of the scored ledger, exactly the
# connect-to-beam-search-results rule.

GANN_MOD = 7     # vec_id % 7 == 0 arrives via the stream (~14% delta)
GANN_INS_M = 8   # edges per inserted vector (HNSW's M, = GS_DEGREE)

_GANN_SINK_DIRS: dict[str, str] = {}


def _gann_insert_oracle() -> str:
    from ..operators.similarity import (
        GS_DEGREE,
        GS_ENTRIES,
        GS_L1_CAP,
        GS_L1_DEGREE,
        KNN_BLOCK_CAP,
    )

    def md5mod(c):
        return f"('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15))::BIGINT"

    return f"""
    WITH base AS MATERIALIZED (
      SELECT vec_id, label, embedding::DOUBLE[] AS e,
             SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings WHERE vec_id % {GANN_MOD} <> 0
    ),
    cnl AS (SELECT label, COUNT(*) AS nl FROM base GROUP BY label),
    v AS MATERIALIZED (
      SELECT b.vec_id, b.label, b.e, b.nrm,
             {md5mod('b.vec_id')}
               % CAST(CEIL(cnl.nl / {KNN_BLOCK_CAP}.0) AS BIGINT) AS sub
      FROM base b JOIN cnl USING (label)
    ),
    kpairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             LIST_DOT_PRODUCT(a.e, b.e) / (a.nrm * b.nrm) AS cos_raw
      FROM v a JOIN v b
        ON a.label = b.label AND a.sub = b.sub AND a.vec_id <> b.vec_id
    ),
    kranked AS MATERIALIZED (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cos_raw DESC, dst) AS rn
      FROM kpairs
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    l1 AS (
      SELECT vec_id FROM base
      WHERE {md5mod('vec_id')}
            % GREATEST(CAST(CEIL((SELECT n FROM nb) / {GS_L1_CAP}.0)
                            AS BIGINT), 1) = 0
    ),
    l1p AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             LIST_DOT_PRODUCT(a.e, b.e) / (a.nrm * b.nrm) AS cos_raw
      FROM v a JOIN l1 la ON a.vec_id = la.vec_id
      JOIN v b ON b.vec_id <> a.vec_id
      JOIN l1 lb ON b.vec_id = lb.vec_id
    ),
    l1r AS (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cos_raw DESC, dst) AS rn
      FROM l1p
    ),
    uedges AS MATERIALIZED (
      SELECT src, dst FROM kranked WHERE rn <= {GS_DEGREE}
      UNION
      SELECT dst AS src, src AS dst FROM kranked WHERE rn <= {GS_DEGREE}
      UNION
      SELECT src, dst FROM l1r WHERE rn <= {GS_L1_DEGREE}
      UNION
      SELECT dst AS src, src AS dst FROM l1r WHERE rn <= {GS_L1_DEGREE}
    ),
    dv AS (
      SELECT vec_id AS src, embedding::DOUBLE[] AS qe,
             SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS qn
      FROM embeddings WHERE vec_id % {GANN_MOD} = 0
    ),
    led0 AS MATERIALIZED (
      SELECT d.src, w.vec_id AS c_id,
             ROUND(LIST_DOT_PRODUCT(d.qe, w.e) / (d.qn * w.nrm), 6)
               AS cosine
      FROM dv d CROSS JOIN l1 l JOIN v w ON w.vec_id = l.vec_id
    ),
    ent AS (
      SELECT src, c_id FROM (
        SELECT src, c_id,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY cosine DESC, c_id) AS rn
        FROM led0) WHERE rn <= {GS_ENTRIES}
    ),
    new1 AS (
      SELECT DISTINCT f.src, ed.dst AS c_id
      FROM ent f JOIN uedges ed ON ed.src = f.c_id
      WHERE NOT EXISTS (SELECT 1 FROM led0 l
                        WHERE l.src = f.src AND l.c_id = ed.dst)
    ),
    led1 AS MATERIALIZED (
      SELECT src, c_id, cosine FROM led0
      UNION ALL
      SELECT n.src, n.c_id,
             ROUND(LIST_DOT_PRODUCT(d.qe, w.e) / (d.qn * w.nrm), 6)
      FROM new1 n JOIN dv d USING (src) JOIN v w ON w.vec_id = n.c_id
    )
    SELECT src, CAST(rn AS BIGINT) AS rn, c_id AS dst, cosine,
           TRUE AS multi_commit, TRUE AS matches_batch
    FROM (
      SELECT src, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cosine DESC, c_id) AS rn
      FROM led1)
    WHERE rn <= {GANN_INS_M}
    """


@memoized("gann_base")
def _gann_base(spark, sf_dir):
    """Base-graph relations for the insert rule, built ONCE per
    session and corpus and checkpointed — the persisted index a
    production ingest path keeps warm: undirected search edges, the
    scored-vector table, and the routing-layer ids."""
    import math

    from ..operators.registry import load
    from ..operators.similarity import (
        GS_DEGREE,
        GS_L1_CAP,
        GS_L1_DEGREE,
        _knn_edges,
        _l1_edges,
        _md5_mod_col,
        _norm,
    )

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % GANN_MOD != 0)
    n_base = base.count()
    l1_mod = max(1, math.ceil(n_base / GS_L1_CAP))
    edges = _knn_edges(base, GS_DEGREE).select("src", "dst")
    lre = _l1_edges(base, l1_mod, GS_L1_DEGREE).select("src", "dst")
    both = edges.unionByName(lre)
    uedges = (
        both.unionByName(
            both.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    w = base.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("e"),
        _norm(F.col("embedding")).alias("nrm"),
    ).localCheckpoint(eager=True)
    l1_ids = (
        base.filter(_md5_mod_col() % l1_mod == 0)
        .select(F.col("vec_id").alias("c_id"))
        .localCheckpoint(eager=True)
    )
    return uedges, w, l1_ids


def _gann_insert_edges(delta, uedges, w, l1_ids):
    """The HNSW insert rule for a batch of arriving vectors ``delta``
    (src, qe, qn): score the routing layer, expand the top GS_ENTRIES
    entries one hop over the base edges, rank the scored ledger, keep
    the top {GANN_INS_M} as the vector's edges. The delta side is
    broadcast (an ingest increment is small by definition); the base
    relations are probed, never reshuffled."""
    from pyspark.sql import Window as W2

    from ..operators.similarity import GS_ENTRIES

    dot = F.aggregate(
        F.zip_with(
            F.col("qe"), F.col("e"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def score(cand):
        return (
            cand.join(F.broadcast(delta), "src")
            .join(w, "c_id")
            .select(
                "src", "c_id",
                F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cosine"),
            )
        )

    wnd = W2.partitionBy("src").orderBy(F.desc("cosine"), "c_id")
    led0 = score(
        delta.select("src").crossJoin(F.broadcast(l1_ids))
    ).localCheckpoint(eager=True)
    ent = (
        led0.withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= GS_ENTRIES)
        .select("src", F.col("c_id").alias("esrc"))
    )
    new1 = (
        ent.join(uedges.withColumnRenamed("src", "esrc"), "esrc")
        .select("src", F.col("dst").alias("c_id"))
        .distinct()
        .join(led0.select("src", "c_id"), ["src", "c_id"], "left_anti")
    )
    led1 = led0.unionByName(score(new1))
    return (
        led1.withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= GANN_INS_M)
        .select(
            "src",
            F.col("rn").cast("long").alias("rn"),
            F.col("c_id").alias("dst"),
            "cosine",
        )
    )


@register("q_stream_gann_insert", oracle=_gann_insert_oracle())
def q_stream_gann_insert(spark, sf_dir):
    """STREAMING GRAPH-ANN MAINTENANCE — the HNSW INSERT (Malkov &
    Yashunin 2016) as a streaming twin: the hierarchical graph index
    is the one ANN structure here that a naive pipeline rebuilds on
    every vector arrival; the insert rule instead lets each ARRIVING
    vector search the existing base graph (routing-layer scoring +
    one neighbor expansion of its top entries — the search's own first
    step) and connect to the top-{GANN_INS_M} scored results. Per
    commit the state written is exactly the delta's own edge rows
    ({GANN_INS_M} per vector, bounded by batch size, never the
    corpus); the base graph is built once and only PROBED.

    After the replay, the streamed edge set must equal the batch
    application of the identical insert rule to the whole increment,
    rank-for-rank and score-for-score (``matches_batch`` is a real
    comparison), with ``multi_commit`` pinning real multi-commit
    arrival. The oracle replays base-graph construction AND the insert
    rule in one statement. Search-equivalence (recall of beam search
    over base+inserted-edges vs a full rebuild) is probed by
    tools/bench_ann_recall.py's stream_gann cell rather than asserted
    here — insert-based graphs are APPROXIMATIONS of the rebuild (the
    documented HNSW trade), while the edge relation itself is exact
    and is what this gate pins."""
    import shutil

    from ..operators.registry import load
    from ..operators.similarity import _norm

    uedges, w, l1_ids = _gann_base(spark, sf_dir)
    sdf = _embeddings_chunked_stream(spark, sf_dir)
    key = f"{sf_dir}/gann_insert"
    if key not in _GANN_SINK_DIRS:
        _GANN_SINK_DIRS[key] = _tmpdir("gann_sink_")
    sink = _GANN_SINK_DIRS[key] + "/edges"
    shutil.rmtree(sink, ignore_errors=True)

    def write_batch(batch_df, batch_id):
        delta = (
            batch_df.filter(F.col("vec_id") % GANN_MOD == 0)
            .select(
                F.col("vec_id").alias("src"),
                F.col("embedding").alias("qe"),
                _norm(F.col("embedding")).alias("qn"),
            )
            .localCheckpoint(eager=True)
        )
        if not delta.take(1):
            return
        (
            _gann_insert_edges(delta, uedges, w, l1_ids)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    with _stream_partitions(spark):
        q = sdf.writeStream.outputMode("append").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
            _capture_stream_plan(q)
        finally:
            q.stop()

    streamed = spark.read.parquet(sink)
    n_commits = streamed.select("batch_id").distinct().count()
    live = streamed.select("src", "rn", "dst", "cosine")
    emb = load(spark, sf_dir, "embeddings")
    static_delta = emb.filter(F.col("vec_id") % GANN_MOD == 0).select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )
    ref = _gann_insert_edges(static_delta, uedges, w, l1_ids).select(
        "src",
        "rn",
        F.col("dst").alias("ref_dst"),
        F.col("cosine").alias("ref_cos"),
    )
    return live.join(ref, ["src", "rn"], "full_outer").select(
        "src",
        "rn",
        "dst",
        "cosine",
        F.lit(n_commits >= ANN_REPLAY_BATCHES - 1).alias("multi_commit"),
        (
            (F.col("dst") == F.col("ref_dst"))
            & (F.col("cosine") == F.col("ref_cos"))
        ).alias("matches_batch"),
    )
