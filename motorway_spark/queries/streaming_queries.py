"""Streaming operator queries, oracle-checked against batch SQL.

SURVEY.md §2b "Streaming" row. Each query REALLY streams: a file-stream
source over the events fixture → watermarked event-time operators →
memory sink via Trigger.AvailableNow; the drained sink is returned as
the result DataFrame. Because the source is finite and watermarks only
*bound* state (no data is late relative to a drained source), the
streaming result equals the batch SQL the oracle runs — that equality
IS streaming/batch parity, the core Structured Streaming guarantee
(SIGMOD'18 paper, §4: "prefix consistency").

Reference mapping: tumbling/sliding windows = @batch_process time
batching (decorators.py:5-11) made event-time-correct; session windows
and stateful counts = WordCountIntersection's per-key dicts
(examples/intersections.py:19-31); dedup = at-least-once delivery made
exactly-once; the 10-minute watermark = the principled version of the
controller's 30-min in-flight timeout (controller.py:31).

Scale notes: streaming aggregations shuffle on (key, window) into the
state store; watermarks expire state so memory is bounded by the
watermark horizon × key cardinality, not by stream length. That is the
100 TB/day-safe design — no unbounded per-process dicts like the
reference's WordCountIntersection._count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from motorway_spark.queries.registry import query
from motorway_spark.queries.helpers import dec
from motorway_spark.streaming.runner import run_stream_to_memory, stream_events


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows with a 10-minute watermark."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(dec("value")).cast("double"), 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT ts, value,
             UNNEST([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
               AS window_start
      FROM events)
    SELECT window_start, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_value
    FROM starts
    GROUP BY window_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2)."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(dec("value")).cast("double"), 4).alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "sum_value")
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute inactivity gap — the
    native streaming form of the gaps-and-islands pattern the oracle
    computes in batch."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_unique_users
    FROM (SELECT DISTINCT event_type, user_id FROM events)
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates within the watermark horizon, then a
    streaming aggregate over the deduplicated stream (exactly-once
    counting on an at-least-once source — replaces the reference's XOR
    ack machinery for this use case)."""
    events = stream_events(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "10 minutes")
        .select("event_type", "user_id", "ts")
        .dropDuplicates(["event_type", "user_id"])
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique_users"))
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_filter_route",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE event_type = 'purchase' AND value > 50
    """,
)
def stream_filter_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming transform: filter + project + JSON extract
    (the Intersection 1:N contract's 1:0/1 case, intersection.py:24-47),
    append mode."""
    events = stream_events(spark, sf_dir)
    out = (
        events.filter((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .select(
            "event_id",
            "user_id",
            "value",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
    )
    return run_stream_to_memory(out, output_mode="append")


@query(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state via applyInPandasWithState: running
    (count, sum) per user — the exact shape of the reference's
    WordCountIntersection state (examples/intersections.py:19-31), but
    in the checkpointed state store. Update-mode emissions are reduced
    to final values per key (last batch wins = running total)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = stream_events(spark, sf_dir)

    def update_totals(key, pdf_iter, state: GroupState):
        n, total_micro = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # Exact, order-independent accumulation, fully vectorized:
            # fixture/oracle values are DECIMAL(38,6)-quantized, so each
            # value*1e6 is within one ulp of an integer — np.rint
            # recovers it exactly and int64 sums are associative. NULL
            # measurements arrive as NaN and are skipped — SQL SUM
            # semantics, matching the oracle (COUNT(*) still counts the
            # row); unmasked, NaN poisons the int64 cast (degenerate-
            # input smoke).
            v = pdf["value"].to_numpy()
            v = v[~np.isnan(v)]
            total_micro += int(np.rint(v * 1e6).astype(np.int64).sum())
        state.update((n, total_micro))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_micro": [total_micro]}
        )

    counted = events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, total_micro long",
        stateStructType="n_events long, total_micro long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_stream_to_memory(counted, output_mode="update")
    # final value per key = emission of the last batch (max n_events)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            # micro-units → value: int64 < 2^53 is double-exact and the
            # division is correctly rounded, so this equals the oracle's
            # CAST(SUM(DECIMAL(38,6)) AS DOUBLE) bit-for-bit.
            F.round(F.col("total_micro").cast("double") / F.lit(1e6), 4).alias(
                "total_value"
            ),
        )
    )


@query(
    "stream_stateful_user_totals_tws",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same per-key running totals via transformWithStateInPandas —
    Spark 4's successor to applyInPandasWithState (SURVEY.md §2b names
    both): explicit typed state handles (ValueState) instead of a
    single state tuple, timers available, and RocksDB-backed state
    (required by the operator; also the provider you'd run at 100 TB —
    state spills to disk instead of living on the JVM heap).

    ENVIRONMENT GATE (honest): the TWS state server speaks protobuf and
    ``google.protobuf`` is not installed in this container (pip install
    is off-limits), so the operator crashes at init here. When protobuf
    is importable the real transformWithStateInPandas plan runs;
    otherwise this falls back to the applyInPandasWithState twin above,
    which computes the identical result — the TWS code path itself is
    exercised by tests wherever the dependency exists."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    try:  # TWS hard-requires protobuf (state-server wire format)
        from google.protobuf import descriptor as _descriptor  # noqa: F401

        tws_supported = True
    except ImportError:
        tws_supported = False
    if not tws_supported:
        return stream_stateful_user_totals(spark, sf_dir)

    events = stream_events(spark, sf_dir)

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n_events long, total_micro long"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total_micro = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                # same exact int64 micro-unit accumulation as the
                # applyInPandasWithState twin above (incl. the SQL-SUM
                # NaN skip)
                v = pdf["value"].to_numpy()
                v = v[~np.isnan(v)]
                total_micro += int(np.rint(v * 1e6).astype(np.int64).sum())
            self._totals.update((n, total_micro))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_micro": [total_micro]}
            )

        def close(self) -> None:
            pass

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        counted = events.select("user_id", "value").groupBy("user_id").transformWithStateInPandas(
            UserTotals(),
            outputStructType="user_id long, n_events long, total_micro long",
            outputMode="Update",
            timeMode="None",
        )
        sink = run_stream_to_memory(counted, output_mode="update")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("total_micro").cast("double") / F.lit(1e6), 4).alias(
                "total_value"
            ),
        )
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.value
    FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich a stream with a broadcast dimension
    snapshot (the reference's DB-lookup-inside-an-intersection pattern,
    made declarative). The static side re-reads per micro-batch, so a
    slowly-changing dim stays current without restarting the query."""
    from motorway_spark.catalog import Catalog

    events = stream_events(spark, sf_dir)
    customers = F.broadcast(
        Catalog(spark, sf_dir).customer.select("c_custkey", "c_mktsegment")
    )
    out = (
        events.filter(F.col("event_type") == "purchase")
        .join(customers, F.col("user_id") + 1 == F.col("c_custkey"))
        .select(
            "event_id", "user_id", F.col("c_mktsegment").alias("segment"), "value"
        )
    )
    return run_stream_to_memory(out, output_mode="append")


@query(
    "stream_kafka_topic_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_kafka_topic_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka-shaped source under the oracle gate: the events table
    is published once into an on-disk topic (4 key-hashed partitions,
    the kafkalog layout), consumed as a real stream through
    KafkaLogReader's capped offset ranges, and aggregated — matching
    batch SQL over the original table proves the topic round-trip and
    the source's exactly-once offset accounting end to end (reference
    KafkaRamp contract, contrib/kafka/ramps.py:17-235).

    Values survive the JSON hop bit-exactly (shortest-round-trip float
    text), so the decimal-sum convention holds across table → topic →
    stream → aggregate."""
    import json
    import os

    import pyarrow.parquet as pq

    from motorway_spark.sources import register_sources

    register_sources(spark)
    from motorway_spark.queries.scans import _sf_tag

    tag = _sf_tag(sf_dir)
    topic = f"/tmp/motorway_topics/{tag}/events"
    marker = f"{topic}/_READY"
    if not os.path.exists(marker):
        # publish once, driver-side (dimension-sized fixture): 4
        # partitions keyed by user_id — Kafka's keyed-producer layout
        os.makedirs(topic, exist_ok=True)
        tbl = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "user_id", "event_type", "value"],
        ).to_pylist()
        parts: dict[int, list] = {p: [] for p in range(4)}
        for r in tbl:
            parts[r["user_id"] % 4].append(r)
        for p, rows in parts.items():
            tmp = f"{topic}/partition-{p}.jsonl.tmp"
            with open(tmp, "w") as fh:
                for r in rows:
                    fh.write(
                        json.dumps(
                            {
                                "key": str(r["user_id"]),
                                "value": {
                                    "event_type": r["event_type"],
                                    "value": r["value"],
                                },
                            }
                        )
                        + "\n"
                    )
            os.replace(tmp, f"{topic}/partition-{p}.jsonl")
        open(marker, "w").close()

    import uuid

    stream = (
        spark.readStream.format("kafkalog")
        .option("path", topic)
        .option("getRecordsLimit", "5000")
        # fresh consumer group per invocation: a reused group resumes
        # from its committed offsets and would read an empty stream
        .option("groupId", f"oracle-{uuid.uuid4().hex[:8]}")
        .load()
    )
    agg = (
        stream.select(
            F.get_json_object("value", "$.event_type").alias("event_type"),
            F.get_json_object("value", "$.value").cast("double").alias("value"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(dec("value")).cast("double"), 4).alias("sum_value"),
        )
    )
    # Python Data Sources don't support AvailableNow (one-batch
    # fallback would stop at the 10k in-flight cap on bigger SFs):
    # drain with processAllAvailable so commits release the caps
    return run_stream_to_memory(agg, output_mode="complete", drain="process_all")


@query(
    "stream_longpoll_agg",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def stream_longpoll_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The push-shaped long-poll source (S5 twin, sources/longpoll.py)
    under the oracle gate: every document is pushed onto a CometD-style
    channel in server-push batches, the subscriber consumes the wire
    via its WAL-backed internal buffer, and the stream aggregate must
    match batch SQL over the original table — proving no pushed event
    is lost or duplicated across the poll → buffer → partition → commit
    path (reference SalesforceStreamingObjectRamp contract,
    contrib/salesforce/ramps.py:13-69).

    A fresh channel per invocation models one push subscription: the
    subscriber's committed watermark lives in the channel dir, and a
    long-poll wire cannot be re-read (that is the property under test).
    """
    import os
    import uuid

    import pyarrow.parquet as pq

    from motorway_spark.sources import register_sources
    from motorway_spark.sources.longpoll import LongPollChannel

    register_sources(spark)
    chan_dir = f"/tmp/motorway_longpoll/{uuid.uuid4().hex}"
    chan = LongPollChannel(chan_dir)
    docs = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "source", "n_chars"],
    ).to_pylist()
    # push in server-sized batches (several polls' worth of events)
    for i in range(0, len(docs), 500):
        chan.push(
            [
                {"Id": r["doc_id"], "Source": r["source"], "NChars": r["n_chars"]}
                for r in docs[i : i + 500]
            ]
        )

    stream = spark.readStream.format("longpoll").option("path", chan_dir).load()
    agg = (
        stream.select(
            F.get_json_object("payload", "$.Source").alias("source"),
            F.get_json_object("payload", "$.NChars").cast("long").alias("n_chars"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    # Python Data Sources don't support AvailableNow — drain with
    # processAllAvailable (see stream_kafka_topic_agg)
    try:
        return run_stream_to_memory(agg, output_mode="complete", drain="process_all")
    finally:
        # the channel dir holds a full copy of the pushed slice (wire
        # files + WAL); the memory-sink result no longer references it,
        # and repeated sweeps would otherwise accumulate /tmp unbounded
        import shutil

        shutil.rmtree(chan_dir, ignore_errors=True)


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS secs_to_purchase
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join with watermarks: purchases within 30
    minutes after a click by the same user. Both sides keep state only
    for the watermark + interval horizon — the bounded-state form of
    funnel/attribution joins at 100 TB/day."""
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            (F.unix_micros(F.col("purchase_ts").cast("timestamp"))
             - F.unix_micros(F.col("click_ts").cast("timestamp"))) / F.lit(1_000_000)
        ).cast("long").alias("secs_to_purchase"),
    )
    return run_stream_to_memory(joined, output_mode="append")


@query(
    "stream_topk_heavy_hitters",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 10
    """,
)
def stream_topk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of topk_heavy_hitters (profiling.py): per-key
    event counts live in the checkpointed state store
    (applyInPandasWithState), and the deterministic top-k rank runs
    batch-side over the final per-key emissions — the standard
    stream-to-serving split: unbounded keyed state in the stream,
    bounded rank at read time. Oracle = exact top-10 by count.

    At 100 TB/day the state is one long per user; the rank never sees
    raw events. (A pure in-stream top-k would need a global singleton
    state — this two-stage split is the scalable formulation.)
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = stream_events(spark, sf_dir)

    def update_count(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    counted = events.select("user_id").groupBy("user_id").applyInPandasWithState(
        update_count,
        outputStructType="user_id long, n_events long",
        stateStructType="n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_stream_to_memory(counted, output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events")
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
    )


# the one landed SCD2 source table kept on disk (previous run's dir is
# removed on the next invocation)
_LAST_SCD2_TABLE_DIR: str | None = None


def _advance_runs(cur, pdf):
    """Advance the (event_type, valid_from_us, n_events) current-run
    state over one event-time-sorted batch. The first in-batch run
    splices onto the carried state when the type continues across the
    batch boundary — unit-tested directly (tests/test_scd2_stream.py)
    because fixture streams may arrive in a single micro-batch."""
    import numpy as np

    if not len(pdf):
        return cur
    pdf = pdf.sort_values(["ts_us", "event_id"])
    types = pdf["event_type"].to_numpy()
    ts = pdf["ts_us"].to_numpy()
    starts = np.nonzero(np.concatenate(([True], types[1:] != types[:-1])))[0]
    if cur is not None and types[0] == cur[0]:
        first_end = int(starts[1]) if len(starts) > 1 else len(types)
        cur = (cur[0], cur[1], cur[2] + first_end)
        starts = starts[1:]
    for i, s in enumerate(starts):
        e = int(starts[i + 1]) if i + 1 < len(starts) else len(types)
        cur = (str(types[s]), int(ts[s]), e - int(s))
    return cur


def _advance_batch(cur, chunks):
    """One MICRO-BATCH = one state transition. ``chunks`` is the
    ``pdf_iter`` applyInPandasWithState hands a key: a group whose rows
    straddle an arrow-batch boundary (partition > arrow
    maxRecordsPerBatch — happens from sf0.1 up, never at sf0.01)
    arrives as MULTIPLE chunks in shuffle-arrival order, which carries
    NO time ordering. An order-sensitive walk must therefore assemble
    the batch before sorting — advancing per chunk spliced runs in
    arrival order and miscounted exactly the straddling users (caught
    by the sf0.1 oracle sweep, round 12). Memory bound = one key's rows
    in one micro-batch — the same data Spark already shuffled to this
    task."""
    import pandas as pd

    chunks = [c for c in chunks if len(c)]
    if not chunks:
        return cur
    return _advance_runs(cur, pd.concat(chunks, ignore_index=True))


@query(
    "stream_scd2_current",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
    m AS (SELECT user_id, event_id, event_type, ts_us,
            CASE WHEN lag(event_type) OVER w IS NULL
                   OR event_type <> lag(event_type) OVER w
                 THEN 1 ELSE 0 END AS changed
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    isl AS (SELECT user_id, event_type, ts_us,
              CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS island
            FROM m),
    rec AS (SELECT user_id, island, event_type,
              MIN(ts_us) AS valid_from_us, COUNT(*) AS n_events
            FROM isl GROUP BY user_id, island, event_type)
    SELECT user_id, event_type, valid_from_us, n_events
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY valid_from_us DESC, island DESC) AS rn FROM rec)
    WHERE rn = 1
    """,
)
def stream_scd2_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC current-state: per user, the CURRENT run of
    identical event_types (type, since-when, run length), maintained in
    the state store. The streaming twin of scd2_intervals' is_current
    slice.

    PRODUCTION SHAPE (round 12): the events land in a manifest table
    first — an ``UpsertParquetSink`` keyed by event_id, written in
    three range-split append commits — and the SCD2 consumer reads the
    table's CHANGEFEED (``read_stream()``, insert rows) instead of a
    synthetic file stream. That is the reference's end-to-end loop
    (ramp -> sink -> downstream consumer) with the engine's own table
    as the hop: stream -> table -> downstream-stream without
    re-scanning snapshots. Same oracle as before the rebase.

    Unlike the counting/summing stateful ops, this one is
    ORDER-SENSITIVE: the update function sorts each Arrow batch by
    event time and walks run boundaries (numpy change-point detection,
    no per-row Python), merging the first in-batch run with the carried
    state when the type continues across a batch boundary. That
    cross-batch splice is the CDC-correctness crux at 100 TB, where one
    user's events span many micro-batches.
    """
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from motorway_spark.catalog import Catalog
    from motorway_spark.sinks import UpsertParquetSink

    global _LAST_SCD2_TABLE_DIR
    if _LAST_SCD2_TABLE_DIR is not None:
        shutil.rmtree(_LAST_SCD2_TABLE_DIR, ignore_errors=True)

    events = Catalog(spark, sf_dir).table("events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    lo, hi = events.agg(
        F.min("event_id"), F.max("event_id")
    ).collect()[0]
    table_dir = tempfile.mkdtemp(prefix="scd2_events_")
    _LAST_SCD2_TABLE_DIR = table_dir
    sink = UpsertParquetSink(
        spark, table_dir, key_cols=["event_id"], num_buckets=16
    )
    # three RANGE-split commits: disjoint event_id ranges ride the
    # O(shard) append fast path (klo/khi disjointness proof)
    step = max((hi - lo) // 3 + 1, 1)
    for i in range(3):
        shard = events.filter(
            (F.col("event_id") >= lo + i * step)
            & (F.col("event_id") < lo + (i + 1) * step)
        )
        sink.upsert_batch(shard, batch_id=i)

    feed = sink.read_stream()  # the changefeed IS the event stream
    base = feed.filter(F.col("_change_type") == "insert").select(
        "user_id", "event_id", "event_type", "ts_us"
    )

    def update_current(key, pdf_iter, state: GroupState):
        cur = tuple(state.get) if state.exists else None  # (type, from_us, n)
        # assemble the batch BEFORE the order-sensitive walk: arrow
        # chunk boundaries carry no time ordering (_advance_batch)
        cur = _advance_batch(cur, pdf_iter)
        if cur is not None:
            state.update(cur)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [cur[0]],
                    "valid_from_us": [cur[1]],
                    "n_events": [cur[2]],
                }
            )

    current = base.groupBy("user_id").applyInPandasWithState(
        update_current,
        outputStructType="user_id long, event_type string, valid_from_us long, n_events long",
        stateStructType="event_type string, valid_from_us long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_stream_to_memory(current, output_mode="update")
    from pyspark.sql import Window

    # final emission per key = the one with the latest valid_from (and
    # the longest run at that start, if re-emitted across batches)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("valid_from_us"), F.desc("n_events")
    )
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "valid_from_us", "n_events")
    )


# the one landed anomaly table kept on disk (previous run's dir is
# removed on the next invocation)
_LAST_ANOMALY_DIR: str | None = None


def _anomaly_oracle() -> str:
    from motorway_spark.queries.dataquality import _Z_EXPR, _Z_THRESHOLD

    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS sq
      FROM hourly GROUP BY 1)
    SELECT bucket_hour, event_type, c AS n_events,
           ROUND({_Z_EXPR}, 6) AS zscore
    FROM hourly JOIN stats USING (event_type)
    WHERE ABS({_Z_EXPR}) > {_Z_THRESHOLD}
    """


@query("stream_anomaly_zscore", oracle=_anomaly_oracle())
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_anomaly_zscore`` (dataquality.py):
    the hourly per-type counts accumulate in the STREAM (watermarked
    tumbling windows — bounded state), and the statistical flagging
    runs batch-side over the drained sink — the same stream-to-serving
    split as ``stream_topk_heavy_hitters``: z-scores need every
    bucket's final count, so the global pass belongs at read time, not
    in per-key state. Stats come from exact integer sums, so the
    streamed result is bit-identical to the batch twin (streaming/
    batch parity on the window aggregation, then identical IEEE
    arithmetic).

    The hourly aggregate lands in a real table — a keyed
    ``UpsertParquetSink`` driven by ``foreachBatch`` — and the flagging
    pass reads THAT (``run_stream_to_upsert``). No driver collect
    anywhere: the z-pass self-joins the parquet table the way it would
    in production, and the sink's MERGE keys on (bucket_hour,
    event_type) so update-mode re-emissions converge to final counts."""
    import shutil
    import tempfile

    from motorway_spark.queries.dataquality import _Z_EXPR, _Z_THRESHOLD
    from motorway_spark.streaming.runner import run_stream_to_upsert

    # each run lands in a FRESH table dir (a reused dir's replay WAL
    # would skip the new query's batch 0); the previous run's dir is
    # removed here so a long session holds at most one (r5 review).
    global _LAST_ANOMALY_DIR
    if _LAST_ANOMALY_DIR is not None:
        shutil.rmtree(_LAST_ANOMALY_DIR, ignore_errors=True)

    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(
            F.col("window.start").alias("bucket_hour"),
            "event_type",
            "c",
        )
    )
    table_dir = tempfile.mkdtemp(prefix="anomaly_hourly_")
    _LAST_ANOMALY_DIR = table_dir
    hourly = run_stream_to_upsert(
        agg,
        table_dir=table_dir,
        key_cols=["bucket_hour", "event_type"],
        output_mode="update",
    )
    # The landed table is small (hourly × type counts); eagerly
    # localCheckpoint it so the RETURNED frame no longer depends on the
    # on-disk dir — the next invocation rmtree's it, and a caller that
    # materializes the first result after a second call must not get a
    # FileNotFound/empty scan (r5 advice).
    hourly = hourly.localCheckpoint(eager=True)
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .where(F.expr(f"ABS({_Z_EXPR}) > {_Z_THRESHOLD}"))
        .select(
            "bucket_hour",
            "event_type",
            F.col("c").alias("n_events"),
            F.expr(f"ROUND({_Z_EXPR}, 6)").alias("zscore"),
        )
    )


def _stream_minhash_oracle() -> str:
    from motorway_spark.queries.dedup import (
        N_BANDS,
        _SQL_CHAR_SHINGLES,
        _SQL_MINHASH,
    )

    return f"""
    WITH sig AS MATERIALIZED (
      SELECT doc_id, {_SQL_MINHASH} AS mh
      FROM (SELECT doc_id, {_SQL_CHAR_SHINGLES} AS sh FROM documents)
      WHERE len(sh) > 0),
    bands AS MATERIALIZED (
      SELECT doc_id, band,
             md5(array_to_string(mh[band*4+1 : band*4+4], ',')) AS bucket
      FROM sig, UNNEST(range(0, {N_BANDS})) AS t(band)),
    flag AS (
      SELECT doc_id,
             CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY band, bucket)
                  THEN 1 ELSE 0 END AS dup_band
      FROM bands)
    SELECT doc_id,
           CAST(SUM(dup_band) AS BIGINT) AS n_dup_bands,
           SUM(dup_band) > 0 AS is_near_dup
    FROM flag GROUP BY doc_id
    """


_LAST_MHDEDUP_DIR: str | None = None


def _minhash_process_batch(bdf: DataFrame, batch_id: int, flags_sink, reg_sink) -> None:
    """One micro-batch of the streaming LSH near-dup filter: band the
    batch (codegen explode+agg signature), flag each doc against the
    pre-batch (band, bucket) registry + the in-batch window min, MERGE
    flags then the updated registry (see stream_dedup_minhash)."""
    from pyspark.sql import Window

    from motorway_spark.queries.dedup import (
        _char_shingles,
        minhash_bands,
        minhash_signatures,
    )

    docs = bdf.filter(F.size(_char_shingles(F.col("text"))) > 0)
    # persist the band rows: the signature (the expensive explode +
    # 16-way min agg) feeds THREE consumers below (in-batch window
    # min, the flag aggregate, the registry update) — uncached it
    # recomputes per consumer (measured 3x the batch wall-clock)
    bands = (
        minhash_bands(minhash_signatures(docs))
        .withColumnRenamed("bucket", "bkt")
        .persist()
    )
    try:
        w = Window.partitionBy("band", "bkt")
        scored = bands.withColumn("batch_min", F.min("doc_id").over(w))
        reg = reg_sink.read()
        if reg is not None:
            scored = scored.join(reg, ["band", "bkt"], "left").withColumn(
                "prior_min", -F.col("neg_min_doc_id")
            )
        else:
            scored = scored.withColumn("prior_min", F.lit(None).cast("bigint"))
        dup = (F.col("doc_id") > F.col("batch_min")) | (
            F.col("prior_min") < F.col("doc_id")
        )
        flags = (
            scored.withColumn(
                "dup_band", F.when(F.coalesce(dup, F.lit(False)), 1).otherwise(0)
            )
            .groupBy("doc_id")
            .agg(
                F.sum("dup_band").cast("bigint").alias("n_dup_bands"),
                (F.sum("dup_band") > 0).alias("is_near_dup"),
            )
        )
        # flags first, registry second: flags must see the PRE-batch
        # registry; both sinks are replay-idempotent via their WALs
        flags_sink.upsert_batch(flags, batch_id)
        new_reg = bands.groupBy("band", "bkt").agg(
            (-F.min("doc_id")).alias("neg_min_doc_id")
        )
        # The sink's cross-batch merge is batch-side-WINS (not max), so
        # the cross-batch min must be merged HERE: fold the pre-batch
        # registry value in via greatest(-a,-b) = -least(a,b). Without
        # this, a batch whose bucket min exceeds the prior one would
        # move the registry min UP and under-flag later duplicates.
        if reg is not None:
            new_reg = new_reg.join(
                reg.withColumnRenamed("neg_min_doc_id", "prior_neg"),
                ["band", "bkt"],
                "left",
            ).select(
                "band",
                "bkt",
                F.greatest("neg_min_doc_id", "prior_neg").alias(
                    "neg_min_doc_id"
                ),
            )
        reg_sink.upsert_batch(new_reg, batch_id)
    finally:
        bands.unpersist()


@query("stream_dedup_minhash", oracle=_stream_minhash_oracle())
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate detection — MinHash LSH band buckets
    kept as a real keyed TABLE updated per micro-batch. Each arriving
    document is flagged against every document already seen: its
    16-slot minhash signature is banded into N_BANDS(=4) bucket keys
    (same seed-inlined family as the batch dedup_minhash,
    dedup.py:37-45); a (band, bucket) registry holds the minimum doc_id
    ever seen per occupied bucket, and an arriving doc collides on a
    band iff a lower-id doc occupies its bucket (prior batches via the
    registry, the same batch via an in-batch window min). This is the
    ingest-time "have I seen something like this" filter of a streaming
    training-data pipeline, vs the reference's exact-key dedup via
    replay ids (motorway/ramp.py should_take_message).

    Architecture — foreachBatch, everything JVM-side: a first cut kept
    the bucket minimum in the applyInPandasWithState state store, which
    forced the signature onto the stateless nested-lambda minhash (a
    streaming aggregate can't precede a stateful Python op) — Catalyst
    interprets higher-order lambdas, and 50k docs took 44 s at sf0.1.
    Inside ``foreachBatch`` the micro-batch is a plain DataFrame, so
    the batch engine's explode+groupBy signature (whole-stage codegen,
    map-side partial min) applies, and the registry becomes a
    hash-bucketed ``UpsertParquetSink`` table MERGEd per batch — the
    same production stream-to-serving split as stream_anomaly_zscore,
    with exactly-once batch WALs on both tables. Measured 44 s → ~3 s.

    Cross-batch-ordering: the registry min is EXACT for any arrival
    order — the sink's cross-batch merge is batch-side-wins, so the
    foreachBatch body folds the prior value in explicitly
    (greatest(-batch_min, -prior_min) = -least across batches) before
    the upsert. Per-doc flags are emitted at arrival time, so a doc
    that arrives before a lower-id near-twin keeps its not-dup verdict
    (one-pass streaming semantics); matching the batch oracle's
    global-min flags additionally needs doc_id-ordered arrival, which
    the fixture source provides. Registry state is ONE int64 row per
    occupied (band, bucket) — bounded by corpus distinct-bucket count,
    not stream length; the MERGE rewrites only touched hash buckets.
    Docs with no 4-gram shingle (NULL/empty/short text) never enter
    banding — same WHERE on both engines.
    """
    import shutil
    import tempfile

    from motorway_spark.sinks.upsert import UpsertParquetSink
    from motorway_spark.streaming.runner import stream_documents

    global _LAST_MHDEDUP_DIR
    if _LAST_MHDEDUP_DIR is not None:
        shutil.rmtree(_LAST_MHDEDUP_DIR, ignore_errors=True)
    root = tempfile.mkdtemp(prefix="stream_mh_dedup_")
    _LAST_MHDEDUP_DIR = root
    flags_sink = UpsertParquetSink(spark, f"{root}/flags", key_cols=["doc_id"])
    # "bucket" is the sink's reserved hash-bucket column — LSH key is bkt
    reg_sink = UpsertParquetSink(spark, f"{root}/registry", key_cols=["band", "bkt"])

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        _minhash_process_batch(bdf, batch_id, flags_sink, reg_sink)

    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # same Python-worker connect-flake retry as run_stream_to_upsert;
        # a restarted query renumbers batches from 0, so both tables
        # (data + WAL) are wiped before the second attempt.
        for attempt in (1, 2):
            if attempt > 1:
                shutil.rmtree(f"{root}/flags", ignore_errors=True)
                shutil.rmtree(f"{root}/registry", ignore_errors=True)
            q = (
                stream_documents(spark, sf_dir)
                .writeStream.outputMode("append")
                .trigger(availableNow=True)
                .foreachBatch(process_batch)
                .start()
            )
            try:
                # 600 s: sf10 (500k docs) drains in ~340 s on local[32];
                # the default-120 s used by the events-stream queries
                # timed the first sf10 measurement out
                if not q.awaitTermination(600):
                    raise TimeoutError("stream did not drain within 600s")
                break
            except Exception as exc:  # noqa: BLE001
                if attempt == 1 and "Python worker" in str(exc):
                    continue
                raise
            finally:
                if q.isActive:
                    q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")
    out = flags_sink.read()
    if out is None:
        raise RuntimeError(f"stream produced no batches into {root}/flags")
    # survives the next invocation's rmtree of this run's table dir
    return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Streaming corpus ingestion: quality gate -> exact-dup registry -> landing.
# ---------------------------------------------------------------------------
_LAST_INGEST_DIR: str | None = None


def _ingest_oracle() -> str:
    from motorway_spark.queries.text import QUALITY_GATE_SQL

    return f"""
    WITH gated AS (
      SELECT doc_id, md5(coalesce(text, '')) AS fp,
             {QUALITY_GATE_SQL} AS passed_quality
      FROM documents),
    dedup AS (
      SELECT doc_id, passed_quality,
             passed_quality AND doc_id >
               MIN(CASE WHEN passed_quality THEN doc_id END)
                 OVER (PARTITION BY fp) AS is_exact_dup
      FROM gated)
    SELECT doc_id, passed_quality,
           coalesce(is_exact_dup, FALSE) AS is_exact_dup,
           passed_quality AND NOT coalesce(is_exact_dup, FALSE) AS kept
    FROM dedup
    """


def _ingest_process_batch(bdf: DataFrame, batch_id: int, flags_sink, reg_sink) -> None:
    """One micro-batch of the streaming ingest gate: per-row quality
    verdict (stateless), exact-dup check against the pre-batch md5
    registry + the in-batch window min over PASSING docs, MERGE the
    per-doc verdicts then the updated registry (see
    stream_corpus_ingest)."""
    from pyspark.sql import Window

    from motorway_spark.queries.text import quality_gate

    b = bdf.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias("fp"),
        quality_gate(F.col("text")).alias("passed_quality"),
    ).persist()
    try:
        # dedup only among gate-passing docs: failures never claim a
        # fingerprint (a later clean copy of a rejected doc is FIRST)
        pass_id = F.when(F.col("passed_quality"), F.col("doc_id"))
        scored = b.withColumn(
            "batch_min", F.min(pass_id).over(Window.partitionBy("fp"))
        )
        reg = reg_sink.read()
        if reg is not None:
            scored = scored.join(reg, ["fp"], "left").withColumn(
                "prior_min", -F.col("neg_min_doc_id")
            )
        else:
            scored = scored.withColumn("prior_min", F.lit(None).cast("bigint"))
        min_seen = F.least("batch_min", "prior_min")  # least() skips NULLs
        dup = F.col("passed_quality") & (F.col("doc_id") > min_seen)
        flags = scored.select(
            "doc_id",
            "passed_quality",
            F.coalesce(dup, F.lit(False)).alias("is_exact_dup"),
            (F.col("passed_quality") & ~F.coalesce(dup, F.lit(False))).alias(
                "kept"
            ),
        )
        # verdicts first against the PRE-batch registry, registry second;
        # both sinks replay-idempotent via their batch-id WALs
        flags_sink.upsert_batch(flags, batch_id)
        new_reg = (
            b.filter("passed_quality")
            .groupBy("fp")
            .agg((-F.min("doc_id")).alias("neg_min_doc_id"))
        )
        # batch-side-wins sink: fold the prior registry min in here
        # (greatest of negated ids = least id), so the registry is the
        # exact cross-batch min whatever the arrival order
        if reg is not None:
            new_reg = new_reg.join(
                reg.withColumnRenamed("neg_min_doc_id", "prior_neg"),
                ["fp"],
                "left",
            ).select(
                "fp",
                F.greatest("neg_min_doc_id", "prior_neg").alias(
                    "neg_min_doc_id"
                ),
            )
        reg_sink.upsert_batch(new_reg, batch_id)
    finally:
        b.unpersist()


@query("stream_corpus_ingest", oracle=_ingest_oracle())
def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus INGESTION — the front door of a training-data
    pipeline run as a stream: every arriving document gets (1) the
    registered quality gate (text_quality's passes_filter predicate,
    reused via text.quality_gate so stream and batch semantics cannot
    drift) and (2) an exact-duplicate check against an md5-fingerprint
    REGISTRY of every passing document ever seen; the per-doc verdict
    row (passed_quality, is_exact_dup, kept) lands in an upsert table.
    Composes the stream_dedup_minhash architecture (foreachBatch, all
    JVM-side, hash-bucketed UpsertParquetSink MERGEs, exactly-once via
    batch-id WALs on both tables) with the text-quality family: gates
    are per-row and stateless, so they run BEFORE the registry join —
    the cheap filter cuts the stateful path's input, the same ordering
    as the batch pipeline_corpus_curation.

    Registry state is ONE int64 per distinct fingerprint of a PASSING
    doc (rejected docs never claim a fingerprint — a later clean copy
    of a rejected doc counts as first). The sink's cross-batch merge is
    batch-side-wins, so the batch body folds the prior registry value
    in explicitly (greatest of negated ids = least id across batches) —
    the registry min is exact for any arrival order. Same flag-time
    contract as stream_dedup_minhash: verdicts are emitted at arrival,
    so matching the batch oracle additionally needs doc_id-ordered
    arrival (which the fixture source provides); within a batch order
    is irrelevant (window min).

    Scale shape (100 TB/day ingest): per batch one narrow
    (doc_id, fp, bool) projection, one fp-keyed window/agg pair, one
    broadcast-or-hash join against the touched slice of the registry,
    and two bucket-pruned MERGEs — state grows with DISTINCT passing
    fingerprints, not stream length; nothing Python-side, nothing
    per-row.

    Reference: the exact-key replay-id dedup of motorway/ramp.py
    (should_take_message) upgraded to content fingerprints + quality
    verdicts.
    """
    import shutil
    import tempfile

    from motorway_spark.sinks.upsert import UpsertParquetSink
    from motorway_spark.streaming.runner import stream_documents

    global _LAST_INGEST_DIR
    if _LAST_INGEST_DIR is not None:
        shutil.rmtree(_LAST_INGEST_DIR, ignore_errors=True)
    root = tempfile.mkdtemp(prefix="stream_ingest_")
    _LAST_INGEST_DIR = root
    flags_sink = UpsertParquetSink(spark, f"{root}/flags", key_cols=["doc_id"])
    reg_sink = UpsertParquetSink(spark, f"{root}/registry", key_cols=["fp"])

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        _ingest_process_batch(bdf, batch_id, flags_sink, reg_sink)

    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for attempt in (1, 2):
            if attempt > 1:
                shutil.rmtree(f"{root}/flags", ignore_errors=True)
                shutil.rmtree(f"{root}/registry", ignore_errors=True)
            q = (
                stream_documents(spark, sf_dir)
                .writeStream.outputMode("append")
                .trigger(availableNow=True)
                .foreachBatch(process_batch)
                .start()
            )
            try:
                if not q.awaitTermination(600):
                    raise TimeoutError("stream did not drain within 600s")
                break
            except Exception as exc:  # noqa: BLE001
                if attempt == 1 and "Python worker" in str(exc):
                    continue
                raise
            finally:
                if q.isActive:
                    q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")
    out = flags_sink.read()
    if out is None:
        raise RuntimeError(f"stream produced no batches into {root}/flags")
    # survives the next invocation's rmtree of this run's table dir
    return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Streaming distinct-count: the KMV sketch maintained per micro-batch.
# ---------------------------------------------------------------------------
_LAST_KMV_DIR: str | None = None
_KMV_STREAM_K = 256
_KMV_STREAM_SPACE = 1152921504606846976.0  # 2^60


def _recover_kmv_sketch(path: str) -> None:
    """Crash recovery for the KMV sketch's two-rename swap (sketch ->
    .old-N, then .tmp-N -> sketch): a crash between the renames leaves
    NO sketch dir, but the prior sketch is intact under .old-N —
    restore the newest one rather than silently restarting from empty
    (an undercount). .tmp-N is an uncommitted merge of the same union;
    discarding it is safe because the restarted batch re-merges the
    same values (set union is idempotent)."""
    import glob
    import os

    if os.path.isdir(path):
        return
    olds = sorted(
        glob.glob(f"{path}.old-*"), key=lambda p: int(p.rsplit("-", 1)[1])
    )
    if olds:
        os.rename(olds[-1], path)


def _kmv_oracle() -> str:
    k, space = _KMV_STREAM_K, _KMV_STREAM_SPACE
    return f"""
    WITH u AS (
      SELECT DISTINCT
             ('0x' || substr(md5(coalesce(text, '')), 1, 15))::BIGINT AS u
      FROM documents),
    kth AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_used, MAX(u) AS u_k
      FROM (SELECT u FROM u ORDER BY u LIMIT {k}))
    SELECT k_used, u_k,
           CASE WHEN k_used < {k} THEN k_used
                ELSE CAST(FLOOR(CAST(k_used - 1 AS DOUBLE) * {space!r}
                                / CAST(u_k AS DOUBLE)) AS BIGINT) END
             AS kmv_estimate
    FROM kth
    """


@query("stream_distinct_kmv", oracle=_kmv_oracle())
def stream_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality: how many DISTINCT documents has this
    stream carried, maintained per micro-batch with BOUNDED state — the
    KMV sketch of agg_distinct_kmv kept as a {_KMV_STREAM_K}-row table.
    Per batch: the batch's k smallest distinct hash values union the
    prior sketch, keep the k smallest — KMV's merge is associative and
    commutative, so batch boundaries cannot change the final sketch,
    and the drained stream's answer equals the batch operator's on the
    same corpus EXACTLY (that equality IS the oracle).

    Exactly-once comes free: merging the same values twice is a set
    union — a replayed micro-batch is a mathematical no-op, so this
    sink needs no batch-id WAL at all (contrast the ingest registries,
    whose counts would double). The swap is still atomic-per-batch
    (tmp + rename); a crash between the two renames leaves the prior
    sketch under ``.old-N`` and the next read restores it.

    Scale shape: per batch one distinct + TakeOrdered(k) over the
    micro-batch (map-side partial, k values per partition cross the
    shuffle), one union with a {_KMV_STREAM_K}-row table, one
    {_KMV_STREAM_K}-row write. State is O(k) forever — the point of
    sketches; the exact-registry alternative (stream_corpus_ingest)
    grows with distinct count.

    Reference: motorway's stats pipeline tracks stream volumes
    (motorway/controller.py histograms); this is the distinct-volume
    monitor it can't express with bounded memory."""
    import os
    import shutil
    import tempfile

    from motorway_spark.streaming.runner import stream_documents

    global _LAST_KMV_DIR
    if _LAST_KMV_DIR is not None:
        shutil.rmtree(_LAST_KMV_DIR, ignore_errors=True)
    root = tempfile.mkdtemp(prefix="stream_kmv_")
    _LAST_KMV_DIR = root
    sketch_dir = f"{root}/sketch"

    k = _KMV_STREAM_K

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        _recover_kmv_sketch(sketch_dir)
        batch_u = (
            bdf.select(
                F.conv(
                    F.substring(
                        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("bigint")
                .alias("u")
            )
            .distinct()
            .orderBy("u")
            .limit(k)
        )
        if os.path.isdir(sketch_dir):
            prior = bdf.sparkSession.read.parquet(sketch_dir)
            merged = prior.union(batch_u).distinct().orderBy("u").limit(k)
        else:
            merged = batch_u
        tmp = f"{sketch_dir}.tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = f"{sketch_dir}.old-{batch_id}"
        if os.path.isdir(sketch_dir):
            os.rename(sketch_dir, old)
        os.rename(tmp, sketch_dir)
        shutil.rmtree(old, ignore_errors=True)

    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # replay-idempotent by construction, so the flake retry needs
        # no wipe: a restarted query re-merges the same values
        for attempt in (1, 2):
            q = (
                stream_documents(spark, sf_dir)
                .writeStream.outputMode("append")
                .trigger(availableNow=True)
                .foreachBatch(process_batch)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("stream did not drain within 300s")
                break
            except Exception as exc:  # noqa: BLE001
                if attempt == 1 and "Python worker" in str(exc):
                    continue
                raise
            finally:
                if q.isActive:
                    q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")

    _recover_kmv_sketch(sketch_dir)
    sketch = spark.read.parquet(sketch_dir)
    space = _KMV_STREAM_SPACE
    est = (
        f"CASE WHEN k_used < {k} THEN k_used "
        f"ELSE CAST(FLOOR(CAST(k_used - 1 AS DOUBLE) * {space!r} "
        f"/ CAST(u_k AS DOUBLE)) AS BIGINT) END"
    )
    out = sketch.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("u").alias("u_k")
    ).select("k_used", "u_k", F.expr(est).alias("kmv_estimate"))
    # survives the next invocation's rmtree of this run's sketch dir
    return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Streaming fixed-grid percentile monitor — the quantile twin of
# stream_distinct_kmv: bounded sketch state forever, exactly-once via
# the sink's batch WAL, oracle-exact against the batch grid arithmetic.
# ---------------------------------------------------------------------------
_LAST_PGRID_DIR: str | None = None
_PGRID_W_CENTS = 64    # bucket width in value-cents: value error <= $0.32
_PGRID_B = 1024        # grid covers [0, $655.36); tail clamps into the top


def _pgrid_oracle() -> str:
    w, b = _PGRID_W_CENTS, _PGRID_B
    return f"""
    WITH cb AS (
      SELECT event_type,
             LEAST({b - 1},
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // {w}) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      WHERE value IS NOT NULL
      GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bucket, c,
             CAST(SUM(c) OVER (PARTITION BY event_type
                               ORDER BY bucket) AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM cb)
    SELECT event_type,
           MAX(n) AS n_rows,
           CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN bucket END)
                * {w} + {w // 2} AS DOUBLE) / 100.0 AS p50_est,
           CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN bucket END)
                * {w} + {w // 2} AS DOUBLE) / 100.0 AS p90_est,
           CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN bucket END)
                * {w} + {w // 2} AS DOUBLE) / 100.0 AS p99_est
    FROM cum
    GROUP BY event_type
    """


@query("stream_percentile_grid", oracle=_pgrid_oracle())
def stream_percentile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency/value-percentile monitoring over an unbounded stream —
    the production question "what is p99 right now" answered with
    BOUNDED state: the streaming twin of agg_percentile_grid_sketch
    (profiling.py). Each micro-batch folds its per-(event_type, grid
    bucket) counts into a keyed UpsertParquetSink registry; the sketch
    state is <= types x {_PGRID_B} integer counters FOREVER, and the
    read-time quantile selection is pure integer rank arithmetic, so
    the drained stream equals the batch grid sketch bit-for-bit — which
    IS the oracle.

    Exactly-once: a grid sketch merges by ADDITION (unlike KMV's
    union), so replays would double-count — the sink's batch-id WAL is
    what makes the add-merge exactly-once (a replayed batch id is a
    no-op for the table). The merge itself is read-prior + add + MERGE
    on (event_type, bucket): O(touched buckets) per batch against a
    bounded registry, manifest-pruned like every upsert.

    Scale shape (100 TB): per batch one hash aggregate of the
    micro-batch to <= types x {_PGRID_B} counter rows (map-side
    combine), one bounded-table join, one pruned MERGE. Nothing grows
    with stream length; accuracy is fixed by the grid (value error <=
    half a bucket width, ${_PGRID_W_CENTS / 200:.2f} here).

    Reference: motorway's controller tracks per-intersection latency
    histograms with fixed buckets (motorway/controller.py percentile
    stats) — this is that monitor, distributed and exactly-once."""
    import shutil
    import tempfile

    from motorway_spark.sinks.upsert import UpsertParquetSink
    from motorway_spark.streaming.runner import stream_events

    global _LAST_PGRID_DIR
    if _LAST_PGRID_DIR is not None:
        shutil.rmtree(_LAST_PGRID_DIR, ignore_errors=True)
    root = tempfile.mkdtemp(prefix="stream_pgrid_")
    _LAST_PGRID_DIR = root

    w, b = _PGRID_W_CENTS, _PGRID_B
    sink = UpsertParquetSink(
        spark, f"{root}/grid", key_cols=["event_type", "gbucket"], num_buckets=8
    )

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        bc = (
            bdf.filter(F.col("value").isNotNull())
            .select(
                "event_type",
                F.expr(
                    f"LEAST({b - 1}, "
                    f"CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DIV {w})"
                ).alias("gbucket"),
            )
            .groupBy("event_type", "gbucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        prior = sink.read()
        if prior is not None:
            p = prior.withColumnRenamed("c", "pc")
            bc = bc.join(p, ["event_type", "gbucket"], "left").select(
                "event_type",
                "gbucket",
                (F.col("c") + F.coalesce(F.col("pc"), F.lit(0))).alias("c"),
            )
        sink.upsert_batch(bc, batch_id)

    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # the WAL makes a replayed batch a table no-op, so the flake
        # retry needs no wipe
        for attempt in (1, 2):
            q = (
                stream_events(spark, sf_dir)
                .writeStream.outputMode("append")
                .trigger(availableNow=True)
                .foreachBatch(process_batch)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("stream did not drain within 300s")
                break
            except Exception as exc:  # noqa: BLE001
                if attempt == 1 and "Python worker" in str(exc):
                    continue
                raise
            finally:
                if q.isActive:
                    q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")

    grid = sink.read()
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("event_type")
        .orderBy("gbucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = grid.select(
        "event_type",
        "gbucket",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )

    def pick(t_expr: str, alias: str):
        est_cents = (
            F.min(F.when(F.expr(f"cum >= {t_expr}"), F.col("gbucket"))) * w
            + w // 2
        )
        return (est_cents.cast("double") / F.lit(100.0)).alias(alias)

    out = cum.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        pick("(n + 1) DIV 2", "p50_est"),
        pick("(9 * n + 9) DIV 10", "p90_est"),
        pick("(99 * n + 99) DIV 100", "p99_est"),
    )
    # survives the next invocation's rmtree of this run's table dir
    return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Streaming ANN ingest — the index-build side of the PQ family as a
# stream: each arriving embedding shard is PQ-encoded and MERGEd into
# a manifest-backed code registry; the drained registry answers the
# same ADC search as the batch operator, bit-for-bit.
# ---------------------------------------------------------------------------
_LAST_ANN_INGEST_DIR: str | None = None


def _ann_ingest_oracle() -> str:
    # the final registry + search must equal the batch PQ-ADC operator
    # exactly (stream/batch parity on the whole ingest->search pipeline)
    from motorway_spark.queries.similarity import _pq_oracle

    return _pq_oracle()


@query("stream_ann_ingest", oracle=_ann_ingest_oracle())
def stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector-index ingest — how a production ANN index is
    actually built: embedding shards arrive as micro-batches (4 here,
    maxFilesPerTrigger=1), each batch is PQ-encoded (one mapInPandas
    pass, fixed codebook in the closure) and MERGEd into a
    manifest-backed UpsertParquetSink registry keyed on vec_id — the
    compressed FAISS layout, 8 int codes per vector, floats never
    stored in the index. After the drain the registry serves the same
    ADC scan + exact rerank as sim_ann_pq_adc, and the answer equals
    the batch operator BIT-FOR-BIT — that equality (ingest order and
    batching must not matter) IS the oracle, the stream/batch parity
    statement applied to index construction.

    Exactly-once: the per-row codes are deterministic, so the keyed
    MERGE is idempotent at the row level AND the sink's batch-id WAL
    makes a replayed batch a table no-op — belt and suspenders, the
    same double guarantee a re-sharded production backfill needs. The
    registry rides the round-9 Delta-shape manifest: concurrent
    shard writers would conflict loudly at the numbered log, not
    corrupt the index (tests/test_manifest_concurrency.py).

    Scale shape (100 TB): per batch one Arrow-batched encode pass over
    the shard + one MERGE that is O(touched buckets) in scan, listing,
    and metadata; registry size is corpus x 8 ints (32x smaller than
    the floats); the search cost is the sim_ann_pq_adc analysis
    unchanged. Nothing about the stream accumulates driver state —
    the only collects are the 16-row codebook and 20 query vectors.

    Reference: motorway's ramps feed sinks incrementally with
    at-least-once delivery + dedup (SURVEY §2a R5); this is that
    contract applied to an ANN index, with the search result as the
    verification surface."""
    import shutil
    import tempfile

    from motorway_spark.catalog import Catalog
    from motorway_spark.queries.similarity import (
        _adc_rows,
        _leftfold_norms,
        _nn_kernel,
        _pq_adc_rerank,
        _pq_fixed_subs,
        _query_vectors,
        _valid_vectors,
    )
    from motorway_spark.sinks.upsert import UpsertParquetSink
    from motorway_spark.streaming.runner import stream_embeddings

    global _LAST_ANN_INGEST_DIR
    if _LAST_ANN_INGEST_DIR is not None:
        shutil.rmtree(_LAST_ANN_INGEST_DIR, ignore_errors=True)
    root = tempfile.mkdtemp(prefix="stream_ann_ingest_")
    _LAST_ANN_INGEST_DIR = root

    subs = _pq_fixed_subs(spark, sf_dir)
    sink = UpsertParquetSink(
        spark, f"{root}/codes", key_cols=["vec_id"], num_buckets=8
    )

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        # r12 opt: codes-only encode output — the registry never stores
        # the floats, so don't ship them back through Arrow (§4.1)
        codes = _valid_vectors(bdf).mapInPandas(
            *_nn_kernel("codes", subs=subs, normalize=True)
        )
        sink.upsert_batch(codes, batch_id)

    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # The flake retry reuses a DURABLE checkpoint so batch ids stay
        # consistent across attempts: with a fresh temp checkpoint,
        # attempt 2's ids restart at 0 while the sink's batch-id WAL
        # still holds attempt 1's committed ids, and FileStreamSource's
        # mtime-ordered file->batch assignment is not guaranteed stable
        # between attempts — a not-yet-ingested shard could land in a
        # WAL-skipped id and silently drop from the index. Resuming the
        # same checkpoint replays exactly the uncommitted tail with its
        # original ids (a sink-committed-but-checkpoint-torn batch
        # replays under the SAME id and the WAL no-ops it — the keyed
        # MERGE of deterministic codes is row-idempotent anyway).
        for attempt in (1, 2):
            q = (
                stream_embeddings(spark, sf_dir)
                .writeStream.outputMode("append")
                .option("checkpointLocation", f"{root}/ckpt")
                .trigger(availableNow=True)
                .foreachBatch(process_batch)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("stream did not drain within 300s")
                break
            except Exception as exc:  # noqa: BLE001
                if attempt == 1 and "Python worker" in str(exc):
                    continue
                raise
            finally:
                if q.isActive:
                    q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")

    codes = sink.read()
    corpus = _valid_vectors(Catalog(spark, sf_dir).embeddings).select(
        "vec_id", "embedding"
    )
    q_ids, q = _query_vectors(corpus)
    tab_rows = _adc_rows(
        [(i,) for i in q_ids], q / _leftfold_norms(q)[:, None], subs
    )
    out = _pq_adc_rerank(spark, corpus, codes, tab_rows)
    # survives the next invocation's rmtree of this run's table dir
    return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Streaming uniform sample — bottom-k-by-hash ("reservoir" with a
# deterministic tag): bounded state forever, WAL-free exactly-once
# (set union is idempotent), and the drained sample equals the batch
# bottom-k over the same corpus EXACTLY — that equality is the oracle.
# ---------------------------------------------------------------------------
_LAST_RESERVOIR_DIR: str | None = None
_RESERVOIR_K = 64


@query(
    "stream_sample_reservoir",
    oracle=f"""
    SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
    FROM documents
    ORDER BY u, doc_id
    LIMIT {_RESERVOIR_K}
    """,
)
def stream_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform sample over an unbounded stream with BOUNDED state — the
    training-data op every streaming corpus pipeline needs ("keep a
    fair {_RESERVOIR_K}-doc sample of everything that ever flowed by")
    — as a bottom-k-by-hash sample: each row's md5(doc_id) is its
    permanent random tag, the sample IS the k smallest tags seen, so
    membership is a pure function of the corpus — batch boundaries,
    arrival order, replays, and restarts cannot change it (classic
    reservoir sampling is order- AND RNG-dependent; bottom-k is the
    mergeable, deterministic form — the KMV insight applied to
    sampling, and the md5-determinism discipline of the sampling
    family).

    Exactly-once comes free: merging the same tags twice is a set
    union, so a replayed micro-batch is a mathematical no-op — no WAL
    (contrast stream_ann_ingest's counted registries). Per batch: one
    TakeOrdered(k) over the micro-batch (map-side partial, k rows per
    partition cross the shuffle), a union with the k-row state, one
    k-row atomic swap (tmp + rename; crash between renames restores
    from .old-N exactly like the KMV sketch).

    Scale shape (100 TB): state is O(k) FOREVER; per-batch cost is one
    bounded top-k over the batch. The drained sample equals the batch
    bottom-k bit-for-bit — the oracle replays it as ORDER BY u LIMIT k.

    Reference: motorway has no sampling surface; this extends the
    sampling family (SURVEY §2b north-star) with its streaming member.
    """
    import os
    import shutil
    import tempfile

    from motorway_spark.streaming.runner import stream_documents

    global _LAST_RESERVOIR_DIR
    if _LAST_RESERVOIR_DIR is not None:
        shutil.rmtree(_LAST_RESERVOIR_DIR, ignore_errors=True)
    root = tempfile.mkdtemp(prefix="stream_reservoir_")
    _LAST_RESERVOIR_DIR = root
    state_dir = f"{root}/sample"

    k = _RESERVOIR_K
    u_col = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("u")
    )

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        _recover_kmv_sketch(state_dir)
        batch_k = (
            bdf.select("doc_id", u_col).orderBy("u", "doc_id").limit(k)
        )
        if os.path.isdir(state_dir):
            prior = bdf.sparkSession.read.parquet(state_dir)
            merged = (
                prior.union(batch_k).distinct().orderBy("u", "doc_id").limit(k)
            )
        else:
            merged = batch_k
        tmp = f"{state_dir}.tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = f"{state_dir}.old-{batch_id}"
        if os.path.isdir(state_dir):
            os.rename(state_dir, old)
        os.rename(tmp, state_dir)
        shutil.rmtree(old, ignore_errors=True)

    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # union-idempotent: the flake retry needs no wipe
        for attempt in (1, 2):
            q = (
                stream_documents(spark, sf_dir)
                .writeStream.outputMode("append")
                .trigger(availableNow=True)
                .foreachBatch(process_batch)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("stream did not drain within 300s")
                break
            except Exception as exc:  # noqa: BLE001
                if attempt == 1 and "Python worker" in str(exc):
                    continue
                raise
            finally:
                if q.isActive:
                    q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")

    _recover_kmv_sketch(state_dir)
    out = spark.read.parquet(state_dir).orderBy("u", "doc_id")
    # survives the next invocation's rmtree of this run's state dir
    return out.localCheckpoint(eager=True)
