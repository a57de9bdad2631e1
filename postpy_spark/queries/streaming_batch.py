"""Group C — streaming operators, batch-equivalent contract queries.

Strategy (SURVEY.md §2.C): each streaming computation is a plan builder in
:mod:`postpy_spark.streaming` applied here to the batch events table and
sql-checked; the pytest suite replays the same builders over a real file
stream and asserts convergence to these results.  ``stream_sink_upsert``
runs the genuine ``writeStream.foreachBatch`` path inside the query.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postpy_spark import streaming as STR
from postpy_spark.io import load_table
from postpy_spark.registry import query


@query(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    group="C",
)
def stream_tumbling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows; epoch-aligned window() start ≡ date_trunc."""
    return STR.tumbling_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_sliding",
    oracle="""
    WITH e AS (
        SELECT event_type,
               date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS es
        FROM events
    )
    SELECT make_timestamp(((es // 900) - j) * 900 * 1000000) AS window_start,
           event_type, COUNT(*) AS n
    FROM e CROSS JOIN (SELECT unnest(range(4)) AS j)
    GROUP BY 1, 2
    """,
    group="C",
)
def stream_sliding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h window sliding every 15m — each event lands in exactly 4 windows
    (window/slide); the oracle enumerates them arithmetically."""
    return STR.sliding_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_session",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, value,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM o
    )
    SELECT user_id,
           MIN(ts)                           AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE      AS session_end,
           COUNT(*)                          AS n_events,
           ROUND(SUM(value), 4)              AS session_value
    FROM s GROUP BY user_id, sid
    """,
    group="C",
)
def stream_session_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window (30m gap) per user vs the lag-gap-island oracle.
    Boundary semantics (probed empirically): Spark MERGES an event at
    exactly prev+gap into the running session — a new session starts only
    when the gap is strictly greater, so the oracle breaks on `>`."""
    return STR.session_aggregate(load_table(spark, sf_dir, "events"))


@query(
    "stream_watermark_late",
    oracle="""
    WITH a AS (
        SELECT event_type, ts,
               MAX(ts) OVER (ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
        FROM events
    )
    SELECT event_type,
           COUNT(*) FILTER (WHERE ts <  wm - INTERVAL 10 MINUTE) AS n_late,
           COUNT(*) FILTER (WHERE ts >= wm - INTERVAL 10 MINUTE) AS n_ontime
    FROM a GROUP BY event_type
    """,
    group="C",
)
def stream_watermark_late_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics made batch-deterministic: arrival order =
    event_id, watermark = max event time seen so far minus 10m; an event
    whose ts trails the watermark is late (dropped by a streaming agg).

    The running max goes through the range-partitioned two-phase path
    (:func:`postpy_spark.operators.ranking.global_running_max`) — an
    unpartitioned ``MAX(ts) OVER (ORDER BY event_id)`` would funnel the
    whole events table through ONE task."""
    from postpy_spark.operators.ranking import global_running_max

    e = load_table(spark, sf_dir, "events")
    a = global_running_max(
        e.select("event_type", "ts", "event_id"), ["event_id"], "ts", "wm"
    )
    late = F.col("ts") < F.col("wm") - F.expr("INTERVAL 10 MINUTES")
    return a.groupBy("event_type").agg(
        F.count(F.when(late, 1)).alias("n_late"),
        F.count(F.when(~late, 1)).alias("n_ontime"),
    )


@query(
    "stream_dedup",
    oracle="""
    WITH doubled AS (
        SELECT * FROM events UNION ALL SELECT * FROM events
    ),
    dedup AS (
        SELECT DISTINCT ON (event_id) event_id, event_type FROM doubled
    )
    SELECT event_type, COUNT(*) AS n FROM dedup GROUP BY event_type
    """,
    group="C",
)
def stream_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once by event_id under at-least-once delivery (input doubled,
    dropDuplicates restores unique events; streaming flavor bounds state
    with a watermark — pytest covers that path)."""
    e = load_table(spark, sf_dir, "events")
    doubled = e.unionByName(e)
    return (
        STR.dedup_by_key(doubled, ["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "stream_stateful_sessionize",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM o
    ),
    g AS (SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY user_id, sid)
    SELECT user_id,
           COUNT(*)      AS n_sessions,
           MAX(n)        AS max_session_events,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM g GROUP BY user_id
    """,
    group="C",
)
def stream_stateful_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user session summaries via
    applyInPandas (same pandas core the streaming
    applyInPandasWithState path uses — pytest asserts both agree)."""
    return STR.sessionize_batch(load_table(spark, sf_dir, "events"))


@query(
    "stream_sink_upsert",
    oracle="""
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    group="C",
)
def stream_sink_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming inside the contract: the events table is
    chunked to files, replayed with availableNow, and foreachBatch merges
    each micro-batch into a parquet target with keyed latest-wins upsert
    (postpy's upsert made streaming).  Returns the final target state."""
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    base = f"/tmp/postpy_spark_stream/{tag}"
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    STR.write_event_chunks(spark, sf_dir, f"{base}/chunks", n_chunks=3)
    stream = STR.read_event_stream(spark, f"{base}/chunks", files_per_trigger=1)
    STR.stream_upsert_to_path(
        spark,
        stream,
        target_path=f"{base}/target",
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        checkpoint=f"{base}/ckpt",
    )
    final = spark.read.parquet(f"{base}/target")
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS p_id, f.event_id AS f_id
    FROM events p JOIN events f
      ON p.user_id = f.user_id
     AND f.ts > p.ts
     AND f.ts <= p.ts + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    """,
    group="C",
)
def stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase → follow-ups within 1h), run
    here in batch mode; the pytest suite replays the SAME builder as a real
    watermarked stream-stream join and asserts convergence.  The time bound
    is what makes the streaming form viable: it lets Spark evict join state
    as the watermark advances."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    f = e.select(
        F.col("event_id").alias("f_id"),
        F.col("user_id").alias("f_user"),
        F.col("ts").alias("f_ts"),
    )
    return STR.interval_join_follows(p, f)


@query(
    "stream_two_level_agg",
    oracle="""
    WITH e AS (
        SELECT event_type,
               DATE_DIFF('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS es
        FROM events
    ),
    c AS (
        SELECT event_type, es // 900 AS b15, COUNT(*) AS n
        FROM e GROUP BY 1, 2
    )
    SELECT make_timestamp(((b15 * 900) // 3600) * 3600 * 1000000) AS hour_start,
           event_type, MAX(n) AS max_n
    FROM c GROUP BY 1, 2
    """,
    group="C",
)
def stream_two_level_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained windowed aggregation — TWO stateful operators in one query
    (Spark ≥3.4 for aligned time windows): peak 15-minute event rate per
    hour.  Batch twin sql-checked; pytest replays it as a real watermarked
    stream and asserts convergence."""
    return STR.two_level_rate(load_table(spark, sf_dir, "events"))


@query(
    "stream_session_dynamic_gap",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
                    ELSE INTERVAL 15 MINUTE END AS gap
        FROM events
    ),
    o AS (
        SELECT user_id, ts, event_id,
               MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_horizon
        FROM g
    ),
    s AS (
        SELECT user_id, ts, event_id,
               SUM(CASE WHEN prev_horizon IS NULL OR ts > prev_horizon
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM o
    )
    SELECT user_id, CAST(sid AS BIGINT) AS sid,
           COUNT(*) AS n_events, MIN(ts) AS session_start
    FROM s GROUP BY user_id, sid
    """,
    group="C",
)
def stream_session_dynamic_gap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: the inactivity gap is a COLUMN (60 min
    after a purchase, 15 min otherwise) — session_window(ts, gap_expr),
    supported in batch AND streaming.  The oracle reproduces the merge rule
    as a running-max horizon (an event joins the session iff its ts ≤ the
    max of all previous ts+gap; strictly-greater breaks, matching the
    empirically probed fixed-gap boundary).  Session ids are per-user
    ordinals so both engines agree without exposing engine session bounds."""
    e = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("15 minutes")
    )
    sess = (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
    )
    w = Window.partitionBy("user_id").orderBy("session_start")
    return sess.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("sid"),
        "n_events",
        "session_start",
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
           c.c_mktsegment AS segment, c.c_nationkey AS nationkey
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    group="C",
)
def stream_static_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event firehose joined to a broadcast
    customer-dimension snapshot (segment/nation attributes).  Batch form
    here; the pytest suite replays the SAME builder against a real file
    stream — Spark's stream-static join is stateless on the stream side
    (no watermark, no join state), the canonical attach-dimensions shape."""
    e = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer")
    return STR.static_enrich(e, dim)


@query(
    "stream_scd2_dimension",
    oracle="""
    SELECT user_id, event_type AS cur_type, value AS cur_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    group="C",
)
def stream_scd2_dimension_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD dimension maintained FROM a real stream replay: each
    micro-batch's per-key latest row event-time-effectively merges into a
    versioned dimension (closed/opened versions; late data discarded by
    the (ts, event_id) anchor).  The chunking is by event_id % n — NOT
    time-ordered — so out-of-order arrival is genuinely exercised.  The
    oracle checks the CURRENT slice equals the global latest-per-key
    state; history-chain invariants live in tests/test_streaming.py."""
    tag = hashlib.sha1(f"scd2:{sf_dir}".encode()).hexdigest()[:8]
    base = f"/tmp/postpy_spark_stream/{tag}"
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    STR.write_event_chunks(spark, sf_dir, f"{base}/chunks", n_chunks=3)
    stream = STR.read_event_stream(spark, f"{base}/chunks", files_per_trigger=1)
    STR.stream_scd2_to_path(
        spark,
        stream,
        target_path=f"{base}/dim",
        keys=["user_id"],
        compare_cols=["event_type", "value"],
        ts_col="ts",
        id_col="event_id",
        checkpoint=f"{base}/ckpt",
    )
    dim = spark.read.parquet(f"{base}/dim")
    return dim.filter(F.col("is_current")).select(
        "user_id",
        F.col("event_type").alias("cur_type"),
        F.col("value").alias("cur_value"),
    )


@query("stream_approx_dedup", oracle=None, group="C")
def stream_approx_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state approximate dedup: first sighting of each
    (user_id, event_type) with FIXED bloom-filter state per key bucket
    (streaming.approx_dedup_batch; the applyInPandasWithState twin
    persists the same bits as BINARY group state).  Where stream_dedup's
    dropDuplicates state grows with distinct keys, this caps state at
    n_buckets×m_bits bits FOREVER — the at-most-once contract for
    unbounded streams.  Rows-only (a false positive may suppress a true
    first sighting); pytest pins zero duplicate emissions, the FP
    budget, and batch/stream key-set agreement."""
    return STR.approx_dedup_batch(load_table(spark, sf_dir, "events"))


@query(
    "stream_approx_planted",
    oracle="""
    SELECT user_id, event_type, event_id FROM (
        SELECT user_id, event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id % 40 = 0 AND user_id <= 1499) t
    WHERE rn = 1
    """,
    group="C",
)
def stream_approx_planted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-oracle attestation of the bloom-filter approximate-dedup
    path (streaming.approx_dedup_batch; stream_approx_dedup is rows-only
    because a bloom false positive may suppress a true first sighting):
    the plant keeps only user_id % 40 == 0 within a FIXED user range
    (user_id <= 1499, so the planted KEY SET cannot grow with the data
    tier even though rows per key do), so each of the 64 hash
    buckets sees a handful of distinct (user_id, event_type) keys
    against m = 1024 bits with k = 4 probes — far below the fill level
    where a false positive is plausible, and the bit positions are a
    deterministic function of the fixed key set, so zero-FP is a stable
    property (pinned by tests/test_streaming.py::
    test_stream_approx_planted_zero_fp), not sampled luck.  With no
    false positives the emitted set IS the exact first sighting per key
    in (ts, event_id) order — the window closed form the oracle states.
    Pins the bucketing, the per-bucket processing order, and the bloom
    insert/membership core exactly; the FP-budget pytest on the
    production query covers the saturated regime."""
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") % 40 == 0) & (F.col("user_id") <= 1499)
    )
    return STR.approx_dedup_batch(e)


@query(
    "stream_ivm_update",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY event_type
    """,
    group="C",
)
def stream_ivm_update_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming incremental view maintenance: the events table is
    chunked, replayed with availableNow, and foreachBatch folds each
    micro-batch's signed per-group deltas into a parquet materialized
    per-event_type COUNT/SUM aggregate via ``etl.ivm_merge`` — history is
    NEVER re-aggregated (the streaming twin of ``agg_ivm_update``).

    Exactly-once: the MV rows carry the last applied batch id in the same
    atomic directory swap as the data, so foreachBatch's at-least-once
    replay cannot double-count (pytest replays a batch to pin it).  The
    oracle recomputes the final state from scratch, so the value-hash
    proves the whole incremental fold.  Money as BIGINT cents (the
    DECIMAL landmine)."""
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    base = f"/tmp/postpy_spark_stream_ivm/{tag}"
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    STR.write_event_chunks(spark, sf_dir, f"{base}/chunks", n_chunks=3)
    stream = STR.read_event_stream(spark, f"{base}/chunks", files_per_trigger=1)
    STR.stream_ivm_to_path(
        stream,
        target_path=f"{base}/mv",
        keys=["event_type"],
        count_col="n_events",
        sum_cols={
            "sum_cents": F.sum(
                F.round(F.col("value") * 100).cast("bigint")
            ).cast("bigint")
        },
        checkpoint=f"{base}/ckpt",
    )
    return (
        spark.read.parquet(f"{base}/mv")
        .select("event_type", "n_events", "sum_cents")
    )


@query(
    "stream_python_datasource",
    oracle="""
    SELECT CAST(k % 7 AS BIGINT) AS g,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_id,
           CAST(SUM(CAST(k * 150 AS BIGINT)) AS BIGINT) AS sum_cents
    FROM range(300) t(k)
    GROUP BY 1
    """,
    group="C",
)
def stream_python_datasource_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming over the custom PYTHON data source: the
    ``pp_synth`` source's offset-tracked ``SimpleDataSourceStreamReader``
    (postpy_spark/sources.py — the Kafka-shaped offset contract:
    initialOffset / read / readBetweenOffsets) feeds a grouped aggregate
    through a memory sink under ``availableNow``, composing the two
    engine surfaces the contract exercises separately
    (scan_python_datasource: batch reader; stream_*: file streams).  The
    source is deterministic (rows k < 300, score = 1.5·k, one read()
    spanning the full range so available-now drains it), so the final
    table has a CLOSED FORM and this is the one streaming query whose
    real writeStream path is sql-hash-checked end-to-end, not
    batch-twinned.  score·100 = 150·k is integer-exact in doubles, so
    the cents sum is bit-stable cross-engine.  sf-invariant by design
    (the source is synthetic — no table input)."""
    from postpy_spark import sources

    sources.register(spark)
    name = "pp_stream_pyds_agg"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream.format("pp_synth")
        .option("n", 300)
        .option("batch_size", 300)
        .load()
    )
    agg = stream.groupBy((F.col("id") % 7).alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("id").cast("bigint").alias("sum_id"),
        F.sum(F.round(F.col("score") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )
    STR.run_available_now(
        agg.writeStream.format("memory").queryName(name).outputMode("complete")
    )
    return spark.table(name).select("g", "n", "sum_id", "sum_cents")
