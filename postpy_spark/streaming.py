"""Structured Streaming layer (SURVEY.md §2 group C).

postpy has no streaming; its nearest analog is incremental batch upsert
(``dml.py::upsert_records`` [U]).  Here the same computations are defined
ONCE as plan builders applied to either a batch DataFrame or a streaming
DataFrame — the contract queries sql-check the batch application, and the
pytest suite replays the events table as a real file-source stream
(``availableNow`` trigger) and asserts convergence to the batch result.

Scale posture: watermarks bound all state stores; sinks are idempotent
(foreachBatch + keyed latest-wins merge) so retried micro-batches cannot
double-count; the file replay uses maxFilesPerTrigger to emulate arrival.

Two functions carry every run and every sink.  :func:`run_available_now`
is the one way to run a stream: it drains the source under the
``availableNow`` trigger, waits at most ``DRAIN_TIMEOUT_S`` and stops the
query and raises ``TimeoutError`` when the drain does not finish.  Each
parquet-path sink's micro-batch goes through
:func:`postpy_spark.etl.merge_into_path`, the one read–merge–swap: a
table that cannot be read fails the batch and is left as it was.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from postpy_spark.etl import ivm_merge, merge_into_path
from postpy_spark.io import load_table
from postpy_spark.session import ensure_runtime_confs

EVENT_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

DRAIN_TIMEOUT_S = 180

# ---------------------------------------------------------------------------
# Plan builders (batch + streaming)
# ---------------------------------------------------------------------------


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per-window, per-type counts/sums.  In streaming mode add
    ``with_watermark`` upstream so state is bounded."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-merged); end = last event + gap."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_by_key(events: DataFrame, keys: list[str], watermark: str | None = None) -> DataFrame:
    """Exactly-once by key under at-least-once delivery.

    Batch: plain ``dropDuplicates(keys)``.  Streaming with a watermark:
    ``dropDuplicatesWithinWatermark(keys)`` — plain ``dropDuplicates`` only
    expires state when the event-time column is itself among the dedup
    keys, so with e.g. ``keys=["event_id"]`` state would grow without bound
    on a real stream even though a watermark is set.  The within-watermark
    variant keeps per-key state only for the watermark delay, bounding
    state for ANY key set; the trade is that duplicates separated by more
    than the delay are not collapsed, so the redelivery window must fit
    inside the watermark."""
    if watermark and events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    return events.withWatermark("ts", delay) if events.isStreaming else events


def interval_join_follows(purchases: DataFrame, follows: DataFrame, gap: str = "1 HOUR") -> DataFrame:
    """Purchases joined to the same user's follow-up events within ``gap``.

    Batch: equi hash join with the time range as residual.  Streaming: a
    REAL stream-stream inner join — both sides carry watermarks (the caller
    sets them) and the range condition bounds each side's join state, so
    Spark evicts buffered rows as the watermark passes; without the time
    bound, stream-stream state grows forever.  Convergence to the batch
    result is asserted in tests/test_streaming.py."""
    return purchases.join(
        follows,
        (purchases["p_user"] == follows["f_user"])
        & (follows["f_ts"] > purchases["p_ts"])
        & (follows["f_ts"] <= purchases["p_ts"] + F.expr(f"INTERVAL {gap}")),
    ).select("p_id", "f_id")


def static_enrich(events: DataFrame, dim: DataFrame, dim_key: str = "c_custkey") -> DataFrame:
    """Stream-static enrichment: each event joined to a slowly-changing
    dimension snapshot (here ``customer``) on ``user_id = dim_key``.

    Batch: an ordinary broadcast left join.  Streaming: Spark's
    STREAM-STATIC join — stateless on the stream side (no watermark, no
    join state store; the static side is re-planned per micro-batch, which
    is also what makes dimension updates between batches visible).  This is
    the workhorse shape for attaching user/account/geo attributes to an
    event firehose: at 100 TB/day of events the dimension broadcast means
    zero shuffle of the stream.  Left join keeps unmatched events
    (dimension lag must not drop facts)."""
    return events.join(
        F.broadcast(dim), events["user_id"] == dim[dim_key], "left"
    ).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        dim["c_mktsegment"].alias("segment"),
        dim["c_nationkey"].alias("nationkey"),
    )


# ---------------------------------------------------------------------------
# Deterministic replay infrastructure
# ---------------------------------------------------------------------------


def write_event_chunks(spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 4) -> str:
    """Split the events table into arrival-ordered chunk files so a file
    stream replays them deterministically (chunk i = event_id % n == i)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    for i in range(n_chunks):
        (
            ev.filter(F.col("event_id") % n_chunks == i)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/chunk_{i}")
        )
    return out_dir


def read_event_stream(spark: SparkSession, chunk_dir: str, files_per_trigger: int = 1) -> DataFrame:
    ensure_runtime_confs(spark)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(f"{chunk_dir}/chunk_*")
    )
    # Watermarks require TIMESTAMP (LTZ); session tz is pinned UTC, so the
    # NTZ→LTZ cast is value-preserving.
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def run_available_now(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` under the ``availableNow`` trigger and wait for it
    to drain.  A query that has not terminated after ``DRAIN_TIMEOUT_S`` is
    stopped and ``TimeoutError`` is raised, so no caller compares a partial
    table; a query that fails re-raises its error from the wait (Spark has
    already stopped it)."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} did not drain in {DRAIN_TIMEOUT_S} s"
        )
    return q


def run_stream_to_memory(stream_df: DataFrame, query_name: str, output_mode: str = "complete") -> DataFrame:
    """Run an availableNow streaming query into an in-memory sink and return
    the final table (test/verification harness)."""
    run_available_now(
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )
    return stream_df.sparkSession.table(query_name)


# ---------------------------------------------------------------------------
# Incremental upsert sink (postpy merge_upsert, made streaming)
# ---------------------------------------------------------------------------


def latest_wins_merge(existing: DataFrame | None, batch: DataFrame, keys: list[str],
                      order_cols: list[str]) -> DataFrame:
    """Union old+new, keep the max-(order_cols) row per key — commutative
    across micro-batch arrival order, hence safe under retries/reordering."""
    allrows = batch if existing is None else existing.unionByName(batch)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return allrows.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def stream_upsert_to_path(
    spark: SparkSession,
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    order_cols: list[str],
    checkpoint: str,
) -> None:
    """writeStream.foreachBatch → keyed latest-wins merge into a parquet
    path with a staged atomic swap per micro-batch (idempotent sink)."""

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        merge_into_path(
            batch.sparkSession,
            target_path,
            lambda existing: latest_wins_merge(existing, batch, keys, order_cols),
        )

    run_available_now(
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
    )


# ---------------------------------------------------------------------------
# Incremental-view-maintenance sink (etl.ivm_merge, made streaming)
# ---------------------------------------------------------------------------


def make_ivm_batch_merger(
    target_path: str,
    keys: list[str],
    count_col: str,
    sum_cols: dict[str, "F.Column"],
):
    """foreachBatch body maintaining a materialized COUNT/SUM aggregate
    under an append stream via :func:`postpy_spark.etl.ivm_merge` — each
    micro-batch is reduced to signed per-group deltas (appends: +1/+v)
    and merged WITHOUT re-aggregating history.

    Exactly-once under foreachBatch's at-least-once replay: unlike
    ``latest_wins_merge`` (idempotent by construction), an IVM increment
    applied twice double-counts — so the MV rows carry the id of the last
    applied batch in a ``_last_batch`` column written in the SAME atomic
    directory swap as the data, and a replayed batch (id <= stored id) is
    skipped.  One swap carries state + marker; there is no window where
    one is durable without the other.

    Exposed as a module-level factory (returned function is driver-side —
    foreachBatch is never pickled to workers) so the crash-replay pytest
    can drive the same body the stream runs."""
    add_cols = list(sum_cols)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        delta = batch.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("bigint").alias(count_col),
            *[expr.alias(name) for name, expr in sum_cols.items()],
        )

        def merge(mv: DataFrame | None) -> DataFrame | None:
            if mv is None:
                merged = delta.filter(F.col(count_col) > 0)
            else:
                last = mv.agg(F.max("_last_batch")).collect()[0][0]
                if last is not None and batch_id <= last:
                    return None  # replayed batch: already folded into the MV
                merged = ivm_merge(mv.drop("_last_batch"), delta, keys, count_col, add_cols)
            return merged.withColumn("_last_batch", F.lit(batch_id))

        merge_into_path(batch.sparkSession, target_path, merge)

    return merge_batch


def stream_ivm_to_path(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    count_col: str,
    sum_cols: dict[str, "F.Column"],
    checkpoint: str,
) -> None:
    """writeStream.foreachBatch → delta-rule IVM into a parquet MV (one
    aggregate maintained incrementally across micro-batches; the scale
    contract is ivm_merge's: the MV is only ever the stream side of
    broadcast joins, no Exchange carries it)."""
    run_available_now(
        stream_df.writeStream.foreachBatch(
            make_ivm_batch_merger(target_path, keys, count_col, sum_cols)
        )
        .option("checkpointLocation", checkpoint)
    )


# ---------------------------------------------------------------------------
# SCD2 dimension sink (type-2 history from a stream)
# ---------------------------------------------------------------------------


def scd2_apply_latest(
    target: DataFrame | None,
    src: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Apply a per-key-reduced micro-batch to a type-2 dimension with
    EVENT-TIME effectivity: a source row only supersedes the current
    version when it is strictly newer than the version's anchor
    ((valid_from, _anchor_id) < (src.ts, src.id)) AND an attribute
    differs — so late or replayed data can never regress the dimension,
    and re-applying a batch is a no-op (idempotent sink).  All per-row
    logic; no driver-side scalars.

    Dimension schema: keys + compare_cols + valid_from/valid_to (event
    time) + _anchor_id (tiebreak) + is_current."""
    out_cols = (
        keys + compare_cols + ["valid_from", "valid_to", "_anchor_id", "is_current"]
    )
    s = src.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_src_{c}") for c in compare_cols],
        F.col(ts_col).alias("_src_ts"),
        F.col(id_col).alias("_src_id"),
        F.lit(True).alias("_in_src"),
    )
    if target is None:
        return s.select(
            *keys,
            *[F.col(f"_src_{c}").alias(c) for c in compare_cols],
            F.col("_src_ts").alias("valid_from"),
            F.lit(None).cast(src.schema[ts_col].dataType).alias("valid_to"),
            F.col("_src_id").alias("_anchor_id"),
            F.lit(True).alias("is_current"),
        )
    cur = target.filter(F.col("is_current")).withColumn("_in_cur", F.lit(True))
    hist = target.filter(~F.col("is_current")).select(*out_cols)
    j = cur.join(s, on=keys, how="full_outer")
    newer = (F.col("_src_ts") > F.col("valid_from")) | (
        (F.col("_src_ts") == F.col("valid_from"))
        & (F.col("_src_id") > F.col("_anchor_id"))
    )
    differs = None
    for c in compare_cols:
        d = ~F.col(c).eqNullSafe(F.col(f"_src_{c}"))
        differs = d if differs is None else (differs | d)
    supersede = (
        F.col("_in_cur").isNotNull() & F.col("_in_src").isNotNull() & newer & differs
    )
    closed = j.filter(supersede).select(
        *keys,
        *compare_cols,
        F.col("valid_from"),
        F.col("_src_ts").alias("valid_to"),
        F.col("_anchor_id"),
        F.lit(False).alias("is_current"),
    )
    opened = j.filter(supersede).select(
        *keys,
        *[F.col(f"_src_{c}").alias(c) for c in compare_cols],
        F.col("_src_ts").alias("valid_from"),
        F.lit(None).cast(src.schema[ts_col].dataType).alias("valid_to"),
        F.col("_src_id").alias("_anchor_id"),
        F.lit(True).alias("is_current"),
    )
    kept = j.filter(
        F.col("_in_cur").isNotNull() & ~F.coalesce(supersede, F.lit(False))
    ).select(*out_cols)
    brand_new = j.filter(F.col("_in_cur").isNull()).select(
        *keys,
        *[F.col(f"_src_{c}").alias(c) for c in compare_cols],
        F.col("_src_ts").alias("valid_from"),
        F.lit(None).cast(src.schema[ts_col].dataType).alias("valid_to"),
        F.col("_src_id").alias("_anchor_id"),
        F.lit(True).alias("is_current"),
    )
    return (
        hist.unionByName(closed)
        .unionByName(opened)
        .unionByName(kept)
        .unionByName(brand_new)
    )


def stream_scd2_to_path(
    spark: SparkSession,
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    compare_cols: list[str],
    ts_col: str,
    id_col: str,
    checkpoint: str,
) -> None:
    """writeStream.foreachBatch → type-2 SCD dimension maintenance: each
    micro-batch reduces to its per-key latest row (ts, id ordering), then
    event-time-effectively merges into the dimension (scd2_apply_latest)
    with a staged atomic swap.  Late/replayed rows are discarded by the
    anchor comparison, so the sink is idempotent under retries AND
    order-insensitive across micro-batch arrival: the final CURRENT slice
    always equals the global latest-per-key state; the history chain
    reflects observed transitions."""

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        latest = latest_wins_merge(None, batch, keys, [ts_col, id_col])
        merge_into_path(
            spark,
            target_path,
            lambda target: scd2_apply_latest(
                target, latest, keys, compare_cols, ts_col, id_col
            ),
        )

    run_available_now(
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
    )


# ---------------------------------------------------------------------------
# Custom stateful sessionization (applyInPandasWithState in streaming;
# the deterministic per-user summary both modes must agree on)
# ---------------------------------------------------------------------------

SESSION_SUMMARY_SCHEMA = (
    "user_id BIGINT, n_sessions BIGINT, max_session_events BIGINT, total_events BIGINT"
)


def _make_session_summarizer(gap_minutes: int = 30):
    """Factory returning the pure-pandas sessionizer for one user's events
    (shared by the batch applyInPandas path and the streaming
    applyInPandasWithState path).

    Deliberately a CLOSURE, not a module-level function: cloudpickle
    serializes module-level functions by reference (workers would need
    ``postpy_spark`` importable — true only when the driver's cwd is the
    repo root), but nested functions by VALUE, so the shipped UDF is
    self-contained under any driver cwd/PYTHONPATH."""

    def summarize(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"])
        # strict >: session_window merges an event at exactly prev+gap
        gaps = pdf["ts"].diff() > pd.Timedelta(minutes=gap_minutes)
        session_ids = gaps.cumsum()
        sizes = session_ids.groupby(session_ids).size()
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_sessions": [int(sizes.shape[0])],
                "max_session_events": [int(sizes.max())],
                "total_events": [int(len(pdf))],
            }
        )

    return summarize


def _summarize_user_sessions(pdf, gap_minutes: int = 30):
    """Driver-side convenience wrapper (tests); UDF paths must capture the
    factory's closure instead, see :func:`_make_session_summarizer`."""
    return _make_session_summarizer(gap_minutes)(pdf)


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom per-user session summaries via applyInPandas (group E surface
    reused); deterministic, sql-checkable via the lag/gap-island oracle."""
    return events.select("user_id", "ts", "event_id").groupBy("user_id").applyInPandas(
        _make_session_summarizer(gap_minutes), SESSION_SUMMARY_SCHEMA
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming flavor: per-user running state via applyInPandasWithState.
    State = pending event times; emission on timeout/availableNow drain."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    summarize = _make_session_summarizer(gap_minutes)

    def fn(key, pdf_iter, state: GroupState):
        import json

        import pandas as pd

        ts_ns: list[int] = []
        ids: list[int] = []
        if state.exists:
            packed = json.loads(state.get[0])
            ts_ns, ids = packed["ts"], packed["id"]
        for pdf in pdf_iter:
            ts_ns.extend(pdf["ts"].astype("datetime64[ns]").astype("int64").tolist())
            ids.extend(pdf["event_id"].astype("int64").tolist())
        state.update((json.dumps({"ts": ts_ns, "id": ids}),))
        all_rows = pd.DataFrame(
            {
                "user_id": key[0],
                "ts": pd.to_datetime(pd.Series(ts_ns), unit="ns"),
                "event_id": ids,
            }
        )
        yield summarize(all_rows)

    return (
        events.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SUMMARY_SCHEMA,
            stateStructType="packed STRING",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-state API) — the modern
# replacement for applyInPandasWithState, used for the same per-user
# session summary so both APIs are covered and cross-checked.
# ---------------------------------------------------------------------------


def sessionize_stream_tws(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization via a StatefulProcessor with ValueState.

    State: packed JSON of (ts_ns[], event_id[]) per user — identical core
    logic to :func:`sessionize_stream` so the two stateful APIs must agree
    (asserted in tests).

    Environment note: the TWS Python driver worker imports
    ``google.protobuf`` (not shipped in this container), so the test skips
    here with the root cause surfaced; on a standard cluster image it runs.
    Requires the RocksDB state store provider (set below).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    summarize = _make_session_summarizer(gap_minutes)

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("packed", "packed STRING")

        def handleInputRows(self, key, rows, timerValues):
            import json

            import pandas as pd

            ts_ns: list[int] = []
            ids: list[int] = []
            if self._state.exists():
                packed = json.loads(self._state.get()[0])
                ts_ns, ids = packed["ts"], packed["id"]
            for pdf in rows:
                ts_ns.extend(pdf["ts"].astype("datetime64[ns]").astype("int64").tolist())
                ids.extend(pdf["event_id"].astype("int64").tolist())
            self._state.update((json.dumps({"ts": ts_ns, "id": ids}),))
            all_rows = pd.DataFrame(
                {
                    "user_id": key[0],
                    "ts": pd.to_datetime(pd.Series(ts_ns), unit="ns"),
                    "event_id": ids,
                }
            )
            yield summarize(all_rows)

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store provider
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return (
        events.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=SESSION_SUMMARY_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def two_level_rate(events: DataFrame) -> DataFrame:
    """Chained windowed aggregation (two stateful operators in ONE query —
    supported for aligned time windows since Spark 3.4): 15-minute event
    counts per type, then the per-hour MAX of those 15-minute rates.  In
    streaming mode both levels keep watermark-bounded state; in batch mode
    the same plan is two partial-aggregated groupBys."""
    lvl1 = events.groupBy(F.window("ts", "15 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    lvl2 = lvl1.groupBy(F.window("window", "1 hour"), "event_type").agg(
        F.max("n").alias("max_n")
    )
    return lvl2.select(
        F.col("window.start").alias("hour_start"), "event_type", "max_n"
    )


# ---------------------------------------------------------------------------
# Bounded-state approximate dedup (bloom-filter state per key bucket)
# ---------------------------------------------------------------------------

APPROX_DEDUP_SCHEMA = "user_id BIGINT, event_type STRING, event_id BIGINT"


def _make_bloom_dedup_core(m_bits: int = 1 << 10, k: int = 4):
    """Pure-Python bloom step shared by the batch (applyInPandas) and
    streaming (applyInPandasWithState) paths: given one bucket's rows in
    processing order and that bucket's bit array, return the emit mask
    (True = first sighting of this (user_id, event_type) key) and set
    the key's bits.  crc32-seeded positions — deterministic across
    processes/runs, unlike Python's salted hash().

    Closure on purpose: cloudpickle ships nested functions by VALUE, so
    the UDF works under any driver cwd (see _make_session_summarizer).
    """

    def step(pdf, bits: bytearray) -> list[bool]:
        import zlib

        emit: list[bool] = []
        for uid, et in zip(pdf["user_id"], pdf["event_type"]):
            key = f"{uid}|{et}"
            poss = [
                zlib.crc32(f"{i}|{key}".encode()) % m_bits for i in range(k)
            ]
            if all(bits[p >> 3] & (1 << (p & 7)) for p in poss):
                emit.append(False)  # seen (or a false positive)
            else:
                emit.append(True)
                for p in poss:
                    bits[p >> 3] |= 1 << (p & 7)
        return emit

    return step


def _bucketed(events: DataFrame, n_buckets: int) -> DataFrame:
    return events.withColumn(
        "_bucket", F.pmod(F.xxhash64("user_id", "event_type"), F.lit(n_buckets))
    )


def approx_dedup_batch(
    events: DataFrame, m_bits: int = 1 << 10, k: int = 4, n_buckets: int = 64
) -> DataFrame:
    """First sighting of each (user_id, event_type) with FIXED per-bucket
    memory (m_bits bits), processing order = (ts, event_id).  The batch
    twin of :func:`approx_dedup_stream`: same core, so the two paths'
    emitted KEY sets agree when fed the same order.

    Why a bloom and not dropDuplicates: exact dedup state grows with the
    number of distinct keys — unbounded on an unbounded stream.  The
    bloom caps state at n_buckets·m_bits bits FOREVER, trading a
    quantified false-positive rate (first sightings wrongly suppressed),
    which is the standard contract for at-most-once emission at 100 TB
    stream volumes.
    """
    core = _make_bloom_dedup_core(m_bits, k)

    def fn(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"])
        bits = bytearray(m_bits // 8)
        emit = core(pdf, bits)
        return pdf.loc[
            pd.Series(emit, index=pdf.index),
            ["user_id", "event_type", "event_id"],
        ]

    return (
        _bucketed(events.select("user_id", "event_type", "event_id", "ts"), n_buckets)
        .groupBy("_bucket")
        .applyInPandas(fn, APPROX_DEDUP_SCHEMA)
    )


def approx_dedup_stream(
    events: DataFrame, m_bits: int = 1 << 10, k: int = 4, n_buckets: int = 64
) -> DataFrame:
    """Streaming flavor: the bucket's bloom bits persist as BINARY group
    state across micro-batches — bounded at m_bits/8 bytes per bucket no
    matter how many keys flow through, the property dropDuplicates
    cannot offer without a watermark-bounded horizon."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    core = _make_bloom_dedup_core(m_bits, k)

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        bits = bytearray(state.get[0]) if state.exists else bytearray(m_bits // 8)
        outs = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            emit = core(pdf, bits)
            outs.append(
                pdf.loc[
                    pd.Series(emit, index=pdf.index),
                    ["user_id", "event_type", "event_id"],
                ]
            )
        state.update((bytes(bits),))
        if outs:
            yield pd.concat(outs)

    return (
        _bucketed(events.select("user_id", "event_type", "event_id", "ts"), n_buckets)
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            outputStructType=APPROX_DEDUP_SCHEMA,
            stateStructType="bits BINARY",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
