"""Real Structured Streaming runs (file-source replay, availableNow) must
converge to the batch plans — the group C verification SURVEY.md §2.C
promises beyond the driver's batch-equivalence check."""

import os

import pyspark.sql.functions as F
import pytest

from postpy_spark import streaming as STR
from postpy_spark.io import load_table
from postpy_spark.testing import canon_rows
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def chunks(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_chunks"))
    return STR.write_event_chunks(spark, SF_SMOKE, out, n_chunks=3)


def assert_same(df_a, df_b):
    ca, ra = canon_rows(df_a.columns, df_a.collect())
    cb, rb = canon_rows(df_b.columns, df_b.collect())
    assert ca == cb
    assert ra == rb


class _FakeQuery:
    name = "fake"

    def __init__(self, drained):
        self.drained = drained
        self.waited = None
        self.stopped = False

    def awaitTermination(self, timeout=None):
        self.waited = timeout
        return self.drained

    def stop(self):
        self.stopped = True


class _FakeWriter:
    def __init__(self, query):
        self.query = query
        self.trigger_kwargs = None

    def trigger(self, **kwargs):
        self.trigger_kwargs = kwargs
        return self

    def start(self):
        return self.query


def test_run_available_now_stops_and_raises_on_timeout():
    q = _FakeQuery(drained=False)
    writer = _FakeWriter(q)
    with pytest.raises(TimeoutError):
        STR.run_available_now(writer)
    assert writer.trigger_kwargs == {"availableNow": True}
    assert q.waited == STR.DRAIN_TIMEOUT_S
    assert q.stopped


def test_run_available_now_returns_drained_query():
    q = _FakeQuery(drained=True)
    assert STR.run_available_now(_FakeWriter(q)) is q
    assert q.waited == STR.DRAIN_TIMEOUT_S
    assert not q.stopped


def test_run_available_now_timeout_leaves_no_active_query(spark, chunks, monkeypatch):
    """A real stream that cannot drain in time is stopped, not left running."""
    monkeypatch.setattr(STR, "DRAIN_TIMEOUT_S", 0.001)
    stream = STR.read_event_stream(spark, chunks)
    with pytest.raises(TimeoutError):
        STR.run_available_now(stream.writeStream.format("noop"))
    assert spark.streams.active == []


def _file_bytes(directory):
    return {
        name: (directory / name).read_bytes() for name in sorted(os.listdir(directory))
    }


@pytest.mark.parametrize("sink", ["upsert", "scd2", "ivm"])
def test_stream_sink_unreadable_target_raises_and_keeps_files(spark, chunks, tmp_path, sink):
    """A sink whose target exists but cannot be read fails the stream and
    leaves the target's files untouched; it never replaces the table with
    one micro-batch."""
    from pyspark.errors import StreamingQueryException

    target = tmp_path / "target"
    target.mkdir()
    (target / "part-0.parquet").write_bytes(b"not a parquet file")
    before = _file_bytes(target)
    stream = STR.read_event_stream(spark, chunks)
    path, ckpt = str(target), str(tmp_path / "ckpt")
    with pytest.raises(StreamingQueryException):
        if sink == "upsert":
            STR.stream_upsert_to_path(spark, stream, path, ["event_id"], ["ts"], ckpt)
        elif sink == "scd2":
            STR.stream_scd2_to_path(
                spark, stream, path, ["user_id"], ["event_type", "value"],
                "ts", "event_id", ckpt,
            )
        else:
            STR.stream_ivm_to_path(
                stream, path, ["event_type"], "n_events",
                {"sum_value": F.sum("value")}, ckpt,
            )
    assert _file_bytes(target) == before
    assert spark.streams.active == []


def test_streaming_tumbling_converges(spark, chunks):
    stream = STR.read_event_stream(spark, chunks)
    got = STR.run_stream_to_memory(
        STR.tumbling_counts(STR.with_watermark(stream, "1 hour")),
        "t_tumbling",
        output_mode="complete",
    )
    batch = STR.tumbling_counts(load_table(spark, SF_SMOKE, "events"))
    assert_same(got, batch)


def test_streaming_session_converges(spark, chunks):
    stream = STR.read_event_stream(spark, chunks)
    got = STR.run_stream_to_memory(
        STR.session_aggregate(STR.with_watermark(stream, "30 days")),
        "t_session",
        output_mode="complete",
    )
    batch = STR.session_aggregate(load_table(spark, SF_SMOKE, "events"))
    assert_same(got, batch)


def test_streaming_dedup_with_watermark(spark, chunks):
    stream = STR.read_event_stream(spark, chunks)
    deduped = STR.dedup_by_key(stream, ["event_id"], watermark="30 days")
    got = STR.run_stream_to_memory(deduped, "t_dedup", output_mode="append")
    n_unique = load_table(spark, SF_SMOKE, "events").count()
    assert got.count() == n_unique


def test_streaming_upsert_final_state(spark, chunks, tmp_path):
    target = str(tmp_path / "target")
    stream = STR.read_event_stream(spark, chunks)
    STR.stream_upsert_to_path(
        spark, stream, target, keys=["user_id"], order_cols=["ts", "event_id"],
        checkpoint=str(tmp_path / "ckpt"),
    )
    final = spark.read.parquet(target)
    e = load_table(spark, SF_SMOKE, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expect = (
        e.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    assert_same(
        final.select("user_id", "event_id", "ts"),
        expect.select("user_id", "event_id", "ts"),
    )


def test_stateful_sessionize_stream_matches_batch(spark, chunks):
    """applyInPandasWithState (update mode): take each user's LAST update —
    must equal the batch applyInPandas summary."""
    stream = STR.read_event_stream(spark, chunks, files_per_trigger=1)
    got_updates = STR.run_stream_to_memory(
        STR.sessionize_stream(stream), "t_state_sess", output_mode="update"
    )
    # update mode emits one row per user per micro-batch; the final (max
    # total_events) row per user is the converged summary.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("total_events").desc())
    final = (
        got_updates.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    batch = STR.sessionize_batch(load_table(spark, SF_SMOKE, "events"))
    assert_same(final, batch)


def test_stream_stream_interval_join(spark, chunks):
    """Stream-stream inner join with watermarks (purchase events joined to
    the same user's follow-up events within 1h) must converge to the batch
    interval join."""
    import pyspark.sql.functions as F

    build = STR.interval_join_follows

    stream = STR.read_event_stream(spark, chunks)
    sp = stream.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "30 days")
    sf_ = stream.select(
        F.col("event_id").alias("f_id"), F.col("user_id").alias("f_user"),
        F.col("ts").alias("f_ts"),
    ).withWatermark("f_ts", "30 days")
    got = STR.run_stream_to_memory(build(sp, sf_), "t_ss_join", output_mode="append")

    e = load_table(spark, SF_SMOKE, "events")
    bp = e.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    bf = e.select(
        F.col("event_id").alias("f_id"), F.col("user_id").alias("f_user"),
        F.col("ts").alias("f_ts"),
    )
    assert_same(got, build(bp, bf))


def test_transform_with_state_matches_batch(spark, chunks):
    """Spark 4 transformWithStateInPandas sessionization must converge to
    the same per-user summaries as the batch path (and hence the older
    applyInPandasWithState path)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    stream = STR.read_event_stream(spark, chunks, files_per_trigger=1)
    try:
        got_updates = STR.run_stream_to_memory(
            STR.sessionize_stream_tws(stream), "t_tws_sess", output_mode="update"
        )
    except Exception as exc:  # pragma: no cover - env-dependent feature
        import pytest as _pytest

        if "transformWithState" in str(exc) or "STATE_STORE" in str(exc):
            _pytest.skip(f"transformWithStateInPandas unavailable: {exc}")
        raise
    w = Window.partitionBy("user_id").orderBy(F.col("total_events").desc())
    final = (
        got_updates.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    batch = STR.sessionize_batch(load_table(spark, SF_SMOKE, "events"))
    assert_same(final, batch)


def test_streaming_sliding_converges(spark, chunks):
    stream = STR.read_event_stream(spark, chunks)
    got = STR.run_stream_to_memory(
        STR.sliding_counts(STR.with_watermark(stream, "2 hours")),
        "t_sliding",
        output_mode="complete",
    )
    batch = STR.sliding_counts(load_table(spark, SF_SMOKE, "events"))
    assert_same(got, batch)


def test_checkpoint_restart_no_duplication(spark, tmp_path):
    """Exactly-once across RESTARTS: process the first half of the stream,
    stop, land more files, restart the SAME checkpoint — the second run
    must pick up only the new files, and the final sink must equal the
    batch answer with no duplicated rows."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)
    ev = load_table(spark, SF_SMOKE, "events")
    for i in range(4):
        (ev.filter(F.col("event_id") % 4 == i).coalesce(1)
           .write.mode("overwrite").parquet(f"{src}/chunk_{i}"))
    # hide chunks 2,3 from run 1
    for i in (2, 3):
        os.rename(f"{src}/chunk_{i}", f"{src}/__hold_{i}")

    STR.stream_upsert_to_path(
        spark, STR.read_event_stream(spark, src), out,
        keys=["event_id"], order_cols=["ts", "event_id"], checkpoint=ckpt,
    )
    n_first = spark.read.parquet(out).count()
    assert n_first == ev.filter(F.col("event_id") % 4 <= 1).count()
    for i in (2, 3):
        os.rename(f"{src}/__hold_{i}", f"{src}/chunk_{i}")
    STR.stream_upsert_to_path(
        spark, STR.read_event_stream(spark, src), out,
        keys=["event_id"], order_cols=["ts", "event_id"], checkpoint=ckpt,
    )
    final = spark.read.parquet(out)
    assert final.count() == ev.count()                       # nothing duplicated
    assert final.select("event_id").distinct().count() == ev.count()


def test_streaming_two_level_agg_converges(spark, chunks, tmp_path):
    """Two chained stateful windowed aggregations in ONE streaming query
    (multi-stateful-operator support) must converge to the batch plan.

    Chained aggs require APPEND mode, which only emits a window once the
    watermark passes it — so the replay adds a far-future sentinel event
    that flushes every real window (the sentinel's own window stays open
    and is excluded from the comparison)."""
    import shutil

    src = str(tmp_path / "chunks2")
    shutil.copytree(chunks, src)
    e = load_table(spark, SF_SMOKE, "events")
    horizon = e.agg(F.max("ts")).collect()[0][0]
    sentinel = e.limit(1).select(
        F.lit(10**9).alias("event_id"),
        (F.lit(horizon) + F.expr("INTERVAL 365 DAYS")).alias("ts"),
        F.lit(0).cast("bigint").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(f"{src}/chunk_zz")
    stream = STR.read_event_stream(spark, src)
    got = STR.run_stream_to_memory(
        STR.two_level_rate(STR.with_watermark(stream, "30 days")),
        "t_two_level",
        output_mode="append",
    )
    batch = STR.two_level_rate(e)  # real events only: sentinel window never emits
    assert_same(got, batch)


def test_python_datasource_streaming_exactly_once(spark):
    """Custom PYTHON streaming source (SimpleDataSourceStreamReader):
    offset-tracked micro-batches must deliver every row exactly once
    across multiple triggers."""
    import time

    from postpy_spark import sources

    sources.register(spark)
    df = spark.readStream.format("pp_synth").option("n", 45).option("batch_size", 10).load()
    q = (
        df.writeStream.format("memory").queryName("t_pyds")
        .outputMode("append").trigger(processingTime="250 milliseconds").start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("t_pyds").count() >= 45:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = spark.table("t_pyds")
    assert got.count() == 45                               # all, exactly once
    assert got.select("id").distinct().count() == 45
    assert got.agg(F.sum("id")).collect()[0][0] == 45 * 44 // 2


def test_foreachbatch_two_sink_fanout(spark, chunks, tmp_path):
    """One stream fanned out to TWO sinks inside a single foreachBatch —
    per-batch the frame is persisted once and written twice, so the sinks
    cannot diverge (a second streaming query COULD reprocess differently)."""
    raw = str(tmp_path / "raw")
    agg = str(tmp_path / "agg")

    def fan_out(batch, batch_id):
        batch.persist()
        batch.write.mode("append").parquet(raw)
        (batch.groupBy("event_type").count()
              .withColumn("batch_id", F.lit(batch_id))
              .write.mode("append").parquet(agg))
        batch.unpersist()

    stream = STR.read_event_stream(spark, chunks)
    STR.run_available_now(
        stream.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    e = load_table(spark, SF_SMOKE, "events")
    assert spark.read.parquet(raw).count() == e.count()
    per_type = (spark.read.parquet(agg).groupBy("event_type")
                .agg(F.sum("count").alias("n")).collect())
    expect = {r.event_type: r.n for r in
              e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {r.event_type: r.n for r in per_type} == expect


# ---------------------------------------------------------------------------
# RocksDB state store (session-level opt-in, docs/SCALE.md)
# ---------------------------------------------------------------------------


def test_rocksdb_state_confs_land_on_builder(spark):
    """get_spark(rocksdb_state=True) must set the provider + changelog
    checkpointing confs.  getOrCreate() reuses the live test session, so we
    assert the confs landed there (providerClass is runtime-settable) and
    restore the defaults afterwards."""
    from postpy_spark import session as S

    before = {
        k: spark.conf.get(k, None) for k in S.ROCKSDB_STATE_CONFS
    }
    try:
        s2 = S.get_spark(rocksdb_state=True)
        assert s2 is spark  # same JVM → same session; confs applied to it
        for k, v in S.ROCKSDB_STATE_CONFS.items():
            assert s2.conf.get(k) == v, k
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rocksdb_env_opt_in_parsing(monkeypatch):
    from postpy_spark import session as S

    for raw, want in [("1", True), ("true", True), ("YES", True),
                      ("0", False), ("", False), ("no", False)]:
        monkeypatch.setenv("SPARK_GRAFT_ROCKSDB_STATE", raw)
        assert S.rocksdb_state_requested() is want, raw
    monkeypatch.delenv("SPARK_GRAFT_ROCKSDB_STATE")
    assert S.rocksdb_state_requested() is False


def test_streaming_agg_under_rocksdb_state_store(spark, chunks):
    """The tumbling-window agg must produce identical results when its
    state lives in RocksDB instead of the default HDFS-backed heap store —
    the run-both-ways check for the session-level opt-in."""
    from postpy_spark.session import ROCKSDB_STATE_CONFS

    before = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONFS}
    try:
        for k, v in ROCKSDB_STATE_CONFS.items():
            spark.conf.set(k, v)
        stream = STR.read_event_stream(spark, chunks)
        got = STR.run_stream_to_memory(
            STR.tumbling_counts(STR.with_watermark(stream, "1 hour")),
            "t_tumbling_rocksdb",
            output_mode="complete",
        )
        batch = STR.tumbling_counts(load_table(spark, SF_SMOKE, "events"))
        assert_same(got, batch)
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stream_static_enrich_converges(spark, chunks):
    from postpy_spark.io import load_table as LT

    dim = LT(spark, SF_SMOKE, "customer")
    stream = STR.read_event_stream(spark, chunks)
    got = STR.run_stream_to_memory(
        STR.static_enrich(stream, dim), "t_static_enrich", output_mode="append"
    )
    batch = STR.static_enrich(LT(spark, SF_SMOKE, "events"), dim)
    assert_same(got, batch)


def test_stream_scd2_dimension_history_and_idempotence(spark, chunks, tmp_path):
    """Beyond the oracle's current-slice check: one current row per key,
    interval chains link (closed.valid_to == successor.valid_from),
    adjacent versions differ in attributes, and replaying the whole stream
    into the existing dimension (fresh checkpoint) is a no-op."""
    base = str(tmp_path / "scd2")
    stream = STR.read_event_stream(spark, chunks)
    STR.stream_scd2_to_path(
        spark, stream, f"{base}/dim", ["user_id"], ["event_type", "value"],
        "ts", "event_id", f"{base}/ckpt1",
    )
    dim = spark.read.parquet(f"{base}/dim").collect()
    by_key = {}
    for r in dim:
        by_key.setdefault(r.user_id, []).append(r)
    for uid, rows in by_key.items():
        cur = [r for r in rows if r.is_current]
        assert len(cur) == 1, (uid, rows)
        assert cur[0].valid_to is None
        chain = sorted(rows, key=lambda r: r.valid_from)
        for a, b in zip(chain, chain[1:]):
            assert a.valid_to == b.valid_from, (uid, a, b)
            assert (a.event_type, a.value) != (b.event_type, b.value)
    # idempotent under full replay (fresh checkpoint, same target)
    stream2 = STR.read_event_stream(spark, chunks)
    STR.stream_scd2_to_path(
        spark, stream2, f"{base}/dim", ["user_id"], ["event_type", "value"],
        "ts", "event_id", f"{base}/ckpt2",
    )
    again = spark.read.parquet(f"{base}/dim").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, dim))


def test_stream_cdc_apply_converges(spark, tmp_path):
    """CDC snapshot maintenance as a STREAM: lineitem chunks replayed
    through a file source, each micro-batch compacted (etl.cdc_compact)
    and merged into a parquet state (greatest-maxk + summed counts —
    commutative/associative, so chunking and arrival order don't matter),
    must converge to the one-shot batch snapshot (etl_cdc_apply)."""
    from postpy_spark import etl
    from postpy_spark.registry import load_all

    li = load_table(spark, SF_SMOKE, "lineitem")
    src = str(tmp_path / "li_chunks")
    for i in range(3):
        li.filter(F.col("l_orderkey") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/chunk_{i}")
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/chunk_*")
    )
    state_path = str(tmp_path / "cdc_state")

    def merge_batch(batch, batch_id):
        compacted = etl.cdc_compact(
            etl.cdc_pack(batch, key="l_orderkey", seq="l_linenumber", qty="l_quantity")
        )
        etl.merge_into_path(
            batch.sparkSession,
            state_path,
            lambda existing: etl.cdc_merge_states(existing, compacted),
        )

    STR.run_available_now(
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    got = etl.cdc_snapshot(spark.read.parquet(state_path))
    batch = load_all()["etl_cdc_apply"].fn(spark, SF_SMOKE)
    assert_same(got, batch)


def test_approx_dedup_bounded_state_stream_vs_batch(spark, chunks):
    """Bloom-state dedup: the streaming path (BINARY state across
    micro-batches) and the batch twin must emit the same KEY set (the
    chunk replay visits keys in a different row order, so event_ids may
    differ for duplicated keys — key-level semantics are the contract);
    no key is ever emitted twice; suppressed first-sightings (false
    positives) stay under 1% of the exact key count."""
    stream = STR.read_event_stream(spark, chunks)
    got = STR.run_stream_to_memory(
        STR.approx_dedup_stream(stream), "t_approx_dedup", output_mode="update"
    )
    assert got.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0
    batch = STR.approx_dedup_batch(load_table(spark, SF_SMOKE, "events"))
    assert (
        batch.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0
    )
    stream_keys = {(r.user_id, r.event_type) for r in got.collect()}
    batch_keys = {(r.user_id, r.event_type) for r in batch.collect()}
    exact = {
        (r.user_id, r.event_type)
        for r in load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert stream_keys == batch_keys  # same bloom core, same key decisions
    assert stream_keys <= exact
    assert len(exact) - len(stream_keys) <= max(1, len(exact) // 100)


def test_stream_ivm_exactly_once_under_batch_replay(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the MV swap but before
    checkpoint commit replays the batch.  The IVM merger must skip a batch
    id it has already folded (the _last_batch marker rides the same atomic
    swap as the data), or counts double."""
    target = str(tmp_path / "mv")
    merger = STR.make_ivm_batch_merger(
        target,
        keys=["event_type"],
        count_col="n_events",
        sum_cols={
            "sum_cents": F.sum(
                F.round(F.col("value") * 100).cast("bigint")
            ).cast("bigint")
        },
    )
    ev = load_table(spark, SF_SMOKE, "events")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    merger(b0, 0)
    merger(b1, 1)
    once = sorted(map(tuple, spark.read.parquet(target).drop("_last_batch").collect()))
    merger(b1, 1)  # replay: must be a no-op
    replayed = sorted(map(tuple, spark.read.parquet(target).drop("_last_batch").collect()))
    assert once == replayed
    # and the final state equals the scratch aggregate
    expect = sorted(
        map(
            tuple,
            ev.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .collect(),
        )
    )
    assert once == expect


def test_stream_ivm_converges_to_batch(spark):
    """The full writeStream path (chunked replay, availableNow) must land
    on the scratch aggregate — the streaming twin of agg_ivm_update."""
    from postpy_spark.registry import load_all

    reg = load_all()
    got = reg["stream_ivm_update"].fn(spark, SF_SMOKE)
    expect = load_table(spark, SF_SMOKE, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )
    assert_same(got, expect)


def test_stream_approx_planted_zero_fp(spark):
    """stream_approx_planted's exactness claim, pinned structurally: on
    the fixed planted key population (user_id % 40 == 0, user_id <=
    1499) the bloom path emits EXACTLY one row per distinct (user_id,
    event_type) — zero false-positive suppressions and zero duplicate
    emissions — and the emitted event_id is the true (ts, event_id)-first
    sighting.  Deterministic: bit positions are a fixed function of the
    fixed key set."""
    e = load_table(spark, SF_SMOKE, "events").filter(
        (F.col("user_id") % 40 == 0) & (F.col("user_id") <= 1499)
    )
    got = STR.approx_dedup_batch(e)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    expect = (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_type", "event_id")
    )
    assert_same(got, expect)
