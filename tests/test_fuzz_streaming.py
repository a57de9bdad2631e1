"""Streaming batch-equivalence fuzz (r13 verdict item 5): random windowed
streaming specs driven through REAL Structured Streaming runs (file-source
chunk replay, availableNow, maxFilesPerTrigger=1) and compared exactly
against independent oracles.

Four seeded-stable families (derandomize=True — every run executes the same
cases, a failure reproduces by plain re-run):

- TUMBLING and SLIDING window aggregation (complete mode, huge watermark):
  vs a DuckDB integer-epoch-minute oracle — window_start = abs_min // w * w
  (and the multi-window expansion for sliding) — so Spark's epoch
  alignment, boundary assignment ([start, end) half-open) and count/sum
  values are checked cross-engine, including widths that do NOT divide the
  base timestamp's epoch offset.
- SESSION windows (complete mode): vs a pure-python gap-merge reference
  implementing the pinned boundary rule (an event at exactly prev+gap
  MERGES; the break is strict >) — the class the r-early session landmine
  lived in.  Generators plant exact-boundary gaps deliberately.
- TUMBLING + WATERMARK in APPEND mode with late data: vs a pure-python
  simulation of the micro-batch watermark protocol, pinned empirically on
  this Spark (4.1.2) before writing the family (two probe scripts, results
  reproduced below):
    * the watermark visible to batch N is max(event time over batches
      0..N-2) - delay — it LAGS one extra batch behind the common
      "previous batch" description (probe: a row two batches after the
      max that implied its window was closed still landed);
    * a window is CLOSED when window.end <= wm (equality closes — probe:
      end == wm dropped its late row); late rows to closed windows are
      dropped, rows to open windows are aggregated even when their own
      event time is behind the watermark (probe: ts < wm, end > wm kept);
    * availableNow terminates by advancing the watermark to global
      max - delay (empty batches until stable), append-emitting every
      closed window; still-open windows are NOT emitted.
"""

from __future__ import annotations

import itertools
import os
import shutil
from datetime import datetime, timedelta, timezone

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from postpy_spark import streaming as STR
from postpy_spark.testing import compare_spark_duckdb

# max_examples 10 → 6 (r15): driver pytest time budget (VERIFY_r14
# tests_ok=false); derandomized, and the watermark-semantics pins these
# exist for live in the FIRST shrunk examples.
CFG = settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

BASE = datetime(2024, 1, 1, tzinfo=timezone.utc)  # session tz is UTC
BASE_MIN = int(BASE.timestamp()) // 60
_qn = itertools.count()
#: tmpfs scratch (pid-keyed — the r12 concurrent-rmtree landmine): 40 real
#: streaming runs must stay cheap, and the measured costs were the chunk
#: parquet writes (~5 s per Spark write job vs 0.01 s via pyarrow) and
#: disk-backed checkpoints (~3x slower than tmpfs) — with both fixes a
#: case is ~2 s and the whole module fits the default suite.
_BASE_DIR = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
_ROOT = f"{_BASE_DIR}/postpy_spark_fuzz_stream_{os.getpid()}"

_ARROW_SCHEMA = pa.schema(
    [
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int32()),
        ("event_type", pa.string()),
        ("value", pa.int64()),
    ]
)


@pytest.fixture(scope="module", autouse=True)
def _fuzz_stream_env(spark):
    """2 shuffle/state partitions for the module (the 32-partition default
    triples per-micro-batch cost on 50-row frames) + scratch cleanup."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        shutil.rmtree(_ROOT, ignore_errors=True)


def _write_chunk(path: str, rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                [BASE + timedelta(minutes=o) for (o, _u, _e, _v) in rows],
                utc=True,
            ),
            "user_id": pd.array([u for (_o, u, _e, _v) in rows], dtype="int32"),
            "event_type": [e for (_o, _u, e, _v) in rows],
            "value": pd.array([v for (_o, _u, _e, v) in rows], dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, schema=_ARROW_SCHEMA), path)


def _replay(spark, chunks, build, output_mode):
    """Write chunk i (list of (off_min, user, etype, value)) as one parquet
    file, stream with maxFilesPerTrigger=1 + availableNow, return final
    memory-sink table."""
    n = next(_qn)
    root = f"{_ROOT}/case_{n}"
    shutil.rmtree(root, ignore_errors=True)
    for i, rows in enumerate(chunks):
        _write_chunk(f"{root}/chunk_{i}/part-0.parquet", rows)
    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id int, event_type string, value bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/chunk_*")
    )
    name = f"fz_stream_{n}"
    STR.run_available_now(
        build(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", f"{root}/ckpt")
    )
    out = spark.sql(f"SELECT * FROM {name}")
    return out


def _win_start_min(col):
    return (F.col(col).cast("long") / 60).cast("bigint")


@st.composite
def event_spec(draw):
    """(chunks, span): 3-4 arrival-ordered chunks of events on an integer
    minute lattice, with explicit boundary hits and late stragglers in the
    tail chunks."""
    span = draw(st.integers(60, 360))
    n = draw(st.integers(40, 90))
    n_chunks = draw(st.integers(3, 4))
    offs = draw(
        st.lists(st.integers(0, span), min_size=n, max_size=n, unique=False)
    )
    rows = []
    for i, o in enumerate(offs):
        rows.append(
            (
                o,
                draw(st.integers(1, 4)),
                draw(st.sampled_from(["a", "b", "c"])),
                draw(st.integers(-5, 20)),
            )
        )
    rows.sort(key=lambda r: r[0])
    # chunks by arrival: mostly time-ordered, but each later chunk also
    # carries a few LATE events sampled from early offsets
    per = max(1, len(rows) // n_chunks)
    chunks = [rows[i * per : (i + 1) * per] for i in range(n_chunks - 1)]
    chunks.append(rows[(n_chunks - 1) * per :])
    chunks = [c for c in chunks if c]
    late_pool = rows[: max(2, len(rows) // 5)]
    for ci in range(1, len(chunks)):
        k = draw(st.integers(0, 3))
        for j in range(k):
            chunks[ci].append(late_pool[(ci * 7 + j) % len(late_pool)])
    return chunks


def _pdf(chunks):
    flat = [r for c in chunks for r in c]
    return pd.DataFrame(
        flat, columns=["off", "user_id", "event_type", "value"]
    )


@given(spec=event_spec(), width=st.sampled_from([4, 5, 7, 10, 15, 30, 60]))
@CFG
def test_fuzz_streaming_tumbling(spark, spec, width):
    got = _replay(
        spark,
        spec,
        lambda s: (
            s.withWatermark("ts", "30 days")
            .groupBy(F.window("ts", f"{width} minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").cast("bigint").alias("sum_value"),
            )
            .select(
                _win_start_min("w.start").alias("win_min"),
                "event_type",
                "n",
                "sum_value",
            )
        ),
        "complete",
    )
    con = duckdb.connect()
    con.register("ev", _pdf(spec))
    sql = f"""
    SELECT CAST(({BASE_MIN} + off) // {width} * {width} AS BIGINT) AS win_min,
           event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(value) AS BIGINT) AS sum_value
    FROM ev GROUP BY 1, 2
    """
    problems = compare_spark_duckdb(got, con, sql)
    assert not problems, f"{problems}\nwidth={width}"


@given(
    spec=event_spec(),
    dims=st.sampled_from([(10, 5), (15, 5), (30, 10), (12, 4), (14, 7), (9, 3)]),
)
@CFG
def test_fuzz_streaming_sliding(spark, spec, dims):
    width, slide = dims
    got = _replay(
        spark,
        spec,
        lambda s: (
            s.withWatermark("ts", "30 days")
            .groupBy(
                F.window(
                    "ts", f"{width} minutes", f"{slide} minutes"
                ).alias("w")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(_win_start_min("w.start").alias("win_min"), "n")
        ),
        "complete",
    )
    con = duckdb.connect()
    con.register("ev", _pdf(spec))
    # a row at abs minute m belongs to every window start s (multiple of
    # slide) with m - width < s <= m
    sql = f"""
    WITH x AS (
        SELECT unnest(range(
                   (({BASE_MIN} + off - {width}) // {slide} + 1) * {slide},
                   (({BASE_MIN} + off) // {slide}) * {slide} + 1,
                   {slide})) AS win_min
        FROM ev
    )
    SELECT CAST(win_min AS BIGINT) AS win_min, CAST(COUNT(*) AS BIGINT) AS n
    FROM x GROUP BY 1
    """
    problems = compare_spark_duckdb(got, con, sql)
    assert not problems, f"{problems}\nwidth={width} slide={slide}"


@st.composite
def session_spec(draw):
    """Per-user event offsets engineered to hit exact-gap boundaries: bursts
    whose inner spacing is drawn from {1, gap-1, gap, gap+1}."""
    gap = draw(st.integers(3, 20))
    chunks = [[], [], []]
    for u in range(1, draw(st.integers(2, 5)) + 1):
        t = draw(st.integers(0, 30))
        n = draw(st.integers(5, 25))
        for _ in range(n):
            step = draw(st.sampled_from([1, 2, gap - 1, gap, gap, gap + 1]))
            t += max(1, step)
            chunks[draw(st.integers(0, 2))].append(
                (t, u, "s", draw(st.integers(0, 9)))
            )
    chunks = [c for c in chunks if c]
    return chunks, gap


def _ref_sessions(chunks, gap):
    """Gap-merge reference: merge while ts <= last + gap (equality merges,
    break strictly greater); end = last + gap."""
    by_user: dict = {}
    for c in chunks:
        for (o, u, _e, v) in c:
            by_user.setdefault(u, []).append((o, v))
    out = []
    for u, evs in by_user.items():
        evs.sort()
        start, last, n, sv = None, None, 0, 0
        for o, v in evs:
            if start is None:
                start, last, n, sv = o, o, 1, v
            elif o <= last + gap:
                last, n, sv = o, n + 1, sv + v
            else:
                out.append((u, start, last + gap, n, sv))
                start, last, n, sv = o, o, 1, v
        if start is not None:
            out.append((u, start, last + gap, n, sv))
    return sorted(out)


@given(spec=session_spec())
@CFG
def test_fuzz_streaming_session(spark, spec):
    chunks, gap = spec
    got = _replay(
        spark,
        chunks,
        lambda s: (
            s.withWatermark("ts", "30 days")
            .groupBy(
                F.session_window("ts", f"{gap} minutes").alias("w"), "user_id"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").cast("bigint").alias("sv"),
            )
            .select(
                "user_id",
                (_win_start_min("w.start") - BASE_MIN).alias("s_min"),
                (_win_start_min("w.end") - BASE_MIN).alias("e_min"),
                "n",
                "sv",
            )
        ),
        "complete",
    )
    want = _ref_sessions(chunks, gap)
    have = sorted(
        (r.user_id, r.s_min, r.e_min, r.n, r.sv) for r in got.collect()
    )
    assert have == want, f"gap={gap}\nhave={have[:6]}\nwant={want[:6]}"


@st.composite
def watermark_spec(draw):
    """Tumbling + watermark + late data with chunk-controlled arrival: 4
    chunks, late stragglers whose windows may or may not be closed by the
    (lagged) per-batch watermark."""
    width = draw(st.sampled_from([5, 10, 15]))
    delay = draw(st.integers(2, 25))
    n_chunks = 4
    chunks = []
    t = 0
    for _ in range(n_chunks):
        c = []
        for _ in range(draw(st.integers(4, 10))):
            t += draw(st.integers(0, 8))
            c.append((t, 1, "w", 1))
        chunks.append(c)
    # inject stragglers into chunks 2..3 at offsets near and far behind
    for ci in (2, 3):
        for _ in range(draw(st.integers(1, 4))):
            o = draw(st.integers(0, max(1, t - 1)))
            chunks[ci].append((o, 1, "w", 1))
    return chunks, width, delay


def _sim_watermark_tumbling(chunks, width, delay):
    """The empirically pinned protocol (module docstring): batch N's
    watermark = max event time through batch N-2 minus delay; drop rows
    whose window end (abs minutes) <= that watermark; final emission =
    windows with end <= global max - delay."""
    neg = float("-inf")
    prefix_max = []
    m = neg
    for c in chunks:
        m = max(m, max(o for (o, *_rest) in c))
        prefix_max.append(m)
    kept: dict = {}
    for i, c in enumerate(chunks):
        wm = prefix_max[i - 2] - delay if i >= 2 else neg
        for (o, _u, _e, _v) in c:
            am = BASE_MIN + o
            w_start = am // width * width
            w_end = w_start + width
            if w_end <= BASE_MIN + wm:
                continue
            kept[w_start] = kept.get(w_start, 0) + 1
    final_wm = BASE_MIN + prefix_max[-1] - delay
    return sorted(
        (ws, n) for ws, n in kept.items() if ws + width <= final_wm
    )


@given(spec=watermark_spec())
@CFG
def test_fuzz_streaming_watermark_append(spark, spec):
    chunks, width, delay = spec
    got = _replay(
        spark,
        chunks,
        lambda s: (
            s.withWatermark("ts", f"{delay} minutes")
            .groupBy(F.window("ts", f"{width} minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(_win_start_min("w.start").alias("win_min"), "n")
        ),
        "append",
    )
    want = _sim_watermark_tumbling(chunks, width, delay)
    have = sorted((r.win_min, r.n) for r in got.collect())
    assert have == want, (
        f"width={width} delay={delay}\nhave={have}\nwant={want}\nchunks={chunks}"
    )
