"""Micro-fixture edge cases (FIXTURES.md): null join keys, fan-out,
empty inputs, window boundaries, session gap boundaries, null ordering."""

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from postpy_spark import streaming as STR
from postpy_spark.io import load_table
from tests.conftest import SF_SMOKE
from postpy_spark.testing import record_margin


def ts(s):
    return datetime.datetime.fromisoformat(s)


def test_inner_join_drops_null_keys_eqnullsafe_keeps(spark):
    a = spark.createDataFrame([Row(k=None, v="an"), Row(k=1, v="a1")])
    b = spark.createDataFrame([Row(k=None, w="bn"), Row(k=1, w="b1")])
    plain = a.join(b, a.k == b.k).collect()
    assert len(plain) == 1 and plain[0].v == "a1"
    nullsafe = a.join(b, a.k.eqNullSafe(b.k)).collect()
    assert len(nullsafe) == 2


def test_duplicate_key_fanout(spark):
    a = spark.createDataFrame([Row(k=1)] * 3)
    b = spark.createDataFrame([Row(k=1)] * 4)
    assert a.join(b, "k").count() == 12


def test_left_anti_vs_not_in_with_nulls(spark):
    """left_anti keeps rows whose key misses; NOT IN over a subquery that
    yields a NULL returns nothing — the null-aware trap."""
    a = spark.createDataFrame([Row(k=1), Row(k=2)])
    b = spark.createDataFrame([Row(k=None), Row(k=1)])
    assert a.join(b, "k", "left_anti").count() == 1
    a.createOrReplaceTempView("edge_a")
    b.createOrReplaceTempView("edge_b")
    assert (
        spark.sql("SELECT * FROM edge_a WHERE k NOT IN (SELECT k FROM edge_b)").count()
        == 0
    )


def test_empty_input_aggregate(spark):
    df = spark.createDataFrame([Row(k=1, v=1.0)]).filter("k < 0")
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.max("v").alias("m")
    ).first()
    assert row.n == 0 and row.s is None and row.m is None
    assert df.groupBy("k").count().count() == 0


def test_window_on_empty_frame(spark):
    from pyspark.sql import Window

    df = spark.createDataFrame([Row(k=1, v=1.0)]).filter("k < 0")
    w = Window.partitionBy("k").orderBy("v")
    assert df.select(F.row_number().over(w)).count() == 0


def test_tumbling_window_boundary_event(spark):
    """An event exactly on the hour belongs to the window STARTING there
    ([start, end) semantics)."""
    df = spark.createDataFrame(
        [
            Row(ts=ts("2024-01-01T01:00:00"), event_type="x", value=1.0),
            Row(ts=ts("2024-01-01T00:59:59.999999"), event_type="x", value=1.0),
        ]
    )
    out = {r.window_start: r.n for r in STR.tumbling_counts(df).collect()}
    assert out[ts("2024-01-01T01:00:00")] == 1
    assert out[ts("2024-01-01T00:00:00")] == 1


def test_session_gap_boundary_merges_at_exact_gap(spark):
    """Probed semantics: an event at exactly prev+gap MERGES into the
    session; only a strictly larger gap starts a new one.  The batch
    oracle and the pandas sessionizer encode the same `>` break."""
    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=ts("2024-01-01T00:00:00"), value=0.0, event_id=1),
            Row(user_id=1, ts=ts("2024-01-01T00:30:00"), value=0.0, event_id=2),  # == gap: merge
            Row(user_id=1, ts=ts("2024-01-01T01:00:00.000001"), value=0.0, event_id=3),  # > gap: split
        ]
    )
    sessions = STR.session_aggregate(df).collect()
    assert len(sessions) == 2
    n_by_start = {r.session_start: r.n_events for r in sessions}
    assert n_by_start[ts("2024-01-01T00:00:00")] == 2
    assert n_by_start[ts("2024-01-01T01:00:00.000001")] == 1
    # the pandas sessionizer must agree
    summary = STR.sessionize_batch(df).collect()[0]
    assert summary.n_sessions == 2 and summary.max_session_events == 2


def test_order_by_nulls_first_last(spark):
    df = spark.createDataFrame([Row(v=1.0), Row(v=None), Row(v=2.0)])
    first = [r.v for r in df.orderBy(F.col("v").asc_nulls_first()).collect()]
    last = [r.v for r in df.orderBy(F.col("v").asc_nulls_last()).collect()]
    assert first == [None, 1.0, 2.0]
    assert last == [1.0, 2.0, None]


def test_intersect_except_multiset_semantics(spark):
    a = spark.createDataFrame([Row(v=1)] * 3 + [Row(v=2)])
    b = spark.createDataFrame([Row(v=1)] * 2)
    assert a.intersect(b).count() == 1  # set semantics
    assert a.intersectAll(b).count() == 2  # bag semantics
    assert a.exceptAll(b).count() == 2  # 3-2 ones + one 2
    assert a.subtract(b).count() == 1  # set: only the 2


def test_regex_metachar_literals(spark):
    """LIKE and regexp handle metacharacter-laden strings without injection."""
    df = spark.createDataFrame([Row(s="a.b*c[d]"), Row(s="plain")])
    assert df.filter(F.col("s").like("%.b*c[d]%")).count() == 1
    assert df.filter(F.col("s").rlike(r"a\.b\*c\[d\]")).count() == 1


def test_sample_stratified_rates(spark):
    """Per-stratum sample rates must land near the requested fractions and
    be reproducible under the fixed seed."""
    from postpy_spark.registry import load_all

    q = load_all()["sample_stratified"].fn
    a = q(spark, SF_SMOKE).groupBy("c_mktsegment").count().collect()
    b = q(spark, SF_SMOKE).groupBy("c_mktsegment").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # seeded determinism
    base = {
        r.c_mktsegment: r["count"]
        for r in load_table(spark, SF_SMOKE, "customer")
        .groupBy("c_mktsegment").count().collect()
    }
    want = {"AUTOMOBILE": 0.5, "BUILDING": 0.3, "FURNITURE": 0.2,
            "HOUSEHOLD": 0.1, "MACHINERY": 0.05}
    for r in a:
        seg, got = r.c_mktsegment, r["count"] / base[r.c_mktsegment]
        assert abs(got - want[seg]) < 0.12, (seg, got, want[seg])


def test_hll_mergeable_within_tolerance(spark):
    """Per-segment and merged-global HLL estimates within ±5% of exact."""
    from postpy_spark.registry import load_all

    got = {
        r.c_mktsegment: r.approx_dist
        for r in load_all()["agg_hll_mergeable"].fn(spark, SF_SMOKE).collect()
    }
    c = load_table(spark, SF_SMOKE, "customer")
    exact = {
        r.c_mktsegment: r.n
        for r in c.groupBy("c_mktsegment")
        .agg(F.count_distinct("c_custkey").alias("n"))
        .collect()
    }
    exact["__ALL__"] = c.select("c_custkey").distinct().count()
    worst = max(abs(got[seg] - ex) / ex for seg, ex in exact.items())
    record_margin("agg_hll_mergeable", "worst_segment_rel_err_vs_exact", worst, 0.05, "<=")
    for seg, ex in exact.items():
        assert abs(got[seg] - ex) / ex <= 0.05, (seg, got[seg], ex)


def test_approx_topk_exact_on_coarse_domain(spark):
    """5-value domain ≪ sketch capacity → approx_top_k must be exact."""
    from postpy_spark.registry import load_all

    got = {
        (r.item, r.cnt)
        for r in load_all()["agg_approx_topk"].fn(spark, SF_SMOKE).collect()
    }
    o = load_table(spark, SF_SMOKE, "orders")
    exact = {
        (r.o_orderpriority, r.n)
        for r in o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "o_orderpriority")
        .limit(3)
        .collect()
    }
    assert got == exact


def test_window_funnel_greedy_anchor_edges(spark, tmp_path):
    """Handcrafted funnel edge cases: tie at the anchor, step outside the
    1-day window, purchase BEFORE click (order matters), full-depth user,
    and a user with no view at all (depth 0)."""
    import datetime as dt

    from postpy_spark.registry import load_all

    T0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, secs, typ):
        return (eid, T0 + dt.timedelta(seconds=secs), uid, typ, 1.0, "{}")

    rows = [
        # u1: full funnel inside window → depth 3
        ev(1, 1, 0, "view"), ev(2, 1, 10, "click"), ev(3, 1, 20, "purchase"),
        # u2: click lands 1s past the 1-day window → depth 1
        ev(4, 2, 0, "view"), ev(5, 2, 86401, "click"),
        # u3: purchase precedes click → only depth 2 (order is strict)
        ev(6, 3, 0, "view"), ev(7, 3, 5, "purchase"), ev(8, 3, 10, "click"),
        # u4: no view at all → depth 0
        ev(9, 4, 0, "click"), ev(10, 4, 5, "purchase"),
        # u5: click at EXACTLY the anchor ts is not after it → depth 1;
        # a later click qualifies, then purchase at window edge (≤) → 3
        ev(11, 5, 0, "click"), ev(12, 5, 0, "view"),
        ev(13, 5, 50, "click"), ev(14, 5, 86400, "purchase"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r.depth: r.n_users
        for r in load_all()["events_window_funnel"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got == {3: 2, 1: 1, 2: 1, 0: 1}


def test_ts_ewma_matches_python_fold(spark):
    """ts_ewma ≡ an independent per-user Python fold over the truncated
    frame — validates the collect_list-over-window FRAME ORDER assumption
    (Spark must deliver the 20-row frame in (ts, event_id) order) against
    a reference that never touches Spark windows."""
    from postpy_spark.queries.composite import ts_ewma_q

    got = {r.event_id: (r.n, r.ewma) for r in ts_ewma_q(spark, SF_SMOKE).collect()}
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    pdf = ev.toPandas().sort_values(["user_id", "ts", "event_id"])
    checked = 0
    for _, g in pdf.groupby("user_id"):
        vals = g["value"].tolist()
        ids = g["event_id"].tolist()
        for i in range(len(vals)):
            window = vals[max(0, i - 19) : i + 1]
            num = 0.0
            for x in window:
                num = num * 0.7 + x
            den = (1 - 0.7 ** len(window)) / 0.3
            n, ewma = got[ids[i]]
            assert n == len(window)
            assert abs(ewma - num / den) < 1e-6, (ids[i], ewma, num / den)
            checked += 1
    assert checked == len(got) > 0


def test_ts_interpolate_linear_edges(spark, tmp_path):
    """Handcrafted series: interior gap is the straight line between
    neighbours; leading/trailing gaps clamp to the nearest single
    neighbour; observed hours pass through untouched."""
    rows = []
    base = 1704067200 * 1000 * 1000  # 2024-01-01 00:00 in micros

    def ev(eid, hour, value):
        import datetime

        return (
            eid,
            datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=hour),
            7,
            "view",
            float(value),
            "{}",
        )

    # observed at h0 (10.0), h3 (40.0) → h1 = 20.0, h2 = 30.0 exactly
    rows = [ev(1, 0, 10.0), ev(2, 3, 40.0)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from postpy_spark.registry import load_all

    out = {
        r.h.hour: (r.v_interp, r.observed)
        for r in load_all()["ts_interpolate_linear"].fn(spark, str(tmp_path)).collect()
    }
    assert out == {
        0: (10.0, True),
        1: (20.0, False),
        2: (30.0, False),
        3: (40.0, True),
    }


def test_ts_interpolate_linear_null_hours_match_oracle(spark, tmp_path):
    """An hour whose SUM(value) is NULL is a gap, not an anchor: a NULL
    middle hour is interpolated, a NULL first/last hour clamps to its one
    observed neighbour, and a user with no non-NULL hour gets NULL
    everywhere.  The query must equal its DuckDB oracle on such a file."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from postpy_spark.registry import load_all
    from postpy_spark.testing import canon_rows

    t0 = datetime.datetime(2024, 1, 1)
    series = [
        # user 1: NULL first hour, NULL middle hour, NULL last hour, and
        # an hour where a NULL sits next to a real value
        (1, 0, None), (1, 1, 10.0), (1, 3, None), (1, 5, 31.0), (1, 5, None),
        (1, 7, None),
        # user 2: no non-NULL hour at all
        (2, 0, None), (2, 2, None),
        # user 3: no NULLs
        (3, 0, 1.0), (3, 3, 2.0),
    ]
    table = pa.table(
        {
            "event_id": pa.array(range(len(series)), pa.int64()),
            "ts": pa.array(
                [t0 + datetime.timedelta(hours=h) for _, h, _ in series],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _ in series], pa.int64()),
            "event_type": pa.array(["view"] * len(series)),
            "value": pa.array([v for _, _, v in series], pa.float64()),
            "props": pa.array(["{}"] * len(series)),
        }
    )
    path = tmp_path / "events.parquet"
    pq.write_table(table, path)

    rq = load_all()["ts_interpolate_linear"]
    got = rq.fn(spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(rq.oracle)
    want_cols = [d[0] for d in want.description]
    assert canon_rows(got.columns, got.collect()) == canon_rows(
        want_cols, want.fetchall()
    )


def test_cms_contract_and_mergeability(spark):
    """Count-min sketch contract: estimates NEVER undercount, overshoot is
    bounded by colliding mass; and shard sketches merged by counter
    addition equal the full-stream sketch EXACTLY (the mergeable-summary
    property that makes CMS the 100 TB path)."""
    from postpy_spark.operators import sketch as SK

    e = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.user_id: r.c
        for r in e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n_total = sum(exact.values())
    cms = SK.cms_build(e, "user_id", depth=4, width=256)
    est = {
        r.key: r.est
        for r in SK.cms_estimate(
            cms, e.select("user_id").distinct(), "user_id", depth=4, width=256
        ).collect()
    }
    assert set(est) == set(exact)
    overshoot_cap = 4 * 2.72 * n_total / 256
    worst_over = max(est[uid] - c for uid, c in exact.items())
    record_margin("agg_cms_estimate", "worst_overshoot_vs_4x_collision_bound", worst_over, overshoot_cap, "<=")
    for uid, c in exact.items():
        assert est[uid] >= c, (uid, est[uid], c)
        # ~e/width expected colliding mass; 4x slack keeps this deterministic-data test robust
        assert est[uid] <= c + overshoot_cap, (uid, est[uid], c)
    # mergeability: hash-split shards sum to the full sketch, counter for counter
    s1 = SK.cms_build(e.filter(F.col("event_id") % 2 == 0), "user_id")
    s2 = SK.cms_build(e.filter(F.col("event_id") % 2 == 1), "user_id")
    merged = {(r.j, r.bucket): r.cnt for r in SK.cms_merge(s1, s2).collect()}
    full = {(r.j, r.bucket): r.cnt for r in cms.collect()}
    assert merged == full


def test_kmv_accuracy_and_mergeability(spark):
    """KMV sketch: exact below k, within the ±3σ relative-error band of
    (k-1)/u_(k) when full, and merge(s_half1, s_half2) == sketch(full)
    EXACTLY (same hash family → same k smallest unit hashes)."""
    from postpy_spark.operators import sketch as SK

    e = load_table(spark, SF_SMOKE, "events")
    exact = e.select("user_id").distinct().count()
    k_small = 1 << 14  # >> distinct users: sketch holds everything → exact
    est_exact = SK.kmv_estimate(SK.kmv_build(e, "user_id", k=k_small), k=k_small).collect()[0]
    assert est_exact.est == exact == est_exact.n_hashes
    # accuracy branch needs a domain >> k: event_id is unique per row
    k = 64
    exact_ids = e.select("event_id").distinct().count()
    est = SK.kmv_estimate(SK.kmv_build(e, "event_id", k=k), k=k).collect()[0]
    assert est.n_hashes == k
    rel = abs(est.est - exact_ids) / exact_ids
    record_margin("agg_kmv_distinct", "rel_err_vs_3sigma_band", rel, 3 / (k - 1) ** 0.5, "<=")
    assert rel < 3 / (k - 1) ** 0.5, (est.est, exact_ids, rel)
    s1 = SK.kmv_build(e.filter(F.col("event_id") % 2 == 0), "event_id", k=k)
    s2 = SK.kmv_build(e.filter(F.col("event_id") % 2 == 1), "event_id", k=k)
    merged = sorted(r.u for r in SK.kmv_merge(s1, s2, k=k).collect())
    full = sorted(r.u for r in SK.kmv_build(e, "event_id", k=k).collect())
    assert merged == full


def test_bloom_prune_no_false_negatives_and_bounded_fp(spark):
    """Bloom pruning: every true member survives (no false negatives —
    the correctness contract), and at the default m=2^16/k=5 with ~3k
    build keys the false-positive overhead stays under 1% of the probe
    side (the scale contract: shuffled volume ∝ match rate)."""
    from postpy_spark.operators import bloom as B

    c = load_table(spark, SF_SMOKE, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, SF_SMOKE, "orders")
    bl = B.bloom_build(c, "c_custkey")
    cand = B.bloom_prune(o, "o_custkey", bl)
    exact = o.join(
        c.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "left_semi"
    )
    n_probe, n_cand, n_exact = o.count(), cand.count(), exact.count()
    assert n_cand >= n_exact  # no false negatives
    assert n_cand - n_exact <= max(1, n_probe // 100)  # fp budget
    # tiny filter: fewer distinct keys than words → still exact behavior
    tiny = c.limit(3)
    bl3 = B.bloom_build(tiny, "c_custkey")
    cand3 = B.bloom_prune(o, "o_custkey", bl3)
    exact3 = o.join(
        tiny.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "left_semi"
    ).count()
    assert cand3.count() >= exact3 > 0


def test_stat_formulas_match_numpy_reference(spark):
    """chi2 / Welch-t wiring vs an independent numpy computation on the
    same sf0.001 slice (catches marginal/join mistakes, not just
    cross-engine parity)."""
    import numpy as np
    from postpy_spark.queries.composite import (
        stat_crosstab_chi2_q,
        stat_ttest_welch_q,
    )

    got = stat_crosstab_chi2_q(spark, SF_SMOKE).collect()[0]
    e = load_table(spark, SF_SMOKE, "events").select(
        "event_type", (F.dayofweek("ts") - 1).alias("dow"), "value"
    )
    rows = e.collect()
    types = sorted({r.event_type for r in rows})
    days = sorted({r.dow for r in rows})
    obs = np.zeros((len(types), len(days)))
    for r in rows:
        obs[types.index(r.event_type), days.index(r.dow)] += 1
    exp = obs.sum(1, keepdims=True) * obs.sum(0, keepdims=True) / obs.sum()
    assert abs(got.chi2 - ((obs - exp) ** 2 / exp).sum()) < 1e-3
    assert got.dof == (len(types) - 1) * (len(days) - 1)
    assert got.n == len(rows)

    t = stat_ttest_welch_q(spark, SF_SMOKE).collect()[0]
    x = np.array([r.value for r in rows if r.event_type == "purchase"])
    y = np.array([r.value for r in rows if r.event_type == "click"])
    se = x.var(ddof=1) / len(x) + y.var(ddof=1) / len(y)
    t_ref = (x.mean() - y.mean()) / np.sqrt(se)
    df_ref = se**2 / (
        (x.var(ddof=1) / len(x)) ** 2 / (len(x) - 1)
        + (y.var(ddof=1) / len(y)) ** 2 / (len(y) - 1)
    )
    assert abs(t.t_stat - t_ref) < 1e-3 and abs(t.df_welch - df_ref) < 0.05
    assert (t.n1, t.n2) == (len(x), len(y))


def test_kmv_set_estimates_accuracy(spark):
    """Theta-style KMV union/intersection: overlapping halves of a
    unique-id domain — union exact-known, intersection exact-known;
    estimates must land within the ±3σ k-min band (k=256)."""
    from postpy_spark.operators import sketch as SK

    e = load_table(spark, SF_SMOKE, "events")
    n = e.select("event_id").distinct().count()
    k = 256
    a_src = e.filter(F.col("event_id") < 0.7 * n)          # [0, .7n)
    b_src = e.filter(F.col("event_id") >= 0.4 * n)         # [.4n, n)
    a = SK.kmv_build(a_src, "event_id", k=k)
    b = SK.kmv_build(b_src, "event_id", k=k)
    got = SK.kmv_set_estimates(a, b, k=k).collect()[0]
    union_true = n
    inter_true = a_src.join(b_src, "event_id", "left_semi").select(
        "event_id"
    ).distinct().count()
    tol = 3 / (k - 1) ** 0.5
    record_margin("agg_kmv_setops", "union_rel_err_vs_3sigma_band",
                  abs(got.union_est - union_true) / union_true, tol, "<=")
    record_margin("agg_kmv_setops", "intersect_rel_err_vs_6sigma_band",
                  abs(got.intersect_est - inter_true) / union_true, 2 * tol, "<=")
    assert abs(got.union_est - union_true) / union_true < tol
    # intersection compounds union + jaccard error: allow 2x the band
    assert abs(got.intersect_est - inter_true) / union_true < 2 * tol
    # disjoint sketches → zero intersection, exact
    d1 = SK.kmv_build(e.filter(F.col("event_id") % 2 == 0), "event_id", k=k)
    d2 = SK.kmv_build(e.filter(F.col("event_id") % 2 == 1), "event_id", k=k)
    dd = SK.kmv_set_estimates(d1, d2, k=k).collect()[0]
    assert dd.intersect_est == 0 and dd.jaccard == 0.0


def test_join_cardinality_estimate_within_2x(spark):
    """KMV join-cardinality estimate vs the true equi-join count on
    events.user_id x orders.o_custkey: within a factor of 2 (uniform-ish
    TPC-H multiplicities)."""
    from postpy_spark.queries.composite import stat_join_cardinality_est_q

    got = stat_join_cardinality_est_q(spark, SF_SMOKE).collect()[0]
    e = load_table(spark, SF_SMOKE, "events")
    o = load_table(spark, SF_SMOKE, "orders")
    true_n = e.join(o, e.user_id == o.o_custkey).count()
    assert true_n > 0
    ratio = got.join_card_est / true_n
    record_margin("stat_join_cardinality_est", "est_over_true_ratio_vs_2x_band",
                  max(ratio, 1 / ratio), 2.0, "<=")
    assert 0.5 <= ratio <= 2.0, (got.join_card_est, true_n, ratio)


def test_ols_normal_eq_matches_numpy_lstsq(spark):
    """Closed-form normal-equation OLS vs numpy.linalg.lstsq on the same
    design matrix."""
    import numpy as np

    from postpy_spark.queries.composite import ml_ols_normal_eq_q

    got = ml_ols_normal_eq_q(spark, SF_SMOKE).collect()[0]
    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            F.hour("ts").cast("double").alias("x1"),
            (F.dayofweek("ts") - 1).cast("double").alias("x2"),
            (F.col("value") / 100.0).alias("y"),
        )
        .collect()
    )
    X = np.array([[1.0, r.x1, r.x2] for r in rows])
    y = np.array([r.y for r in rows])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert abs(got.intercept - beta[0]) < 1e-4
    assert abs(got.b_hour - beta[1]) < 1e-6
    assert abs(got.b_dow - beta[2]) < 1e-6
    pred = X @ beta
    ss_res = ((y - pred) ** 2).sum()
    ss_tot = ((y - y.mean()) ** 2).sum()
    assert abs(got.r2 - (1 - ss_res / ss_tot)) < 1e-5
    assert got.n == len(rows)


def test_kll_rank_error_mergeability_and_exact_branch(spark):
    """KLL quantile sketch (operators/kll.py): (1) relative RANK error of
    every estimated quantile vs the exact order statistic <= 5% at
    n=20000, k=200; (2) merging per-half sketches answers within the same
    band (mergeability is the kit's contract); (3) n < k keeps everything
    in level 0 -> exact answers."""
    from postpy_spark.operators import kll as KLL

    n, k = 20000, 200
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    df = spark.range(n).select(F.col("id").cast("double").alias("v")).repartition(8)
    est, n_tot = KLL.kll_merge_quantiles(KLL.kll_build(df, "v", k=k), qs, k=k)
    assert n_tot == n
    # values are 0..n-1, so rank(x) = x+1: rank error is |est - q*n| / n
    worst = max(abs(e - q * n) / n for q, e in zip(qs, est))
    record_margin("agg_kll_quantiles", "worst_rel_rank_err_vs_5pct", worst, 0.05, "<=")
    assert worst <= 0.05, (worst, est)

    halves = [
        spark.range(0, n // 2).select(F.col("id").cast("double").alias("v")),
        spark.range(n // 2, n).select(F.col("id").cast("double").alias("v")),
    ]
    merged_sketches = KLL.kll_build(halves[0], "v", k=k).unionByName(
        KLL.kll_build(halves[1], "v", k=k)
    )
    est2, n2 = KLL.kll_merge_quantiles(merged_sketches, qs, k=k)
    assert n2 == n
    worst2 = max(abs(e - q * n) / n for q, e in zip(qs, est2))
    record_margin("agg_kll_quantiles", "merged_halves_rel_rank_err_vs_5pct", worst2, 0.05, "<=")
    assert worst2 <= 0.05, (worst2, est2)

    small = spark.range(50).select(F.col("id").cast("double").alias("v")).coalesce(1)
    est3, n3 = KLL.kll_merge_quantiles(KLL.kll_build(small, "v", k=k), qs, k=k)
    assert n3 == 50
    # exact branch: weighted rank hits ceil(q*50) - 1 ... the first item
    # with cumulative weight >= q*n, i.e. value ceil(q*50) - 1
    import math
    assert est3 == [float(math.ceil(q * 50) - 1) for q in qs], est3


def test_cms_planted_collision_free(spark):
    """agg_cms_planted's exactness claim, pinned structurally: on the
    fixed 20-key plant (o_orderkey % 20 over keys <= 400) EVERY key owns
    a bucket shared with no other key in at least one of the 4 hash
    rows, so the CMS MIN provably returns the true frequency — exactness
    is a deterministic property of xxhash64 on this domain, not sampled
    luck.  If the hash seed, depth, or width ever changes, this test
    fails before the oracle gate does."""
    from postpy_spark.operators import sketch as SK

    keys = spark.range(20).select(F.col("id").alias("k"))
    j = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j")
    buckets = keys.select("k", j).select(
        "k", "j", SK._bucket(F.col("k"), F.col("j"), 256).alias("bucket")
    )
    rows = buckets.collect()
    from collections import Counter

    per_row = {jj: Counter() for jj in range(4)}
    for r in rows:
        per_row[r.j][r.bucket] += 1
    for k in range(20):
        private = any(
            per_row[r.j][r.bucket] == 1 for r in rows if r.k == k
        )
        assert private, f"key {k} collides in all 4 CMS rows"


def test_hllpp_planted_exact_on_fixed_domain(spark):
    """agg_hllpp_planted's exactness claim, pinned locally (r11 advice):
    approx_count_distinct at rsd=0.01 must equal the EXACT distinct count
    on the fixed planted domains (40 and 13 keys — the same modular plants
    the registered query uses, independent of the parquet tables).  At
    2^14+ registers both cardinalities sit deep in HLL++'s linear-counting
    regime, so the rounded estimate is exactly c as long as the planted
    keys occupy c distinct registers.  If a Spark upgrade changes the
    HLL++ hash/register layout, this fails HERE with a clear cause instead
    of surfacing only as an unexplained oracle-gate mismatch."""
    dom = spark.range(1, 601).select(
        (F.col("id") % 40).alias("k40"), (F.col("id") % 13).alias("k13")
    )
    got = dom.agg(
        F.approx_count_distinct("k40", rsd=0.01).alias("n40"),
        F.approx_count_distinct("k13", rsd=0.01).alias("n13"),
        F.countDistinct("k40").alias("x40"),
        F.countDistinct("k13").alias("x13"),
    ).collect()[0]
    assert got.n40 == got.x40 == 40, f"HLL++ no longer exact at 40 keys: {got}"
    assert got.n13 == got.x13 == 13, f"HLL++ no longer exact at 13 keys: {got}"
