"""Edit-distance similarity join: blocking completeness vs brute force,
planted-perturbation recall, and the short-string deficiency channel."""

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from postpy_spark.operators.editdist import editdist_pairs

SF_DIR = "/root/testdata/sf0.001"


def _lev(a: str, b: str) -> int:
    """Plain Wagner–Fischer Levenshtein (the same metric Spark's
    ``levenshtein`` built-in computes; cross-pinned below by
    test_distance_values_exact, whose expected distances come from the
    SPARK path)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute(spark, strings, d):
    """Reference O(n^2) pair set — pure Python (r15: the Spark self-join
    form cost a multi-stage job per call across ~10 tests and the driver's
    pytest budget is the binding constraint; n is <= a few hundred here,
    so the quadratic DP is microseconds and the REFERENCE no longer shares
    any code path with the operator under test)."""
    out = set()
    ss = sorted(set(strings))
    for i, va in enumerate(ss):
        for vb in ss[i + 1 :]:
            dist = _lev(va, vb)
            if dist <= d:
                out.add((va, vb, dist))
    return out


def _blocked(spark, strings, d):
    df = spark.createDataFrame([Row(val=s) for s in strings])
    return {
        (r.val_a, r.val_b, r.dist)
        for r in editdist_pairs(df, "val", max_dist=d).collect()
    }


# PassJoin is the only blocker; the parameter keeps each case's test id.
METHODS = ["passjoin"]


@pytest.mark.parametrize("method", METHODS)
def test_completeness_vs_bruteforce_on_part_names(spark, method):
    """The blocked plan equals brute force on the real part-name vocabulary
    at d=3 (the shipped query's oracle already pins d=2)."""
    names = [
        r.p_name
        for r in spark.read.parquet(f"{SF_DIR}/part.parquet")
        .select("p_name")
        .distinct()
        .collect()
    ]
    assert len(names) > 30
    assert _blocked(spark, names, 3) == _brute(spark, names, 3)


@pytest.mark.parametrize("method", METHODS)
def test_planted_perturbations_all_found(spark, method):
    """Deterministic random edits of known distance <= d are all recovered
    (per-pair recall, independent of the brute-force twin)."""
    rng = random.Random(7)
    alphabet = "abcdefghij"
    bases = ["".join(rng.choice(alphabet) for _ in range(12)) for _ in range(40)]
    planted = []
    for i, s in enumerate(bases):
        chars = list(s)
        n_edits = 1 + i % 2  # alternate 1 and 2 edits
        for _ in range(n_edits):
            op = rng.choice("sid")
            pos = rng.randrange(len(chars))
            if op == "s":
                chars[pos] = rng.choice(alphabet)
            elif op == "i":
                chars.insert(pos, rng.choice(alphabet))
            elif len(chars) > 1:
                del chars[pos]
        edited = "".join(chars)
        if edited != s:
            planted.append((s, edited))
    strings = sorted({s for p in planted for s in p})
    got = {(a, b) for a, b, _ in _blocked(spark, strings, 2)}
    for s, e in planted:
        lo, hi = min(s, e), max(s, e)
        assert (lo, hi) in got, (s, e)


@pytest.mark.parametrize("method", METHODS)
def test_short_string_channel(spark, method):
    """Strings too short for the segment argument (PassJoin segments would
    be empty) still pair through the length-key channel."""
    strings = ["a", "b", "ab", "ba", "xy", ""]
    assert _blocked(spark, strings, 1) == _brute(spark, strings, 1)
    assert _blocked(spark, strings, 2) == _brute(spark, strings, 2)


@pytest.mark.parametrize("method", METHODS)
def test_mixed_short_and_long(spark, method):
    """Deficient-length and signature-bearing strings coexist: pairs inside
    each regime and across the length boundary are all present."""
    strings = ["ab", "abc", "abcd", "abcde", "zzzzz", "abzde"]
    assert _blocked(spark, strings, 2) == _brute(spark, strings, 2)


def test_distance_values_exact(spark):
    """Output distances are the true Levenshtein distances."""
    strings = ["kitten", "sitten", "sittin", "mitten"]
    got = _blocked(spark, strings, 2)
    assert ("kitten", "sitten", 1) in got
    assert ("sitten", "sittin", 1) in got
    assert ("kitten", "sittin", 2) in got
    assert ("kitten", "mitten", 1) in got


def test_passjoin_insert_delete_shifts(spark):
    """Pure insert/delete pairs exercise the +-d segment displacement
    window (net length change = d), plus boundary edits at both ends."""
    strings = [
        "abcdefghij",
        "abcdefgh",      # 2 deletions at the end
        "xxabcdefghij",  # 2 insertions at the front
        "abcdeYfghij",   # 1 insertion mid-string
        "bcdefghij",     # 1 deletion at the front
    ]
    assert _blocked(spark, strings, 2) == _brute(
        spark, strings, 2
    )


def test_passjoin_equal_length_substitutions(spark):
    """Equal-length pairs double-emit (each side probes the other) — the
    least/greatest fold plus distinct must leave exactly one row."""
    strings = ["matchbox", "watchbox", "matchbod", "catchbox"]
    got = _blocked(spark, strings, 2)
    exp = _brute(spark, strings, 2)
    assert got == exp
    # and no duplicates survived the fold
    keys = [(a, b) for a, b, _ in got]
    assert len(keys) == len(set(keys))


def test_passjoin_segment_formula_consistency(spark):
    """Index and probe must use the SAME even-partition formula: a pair of
    identical-up-to-1-edit strings at every length 3..40 is found at d=1
    (sweeps every (length % k) remainder case)."""
    strings = []
    for n in range(3, 41):
        s = "".join(chr(ord("a") + (i * 7 + n) % 26) for i in range(n))
        strings.append(s)
        strings.append(s[: n // 2] + "Z" + s[n // 2 + 1 :])  # 1 substitution
    assert _blocked(spark, strings, 1) == _brute(
        spark, strings, 1
    )


# ---------------------------------------------------------------------------
# Incremental ER (editdist_pairs_incremental + er_merge_incremental)
# ---------------------------------------------------------------------------


def _adversarial_vocab():
    """Lengths 1..30 incl. short-channel strings (len <= d), equal-length
    pairs, insert/delete shifts, and chained near-duplicates."""
    random.seed(14)
    base = []
    for n in (1, 2, 3, 5, 8, 13, 21, 30):
        s = "".join(chr(ord("a") + (i * 5 + n) % 26) for i in range(n))
        base.append(s)
        base.append(s[:-1] + "Q" if n > 1 else "Q")  # substitution
        base.append(s + "x")  # insertion (old longer / shorter mixes)
        if n >= 4:
            base.append(s[1:])  # deletion
            base.append(s[: n // 2] + "ZZ" + s[n // 2 :])  # 2 inserts
    return sorted(set(base))


def _split(strings, frac_new=0.35):
    random.seed(41)
    new = set(random.sample(strings, max(2, int(len(strings) * frac_new))))
    old = [s for s in strings if s not in new]
    return old, sorted(new)


def test_incremental_pairs_equal_full_restricted_to_new(spark):
    """editdist_pairs_incremental == full editdist_pairs over old ∪ new,
    restricted to pairs touching >= 1 new string — the never-old×old
    contract is lossless, across both role directions (new longer, new
    shorter) and the short channel."""
    from postpy_spark.operators.editdist import editdist_pairs_incremental

    strings = _adversarial_vocab()
    for d in (1, 2):
        old, new = _split(strings)
        full = _brute(spark, strings, d)
        newset = set(new)
        want = {t for t in full if t[0] in newset or t[1] in newset}
        odf = spark.createDataFrame([Row(val=s) for s in old])
        ndf = spark.createDataFrame([Row(val=s) for s in new])
        got = {
            (r.val_a, r.val_b, r.dist)
            for r in editdist_pairs_incremental(odf, ndf, max_dist=d).collect()
        }
        assert got == want, f"d={d}: missing={want-got} extra={got-want}"
        # and NO old×old pair sneaks in (already implied by equality, but
        # pin the direction explicitly)
        assert all(a in newset or b in newset for a, b, _ in got)


def _full_er(spark, strings, d):
    """Reference: full re-clustering — canonical = min name reachable."""
    pairs = _brute(spark, strings, d)
    parent = {s: s for s in strings}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {s: find(s) for s in strings}


def test_er_merge_incremental_equals_full_recompute(spark):
    """er_merge_incremental's delta == full re-clustering restricted to
    (new names ∪ old names whose canonical changed) — the same contract
    dedup_incremental satisfies, on a vocabulary where new strings bridge
    old clusters (incl. via new-new chains) and relabel old members."""
    from postpy_spark.operators.dedup import connected_components
    from postpy_spark.operators.editdist import (
        editdist_pairs,
        editdist_pairs_incremental,
        er_merge_incremental,
    )

    strings = _adversarial_vocab()
    d = 2
    old, new = _split(strings)

    odf = spark.createDataFrame([Row(val=s) for s in old])
    ndf = spark.createDataFrame([Row(val=s) for s in new])

    # existing assignment: full ER over old only
    old_pairs = editdist_pairs(odf, max_dist=d)
    comps = connected_components(old_pairs, "val_a", "val_b")
    old_assign = (
        odf.join(
            comps.select(F.col("node").alias("val"), "component"), "val", "left"
        )
        .select(
            F.col("val").alias("name"),
            F.coalesce("component", F.col("val")).alias("canonical"),
        )
    )
    old_map = {r.name: r.canonical for r in old_assign.collect()}

    edges = editdist_pairs_incremental(odf, ndf, max_dist=d)
    got = {
        r.name: (r.canonical, r.is_new)
        for r in er_merge_incremental(old_assign, edges, ndf).collect()
    }

    full = _full_er(spark, strings, d)
    want = {s: (full[s], True) for s in new}
    for s in old:
        if full[s] != old_map[s]:
            want[s] = (full[s], False)
    assert got == want, (
        f"missing={set(want) - set(got)} extra={set(got) - set(want)} "
        f"diff={ {k: (got.get(k), want.get(k)) for k in set(got) | set(want) if got.get(k) != want.get(k)} }"
    )
    # sanity: the scenario actually exercised a merge-relabel (an old name
    # appears in the delta), otherwise the fixture is too weak
    assert any(not is_new for (_, is_new) in got.values()), got


def test_er_golden_incremental_delta_matches_full(spark):
    """Incremental golden-record maintenance == full recompute restricted
    to touched clusters, plus exact delete set (labels that stopped
    heading a cluster) — on the adversarial vocabulary with row
    multiplicity (some names carry 2 attribute rows)."""
    from postpy_spark.operators.dedup import connected_components
    from postpy_spark.operators.editdist import (
        editdist_pairs,
        editdist_pairs_incremental,
        er_apply_delta,
        er_merge_incremental,
        er_vanished_labels,
    )

    strings = _adversarial_vocab()
    d = 2
    old, new = _split(strings)
    # attribute rows: value = len(name)*10 + first-char code; every third
    # name gets a second row (multiplicity must flow into n_parts/sums)
    attr = []
    for i, s in enumerate(strings):
        attr.append((s, len(s) * 10 + (ord(s[0]) % 7)))
        if i % 3 == 0:
            attr.append((s, 1))
    rows = spark.createDataFrame(attr, "name string, v bigint")

    odf = spark.createDataFrame([Row(val=s) for s in old])
    ndf = spark.createDataFrame([Row(val=s) for s in new])
    old_pairs = editdist_pairs(odf, max_dist=d)
    comps = connected_components(old_pairs, "val_a", "val_b")
    old_assign = (
        odf.join(
            comps.select(F.col("node").alias("val"), "component"), "val", "left"
        )
        .select(
            F.col("val").alias("name"),
            F.coalesce("component", F.col("val")).alias("canonical"),
        )
    )
    old_map = {r.name: r.canonical for r in old_assign.collect()}

    edges = editdist_pairs_incremental(odf, ndf, max_dist=d)
    delta = er_merge_incremental(old_assign, edges, ndf)
    members = er_apply_delta(old_assign, delta)
    got_up = {
        r.canonical: (r.n, r.sv)
        for r in members.join(rows, "name")
        .groupBy("canonical")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    got_del = {r.canonical for r in er_vanished_labels(old_assign, delta).collect()}

    # full reference
    full = _full_er(spark, strings, d)
    by_attr: dict = {}
    for s, v in attr:
        by_attr.setdefault(s, []).append(v)
    full_golden: dict = {}
    for s in strings:
        c = full[s]
        n, sv = full_golden.get(c, (0, 0))
        vs = by_attr[s]
        full_golden[c] = (n + len(vs), sv + sum(vs))
    delta_rows = {r.name: r.canonical for r in delta.collect()}
    touched = set(delta_rows.values())
    want_up = {c: full_golden[c] for c in touched}
    assert got_up == want_up, {
        k: (got_up.get(k), want_up.get(k))
        for k in set(got_up) | set(want_up)
        if got_up.get(k) != want_up.get(k)
    }
    # deletes: labels that headed an old cluster but head nothing now
    final_labels = set(full.values())
    want_del = {c for c in set(old_map.values()) if c not in final_labels}
    assert got_del == want_del, (got_del, want_del)
    assert want_del, "fixture must actually exercise a vanished label"
