"""Edit-distance similarity self-join (entity resolution / fuzzy matching).

The reference checkout is empty (SURVEY.md §0); upstream postpy exposes no
string-similarity join — this is part of the LLM/data-cleaning surface the
brief asks for beyond the contract (fuzzy key matching before a dedup or
merge step: near-identical product names, OCR'd titles, user-typed labels).

Algorithm — PassJoin partition blocking (Li, Deng & Feng, ICDE'11), then
exact Levenshtein verification on candidates only:

1.  Partition each string into d+1 SEGMENTS.  Pigeonhole: d edits leave
    at least one segment untouched, and an untouched segment appears
    verbatim in the partner, displaced by at most d.  The equi-join key
    is the full segment (length ~ l/(d+1) chars) plus the partner length
    and the segment index, so probe fan-out is bounded at
    (d+1) target lengths x (d+1) segments x (2d+1) positions per string.
2.  Candidates pass the exact ``levenshtein(a, b) <= d`` verify (a JVM
    built-in).

Short-string channel: a string of length <= d has empty segments, so such
strings pair through a length-key equi-join instead (each fans out to its
2d+1 admissible partner lengths; both sides of the channel are the
bounded short-vocabulary slice — no cross join, no hot key).  The union
of the two channels is lossless for ALL inputs.

Candidate volume tracks output volume, not n^2: on an adversarial
low-diversity vocabulary PassJoin produced 1.5-3.6x candidates per true
pair up to n=100k.  The ED-Join q-gram prefix filter it replaced
saturated on the same probe (62x at n=10k, no finish at n=100k) and was
retired; numbers in docs/BENCH_NOTES.md, "Round 12: q-gram blocking
falsified at scale, replaced by PassJoin".

Scale design (100 TB posture):
- The join runs over DISTINCT string VALUES, not rows: callers aggregate
  to (value, count) first, so pair work scales with vocabulary size, and
  row-level multiplicity is joined back as counts afterwards.
- Everything is DataFrame built-ins: one explode per side for segments
  and probe substrings, one equi-join on (length, index, segment) for
  candidates, one distinct, one verify projection.  No UDF, no cross
  join, no driver collect.
- The residual worst case (a near-duplicate-saturated vocabulary) has
  quadratic OUTPUT, which no candidate scheme can beat.

Exactness: with no caps anywhere in this pipeline, the result equals the
brute-force O(n^2) join — pinned by the DuckDB oracle of
``dedup_editdist_blocked`` (brute-force SQL vs this blocked plan) and by
tests/test_editdist.py's planted-perturbation completeness test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _segment_bounds(length: Column, k: int, i: int) -> tuple[Column, Column]:
    """(start, len) of segment ``i`` in the even (d+1)-partition of a string
    of ``length`` chars: the first ``length % k`` segments get one extra
    char.  start = i*base + min(i, rem); len = base + (i < rem).  The probe
    side replicates this formula exactly — both sides MUST agree."""
    base = F.floor(length / k).cast("int")
    rem = (length % k).cast("int")
    seg_len = base + F.when(F.lit(i) < rem, F.lit(1)).otherwise(F.lit(0))
    start = F.lit(i) * base + F.least(F.lit(i), rem)
    return start, seg_len


def _passjoin_index(values: DataFrame, str_col: str, d: int) -> DataFrame:
    """PassJoin INDEX side: each string of length >= d+1 emits its d+1
    segments keyed (_lr=own length, _i=segment index, _seg) — the role of
    the SHORTER partner of a pair.  Carries the string as ``_vr``."""
    k = d + 1
    val = F.col(str_col)
    length = F.length(val)
    idx_parts = []
    for i in range(k):
        start, seg_len = _segment_bounds(length, k, i)
        idx_parts.append(
            F.struct(
                F.lit(i).alias("i"),
                val.substr(start + 1, seg_len).alias("seg"),
            )
        )
    return (
        values.filter(length >= k)
        .select(
            val.alias("_vr"),
            length.alias("_lr"),
            F.explode(F.array(*idx_parts)).alias("_s"),
        )
        .select("_vr", "_lr", F.col("_s.i").alias("_i"), F.col("_s.seg").alias("_seg"))
    )


def _passjoin_probe(values: DataFrame, str_col: str, d: int) -> DataFrame:
    """PassJoin PROBE side: each string, acting as the LONGER partner,
    emits for every admissible shorter length tl in [l-d, l] (tl >= d+1),
    every segment index, and every start within ±d of the partition-scheme
    start, the matching-length substring — a bounded (d+1)(d+1)(2d+1)
    fan-out.  Carries the string as ``_vs``.

    r14 optimization: the (d+1)²(2d+1)-way struct array is generated as ONE
    SQL string handed to ``F.expr`` instead of ~500 Column-DSL calls — each
    DSL call is a Py4J round-trip, and building this expression through the
    DSL measured 1.3–1.7 s of pure driver time PER INVOCATION at d=2
    (profiled r14; the JVM SQL parser takes milliseconds for the same
    text).  The generated tree is semantically identical: same loop order
    (delta, i, shift), same arithmetic (float-divide floor segment bounds),
    same CASE-WHEN-null shape, same let-bound filter/distinct HOFs.

    (r15 measured-and-rejected: memoizing the parsed Column per session
    saved nothing — a warm re-parse is ~30 ms; the residual 0.3 s/build is
    the surrounding DataFrame-DSL Py4J calls, which are not memoizable.
    The measurement is recorded in the message of commit ac8760b.)"""
    k = d + 1
    c = f"`{str_col}`"
    L = f"length({c})"
    parts: list[str] = []
    for delta in range(d + 1):  # tl = l - delta
        tl = f"({L} - {delta})"
        for i in range(k):
            base = f"CAST(FLOOR({tl} / {k}) AS INT)"
            rem = f"CAST(({tl} % {k}) AS INT)"
            seg_len = f"({base} + (CASE WHEN {i} < {rem} THEN 1 ELSE 0 END))"
            start = f"({i} * {base} + LEAST({i}, {rem}))"
            for shift in range(-d, d + 1):
                p = f"({start} + {shift})"
                valid = f"({tl} >= {k} AND {p} >= 0 AND {p} + {seg_len} <= {L})"
                parts.append(
                    f"CASE WHEN {valid} THEN named_struct("
                    f"'tl', CAST({tl} AS INT), 'i', {i}, "
                    f"'sub', substring({c}, {p} + 1, {seg_len})) END"
                )
    # LET-BIND the struct array before the filter/distinct HOFs: filter()
    # re-evaluates its input array PER ELEMENT (no CSE — the repo-wide
    # landmine), which turns the probe projection into ~45^2 interpreted
    # substr evaluations per row (measured: a 10k-string probe count did
    # not finish in minutes; with the binding it is sub-second).
    raw = f"array({', '.join(parts)})"
    cleaned = F.expr(
        f"element_at(transform(array({raw}), "
        f"a -> array_distinct(filter(a, x -> x IS NOT NULL))), 1)"
    )
    return (
        values.select(
            F.col(str_col).alias("_vs"),
            F.explode(cleaned).alias("_p"),
        )
        .select(
            "_vs",
            F.col("_p.tl").alias("_lr"),
            F.col("_p.i").alias("_i"),
            F.col("_p.sub").alias("_seg"),
        )
    )


def _seg_join(index: DataFrame, probe: DataFrame) -> DataFrame:
    return (
        index.join(probe, ["_lr", "_i", "_seg"])
        .filter(F.col("_vr") != F.col("_vs"))
        .select(
            F.least("_vr", "_vs").alias("val_a"),
            F.greatest("_vr", "_vs").alias("val_b"),
        )
    )


def _short_s(values: DataFrame, str_col: str, d: int) -> DataFrame:
    """Short channel, fan-out side: strings of length <= d keyed by every
    admissible partner length."""
    val = F.col(str_col)
    length = F.length(val)
    return values.filter(length <= d).select(
        val.alias("_vs"),
        F.explode(F.sequence(length - d, length + d)).alias("_len"),
    )


def _short_t(values: DataFrame, str_col: str, d: int) -> DataFrame:
    """Short channel, target side: strings of length <= 2d keyed by own
    length (both sides of any short pair have length <= 2d)."""
    val = F.col(str_col)
    length = F.length(val)
    return values.filter(length <= 2 * d).select(
        val.alias("_vt"), length.alias("_len")
    )


def _short_join(s: DataFrame, t: DataFrame) -> DataFrame:
    return (
        s.join(t, "_len")
        .filter(F.col("_vs") != F.col("_vt"))
        .select(
            F.least("_vs", "_vt").alias("val_a"),
            F.greatest("_vs", "_vt").alias("val_b"),
        )
    )


def passjoin_candidates(
    values: DataFrame,
    str_col: str = "val",
    max_dist: int = 2,
) -> DataFrame:
    """Candidate pairs ``(val_a, val_b)`` with ``val_a < val_b`` containing
    EVERY pair within edit distance d — PassJoin partition blocking (Li,
    Deng & Feng, ICDE'11; module docstring).

    Pigeonhole: d edits touch at most d of a string's d+1 segments, so at
    least one segment of the SHORTER side appears verbatim in the longer
    side, displaced by at most d (net insertions minus deletions before
    it).  The equi-join key is the full SEGMENT (length ~ l/(d+1) chars)
    — far more selective than any q-gram, which is what keeps candidate
    volume data-bounded on low-diversity vocabularies where gram
    signatures saturate (index/probe builders above).

    Pairs whose shorter side has length <= d (segments would be empty) go
    through the bounded length-key channel (module docstring).
    """
    d = max_dist
    seg_cand = _seg_join(
        _passjoin_index(values, str_col, d), _passjoin_probe(values, str_col, d)
    )
    short_cand = _short_join(
        _short_s(values, str_col, d), _short_t(values, str_col, d)
    )
    return seg_cand.unionByName(short_cand).distinct()


def passjoin_candidates_incremental(
    old_values: DataFrame,
    new_values: DataFrame,
    str_col: str = "val",
    max_dist: int = 2,
) -> DataFrame:
    """Candidate pairs touching the NEW batch — every pair within edit
    distance d with >= 1 new member, and NO old×old candidate ever formed.

    Role decomposition (PassJoin is asymmetric: the shorter side indexes
    segments, the longer side probes substrings):
    - index(old ∪ new) ⋈ probe(new): pairs where the new string is the
      longer/equal partner, against anybody;
    - index(new) ⋈ probe(old): pairs where an old string is strictly
      longer than a new one;
    - short channel: s(new) ⋈ t(old ∪ new)  ∪  s(old) ⋈ t(new).

    In a deployed daily-ingest pipeline both old-side expansions (segments
    AND probe substrings — each per-string bounded) are the PERSISTED
    blocked index, appended to as strings arrive; here they are rebuilt
    inline, which costs one scan of the old vocabulary but generates
    candidates only where a key collides with the batch — candidate
    volume scales with the batch, not with |old|² (the same new×corpus
    contract as dedup.minhash_dedup_pairs_incremental)."""
    d = max_dist
    all_values = old_values.select(str_col).unionByName(
        new_values.select(str_col)
    )
    cand = (
        _seg_join(
            _passjoin_index(all_values, str_col, d),
            _passjoin_probe(new_values, str_col, d),
        )
        .unionByName(
            _seg_join(
                _passjoin_index(new_values, str_col, d),
                _passjoin_probe(old_values, str_col, d),
            )
        )
        .unionByName(
            _short_join(
                _short_s(new_values, str_col, d), _short_t(all_values, str_col, d)
            )
        )
        .unionByName(
            _short_join(
                _short_s(old_values, str_col, d), _short_t(new_values, str_col, d)
            )
        )
    )
    return cand.distinct()


def editdist_pairs(
    values: DataFrame,
    str_col: str = "val",
    max_dist: int = 2,
) -> DataFrame:
    """All distinct-value pairs within edit distance ``max_dist``:
    ``(val_a, val_b, dist)`` with ``val_a < val_b`` — PassJoin candidates,
    then exact ``levenshtein`` verify (both JVM-side).  LOSSLESS: the
    result equals the brute-force quadratic join (pinned by the DuckDB
    oracle of ``dedup_editdist_blocked`` and the completeness tests).
    """
    cand = passjoin_candidates(values, str_col, max_dist)
    return (
        cand.withColumn("dist", F.levenshtein("val_a", "val_b"))
        .filter(F.col("dist") <= max_dist)
        .select("val_a", "val_b", "dist")
    )


def editdist_pairs_incremental(
    old_values: DataFrame,
    new_values: DataFrame,
    str_col: str = "val",
    max_dist: int = 2,
) -> DataFrame:
    """All pairs within edit distance d that TOUCH the new batch:
    ``(val_a, val_b, dist)``, val_a < val_b — incremental PassJoin
    candidates (never old×old), then exact levenshtein verify.  Equals
    the full ``editdist_pairs`` over old ∪ new restricted to pairs with
    >= 1 new member (pinned by tests/test_editdist.py)."""
    cand = passjoin_candidates_incremental(
        old_values, new_values, str_col, max_dist
    )
    return (
        cand.withColumn("dist", F.levenshtein("val_a", "val_b"))
        .filter(F.col("dist") <= max_dist)
        .select("val_a", "val_b", "dist")
    )


def er_merge_incremental(
    old_assign: DataFrame,
    new_edges: DataFrame,
    new_values: DataFrame,
    str_col: str = "val",
    max_iter: int = 25,
) -> DataFrame:
    """Merge a new batch into an EXISTING entity-cluster assignment
    without re-clustering history: connected components run on the
    CONTRACTED graph whose nodes are old cluster labels and new strings
    (batch + touched-cluster sized, never history-sized).

    - ``old_assign``: (name, canonical) — the existing assignment, where
      ``canonical`` is the min member name of each old cluster (the
      invariant ``er_canonical_entities`` establishes).
    - ``new_edges``: (val_a, val_b, ...) match pairs touching the batch
      (from ``editdist_pairs_incremental``).
    - ``new_values``: one ``str_col`` row per new string.

    Each edge endpoint is CONTRACTED to its representative — an old
    name maps to its cluster's canonical label, a new name to itself —
    and min-label CC runs on the contracted edge set only.  Because old
    canonicals are minima of their members, the component minimum over
    contracted nodes equals the minimum over all underlying member
    names, so labels agree EXACTLY with a full re-clustering (pinned by
    tests/test_editdist.py equivalence suite).  Untouched old clusters
    never enter the computation at all.

    Returns the assignment DELTA: (name, canonical, is_new) for every
    new string plus every old string whose canonical label changed.
    Scale: two hash joins to contract endpoints, CC over the contracted
    (bounded) edge set, one join back to relabel members of touched old
    clusters only."""
    from postpy_spark.operators.dedup import connected_components

    old_map = old_assign.select(
        F.col("name").alias("_n"), F.col("canonical").alias("_c")
    )
    e = (
        new_edges.select("val_a", "val_b")
        .join(old_map.withColumnRenamed("_n", "val_a"), "val_a", "left")
        .withColumnRenamed("_c", "_ra")
        .join(old_map.withColumnRenamed("_n", "val_b"), "val_b", "left")
        .withColumnRenamed("_c", "_rb")
        .select(
            F.coalesce("_ra", F.col("val_a")).alias("ra"),
            F.coalesce("_rb", F.col("val_b")).alias("rb"),
        )
        .filter(F.col("ra") != F.col("rb"))
    )
    # the contracted graph is batch-sized; the loop's checkpoint cadence
    # is operators/fixpoint.py's
    comps = connected_components(e, "ra", "rb", max_iterations=max_iter)
    # new strings: component of their own node, else themselves
    new_rows = (
        new_values.select(F.col(str_col).alias("name"))
        .join(
            comps.select(F.col("node").alias("name"), "component"), "name", "left"
        )
        .select(
            "name",
            F.coalesce("component", F.col("name")).alias("canonical"),
            F.lit(True).alias("is_new"),
        )
    )
    # old strings in touched clusters whose label actually changed
    relabeled = (
        old_assign.join(
            comps.select(F.col("node").alias("canonical"), "component"),
            "canonical",
        )
        .filter(F.col("component") != F.col("canonical"))
        .select(
            "name",
            F.col("component").alias("canonical"),
            F.lit(False).alias("is_new"),
        )
    )
    return new_rows.unionByName(relabeled)


def er_apply_delta(old_assign: DataFrame, delta: DataFrame) -> DataFrame:
    """Final (name, canonical) for every member of a TOUCHED cluster —
    the membership view downstream incremental consumers (golden-record
    maintenance) aggregate over.

    ``delta`` is ``er_merge_incremental`` output.  Old names pick up
    their relabel if present; the touched-cluster filter is a semi-join
    against the delta's canonical set, so untouched history never flows
    through.  New names come straight from the delta."""
    touched = delta.select("canonical").distinct()
    old_upd = (
        old_assign.join(
            delta.filter(~F.col("is_new")).select(
                "name", F.col("canonical").alias("_nc")
            ),
            "name",
            "left",
        )
        .select("name", F.coalesce("_nc", "canonical").alias("canonical"))
    )
    members_old = old_upd.join(touched, "canonical", "semi").select(
        "name", "canonical"
    )
    members_new = delta.filter(F.col("is_new")).select("name", "canonical")
    return members_old.unionByName(members_new)


def er_vanished_labels(old_assign: DataFrame, delta: DataFrame) -> DataFrame:
    """(canonical) labels that no longer head any cluster after the merge.

    A cluster's label is its min member name, so the label survives iff
    the name EQUAL to it kept its canonical; a relabeled row whose name
    was its own cluster's label marks that label as vanished."""
    return (
        delta.filter(~F.col("is_new"))
        .join(
            old_assign.filter(F.col("name") == F.col("canonical")).select(
                "name"
            ),
            "name",
            "semi",
        )
        .select(F.col("name").alias("canonical"))
    )
