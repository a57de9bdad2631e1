"""Deduplication operators for large-scale text corpora (SURVEY.md §2.D).

postpy has no analog — these are the north-star LLM-pipeline operators the
engine adds on top of the reference's surface.  Every op is built from
DataFrame primitives so Catalyst handles distribution; nothing collects to
the driver except the bounded fixpoint check in connected components.

Scale design:
- exact dedup: one hash-shuffle on the digest (partial agg upstream);
- MinHash/LSH: banding turns O(n²) pair generation into equi-joins on
  (band_id, band_hash) — candidate count scales with collision rate, not n²;
- SimHash: one explode + one groupBy per corpus pass, 64 agg columns;
- connected components: min-label propagation with pointer doubling
  (O(log diameter) rounds, three hash joins per round); iterations bounded
  with a fail-loud exhaustion path and the convergence check is a scalar
  count, not a collect of rows.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .arrow_lists import make_list_decoder
from .fixpoint import fixpoint, release

# ---------------------------------------------------------------------------
# Cache hygiene
# ---------------------------------------------------------------------------

#: (generation, semanticHash, frame) for every scratch persist still alive.
_LIVE_CACHE: list[tuple[int, int, DataFrame]] = []
_GENERATION = 0


def _persist_tracked(df: DataFrame) -> DataFrame:
    """``persist()`` with session-hygiene tracking.

    Spark's CacheManager dedupes plan-identical persists to ONE cache entry
    (and ``unpersist`` evicts by plan, not by handle), so re-running the
    same pipeline must NOT eagerly release the prior invocation's frames —
    that would evict the entry the new run is about to warm-hit (measured
    +70% on repeated minhash invocations).  Instead each handle is recorded
    with its semantic hash and generation; same-plan re-persists replace
    the stale record without touching the cache."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    h = df.semanticHash()
    global _LIVE_CACHE
    # same plan → same CacheManager entry: refresh the record's generation
    _LIVE_CACHE = [t for t in _LIVE_CACHE if t[1] != h]
    _LIVE_CACHE.append((_GENERATION, h, df))
    return df


def _advance_generation() -> None:
    """Entry hook for pipeline-level operators: start a new generation and
    unpersist scratch frames two or more generations old.  Keeping the
    immediately-previous generation preserves warm cache reuse for repeated
    identical invocations (same-plan records refresh their generation in
    :func:`_persist_tracked`, so a still-hot plan is never evicted), while
    bounding a long-lived session at two generations of distinct scratch
    plans instead of leaking one persisted RDD per call."""
    global _GENERATION, _LIVE_CACHE
    _GENERATION += 1
    cutoff = _GENERATION - 1
    stale = [t for t in _LIVE_CACHE if t[0] < cutoff]
    _LIVE_CACHE = [t for t in _LIVE_CACHE if t[0] >= cutoff]
    for _, _, frame in stale:
        frame.unpersist(blocking=False)


def release_dedup_cache() -> None:
    """Unpersist every scratch frame the dedup/similarity operators have
    persisted.  Call after consuming results to free executor storage
    immediately.  Always correctness-safe — a still-referenced lazy result
    simply recomputes."""
    global _LIVE_CACHE
    stale, _LIVE_CACHE = _LIVE_CACHE, []
    for _, _, frame in stale:
        frame.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# Normalization / exact dedup
# ---------------------------------------------------------------------------


def normalize_text(col):
    """Lowercase, trim, collapse runs of whitespace — the canonical form
    hashed for exact duplicate detection."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each normalized-text group.
    One shuffle on the 256-bit digest; survivors carry ``n_copies``."""
    digest = F.sha2(normalize_text(F.col(text_col)), 256).alias("text_hash")
    w = Window.partitionBy("text_hash").orderBy(id_col)
    return (
        df.select("*", digest)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("text_hash")))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH banding
# ---------------------------------------------------------------------------


def tokens_col(text_col):
    return F.split(normalize_text(text_col), " ")


def shingles_col(text_col, k: int = 3):
    """Token k-gram shingles as an array column (JVM-side HOF; no UDF).
    Docs shorter than k tokens fall back to the whole text.

    The token array is LET-BOUND via ``transform(array(toks), t -> …)``:
    referencing the outer tokenization expression directly inside the
    per-position lambda would re-evaluate the regex+split once per array
    element (HOF lambdas are interpreted, no CSE) — measured 4× slower on
    real documents."""
    toks = tokens_col(text_col)

    def body(t):
        sh = F.transform(
            F.sequence(F.lit(0), F.size(t) - k),
            lambda i: F.array_join(F.slice(t, i + 1, k), " "),
        )
        return F.when(F.size(t) >= k, sh).otherwise(F.array(F.array_join(t, " ")))

    return F.element_at(F.transform(F.array(toks), body), 1)


def shingled(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             k: int = 3) -> DataFrame:
    """(id, _sh: array<bigint>) — the distinct shingle set, each shingle
    hashed once to int64.  Downstream stages (MinHash permutations, Jaccard
    set ops) operate on the hashes: permutation hashing mixes 8-byte longs
    instead of re-hashing full shingle strings 32×, and set intersect/union
    compares longs.  Jaccard over hashed shingles equals string Jaccard up
    to 2⁻⁶⁴ collisions.  Persist this frame when several stages consume it."""
    sh = F.array_distinct(shingles_col(F.col(text_col), k))
    return df.select(
        F.col(id_col),
        F.transform(sh, lambda s: F.xxhash64(s)).alias("_sh"),
    )


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    k: int = 3,
    seed: int = 42,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig_0..sig_{n-1}) MinHash signatures.

    One explode + one groupBy: each of the ``num_hashes`` permutations is
    approximated by ``xxhash64(shingle, seed_i)`` and reduced with MIN.
    Map-side partial aggregation collapses each doc to a single row BEFORE
    the shuffle, so shuffle volume is |docs|×num_hashes values — this beats
    the shuffle-free per-row HOF formulation (``array_min(transform(...))``
    per signature), which re-evaluates the shingle subtree once per
    signature column because Catalyst does not CSE across project columns
    (measured 1.5× slower at sf0.1).
    """
    sh_df = shingles if shingles is not None else shingled(df, id_col, text_col, k)
    exploded = sh_df.select(F.col(id_col), F.explode("_sh").alias("_sh1"))
    aggs = [
        F.min(F.xxhash64(F.col("_sh1"), F.lit(seed + i))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def _cap_hot_buckets(
    banded: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket: int | None,
    stats: dict | None = None,
) -> DataFrame:
    """Bound a pathological LSH-style bucket's quadratic self-join blowup.

    A hot (band, hash) bucket — boilerplate that survives exact dedup —
    generates |bucket|² candidates in the band self-join, the classic
    100 TB scale-killer.  Buckets larger than ``max_bucket`` are
    SALT-SPLIT: each member is deterministically assigned to one of
    ``ceil(|bucket|/max_bucket)`` sub-buckets by hashing its id, and the
    self-join key gains the salt, so only same-salt pairs are generated.
    Candidate count per bucket drops from O(|b|²) to O(|b|·max_bucket) —
    linear in bucket size.  The salt hash mixes the BUCKET KEY with the id,
    so a pair sharing several hot buckets gets an independent salt draw in
    each one; recall cost is bounded (miss probability ≈
    (1−1/splits)^matching_buckets) and only ever applies to members of
    pathological buckets.

    Returns the frame with a ``_salt`` column appended (0 for cold
    buckets).  When ``stats`` is a dict, one small eager aggregate fills
    in ``hot_buckets`` / ``dropped_candidates_est`` — opt-in so the lazy
    path adds no extra job.
    """
    if max_bucket is None:
        return banded.withColumn("_salt", F.lit(0))
    if max_bucket < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    # Two consumers below (the sizing aggregate and the join) — persist so
    # the upstream signature aggregation runs once, not twice.  Tracked:
    # released by the next pipeline-level invocation or release_dedup_cache().
    banded = _persist_tracked(banded)
    # Only the HOT buckets come back: their count is bounded by
    # total_rows / max_bucket and in a real (post-exact-dedup) corpus is
    # tiny, so the left join below broadcasts (AQE) and the cold-bucket
    # common path never shuffles for salting.  The sizing aggregate itself
    # partially aggregates map-side — shuffle volume is distinct buckets
    # per partition, not rows.
    hot = (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket)
    )
    if stats is not None:
        nsplit = F.ceil(F.col("_bsz") / F.lit(max_bucket))
        total_pairs = F.col("_bsz") * (F.col("_bsz") - 1) / 2
        kept_pairs = F.col("_bsz") * F.col("_bsz") / (2 * nsplit)
        row = hot.agg(
            F.count(F.lit(1)).alias("hot"),
            F.coalesce(F.sum(total_pairs - kept_pairs), F.lit(0.0)).alias("dropped"),
        ).collect()[0]
        stats["hot_buckets"] = int(row["hot"])
        stats["dropped_candidates_est"] = int(row["dropped"])
        stats["max_bucket"] = max_bucket
    return (
        banded.join(hot, key_cols, "left")
        .withColumn(
            "_salt",
            F.when(F.col("_bsz").isNull(), F.lit(0)).otherwise(
                F.pmod(
                    F.xxhash64(F.col(id_col), *[F.col(c) for c in key_cols]),
                    F.ceil(F.col("_bsz") / F.lit(max_bucket)).cast("long"),
                ).cast("int")
            ),
        )
        .drop("_bsz")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int | None = 1024,
    stats: dict | None = None,
) -> DataFrame:
    """Band the signature and equi-join on (band_id, band_hash, salt) →
    candidate pairs (a < b).  The join is the ONLY shuffle; no n² scan.
    Buckets above ``max_bucket`` are salt-split (see _cap_hot_buckets) so
    one pathological bucket cannot go quadratic."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(*[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
                "band_hash"
            ),
        )
        for b in range(bands)
    ]
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")
    banded = _cap_hot_buckets(banded, ["band_id", "band_hash"], id_col, max_bucket, stats)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard on the candidate pairs only (the cheap part);
    returns pairs with ``jaccard >= threshold``."""
    sh = shingles if shingles is not None else shingled(docs, id_col, text_col, k)
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = 1024,
    stats: dict | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH bands → verified
    Jaccard pairs."""
    _advance_generation()
    sh_df = _persist_tracked(shingled(df, id_col, text_col, k))
    sigs = minhash_signature(df, id_col, text_col, num_hashes, k, seed, shingles=sh_df)
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes, bands, max_bucket, stats)
    return jaccard_verify(cand, df, id_col, text_col, k, threshold, shingles=sh_df)


def minhash_dedup_pairs_incremental(
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = 1024,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental near-dup detection: verified pairs where AT LEAST ONE
    side is in ``new_docs`` — the shape a daily ingest runs against a 100 TB
    historical corpus.  The candidate band join is (all × new), never
    (all × all): old×old pairs were found when the old batches arrived, so
    re-generating them is the quadratic-over-history cost this avoids.
    Candidate volume scales with |new| × collision rate, independent of
    history size.

    Signatures/bands/salts are computed identically to
    :func:`minhash_dedup_pairs` over the union, so the result equals the
    full pipeline's pairs restricted to those touching a new id
    (equivalence-tested in tests/test_llm_ops.py).  In production the old
    side's signatures come from a signature store (e.g. a versioned table)
    instead of being recomputed; recompute here keeps the operator
    self-contained."""
    _advance_generation()
    docs = old_docs.unionByName(new_docs)
    sh_df = _persist_tracked(shingled(docs, id_col, text_col, k))
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, k, seed, shingles=sh_df)

    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(*[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
                "band_hash"
            ),
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")
    # salt from the FULL frame so both join sides agree per (id, bucket)
    banded = _cap_hot_buckets(banded, ["band_id", "band_hash"], id_col, max_bucket, stats)
    new_ids = new_docs.select(id_col)
    banded_new = banded.join(F.broadcast(new_ids), id_col, "left_semi")
    a = banded.alias("a")
    b = banded_new.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    return jaccard_verify(cand, docs, id_col, text_col, k, threshold, shingles=sh_df)


# ---------------------------------------------------------------------------
# Connected components (duplicate clusters)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    pairs_unique: bool = False,
) -> DataFrame:
    """Min-label propagation WITH pointer doubling over an undirected pair
    list → (node, component) with component = min node id in the component.

    Each iteration does two monotone label-lowering steps:

    1. edge propagation — ``component := min(component, min over neighbors'
       components)`` (one hash join producing neighbor messages into a
       single min-aggregate; each node's own label rides the edge frame
       as a self-loop edge ``(node, node, _self)``, as in LPA);
    2. pointer doubling (shortcut) — ``component := min(component,
       component-of-component)``.  Labels are always node ids of the same
       component, so the label forest is a parent-pointer structure; the
       shortcut halves chain depth each round.

    Step 1 alone converges in O(diameter) rounds and a duplicate chain
    (boilerplate templates) can have diameter ≫ max_iterations; adding
    step 2 makes convergence O(log diameter) — max_iterations=20 covers
    diameters up to ~2^20.  If the loop still exhausts its budget with
    labels changing, this raises rather than returning silently-wrong
    components.  The fixpoint check is an aggregate count (no row collect).

    ``pairs_unique=True`` is a caller promise that ``pairs`` carries each
    undirected pair at most once — it skips the edge-list distinct (a full
    edge-sized exchange); only the self-loops, one per pair end, are
    deduplicated.  The promise is perf-only: min-aggregation is
    duplicate-insensitive, so labels are identical either way; duplicated
    input pairs just inflate every iteration's message join.

    The loop, its checkpoint cadence and the release of its checkpoints
    live in :func:`postpy_spark.operators.fixpoint.fixpoint`.
    """
    if max_iterations < 1:
        # with no iterations the loop body never runs and the identity
        # labeling below would be returned as silently-wrong output
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    a, b = f"`{id_a}`", f"`{id_b}`"
    edges = pairs.selectExpr(
        f"stack(4, {a}, {b}, false, {b}, {a}, false, {a}, {a}, true, {b}, {b}, true)"
        " AS (src, dst, _self)"
    )
    if pairs_unique:
        edges = edges.filter(~F.col("_self")).unionByName(
            edges.filter(F.col("_self")).distinct()
        )
    else:
        edges = edges.distinct()
    # materialize ONCE: every iteration joins edges, and without this the
    # upstream pair generation (e.g. a jaccard pair join) re-executes per
    # iteration — measured 37s -> 6s on graph_connected_components' edge
    # set at sf0.01.  Edge-list-sized, same budget the loop already
    # spends per-iteration on labels.
    edges = edges.localCheckpoint()

    def step(labels: DataFrame | None, _i: int) -> DataFrame:
        """One propagation+doubling step: (node, component, _chg)."""
        if labels is None:
            # FIRST iteration specialized (r14 optimization round 3): the
            # label map is the identity, so the message for edge (src, dst)
            # is dst itself and the self-loop carries the node's own id —
            # the message join AND the distinct-node label seed collapse
            # into one min over the edge list (every node appears as src).
            propagated = edges.groupBy("src").agg(
                F.min("dst").alias("component")
            ).select(F.col("src").alias("node"), "component", F.col("src").alias("_old"))
        else:
            # edge propagation in ONE aggregate over the message join: the
            # self-loop's message is the node's own label, so min(component)
            # IS least(own, neighbor-min) and min(component WHERE _self)
            # recovers the old label for the convergence flag; ``labels`` is
            # referenced once per step.
            propagated = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy(F.col("src").alias("node"))
                .agg(
                    F.min("component").alias("component"),
                    F.min(F.when(F.col("_self"), F.col("component"))).alias("_old"),
                )
            )
        # pointer doubling: component := min(component, component's component)
        parent = propagated.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_component")
        )
        # carry the convergence flag (_chg) inside the same projection: the
        # old per-iteration plan joined new vs old labels in a SEPARATE job
        # just to count changes — one extra shuffle join per iteration.
        # Labels only ever decrease, so changed == (final < previous).
        final_c = F.least(
            F.col("component"), F.coalesce("p_component", F.col("component"))
        )
        return propagated.join(
            parent, propagated.component == parent.p_node, "left"
        ).select(
            "node",
            final_c.alias("component"),
            (final_c < F.col("_old")).alias("_chg"),
        )

    labels, changed = fixpoint(step, None, max_iterations)
    release(edges)
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); raise max_iterations"
        )
    return labels


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **minhash_kwargs,
) -> DataFrame:
    """Near-dup clusters with a canonical (min-id) representative per
    cluster: (node, component) for every doc that has at least one near-dup."""
    pairs = minhash_dedup_pairs(df, id_col, text_col, **minhash_kwargs)
    # minhash pairs are distinct by construction (lsh_candidate_pairs
    # dedups, jaccard_verify is a row-wise filter)
    return connected_components(pairs, pairs_unique=True)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _make_simhash_worker():
    """Factory for the Arrow SimHash bit-count worker (function-scope so
    cloudpickle ships it BY VALUE — the pickle-isolation landmine; pinned
    by tests/test_pickle_isolation.py).

    Input rows: (id, hashes: list<int64>) — token hashes computed by the
    JVM ``xxhash64`` so hashing stays engine-exact; each row is
    independent (no cross-batch state).  Per bit b, the signed count
    Σ(±1) over a doc's hashes is positive iff ones > zeros iff
    2·ones > n — pure integer comparisons, so the signature is
    bit-identical to the old 64-column JVM aggregate by construction
    (additionally pinned on the real corpus by
    tests/test_llm_ops.py::test_arrow_simhash_identical_to_jvm_agg).
    Bit 63 is the long's sign bit: assembling the uint64 bit pattern and
    reinterpreting (.view) as int64 reproduces the old
    ``-(1<<63)``-term arithmetic exactly (two's complement)."""
    lists, _ = make_list_decoder()

    def run(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            ids = batch.column(0)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array([], type=pa.int64())],
                    [batch.schema.names[0], "simhash"],
                )
                continue
            # values cut to [off[0], off[-1]]: the last reduceat segment
            # must end at the batch's last hash, not at the buffer's end
            flat, off = lists(batch.column(1), "simhash worker")
            counts = np.diff(off)
            if (counts <= 0).any():
                # callers filter size>0; np.add.reduceat is wrong on
                # zero-length segments, so fail loudly rather than corrupt
                raise ValueError("simhash worker received an empty token list")
            starts = off[:-1]
            sig = np.zeros(n, dtype=np.uint64)
            for b in range(64):
                ones = np.add.reduceat((flat >> b) & 1, starts)
                sig |= ((2 * ones > counts).astype(np.uint64)) << np.uint64(b)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sig.view(np.int64), type=pa.int64())],
                [batch.schema.names[0], "simhash"],
            )

    return run


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document: JVM tokenization + ``xxhash64`` per
    token (engine-exact hashing), then ONE narrow Arrow pass computing the
    64 per-bit majority votes (r15, guide §4.2).

    The previous shape exploded tokens and ran a groupBy with 64 signed-sum
    columns; its ~130 aggregate buffer fields exceed the whole-stage-codegen
    field budget, so the hot per-token loop executed on the interpreted
    aggregate path and the signature stage alone measured ~1.8-2.7 s of the
    query's ~2.4 s at sf0.1 (270k token rows).  The Arrow worker does the
    same integer bit-counts vectorized (64 shift/and/reduceat kernels per
    batch), with NO exchange at all where the old shape shuffled 64 longs
    per doc.  Docs with zero tokens produce no row, exactly like the old
    explode.  Signatures are bit-identical (integer majority votes; pinned
    by tests/test_llm_ops.py::test_arrow_simhash_identical_to_jvm_agg)."""
    from pyspark.sql.types import LongType, StructField, StructType

    src = df.select(
        F.col(id_col),
        F.transform(
            tokens_col(F.col(text_col)), lambda t: F.xxhash64(t)
        ).alias("_hs"),
    ).filter(F.size("_hs") > 0)
    out_schema = StructType(
        # nullable=False: the worker always emits a signature, and the old
        # aggregate's sum-of-literals column was non-nullable too
        [src.schema[id_col], StructField("simhash", LongType(), False)]
    )
    return src.mapInArrow(_make_simhash_worker(), out_schema)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket: int | None = 1024,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: block the 64 bits into ``blocks`` chunks
    (pigeonhole: ≤ max_hamming differing bits → at least one identical
    chunk), equi-join per chunk, verify Hamming distance ≤ max_hamming.
    Chunk buckets above ``max_bucket`` are salt-split (_cap_hot_buckets).

    Does NOT advance the persist generation itself — hamming_near_pairs
    does, and a double advance per invocation would evict the previous
    identical run's scratch before _persist_tracked refreshes it,
    defeating the one-generation-retained warm-cache reuse (r8 advice)."""
    sh = simhash(df, id_col, text_col)
    return hamming_near_pairs(
        sh, id_col, "simhash", max_hamming, blocks, max_bucket, stats
    )


def hamming_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket: int | None = 1024,
    stats: dict | None = None,
) -> DataFrame:
    """Generic Hamming-≤d pair join over ANY precomputed 64-bit signature
    column (SimHash, perceptual image hash, audio fingerprint): the
    pigeonhole chunk blocking + salted equi-join + exact bit_count
    verify, factored out of the SimHash path so every 64-bit fingerprint
    family shares one scale-safe joiner.

    Advances the persist generation itself: _cap_hot_buckets registers
    tracked scratch here, and direct callers (phash_near_dups,
    multimodal_phash_dedup) would otherwise accumulate persisted RDDs
    across repeated invocations (r7 advice).  Callers that wrap this
    (simhash_near_pairs) must NOT advance again — exactly one advance per
    pipeline entry keeps the previous identical run's scratch alive for
    the one-generation warm-cache reuse (r8 advice)."""
    _advance_generation()
    sh = sigs.withColumnRenamed(sig_col, "simhash") if sig_col != "simhash" else sigs
    width = 64 // blocks
    chunked = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk_val"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_id", "c.chunk_val")
    chunked = _cap_hot_buckets(chunked, ["chunk_id", "chunk_val"], id_col, max_bucket, stats)
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Heavy hitters (frequent terms) — Misra-Gries partial sketch + exact recount
# ---------------------------------------------------------------------------


def frequent_terms(
    docs: DataFrame,
    k: int = 20,
    capacity: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Exact top-k terms by frequency via the two-pass heavy-hitters
    pattern: per-partition Misra-Gries sketches (bounded memory, one pass)
    propose candidates, then one exact recount of ONLY the candidates.

    Guarantee: with per-partition capacity m, every term with
    PER-PARTITION frequency > rows/m survives that partition's sketch, so
    the top-k is exact whenever the k-th term's frequency clears n/m —
    size m to the expected head of the distribution (near-uniform
    distributions need m ≥ vocabulary, the degenerate case; Zipfian text
    needs only m ≫ k).  At 100 TB this replaces a full-vocabulary shuffle
    with a |candidates|-sized one.
    """
    toks = docs.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
    candidates = mg_candidates(toks, capacity)
    recount = (
        toks.join(F.broadcast(candidates), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # The rank window is global but runs over the CANDIDATE frame only,
    # which mg_candidates bounds at partitions x capacity rows — never the
    # vocabulary (tests/test_llm_ops.py pins the bound).
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("w"))
    return (
        recount.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("w", "cnt", "rank")
    )


def mg_candidates(toks: DataFrame, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries candidate terms over a one-column ``w``
    token frame.  At most ``capacity`` rows per input partition by
    construction: the summary is trimmed back to ``capacity`` entries after
    every Arrow batch, so the global candidate frame is bounded at
    partitions x capacity regardless of vocabulary size."""

    def mg_sketch(batches):
        import pandas as pd

        # Batched Misra-Gries via summary MERGE (Agarwal et al., mergeable
        # summaries): each Arrow batch's exact value_counts is itself an MG
        # summary; merging adds counts then subtracts the (capacity+1)-th
        # largest value from everything, dropping non-positives — equivalent
        # to that many per-token decrement rounds, so the n/(capacity+1)
        # error bound (and the survival guarantee above) is preserved while
        # the per-token Python loop becomes three vectorized pandas ops.
        counters = pd.Series(dtype="int64")
        for pdf in batches:
            counters = counters.add(pdf["w"].value_counts(), fill_value=0)
            if len(counters) > capacity:
                cut = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters.sub(cut)
                counters = counters[counters > 0]
        yield pd.DataFrame({"w": counters.index.astype(str)})

    return toks.mapInPandas(mg_sketch, "w STRING").distinct()


# ---------------------------------------------------------------------------
# Directional containment at scale: prefix-filter candidates + exact verify
# ---------------------------------------------------------------------------


def containment_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    max_posting: int | None = 4096,
    stats: dict | None = None,
    shingles: DataFrame | None = None,
    probe_ids: DataFrame | None = None,
    index_ids: DataFrame | None = None,
) -> DataFrame:
    """Directional containment candidates via PREFIX FILTERING (the
    set-similarity-join bound of Chaudhuri/Ganti/Kaushik, ICDE'06):
    if C(A→B) = |S(A)∩S(B)|/|S(A)| ≥ t then B must contain at least one of
    A's ⌊(1-t)·|A|⌋+1 RAREST shingles — so probing the inverted index with
    only that prefix finds every qualifying pair, at a candidate volume
    ∝ prefix size × posting-list length instead of |corpus|².

    Scale mechanics: one groupBy computes global shingle document
    frequencies; one window (partitioned per doc, frame bounded by the
    doc's shingle count) ranks each doc's shingles by (df, shingle) and
    keeps the prefix; the probe side joins the full inverted index on the
    shingle hash — an equi-join, never a cross product.  Shingles with
    df > ``max_posting`` are dropped from BOTH sides (the stop-gram cap —
    same bounded-recall compromise as the LSH hot-bucket cap); the count
    of dropped postings and of docs whose ENTIRE prefix was stopped (the
    only docs that can lose recall) is reported via ``stats``.

    Returns directional (id_src, id_dst): id_src is the potentially
    CONTAINED doc.  Exactness: with no stop-gram drops the candidate set
    provably includes every pair with C ≥ t (pinned in tests).
    """
    sh = shingles if shingles is not None else shingled(df, id_col, text_col, k)
    grams = sh.select(F.col(id_col).alias("_id"), F.explode("_sh").alias("gram"))
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
    if max_posting is not None:
        if stats is not None:
            hot = dfreq.filter(F.col("_df") > max_posting).agg(
                F.count(F.lit(1)).alias("n"), F.sum("_df").alias("postings")
            ).collect()[0]
            stats["stop_grams"] = int(hot.n or 0)
            stats["stopped_postings"] = int(hot.postings or 0)
        dfreq = dfreq.filter(F.col("_df") <= max_posting)
    # inner join drops stop-grams from the index side too
    indexed = grams.join(dfreq, "gram")

    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("gram").asc())
    prefix = (
        indexed.withColumn("_rank", F.row_number().over(w))
        # |A| must count ALL grams (incl. stopped ones) for a sound prefix
        # size — join the true size from the shingle sets
        .join(
            sh.select(F.col(id_col).alias("_id"), F.size("_sh").alias("_n")),
            "_id",
        )
        .filter(F.col("_rank") <= F.floor((1 - threshold) * F.col("_n")) + 1)
    )
    if stats is not None:
        # docs whose surviving prefix is SHORTER than ⌊(1-t)n⌋+1 may lose
        # recall (some of their prefix grams were stopped)
        short = (
            prefix.groupBy("_id", "_n").agg(F.count(F.lit(1)).alias("kept"))
            .filter(F.col("kept") < F.floor((1 - threshold) * F.col("_n")) + 1)
            .count()
        )
        full = sh.count()
        have = prefix.select("_id").distinct().count()
        stats["docs_prefix_truncated"] = int(short + (full - have))
    probe = prefix.select(F.col("_id").alias("id_src"), "gram")
    index = indexed.select(F.col("_id").alias("id_dst"), "gram")
    if probe_ids is not None:
        probe = probe.join(
            F.broadcast(probe_ids.select(F.col(probe_ids.columns[0]).alias("id_src"))),
            "id_src", "semi",
        )
    if index_ids is not None:
        index = index.join(
            F.broadcast(index_ids.select(F.col(index_ids.columns[0]).alias("id_dst"))),
            "id_dst", "semi",
        )
    cand = (
        probe.join(index, "gram")
        .filter(F.col("id_src") != F.col("id_dst"))
        .select("id_src", "id_dst")
        .distinct()
    )
    return cand


def containment_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact directional containment on candidate pairs only:
    C(src→dst) = |S(src)∩S(dst)| / |S(src)| ≥ threshold."""
    sh = shingles if shingles is not None else shingled(docs, id_col, text_col, k)
    a = sh.select(F.col(id_col).alias("id_src"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_dst"), F.col("_sh").alias("sh_b"))
    return (
        pairs.join(a, "id_src")
        .join(b, "id_dst")
        .withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_src", "id_dst", F.round("containment", 6).alias("containment"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    max_posting: int | None = 4096,
    stats: dict | None = None,
) -> DataFrame:
    """Prefix-filter candidates → exact verify: every directional pair with
    C(src→dst) ≥ threshold (exact recall while no stop-gram truncation —
    see containment_candidates)."""
    _advance_generation()
    sh = _persist_tracked(shingled(df, id_col, text_col, k))
    cand = containment_candidates(
        df, id_col, text_col, k, threshold, max_posting, stats, shingles=sh
    )
    return containment_verify(cand, df, id_col, text_col, k, threshold, shingles=sh)


def containment_pairs_incremental(
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    max_posting: int | None = 4096,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental directional containment: every pair with C(src→dst) ≥
    threshold where AT LEAST ONE side is in ``new_docs`` — never old×old
    (those pairs were reported when the old batches arrived; re-deriving
    them is the quadratic-over-history cost this avoids, mirroring
    minhash_dedup_pairs_incremental).

    Two prefix-filter probe passes share one shingle/df frame:
    (a) new-prefixes × FULL index (new doc contained in anything, or
    containing anything) and (b) old-prefixes × NEW-ONLY index (old doc
    contained in a newly-arrived superset doc).  Pass (b)'s index holds
    only the new batch, so its candidate volume ∝ collisions WITH the
    batch, not with history.  Prefix soundness does not depend on df snapshot choice: the
    bound holds for ANY fixed ⌊(1-t)n⌋+1-subset of a doc's shingles, df
    ordering only shrinks posting lists.
    """
    _advance_generation()
    old_dt = old_docs.select(F.col(id_col), F.col(text_col))
    new_dt = new_docs.select(F.col(id_col), F.col(text_col))
    full = old_dt.unionByName(new_dt)
    sh = _persist_tracked(shingled(full, id_col, text_col, k))
    new_ids = new_dt.select(id_col)
    old_ids = old_dt.select(id_col)
    cand_new_src = containment_candidates(
        full, id_col, text_col, k, threshold, max_posting, stats,
        shingles=sh, probe_ids=new_ids,
    )
    cand_old_src = containment_candidates(
        full, id_col, text_col, k, threshold, max_posting, None,
        shingles=sh, probe_ids=old_ids, index_ids=new_ids,
    )
    cand = cand_new_src.unionByName(cand_old_src).distinct()
    return containment_verify(cand, full, id_col, text_col, k, threshold, shingles=sh)


# ---------------------------------------------------------------------------
# Cross-document shared-passage extraction (exact-substring dedup audit)
# ---------------------------------------------------------------------------


def dup_positions(g: DataFrame, pre_aggregate: bool = False) -> DataFrame:
    """(doc_id, pos BIGINT) positions whose gram occurs more than once
    corpus-wide — the shared per-doc-tier core of the repeated-span family
    (token + char + excise).

    Default shape (r14): ONE gram-keyed exchange with a whole-partition
    count window — the fastest form on healthy corpora, with the
    documented trade-off that a gram's raw occurrence rows buffer on one
    window task (the mega-gram straggler risk, r14 queue item 5).

    ``pre_aggregate=True`` is the r15 MEGA-GRAM HATCH (guide §2.5): an
    explicit gram repartition, then a (gram, doc) pre-aggregate (count +
    packed position list) ahead of the count window.  hashpartitioning
    (gram) satisfies every downstream clustering, so the chain still rides
    ONE corpus-sized exchange; the window's group shrinks to one row per
    (gram, doc), the sort-aggregate under it spills gracefully, and an
    intra-doc mega-gram collapses to a single packed row before any
    windowing.  Rows are identical either way (the (doc, pos) multiset is
    re-exploded from the packed lists; pinned by
    tests/test_llm_ops.py::test_dup_positions_preagg_identical and the
    family oracles).  GUARDED rather than default because on healthy
    corpora the packed aggregate measured +14/+29% on the per-doc span
    queries at sf0.1 (an interleaved A/B whose log was never recorded in
    the repo) — enable it for corpora where single documents repeat a
    gram at straggler scale; the 16x mega-gram soak row records both
    paths."""
    wg = Window.partitionBy("gram")
    if not pre_aggregate:
        return (
            g.withColumn("_cnt", F.count(F.lit(1)).over(wg))
            .filter(F.col("_cnt") > 1)
            .select("doc_id", F.col("pos").cast("bigint").alias("pos"))
        )
    pg = (
        g.repartition(F.col("gram"))
        .groupBy("gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("_c"), F.collect_list("pos").alias("_ps"))
    )
    return (
        pg.withColumn("_cnt", F.sum("_c").over(wg))
        .filter(F.col("_cnt") > 1)
        .select("doc_id", F.explode("_ps").alias("pos"))
        .select("doc_id", F.col("pos").cast("bigint").alias("pos"))
    )


def _kept_posting_lists(
    g: DataFrame,
    df_cap: int,
    occ_cap: int,
    stats: dict | None,
    pre_aggregate: bool,
) -> DataFrame:
    """(gram, _l: array<struct<doc_id, pos>>) — the double-capped kept
    posting lists both crossdoc span tiers generate pairs from, over ONE
    gram-keyed exchange (r14).

    Default shape: df/occ caps as whole-partition windows over the raw
    position rows (_df exactly, via a sorted first-row-of-doc flag —
    count_distinct is not window-supported), postings collected per gram.

    ``pre_aggregate=True`` is the r15 mega-gram hatch (same argument and
    guard as :func:`dup_positions`): positions pack into one row per
    (gram, doc) ahead of the cap windows — _df becomes a plain row count,
    the lag flag disappears, window buffers are bounded by document
    frequency — at a measured +4/+7% on healthy corpora at sf0.1, so the
    fast shape stays the default.  Per-gram flags and the kept posting
    multiset are identical either way (caps drop boilerplate mega-grams
    before any collect in BOTH shapes)."""
    wg = Window.partitionBy("gram")
    if pre_aggregate:
        pg = (
            g.repartition(F.col("gram"))
            .groupBy("gram", "doc_id")
            .agg(
                F.count(F.lit(1)).alias("_c"),
                F.collect_list("pos").alias("_ps"),
            )
            .withColumn("_df", F.count(F.lit(1)).over(wg))
            .withColumn("_occ", F.sum("_c").over(wg))
        )
        if stats is not None:
            stats["stop_grams"] = (
                pg.filter((F.col("_df") > df_cap) | (F.col("_occ") > occ_cap))
                .select("gram")
                .distinct()
                .count()
            )
        kept = pg.filter(
            (F.col("_df") >= 2)
            & (F.col("_df") <= df_cap)
            & (F.col("_occ") <= occ_cap)
        )
        return kept.groupBy("gram").agg(
            F.flatten(
                F.collect_list(
                    F.transform(
                        "_ps",
                        lambda p: F.struct(
                            F.col("doc_id").alias("doc_id"), p.alias("pos")
                        ),
                    )
                )
            ).alias("_l")
        )
    wgo = Window.partitionBy("gram").orderBy("doc_id", "pos")
    prev_doc = F.lag("doc_id").over(wgo)
    annotated = (
        g.withColumn(
            "_first",
            F.when(
                prev_doc.isNull() | (prev_doc != F.col("doc_id")), 1
            ).otherwise(0),
        )
        .withColumn("_df", F.sum("_first").over(wg))
        .withColumn("_occ", F.count(F.lit(1)).over(wg))
    )
    if stats is not None:
        stats["stop_grams"] = (
            annotated.filter(
                (F.col("_df") > df_cap) | (F.col("_occ") > occ_cap)
            )
            .select("gram")
            .distinct()
            .count()
        )
    flagged = annotated.filter(
        (F.col("_df") >= 2)
        & (F.col("_df") <= df_cap)
        & (F.col("_occ") <= occ_cap)
    )
    return flagged.groupBy("gram").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("_l")
    )


def crossdoc_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    df_cap: int = 10,
    occ_cap: int = 50,
    min_span: int = 8,
    stats: dict | None = None,
    gram_doc_preagg: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, start_a, start_b, span_tokens, passage): every
    MAXIMAL token span of >= ``min_span`` tokens shared verbatim between
    two DISTINCT documents — the pairwise, positional form of
    exact-substring training-data dedup (Lee et al. 2022,
    arXiv:2107.06499), via the diagonal trick instead of a suffix array:
    a k-gram match at (pos_a, pos_b) lies on diagonal pos_a - pos_b, and
    consecutive matches on one (doc_a, doc_b, diagonal) are exactly the
    gram-level run of one shared substring, so a gaps-and-islands window
    per diagonal recovers each maximal span (length = run + k - 1).

    Distinct from ``dedup_repeated_spans`` (per-DOC duplicated-position
    mass, no pairing) and the containment family (set-based, no
    positions): this op names WHICH pair shares WHAT passage at WHICH
    offsets — the audit/excision record.

    Scale: the only corpus-sized stages are the posexplode and one
    gram-count shuffle.  The posting join is double-capped — a gram
    enters the pair stage only with document frequency in [2, df_cap]
    AND total occurrences <= occ_cap — the same stop-gram policy as the
    containment index (boilerplate grams shared by thousands of docs are
    dropped and COUNTED, not joined; at the soak tier the planted footer
    trips this cap).  Pair points shuffle as ids+ints keyed
    (doc_a, doc_b, diag); the islands window is per-diagonal, never
    global.  The passage text joins back onto the bounded SPAN set, not
    the point set."""
    g = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(shingles_col(F.col(text_col), k=k)).alias("pos", "gram"),
    )
    # r14 optimization — df/occ caps + posting collection over ONE
    # gram-keyed exchange, pair generation IN PLACE from each gram's
    # occ_cap-bounded kept posting list; r15 adds the guarded (gram, doc)
    # pre-aggregate mega-gram hatch.  Full rationale: _kept_posting_lists.
    lists = _kept_posting_lists(g, df_cap, occ_cap, stats, gram_doc_preagg)
    pairs = lists.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(_l, x -> transform(_l, y -> "
                "CASE WHEN x.doc_id < y.doc_id THEN named_struct("
                "'doc_a', x.doc_id, 'doc_b', y.doc_id, "
                "'pos_a', x.pos, 'pos_b', y.pos) END))), p -> p IS NOT NULL)"
            )
        ).alias("_p")
    )
    pts = pairs.select(
        F.col("_p.doc_a").alias("doc_a"),
        F.col("_p.doc_b").alias("doc_b"),
        F.col("_p.pos_a").alias("pos_a"),
        F.col("_p.pos_b").alias("pos_b"),
        (F.col("_p.pos_a") - F.col("_p.pos_b")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    spans = (
        pts.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("bigint").alias("start_a"),
            F.min("pos_b").cast("bigint").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("bigint").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )
    toks = tokens_col(F.col(text_col))
    src = docs.select(F.col(id_col).alias("doc_a"), toks.alias("_toks"))
    return spans.join(src, "doc_a").select(
        "doc_a", "doc_b", "start_a", "start_b", "span_tokens",
        F.array_join(
            F.slice(F.col("_toks"), F.col("start_a") + 1, F.col("span_tokens")),
            " ",
        ).alias("passage"),
    )


def char_repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    gram_doc_preagg: bool = False,
) -> DataFrame:
    """(doc_id, n_spans, max_span_chars, dup_char_positions): per-document
    maximal CHARACTER-level repeated spans — the sub-token tier of
    exact-substring training-data dedup (Lee et al. 2022, arXiv:2107.06499,
    which operates on raw bytes with a suffix array).  A char position p is
    duplicated when the k-char window text[p : p+k] occurs more than once
    in the corpus (including elsewhere in the same doc); consecutive
    duplicated positions merge into one span (gaps-and-islands per doc,
    span length = run + k - 1).

    Why below token granularity: token-5-gram shingling
    (``dedup_repeated_spans``) needs FIVE consecutive shared tokens, so it
    provably misses byte-identical spans that straddle token boundaries —
    a shared 40-char passage whose first and last tokens are glued to
    per-doc unique text contributes at most 4-gram-level token evidence
    and zero 5-gram hits, while every interior k-char window still matches
    exactly (pinned by tests/test_llm_ops.py::
    test_char_spans_catch_token_boundary_straddle).

    Operates on RAW text (no normalization): the point of the char tier is
    byte-exact duplication, where case/whitespace folding would manufacture
    false spans.

    Scale: windows are enumerated by exploding a position sequence and
    substring-ing from the carried text (no len*k gram array is ever
    materialized per doc); the only corpus-sized shuffles are one
    gram-count (map-side partial agg) and one join back on gram; the
    islands window is per-doc, never global.  The shuffled gram key is the
    raw k-char string (k bytes) — exact and oracle-parity-checkable; a
    100 TB deployment would shuffle xxhash64(gram) instead (8 bytes, FP
    probability n²/2⁶⁴) or build per-shard suffix arrays, both documented
    trade-offs of this exact formulation, not fixes to it."""
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    g = (
        base.filter(F.length("_t") >= k)
        .select(
            "doc_id",
            "_t",
            F.explode(
                F.sequence(F.lit(0), F.length("_t") - F.lit(k))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.substring(F.col("_t"), F.col("pos") + 1, k).alias("gram"),
        )
    )
    # Duplicated positions via ONE gram-keyed exchange (r14); the r15
    # (gram, doc) pre-aggregate mega-gram hatch is guarded — see
    # dup_positions for the shape and the measured guard rationale.
    d = dup_positions(g, pre_aggregate=gram_doc_preagg)
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        d.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    agg = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        (F.max("run_len") + F.lit(k - 1)).cast("bigint").alias("max_span_chars"),
        F.sum("run_len").cast("bigint").alias("dup_char_positions"),
    )
    return (
        base.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("max_span_chars", F.lit(0)).cast("bigint")
            .alias("max_span_chars"),
            F.coalesce("dup_char_positions", F.lit(0)).cast("bigint")
            .alias("dup_char_positions"),
        )
    )


def char_crossdoc_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    df_cap: int = 10,
    occ_cap: int = 50,
    min_span: int = 24,
    gram_doc_preagg: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, start_a, start_b, span_chars, passage): every maximal
    CHARACTER span of >= ``min_span`` chars shared verbatim between two
    distinct documents — the pairwise char tier of exact-substring dedup
    (Lee et al. 2022, arXiv:2107.06499), completing the family symmetric
    to the token tier (``char_repeated_spans`` ↔ per-doc mass,
    ``crossdoc_spans`` ↔ token-gram pairs): the diagonal trick on k-char
    window matches — a match at (pos_a, pos_b) lies on diagonal
    pos_a - pos_b, and consecutive matches on one (pair, diagonal) are
    exactly one shared substring, recovered maximally by a
    gaps-and-islands window per diagonal (length = run + k - 1).
    Raw text, no normalization (byte-exact contract).

    Scale: same double-cap stop-gram policy as the token version — a
    window joins only with corpus document frequency in [2, df_cap] AND
    total occurrences <= occ_cap, so boilerplate char runs are dropped,
    never posting-joined; pair points shuffle as ids+ints keyed
    (doc_a, doc_b, diag); the islands window is per-diagonal; passage
    text joins onto the bounded SPAN set only."""
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    g = (
        base.filter(F.length("_t") >= k)
        .select(
            "doc_id",
            "_t",
            F.explode(
                F.sequence(F.lit(0), F.length("_t") - F.lit(k))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.substring(F.col("_t"), F.col("pos") + 1, k).alias("gram"),
        )
    )
    # r14 optimization — ONE gram-keyed exchange end-to-end for candidate
    # generation (measured 9.6 s → 2.8 s at sf0.1, rows identical): df/occ
    # caps as whole-partition windows over the single gram exchange, pair
    # set generated IN PLACE from each gram's kept posting list (bounded
    # <= occ_cap before collect — same fan-out bound the old self-join
    # had).  r15 adds the guarded (gram, doc) pre-aggregate mega-gram
    # hatch.  Full rationale: _kept_posting_lists.
    lists = _kept_posting_lists(g, df_cap, occ_cap, None, gram_doc_preagg)
    pairs = lists.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(_l, x -> transform(_l, y -> "
                "CASE WHEN x.doc_id < y.doc_id THEN named_struct("
                "'doc_a', x.doc_id, 'doc_b', y.doc_id, "
                "'pos_a', x.pos, 'pos_b', y.pos) END))), p -> p IS NOT NULL)"
            )
        ).alias("_p")
    )
    pts = pairs.select(
        F.col("_p.doc_a").alias("doc_a"),
        F.col("_p.doc_b").alias("doc_b"),
        F.col("_p.pos_a").alias("pos_a"),
        F.col("_p.pos_b").alias("pos_b"),
        (F.col("_p.pos_a") - F.col("_p.pos_b")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    spans = (
        pts.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("bigint").alias("start_a"),
            F.min("pos_b").cast("bigint").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("bigint").alias("span_chars"),
        )
        .filter(F.col("span_chars") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_chars")
    )
    src = base.select(F.col("doc_id").alias("doc_a"), F.col("_t"))
    return spans.join(src, "doc_a").select(
        "doc_a", "doc_b", "start_a", "start_b", "span_chars",
        F.substring(
            F.col("_t"), (F.col("start_a") + 1).cast("int"), F.col("span_chars").cast("int")
        ).alias("passage"),
    )
