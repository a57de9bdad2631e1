"""Similarity search over embedding columns (SURVEY.md §2.D).

Brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH-bucketed approximate path for scale.  Per-pair cosine math is JVM-side
higher-order functions (``zip_with`` + ``aggregate``).  Three batch stages
run as ``mapInArrow`` workers instead — the kNN-graph pair dot, the LSH
signatures and the IVF centroid argmax — each a dimension-order left fold
that is bit-identical to the JVM fold, decoding its list column through
:mod:`.arrow_lists`.

Scale design: brute force is a broadcast-nested-loop against a SMALL query
set (queries broadcast, corpus streamed — linear in corpus size); the LSH
path buckets the corpus once (one narrow pass), joins query buckets to
corpus buckets (equi-join), and reranks only the collisions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import LongType, StructField, StructType

from .arrow_lists import make_list_decoder


def dot_expr(a, b):
    """Σ aᵢ·bᵢ in double precision (element-wise zip, sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_expr(a, b):
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def unit_col(vec):
    """vec scaled to unit L2 norm (zero vectors pass through unchanged).
    On unit vectors cosine degenerates to a plain dot — one 64-op fold per
    pair instead of dot + two norms (192 interpreted HOF ops), which is
    the difference that matters when the pair set is orders of magnitude
    larger than the corpus (kNN graph, PQ rerank).  The norm is let-bound
    via the transform(array(...)) trick — a bare HOF lambda would
    re-evaluate the norm fold per element (no CSE across lambdas)."""
    return F.element_at(
        F.transform(
            F.array(norm_expr(vec)),
            lambda n: F.when(
                n > 0, F.transform(vec, lambda x: x.cast("double") / n)
            ).otherwise(F.transform(vec, lambda x: x.cast("double"))),
        ),
        1,
    )


def _make_pair_dot_worker():
    """Factory for the Arrow pair-dot worker (factory-nested so the payload
    cloudpickles by VALUE — the module-level-reference landmine in
    CLAUDE.md; pinned by tests/test_pickle_isolation.py).

    The worker computes ``dot = Σ sv[j]*dv[j]`` as an EXPLICIT LEFT FOLD —
    ``acc`` starts at 0.0 and accumulates one ``x[:, j] * y[:, j]`` term per
    step in index order, each a single-rounding IEEE-754 op vectorized
    across the batch — so the result is bit-identical to the JVM
    ``aggregate(zip_with(a, b, *), 0.0, +)`` fold in :func:`dot_expr`
    (verified eqNullSafe over the full 1.16M-pair sf0.1 set and pinned by
    tests/test_similarity.py).  A plain ``np.einsum``/``np.dot`` would use
    pairwise/blocked summation whose different association can flip
    6-dp-rounding ties — the repo's cross-engine float landmine."""
    _, matrix = make_list_decoder()

    def dot_batches(it):
        import numpy as np
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            src, dst = batch.column("src"), batch.column("dst")
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [src, dst, pa.array([], type=pa.float64())],
                    ["src", "dst", "dot"],
                )
                continue
            x = matrix(batch.column("sv"), "pair-dot scorer")
            y = matrix(batch.column("dv"), "pair-dot scorer")
            if x.shape != y.shape:
                raise ValueError("pair-dot scorer received vectors of different lengths")
            acc = np.zeros(n, dtype=np.float64)
            for j in range(x.shape[1]):
                acc += x[:, j] * y[:, j]
            yield pa.RecordBatch.from_arrays(
                [src, dst, pa.array(acc, type=pa.float64())],
                ["src", "dst", "dot"],
            )

    return dot_batches


def dot_scored_pairs(
    pairs: DataFrame, vecs: DataFrame, round_dp: int | None = 6
) -> DataFrame:
    """(src, dst) id pairs + (id, v) unit vectors → (src, dst, cosine):
    the single exact-scoring pass of the kNN-graph family.

    Vectors join back onto the (deduped) pair set exactly once — both
    joins broadcast the corpus-sized vector frame — and the per-pair dot
    runs in ONE Arrow batch pass (``mapInArrow``; guide §4.2) instead of
    the interpreted per-element HOF fold: measured 2.7 → 2.1 s on the
    1.16M-pair sf0.1 scored stage, bit-identical output (see
    :func:`_make_pair_dot_worker`).  Rounding stays JVM-side so HALF_UP
    semantics are untouched."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    joined = (
        pairs.join(vecs.select(F.col("id").alias("src"), F.col("v").alias("sv")), "src")
        .join(vecs.select(F.col("id").alias("dst"), F.col("v").alias("dv")), "dst")
        .select("src", "dst", "sv", "dv")
    )
    out_schema = StructType(
        [
            joined.schema["src"],
            joined.schema["dst"],
            StructField("dot", DoubleType()),
        ]
    )
    scored = joined.mapInArrow(_make_pair_dot_worker(), out_schema)
    if round_dp is None:  # raw dots — the bit-identity test's probe surface
        return scored.select("src", "dst", F.col("dot").alias("cosine"))
    return scored.select(
        "src", "dst", F.round(F.col("dot"), round_dp).alias("cosine")
    )


def both_directions(scored: DataFrame) -> DataFrame:
    """(src, dst, cosine) → both edge directions in ONE pass: an explode
    over a 2-struct array instead of ``scored ∪ scored.reversed`` — the
    union shape re-evaluates the whole scored subtree (joins + dot) per
    branch because Spark has no cross-branch subplan CSE (the r14 plan
    artifacts show the duplicated subtree); the generator emits both rows
    from a single evaluation.  Row set identical."""
    return scored.select(
        "cosine",
        F.explode(
            F.array(
                F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
            )
        ).alias("e"),
    ).select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"), "cosine")


def cosine_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact all-pairs cosine (i < j).  O(n²) — small-n verification tool
    and the oracle for recall tests; never the scale path."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine_expr(F.col("va"), F.col("vb")), 6).alias("cosine"))
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN: broadcast the query set across the corpus, one window
    for the per-query top-k.  Linear in |corpus|, parallel over partitions."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    scored = c.join(broadcast(q), F.col("query_id") != F.col("cand_id")).select(
        "query_id",
        "cand_id",
        F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def range_search(
    queries: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact radius search: every corpus vector within cosine ``threshold``
    of each query.  Broadcast the query set across the corpus — linear in
    |corpus|, parallel over partitions, no window (unlike top-k there is
    no rank, so the filter is the whole reduction).  The threshold is
    applied to the ROUNDED cosine so boundary pairs cannot flip on
    last-bit float noise.  Scale path for corpus×corpus radius joins is
    the bucketed form (embedding_cosine_dedup); this is the
    query-set-vs-corpus shape."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    return (
        c.join(broadcast(q), F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim)).tolist()


def _make_signature_worker(planes: list[list[float]], bands: int):
    """Factory for the Arrow LSH-signature worker (factory-nested so the
    payload cloudpickles by VALUE — the module-level-reference landmine in
    CLAUDE.md; pinned by tests/test_pickle_isolation.py).

    Emits ``bands`` rows (id, band_id, band_val) per input (id, v) row —
    the posexploded shape of the Column-DSL sign-bit fold — with each of the
    ``n_bits`` projections computed as an EXPLICIT LEFT FOLD over
    dimensions in index order (``acc += x[:, j] * plane[:, j]``, one
    single-rounding IEEE multiply + add per step, vectorized across the
    batch), so every projection — and therefore every sign bit and band
    value — is bit-identical to the JVM ``dot_expr`` fold the Column-DSL
    signature pipeline evaluates (the :func:`_make_pair_dot_worker`
    determinism argument, applied to the hyperplane stage; pinned by
    tests/test_llm_ops.py::test_arrow_signatures_identical_to_hof).
    Types match the
    DSL path exactly: band_id is the posexplode pos (int32), band_val the
    int32 bit fold — downstream ``xxhash64(id, band_id)`` salting hashes
    by type, so the widths must not drift."""
    _, matrix = make_list_decoder()

    def sig_batches(it):
        import numpy as np
        import pyarrow as pa

        p = np.asarray(planes, dtype=np.float64)  # (n_bits, dim)
        n_bits = p.shape[0]
        width = n_bits // bands
        for batch in it:
            n = batch.num_rows
            ids = batch.column(0)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array([], type=pa.int32()),
                        pa.array([], type=pa.int32()),
                    ],
                    [batch.schema.names[0], "band_id", "band_val"],
                )
                continue
            x = matrix(batch.column(1), "signature worker")
            acc = np.zeros((n, n_bits), dtype=np.float64)
            for j in range(x.shape[1]):
                # acc[:, i] += x[:, j] * p[i, j] — per (row, bit) this is the
                # same j-ascending fold as dot_expr's aggregate
                acc += x[:, j : j + 1] * p[:, j]
            bits = (acc >= 0).astype(np.int64)
            vals = np.zeros((n, bands), dtype=np.int64)
            for b in range(bands):
                v = np.zeros(n, dtype=np.int64)
                for r in range(width):
                    v = v * 2 + bits[:, b * width + r]
                vals[:, b] = v
            idx = np.repeat(np.arange(n, dtype=np.int64), bands)
            band_id_tile = np.tile(np.arange(bands, dtype=np.int32), n)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(idx)),
                    pa.array(band_id_tile, type=pa.int32()),
                    pa.array(vals.reshape(-1).astype(np.int32), type=pa.int32()),
                ],
                [batch.schema.names[0], "band_id", "band_val"],
            )

    return sig_batches


def lsh_signatures_exploded(
    corpus: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band_id, band_val) — one row per (vector, band), computed in
    ONE Arrow batch pass (guide §4.2) instead of ``n_bits`` interpreted HOF
    dot folds per row.  Band values and types are bit-identical to the
    Column-DSL sign-bit fold kept as the reference in
    tests/test_llm_ops.py::test_arrow_signatures_identical_to_hof."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    sig_in = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    out_schema = StructType(
        [
            sig_in.schema["id"],
            StructField("band_id", IntegerType()),
            StructField("band_val", IntegerType()),
        ]
    )
    return sig_in.mapInArrow(_make_signature_worker(planes, bands), out_schema)


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate k-NN: sign-of-projection signatures → per-band bucket
    equi-join → exact cosine rerank of collisions only.

    More bands ⇒ higher recall, more candidates.  With 8 bands of 2 bits
    the candidate set is a small corpus fraction while recall vs brute
    force stays ≥0.9 on clustered data (asserted in tests).
    """
    planes = _hyperplanes(dim, n_bits, seed)
    # Signatures carry ONLY ids (knn_graph's discipline): the bucket join
    # and the cross-band pair dedup move id pairs, never d-float vectors,
    # and each distinct pair is scored once after the vectors join back.
    sig = lambda df, name: lsh_signatures_exploded(  # noqa: E731
        df, planes, bands, id_col=id_col, vec_col=vec_col
    ).select(F.col("id").alias(name), "band_id", "band_val")
    pairs = (
        sig(corpus, "cand_id")
        .join(broadcast(sig(queries, "query_id")), ["band_id", "band_val"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .dropDuplicates(["query_id", "cand_id"])
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    scored = (
        pairs.join(broadcast(q), "query_id")
        .join(c, "cand_id")
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + cell probing
# ---------------------------------------------------------------------------


def ivf_build(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: (centroids, assignments).

    Centroid seeding is a deterministic uniform pseudo-random sample: order
    by a salted ``xxhash64`` of the id and take the first ``n_cells``.  That
    compiles to ``TakeOrderedAndProject`` — each partition keeps its local
    top-``n_cells``, the driver merges ``n_cells`` rows — so the one stage
    that sees the full corpus is a narrow pass with NO global sort, NO
    driver-side ``count()``, and NO unpartitioned window (the round-1
    seeding ranked the whole corpus through one task; plan-asserted gone in
    ``tests/test_plan_shapes.py``).  ``cell_id`` is the seed vector's own id,
    so no ranking step exists at all.

    Each corpus vector is assigned to its max-cosine centroid by the
    Arrow argmax worker (:func:`_assign`).  Returns (centroids(cell_id,
    cv), corpus+cell_id).  At 100 TB the assignment is the only other full-corpus pass and it is a
    narrow map — no shuffle.
    """
    centroids = (
        corpus.select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cv"))
        .orderBy(F.xxhash64(F.col("cell_id"), F.lit(seed)))
        .limit(n_cells)
    )
    return centroids, _assign(corpus, centroids, id_col, vec_col)


def ivf_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd refinement of an IVF coarse quantizer: new centroid = mean of
    the vectors assigned to the cell, then reassign.  All distributed:
    posexplode → per-(cell, dim) partial-aggregated mean → reassemble the
    mean vector with a sorted collect over the (n_cells × dim) frame —
    never over corpus rows.  Each iteration is one corpus pass (broadcast
    argmax) plus one dimension-wise aggregate; k-means's monotone inertia
    descent applies.  Returns (centroids, assignments)."""
    assigned = _assign(corpus, centroids, id_col, vec_col)
    for _ in range(n_iter):
        dims = assigned.select("cell_id", F.posexplode(F.col(vec_col)))
        means = dims.groupBy("cell_id", "pos").agg(F.avg("col").alias("m"))
        centroids = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
        # truncate the centroid lineage: without this the lazy lineage
        # re-derives every earlier assignment pass (each a full-corpus
        # argmax) once per downstream consumer, so k refine iterations
        # cost O(k^2) corpus scans instead of O(k) (measured:
        # refine_iters=2 ivf_topk 5.0s -> ~2.5s at sf0.1).  LAZY:
        # _assign's unit-centroid collect is the materializing action, so
        # each iteration is ONE job (the eager form spent a separate
        # checkpoint job per iteration on the same n_cells x d frame).
        centroids = centroids.localCheckpoint(eager=False)
        assigned = _assign(corpus, centroids, id_col, vec_col)
    return centroids, assigned


def _make_assign_worker(cells: list[tuple[int, list[float]]]):
    """Factory for the Arrow centroid-assignment worker (factory-nested —
    pickle-by-value landmine; pinned by tests/test_pickle_isolation.py).

    ``cells``: (cell_id, unit centroid) SORTED by cell_id ascending — the
    unit vectors are the JVM ``unit_col`` outputs collected from the
    centroid frame, so normalization bits are exactly the DSL path's.
    Each dot is the explicit left fold over dimensions in index order
    (bit-identical to ``dot_expr`` — the :func:`_make_pair_dot_worker`
    argument), and the argmax scans cells in ascending cell_id replacing
    only on STRICTLY greater similarity — exactly the old
    ``max_by(cell_id, struct(_sim, -cell_id))`` tie-break (highest sim,
    then lowest cell_id).  Emits (id, vec, cell_id) passthrough rows —
    no exchange at all, where the BNLJ+max_by shape shuffled |corpus|
    rows per assignment pass."""
    _, matrix = make_list_decoder()

    def assign_batches(it):
        import numpy as np
        import pyarrow as pa

        cid = np.asarray([c[0] for c in cells], dtype=np.int64)
        C = np.asarray([c[1] for c in cells], dtype=np.float64)  # (k, d)
        for batch in it:
            n = batch.num_rows
            ids, vec = batch.column(0), batch.column(1)
            if n == 0 or len(cells) == 0:
                # empty centroid set: the old crossJoin produced no rows
                yield pa.RecordBatch.from_arrays(
                    [ids.slice(0, 0), vec.slice(0, 0), pa.array([], type=pa.int64())],
                    [batch.schema.names[0], batch.schema.names[1], "cell_id"],
                )
                continue
            x = matrix(vec, "assignment worker")
            best_sim = None
            best_cell = np.empty(n, dtype=np.int64)
            for ci in range(C.shape[0]):
                acc = np.zeros(n, dtype=np.float64)
                for j in range(x.shape[1]):
                    acc += x[:, j] * C[ci, j]
                if best_sim is None:
                    best_sim = acc
                    best_cell[:] = cid[ci]
                else:
                    upd = acc > best_sim  # strict: ties keep the lower cell_id
                    best_sim = np.where(upd, acc, best_sim)
                    best_cell[upd] = cid[ci]
            yield pa.RecordBatch.from_arrays(
                [ids, vec, pa.array(best_cell, type=pa.int64())],
                [batch.schema.names[0], batch.schema.names[1], "cell_id"],
            )

    return assign_batches


def _assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Max-cosine argmax of each corpus vector over the centroids, as ONE
    Arrow batch pass (r14 optimization round 3, guide §4.2/§2.4).

    Scored as a plain dot against UNIT centroids: argmax_c cos(v, c) =
    argmax_c dot(v, ĉ) because |v| is constant across the candidate cells.
    The unit centroids are computed by the JVM ``unit_col`` over the
    n_cells-row frame and COLLECTED (driver-bounded k×d doubles — the
    same class as the PQ codebooks / bloom bitmap / kmeans seeds), then
    shipped to the worker as a closure; dots are dimension-order left
    folds, so similarities — and the strictly-greater/ascending-cell
    argmax tie-break — are bit-identical to the retired all-JVM
    BNLJ + ``max_by(cell_id, struct(_sim, -cell_id))`` shape (kept as the
    reference in
    tests/test_llm_ops.py::test_arrow_assignment_identical_to_maxby).

    Scale: the old shape shuffled |corpus| rows through the max_by
    aggregate per assignment pass (the r12 fix that replaced the
    row_number window); the worker form is a NARROW passthrough — no
    exchange at all, and n_cells no longer multiplies per-row fold cost
    through the interpreted HOF evaluator."""
    cells = [
        (int(r["cell_id"]), [float(x) for x in r["_ucv"]])
        for r in centroids.select(
            "cell_id", unit_col(F.col("cv")).alias("_ucv")
        ).collect()
    ]
    cells.sort(key=lambda c: c[0])
    src = corpus.select(F.col(id_col), F.col(vec_col))
    out_schema = StructType(
        [
            src.schema[id_col],
            src.schema[vec_col],
            StructField("cell_id", LongType()),
        ]
    )
    return src.mapInArrow(_make_assign_worker(cells), out_schema)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF approximate k-NN: probe the ``n_probe`` closest cells per query,
    exact-rerank only vectors in those cells.  Work scales with
    |corpus|·(n_probe/n_cells) instead of |corpus|.  ``refine_iters`` runs
    Lloyd iterations on the coarse quantizer (better-balanced cells →
    better recall per probe) at one corpus pass per iteration."""
    centroids, assigned = ivf_build(corpus, n_cells, id_col, vec_col, seed)
    if refine_iters:
        centroids, assigned = ivf_refine(
            corpus, centroids, refine_iters, id_col, vec_col
        )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # probe ranking: dot against unit centroids == cosine ranking (|q| is
    # constant per query) — same trick as _assign
    cn = centroids.select("cell_id", unit_col(F.col("cv")).alias("_ucv"))
    qc = q.crossJoin(broadcast(cn)).select(
        "query_id", "qv", "cell_id",
        dot_expr(F.col("qv"), F.col("_ucv")).alias("_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cell_id"))
    probed = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "qv", "cell_id")
    )
    cand = assigned.join(broadcast(probed), "cell_id").filter(
        F.col("query_id") != F.col(id_col)
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        F.round(cosine_expr(F.col("qv"), F.col(vec_col)), 6).alias("cosine"),
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cell: int | None = 4096,
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster with the coarse k-means quantizer, compare pairs ONLY within a
    cluster, drop every vector whose cosine to a lower-id cluster-mate
    clears ``threshold``.

    Returns (vec_id, cell_id, keep, dup_of) — ``dup_of`` is the lowest-id
    near-identical cluster-mate (null when kept; in a duplicate chain it
    may itself be dropped — survivors are exactly the vectors with no
    near-identical LOWER-id mate).  The no-close-pair-survives guarantee
    holds WITHIN a k-means cell (and, for cells above ``max_cell``, within
    a salt-split sub-cell): near-identical vectors that k-means assigns to
    DIFFERENT cells both survive — inherent to SemDeDup blocking.

    Scale: the quadratic pair comparison is bounded per cluster — total
    work Σ cell² instead of n², the same blocking argument as the LSH/
    simhash paths; cluster assignment is a broadcast argmax (no shuffle),
    and the pair join is an equi-join on (cell_id, salt).  A pathological
    dense cell (boilerplate embeddings clumping onto one centroid) is the
    same scale-killer as an LSH hot bucket, so cells above ``max_cell``
    are salt-split by the shared :func:`_cap_hot_buckets` machinery —
    per-cell candidate work drops from O(|cell|²) to O(|cell|·max_cell),
    at a bounded recall cost reported via ``stats``
    (``hot_buckets`` / ``dropped_candidates_est``)."""
    from .dedup import _advance_generation, _cap_hot_buckets

    _advance_generation()
    if n_cells is None:
        # Adaptive quantizer size — the r8 scale-soak finding: a FIXED cell
        # count makes within-cell pair work n²/n_cells, i.e. quadratic in
        # corpus size (measured 50x wall-time at a 16x tier).  Targeting
        # ~512 vectors per cell keeps pair work ≈ n·512 — linear — at the
        # cost of one count() job; max_cell remains the backstop for the
        # planted-dense-cluster pathology.  16 floor keeps tiny corpora on
        # the historical golden-fixture path.
        n_cells = max(16, min(4096, corpus.count() // 512))
    centroids, assigned = ivf_build(corpus, n_cells, id_col, vec_col, seed)
    if refine_iters:
        centroids, assigned = ivf_refine(
            corpus, centroids, refine_iters, id_col, vec_col
        )
    # The narrow Arrow worker inherits the SCAN's partitioning (often one
    # file = one task at bench scale), which in r14 collapsed the
    # within-cell cosine stage onto a single task (+60% — the reason the
    # Arrow argmax was then rejected here).  Repartitioning by cell_id
    # restores pair-stage parallelism, and because the exchange sits BELOW
    # _cap_hot_buckets' persist it is paid once at cache fill; the cached
    # partitioning (hashpartitioning(cell_id)) also satisfies the pair
    # join's (cell_id, _salt) clustering, so no further exchange follows.
    assigned = assigned.repartition(F.col("cell_id"))
    assigned = _cap_hot_buckets(assigned, ["cell_id"], id_col, max_cell, stats)
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "cell_id", "_salt"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("cell_id").alias("cell_b"), F.col("_salt").alias("salt_b"),
    )
    # r15 restructure (guide §2.4; r14 queue item 9): the final left join of
    # the assignment against the pair aggregate is FOLDED INTO the pair
    # aggregate itself — the self-join keeps each vector's SELF row
    # (id_b <= id_a instead of strict <), so every vector reaches the
    # aggregate and ``dup_of`` is a conditional min over the strict lower-id
    # near-identical mates.  The assignment subtree now has exactly TWO
    # consumers (the join sides) instead of three, and one exchange + one
    # join disappear from the plan.  The cosine is evaluated under the same
    # strict id_b < id_a guard the old join filter applied, so per-pair
    # float work (and results) are identical; self rows contribute only
    # their presence.
    dup_pairs = (
        a.join(
            b,
            (F.col("cell_id") == F.col("cell_b"))
            & (F.col("_salt") == F.col("salt_b"))
            & (F.col("id_b") <= F.col("id_a")),
        )
        .groupBy("id_a")
        .agg(
            F.first("cell_id").alias("cell_id"),
            F.min(
                F.when(
                    (F.col("id_b") < F.col("id_a"))
                    & (cosine_expr(F.col("va"), F.col("vb")) >= threshold),
                    F.col("id_b"),
                )
            ).alias("dup_of"),
        )
    )
    return dup_pairs.select(
        F.col("id_a").alias(id_col),
        "cell_id",
        F.col("dup_of").isNull().alias("keep"),
        "dup_of",
    )


# ---------------------------------------------------------------------------
# MMR diversified retrieval
# ---------------------------------------------------------------------------


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR'98):
    per query, greedily pick k of the top-``n_candidates`` neighbors
    maximizing ``lam*sim(q,c) - (1-lam)*max_{s∈S} sim(c,s)`` — relevant
    results that are NOT near-duplicates of ones already chosen (the RAG
    context-diversity op).

    Scale design: the candidate stage is the pluggable retrieval path
    (exact broadcast k-NN here; swap ANN for 100 TB) and does all the
    corpus-sized work.  The greedy stage is ``applyInPandas`` over groups
    BOUNDED at n_candidates rows (vectors ride along, so no second corpus
    join), giving O(k·n_candidates²) work per query distributed across
    queries — the corpus never enters the Python path.  Ties break on
    cand_id; scores are rounded to 6 so results are engine-stable.
    """
    cands = brute_force_topk(queries, corpus, k=n_candidates, id_col=id_col, vec_col=vec_col)
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    packed = (
        cands.select("query_id", "cand_id", "cosine")
        .join(broadcast(qv), "query_id")
        .join(cv, "cand_id")
    )

    out_schema = (
        "query_id bigint, cand_id bigint, relevance double, "
        "mmr_score double, mmr_rank bigint"
    )

    return packed.groupBy("query_id").applyInPandas(
        _make_mmr_greedy(k, lam), out_schema
    )


def _make_mmr_greedy(k: int, lam: float):
    """Build the per-query greedy MMR payload.  The returned inner function
    is function-scope, so cloudpickle ships it BY VALUE — the worker never
    needs to import postpy_spark (pinned in tests/test_pickle_isolation.py).
    """
    import numpy as np
    import pandas as pd

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand_id").reset_index(drop=True)
        q = np.asarray(pdf["qv"].iloc[0], dtype=np.float64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
        nrm = np.linalg.norm(mat, axis=1)
        rel = mat @ q / (nrm * np.linalg.norm(q))
        # pairwise candidate cosine (n_candidates² floats — tiny)
        sim = (mat @ mat.T) / np.outer(nrm, nrm)
        chosen: list[int] = []
        scores: list[float] = []
        avail = list(range(len(pdf)))
        while avail and len(chosen) < k:
            if chosen:
                penalty = sim[np.ix_(avail, chosen)].max(axis=1)
            else:
                penalty = np.zeros(len(avail))
            mmr = lam * rel[avail] - (1.0 - lam) * penalty
            best = int(np.argmax(np.round(mmr, 9)))  # ties → lowest cand_id
            chosen.append(avail[best])
            scores.append(float(mmr[best]))
            avail.pop(best)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[chosen].to_numpy(),
                "cand_id": pdf["cand_id"].iloc[chosen].to_numpy(),
                "relevance": np.round(rel[chosen], 6),
                "mmr_score": np.round(scores, 6),
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int64),
            }
        )

    return greedy


# ---------------------------------------------------------------------------
# Approximate k-NN GRAPH (all-vectors top-k, LSH-blocked self-join)
# ---------------------------------------------------------------------------


def knn_graph(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 8,
    seed: int = 42,
    max_bucket: int = 256,
) -> DataFrame:
    """(src, dst, cosine, rank≤k): approximate nearest-neighbor GRAPH —
    every corpus vector gets its top-k neighbors, the substrate for
    graph-based dedup/clustering (kNN + connected components ≈ density
    clustering).  Unlike ann_lsh_topk there is no broadcastable query
    side: candidates come from a bucket EQUI-self-join per band (2-bit
    bands like ann_lsh_topk — wide enough for recall on clustered
    data), hot buckets salt-split so one dense bucket cannot go
    quadratic (same policy as the MinHash path's _cap_hot_buckets).
    The salt is hash(id, band_id) — INDEPENDENT per band — so a pair
    split apart in one band can still collide in another; with B
    always-hot bands the residual loss is (1-1/s)^B, not
    (1-1/s).  Pairs dedup across
    bands before the ONE exact-cosine scoring pass; per-src top-k is a
    window over candidate lists, never the corpus.

    Zero-vector convention: a zero embedding passes through ``unit_col``
    unchanged, so every pair involving it scores ``cosine = 0.0`` and it
    ranks normally in the top-k window (``cosine_expr`` would instead
    yield NULL from the 0/0).  0.0 — "no similarity signal" — is the
    deliberate choice here: a kNN GRAPH wants every node to have edges,
    and NULL cosines would sort last anyway under DESC NULLS LAST while
    silently dropping the node's own neighbor list in strict consumers."""
    planes = _hyperplanes(dim, n_bits, seed)
    # Signatures carry ONLY (id, band_id, band_val): the candidate self-join
    # and the cross-band pair dedup shuffle 16-byte id pairs, not the
    # d-float payload (~60x fewer shuffle bytes per pair at dim=64).
    # Vectors join back exactly once, onto the already-deduped pair set,
    # for the single exact-cosine scoring pass.
    # materialize the signature frame ONCE (r14 optimization, round 2 cut):
    # the hyperplane pipeline (16 HOF dots per vector) is the expensive part
    # and is referenced by the sizing aggregate AND (through the salt join)
    # both self-join sides — Spark has no cross-branch subplan CSE.
    # Checkpointing BEFORE the sizing/salt join beats checkpointing the
    # salted output (the r14 first cut): the salt join's inputs both derive
    # from the checkpointed rows, so re-planning it per branch costs only a
    # bucket-count aggregate over n_vectors x bands small ints, while the
    # old shape evaluated the full HOF pipeline twice (sizing + join) just
    # to build the frame being checkpointed.  Measured 6.4 s -> 4.4 s warm
    # for the full seed at sf0.1, rows identical (exceptAll 0/0).
    # The signature pipeline itself is ONE Arrow batch pass (r14
    # optimization round 3, guide §4.2): the Column-DSL form ran n_bits=16
    # interpreted HOF dot folds per vector; the worker left-folds the
    # projections batch-wise — band values bit-identical (pinned by
    # tests/test_llm_ops.py::test_arrow_signatures_identical_to_hof).
    sig = lsh_signatures_exploded(
        corpus, planes, bands, id_col=id_col, vec_col=vec_col
    ).localCheckpoint()
    sizes = sig.groupBy("band_id", "band_val").agg(F.count(F.lit(1)).alias("_bn"))
    salted = sig.join(broadcast(sizes), ["band_id", "band_val"]).withColumn(
        "salt",
        F.when(
            F.col("_bn") > max_bucket,
            F.pmod(
                F.xxhash64(F.col("id"), F.col("band_id")),
                F.ceil(F.col("_bn") / max_bucket),
            ),
        ).otherwise(F.lit(0)),
    )
    a = salted.select("band_id", "band_val", "salt", F.col("id").alias("src"))
    b = salted.select("band_id", "band_val", "salt", F.col("id").alias("dst"))
    pairs = (
        a.join(b, ["band_id", "band_val", "salt"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    # Normalize ONCE per corpus row; the pair set is orders of magnitude
    # larger than the corpus, so paying one unit_col fold per vector buys
    # a 3× cheaper per-pair score (a 64-op dot instead of the 192-op
    # dot + two norms that cosine_expr would interpret per pair).
    vecs = corpus.select(
        F.col(id_col).alias("id"), unit_col(F.col(vec_col)).alias("v")
    )
    undirected = both_directions(dot_scored_pairs(pairs, vecs))
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    return (
        undirected.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def nndescent_round(
    graph: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One NN-descent refinement round (Dong, Moses & Li 2011, "Efficient
    k-nearest neighbor graph construction for generic similarity
    measures", WWW'11) over an existing approximate kNN graph: a node's
    improved neighbor candidates are its neighbors' neighbors in the
    UNDIRECTED graph, because if v is near u and w is near v, w is
    plausibly near u.  Candidates = two-hop pairs through B = graph ∪
    reverse(graph), unioned with the existing edges, exact-rescored once,
    re-top-k'd — the refinement monotonically improves recall (the old
    edges are in the candidate set, so a node never loses a neighbor it
    already had to a worse one).

    ``graph``: (src, dst, cosine, rank) — any seed (knn_graph output, a
    cheap low-band LSH pass, or a prior round's result).  Returns the
    same shape.

    Scale: never touches the corpus×corpus space.  Forward degree is ≤k
    by contract, but REVERSE degree is unbounded — on high-dim data a
    hub vector appears in hundreds of nodes' top-k lists, and the
    friends-of-friends join is quadratic in degree (measured 31.8 s vs
    the 9.2 s seed at sf0.1 before the cap).  The paper's fix is
    sampling each node's reverse neighbors (the ρK parameter, Dong et
    al. §2.3); here the reverse edges are capped at the k best by
    cosine (dst tie-break) in a per-node window, bounding candidate
    volume at (2k)² id-pairs per node.  The two-hop join and the pair
    dedup shuffle 16-byte id pairs only; vectors join back ONCE onto the
    deduped candidate set (same discipline as knn_graph); top-k is a
    per-src window over candidate lists, never the corpus."""
    edges = graph.select("src", "dst", "cosine")
    w_rev = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst")
    )
    reverse_capped = (
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
        )
        .withColumn("_rr", F.row_number().over(w_rev))
        .filter(F.col("_rr") <= k)
        .select("src", "dst")
    )
    undirected = edges.select("src", "dst").unionByName(
        reverse_capped
    ).dropDuplicates(["src", "dst"])
    hop2 = (
        undirected.alias("uv")
        .join(
            undirected.select(
                F.col("src").alias("dst"), F.col("dst").alias("dst2")
            ).alias("vw"),
            "dst",
        )
        .filter(F.col("uv.src") != F.col("vw.dst2"))
        .select(F.col("uv.src").alias("src"), F.col("dst2").alias("dst"))
    )
    # old edges enter the pair set in BOTH orders, uncapped (≤k|V| rows):
    # monotonicity — "a node never loses a neighbor it already had" —
    # requires every existing pair to survive the src<dst fold even when
    # the reverse cap dropped its mirror from the hop-2 substrate.
    old_pairs = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cands = (
        old_pairs.unionByName(hop2)
        .filter(F.col("src") < F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    vecs = vectors.select(
        F.col(id_col).alias("id"), unit_col(F.col(vec_col)).alias("v")
    )
    both = both_directions(dot_scored_pairs(cands, vecs))
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    return (
        both.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def nndescent(
    graph: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rounds: int = 3,
    min_new_frac: float = 0.01,
    stats: dict | None = None,
) -> DataFrame:
    """Full NN-descent (Dong et al. 2011): iterate :func:`nndescent_round`
    until a round contributes fewer than ``min_new_frac`` x |E| new edges
    (0.0 = run to exact fixpoint) or ``max_rounds`` is hit — the
    convergence loop production kNN-graph builders run, on top of the
    single round the contract registers.

    Scale: the driver loop is bounded by ``max_rounds`` and each round is
    ONE action: the round's result is lazily localCheckpoint()ed (so the
    lineage does not grow with rounds; graphs are k|V| rows — small
    relative to the corpus) and a single aggregate over it, left-joined
    to the previous round's edge keys, returns both the new-edge count
    and the edge count — never a collect of rows.

    ``stats`` (optional dict) records the convergence trajectory:
    ``rounds`` run, ``converged`` (early-stop fired), and ``per_round``
    = [{new_edges, total_edges, new_frac}, ...] — the driver-visible
    attestation the scale soak records (docs/SCALE_SOAK.md)."""
    prev = graph.localCheckpoint()
    per_round: list[dict] = []
    converged = False
    for _ in range(max_rounds):
        nxt = nndescent_round(
            prev, vectors, k, id_col=id_col, vec_col=vec_col
        ).localCheckpoint(eager=False)
        # distinct keys: the left join keeps nxt's row count exactly
        seen = prev.select("src", "dst").distinct().withColumn("_seen", F.lit(1))
        counts = (
            nxt.select("src", "dst")
            .join(seen, ["src", "dst"], "left")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.count(F.when(F.col("_seen").isNull(), 1)).alias("new"),
            )
            .first()
        )
        new_edges, total = counts["new"], counts["total"]
        prev = nxt
        per_round.append(
            {
                "new_edges": new_edges,
                "total_edges": total,
                "new_frac": round(new_edges / max(total, 1), 4),
            }
        )
        if new_edges <= min_new_frac * max(total, 1):
            converged = True
            break
    if stats is not None:
        stats["rounds"] = len(per_round)
        stats["converged"] = converged
        stats["per_round"] = per_round
    return prev


def kmeans_farthest_init(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic farthest-first (Gonzalez 1985) k-means seeding in
    ANGULAR distance: seed 0 is the min-id vector; each subsequent seed is
    the vector whose maximum cosine to the already-chosen seeds is smallest
    (ties → min id).  When inter-cluster angular separation exceeds the
    intra-cluster diameter, farthest-first provably picks one seed per
    cluster — the property kmeans_planted's exact oracle attests.

    Scale: k−1 passes, each a NARROW map (the chosen seeds are a bounded
    k×d driver artifact inlined as literals — same discipline as the PQ
    codebooks / bloom bitmap) ending in TakeOrderedAndProject (per-partition
    top-1, no global sort, no unpartitioned window).  Returns a
    (cell_id, cv) centroids frame seeded from the data itself."""
    first = (
        corpus.select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cv"))
        .orderBy("cell_id")
        .limit(1)
        .first()
    )
    if first is None:
        raise ValueError("kmeans_farthest_init: empty corpus")
    seeds = [(first["cell_id"], list(first["cv"]))]
    for _ in range(k - 1):
        units = []
        for _sid, sv in seeds:
            arr = np.asarray(sv, dtype=np.float64)
            n = float(np.linalg.norm(arr))
            units.append(arr / n if n > 0 else arr)
        uv = unit_col(F.col(vec_col))
        dots = [
            dot_expr(uv, F.array(*[F.lit(float(x)) for x in u])) for u in units
        ]
        score = F.greatest(*dots) if len(dots) > 1 else dots[0]
        nxt = (
            corpus.select(
                F.col(id_col).alias("cell_id"),
                F.col(vec_col).alias("cv"),
                score.alias("_s"),
            )
            .orderBy(F.col("_s").asc(), F.col("cell_id").asc())
            .limit(1)
            .first()
        )
        seeds.append((nxt["cell_id"], list(nxt["cv"])))
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in seeds],
        "cell_id BIGINT, cv ARRAY<DOUBLE>",
    )
