"""ETL operators: upsert, bulk insert, catalog reflection, namespace reset,
transaction-style execution (SURVEY.md §2 group A).

postpy analogs [U]:
- ``postpy/dml.py::upsert_records / create_upsert_statement`` (INSERT … ON
  CONFLICT DO UPDATE) → :func:`merge_upsert` (anti-join + union rewrite; no
  ACID table format required) and :func:`upsert_into_path` (materialized
  parquet target through :func:`merge_into_path`, the one read–merge–swap
  with a staged atomic swap).
- ``postpy/dml.py::insert / insert_many`` → :func:`insert_records`.
- ``postpy/admin.py::get_user_tables / get_column_metadata /
  get_primary_keys`` → :func:`list_tables` / :func:`describe_table` /
  :func:`get_primary_keys` (reads the informational ``postpy.primary_key``
  table property written by :class:`postpy_spark.schema.Table`).
- ``postpy/admin.py::reset`` → :func:`reset_namespace`.
- ``postpy/sql.py::execute_transaction / execute_closing_transaction`` →
  :func:`execute_statements` (documented semantic gap: vanilla Spark has no
  multi-statement rollback; failures stop execution and surface — callers
  needing atomicity stage into a temp location and swap, which
  :func:`atomic_overwrite` provides).
- ``postpy/extensions.py::install_extension`` → :func:`install_extension`
  (feature-flag registry; Spark has no CREATE EXTENSION).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Iterable, Sequence
from functools import reduce

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from postpy_spark.schema import Table
from postpy_spark.session import ensure_runtime_confs

# ---------------------------------------------------------------------------
# Upsert
# ---------------------------------------------------------------------------


def merge_upsert(
    target: DataFrame | None, source: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """``INSERT … ON CONFLICT (keys) DO UPDATE`` semantics as a DataFrame
    transform: source rows win on key collision, unmatched target rows are
    kept, duplicate keys inside ``source`` collapse to one arbitrary-but-
    deterministic winner (PostgreSQL raises instead; we dedupe because
    distributed batches routinely carry intra-batch dupes).  A ``None``
    target (no table yet) yields the deduplicated source.

    Plan shape: one anti-join (target ∖ source) + union — both sides shuffle
    once on the key; with AQE the anti-join broadcasts when source is small,
    which is the common upsert-batch case at 100 TB.
    """
    keys = list(keys)
    src = source.dropDuplicates(keys)
    if target is None:
        return src
    kept = target.join(src, on=keys, how="left_anti")
    return kept.unionByName(src)


def merge_scd2(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    change_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: history rows are immutable;
    a source row whose ``compare_cols`` differ from the CURRENT version
    closes that version (``valid_to = change_ts``) and opens a new one;
    brand-new keys open their first version; unchanged keys pass through.

    ``target`` must carry (keys, compare_cols, valid_from, valid_to,
    is_current); ``source`` carries (keys, compare_cols).  Comparison is
    null-safe (NULL ≡ NULL is "unchanged", like ``IS NOT DISTINCT FROM``).

    Plan shape: ONE shuffle on the key — the current slice left-joins the
    (deduped) source, every branch (closed / unchanged / new-version /
    new-key) derives from that single join, and history is a union passed
    through untouched.  With AQE the join broadcasts when the change batch
    is small, the common nightly-dimension-feed case; the dimension's
    history never re-shuffles.
    """
    keys = list(keys)
    compare_cols = list(compare_cols)
    src = source.dropDuplicates(keys).select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_src_{c}") for c in compare_cols],
    )
    cur = target.filter(F.col(is_current))
    hist = target.filter(~F.col(is_current))

    differs = reduce(
        lambda a, b: a | b,
        [~F.col(c).eqNullSafe(F.col(f"_src_{c}")) for c in compare_cols],
    )
    # presence flags that survive all-NULL attribute values
    src_marked = src.withColumn("_in_src", F.lit(True))
    cur_marked = cur.withColumn("_in_cur", F.lit(True))
    joined = cur_marked.join(src_marked, on=keys, how="full_outer")

    out_cols = keys + compare_cols + [valid_from, valid_to, is_current]

    changed = joined.filter(
        F.col("_in_cur") & F.col("_in_src") & differs
    )
    closed = changed.select(
        *keys,
        *compare_cols,
        F.col(valid_from),
        F.lit(change_ts).cast("timestamp_ntz").alias(valid_to),
        F.lit(False).alias(is_current),
    )
    reopened = changed.select(
        *keys,
        *[F.col(f"_src_{c}").alias(c) for c in compare_cols],
        F.lit(change_ts).cast("timestamp_ntz").alias(valid_from),
        F.lit(None).cast("timestamp_ntz").alias(valid_to),
        F.lit(True).alias(is_current),
    )
    unchanged = joined.filter(
        F.col("_in_cur") & (F.col("_in_src").isNull() | ~differs)
    ).select(*out_cols)
    new_keys = joined.filter(F.col("_in_cur").isNull() & F.col("_in_src")).select(
        *keys,
        *[F.col(f"_src_{c}").alias(c) for c in compare_cols],
        F.lit(change_ts).cast("timestamp_ntz").alias(valid_from),
        F.lit(None).cast("timestamp_ntz").alias(valid_to),
        F.lit(True).alias(is_current),
    )
    return (
        hist.select(*out_cols)
        .unionByName(closed)
        .unionByName(reopened)
        .unionByName(unchanged)
        .unionByName(new_keys)
    )


def upsert_into_path(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
) -> None:
    """Keyed upsert into a materialized parquet directory with a staged
    atomic swap (read-modify-write; the parquet analog of postpy's
    server-side upsert).  On Delta/Iceberg this would be ``MERGE INTO``."""
    ensure_runtime_confs(spark)
    merge_into_path(spark, path, lambda target: merge_upsert(target, source, keys))


def merge_into_path(
    spark: SparkSession,
    path: str,
    merge: Callable[[DataFrame | None], DataFrame | None],
) -> None:
    """The one read–merge–swap for a parquet-path table.

    Reads the current table when ``path`` exists (a local path, as
    :func:`atomic_overwrite`'s directory move already assumes) and calls
    ``merge(current_or_None)``.  A ``None`` result writes nothing; any
    other result replaces the table through :func:`atomic_overwrite`.
    A read or merge error propagates and the table stays as it was."""
    current = spark.read.parquet(path) if os.path.exists(path) else None
    merged = merge(current)
    if merged is not None:
        atomic_overwrite(merged, path)


def atomic_overwrite(
    df: DataFrame, path: str, partition_by: Sequence[str] | None = None
) -> None:
    """Write to a staging dir, then swap directories — readers never observe
    a half-written table (txn_exec discipline for path-based tables)."""
    staging = f"{path.rstrip('/')}.__staging_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    backup = f"{path.rstrip('/')}.__old_{uuid.uuid4().hex[:8]}"
    moved = False
    try:
        shutil.move(path, backup)
        moved = True
    except FileNotFoundError:
        pass
    shutil.move(staging, path)
    if moved:
        shutil.rmtree(backup, ignore_errors=True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target)`` files via the atomic staging swap.

    The 100 TB maintenance op: streaming/incremental sinks accrete
    thousands of small files per partition, and scan throughput collapses
    (per-file open + footer read + scheduler overhead dominate).  Sizing
    uses a RECURSIVE FileSystem listing (data files only — _SUCCESS and
    dot-markers excluded), so Hive-partitioned ``key=value`` layouts are
    sized correctly rather than silently coalescing a large table to one
    file.  Flat layouts rewrite via ``coalesce(n)`` (narrow, no shuffle);
    partitioned layouts rewrite with the partition columns preserved
    (hash-repartition on the partition keys → each key's rows land in one
    task → one file per partition value).  Readers never observe a
    half-compacted directory.  Returns before/after file counts.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _data_stats(p: str) -> tuple[int, int, list[str]]:
        # Recursive DATA-file listing: bytes, count, and the partition
        # columns inferred from key=value path segments (empty for flat).
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(hconf)
        if not fs.exists(jpath):
            return 0, 0, []
        root = fs.makeQualified(jpath).toString().rstrip("/")
        it = fs.listFiles(jpath, True)
        total = files = 0
        part_cols: list[str] = []
        while it.hasNext():
            st = it.next()
            fpath = st.getPath()
            if fpath.getName().startswith(("_", ".")):
                continue
            total += st.getLen()
            files += 1
            if not part_cols:
                rel = fs.makeQualified(fpath).toString()[len(root):].strip("/")
                part_cols = [
                    seg.split("=", 1)[0]
                    for seg in rel.split("/")[:-1]
                    if "=" in seg
                ]
        return total, files, part_cols

    total, files_before, part_cols = _data_stats(path)
    n = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    if part_cols:
        # keep the partitioned layout: co-locate each partition value in one
        # task (n tasks bound concurrent writers; files_after ≈ #values)
        compacted = df.repartition(int(n), *part_cols)
        atomic_overwrite(compacted, path, partition_by=part_cols)
    else:
        atomic_overwrite(df.coalesce(int(n)), path)
    _, files_after, _ = _data_stats(path)
    return {
        "bytes": int(total),
        "files_before": int(files_before),
        "files_after": files_after,
        "target_files": int(n),
        "partition_cols": part_cols,
    }


# ---------------------------------------------------------------------------
# Bulk insert (postpy insert_many parity)
# ---------------------------------------------------------------------------


def insert_records(
    spark: SparkSession,
    table: str | Table,
    records: Iterable[tuple] | Iterable[dict],
    schema=None,
) -> None:
    """Append an iterable of records to a catalog table (postpy
    ``insert_many`` [U]).  Records materialize on the driver — this is the
    utility path for small batches; bulk data goes through the reader APIs."""
    name = table.qualified_name if isinstance(table, Table) else table
    if schema is None and isinstance(table, Table):
        schema = table.to_struct_type()
    rows = [Row(**r) if isinstance(r, dict) else r for r in records]
    df = spark.createDataFrame(rows, schema=schema)
    # v1 write path: session-catalog parquet tables reject the v2 writeTo API
    df.write.insertInto(name, overwrite=False)


# ---------------------------------------------------------------------------
# Catalog reflection (postpy admin.py parity)
# ---------------------------------------------------------------------------


def list_tables(spark: SparkSession, namespace: str | None = None) -> list[str]:
    """User table names in a namespace (upstream ``get_user_tables`` [U])."""
    tables = spark.catalog.listTables(namespace) if namespace else spark.catalog.listTables()
    return sorted(t.name for t in tables if not t.isTemporary)


def describe_table(spark: SparkSession, name: str) -> DataFrame:
    """Column metadata as a DataFrame(col_name, data_type, nullable)
    (upstream ``get_column_metadata`` [U])."""
    cols = spark.catalog.listColumns(name)
    return spark.createDataFrame(
        [Row(col_name=c.name, data_type=c.dataType, nullable=bool(c.nullable)) for c in cols]
    )


def analyze_table(
    spark: SparkSession,
    name: str,
    columns: Sequence[str] | None = None,
) -> dict:
    """``ANALYZE TABLE`` helper: collect table-level statistics (row count,
    size) and optionally per-column stats (ndv, min/max, null count) so the
    cost-based optimizer can join-reorder (SURVEY.md §4.1 — PG's planner
    reorders via pg_statistic; Spark's CBO is the analog but needs an
    explicit ANALYZE).

    On a 100 TB warehouse this runs as a scheduled maintenance job after
    load: without stats Spark estimates from file sizes only (no ndv/row
    counts through joins), so a star query written fact-first keeps its
    written join order; with column stats + ``spark.sql.cbo.enabled`` +
    ``spark.sql.cbo.joinReorder.enabled`` the planner joins the selective
    dimensions first (plan-asserted in
    tests/test_plan_shapes.py::test_cbo_join_reorder_with_stats).

    Returns the collected table stats {row_count, size_bytes} for logging.
    """
    ensure_runtime_confs(spark)
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
    out: dict = {}
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
        if r["col_name"] == "Statistics":
            # e.g. "120013 bytes, 1500 rows"
            parts = r["data_type"].split(",")
            for p in parts:
                p = p.strip()
                if p.endswith("bytes"):
                    out["size_bytes"] = int(p.split()[0])
                elif p.endswith("rows"):
                    out["row_count"] = int(p.split()[0])
    return out


def get_primary_keys(spark: SparkSession, name: str) -> list[str]:
    """Informational primary key recorded at CREATE time (upstream
    ``get_primary_keys`` [U]; Spark does not enforce PKs)."""
    props = spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    for r in props:
        if r["key"] == "postpy.primary_key":
            return r["value"].split(",")
    return []


def create_table(spark: SparkSession, table: Table, overwrite: bool = False) -> None:
    """Compile and run the model's DDL (upstream ``Table.create_statement``)."""
    ensure_runtime_confs(spark)
    if overwrite:
        spark.sql(table.drop_statement(if_exists=True))
        if table.location:
            shutil.rmtree(table.location, ignore_errors=True)
    spark.sql(table.create_statement())


def reset_namespace(spark: SparkSession, namespace: str) -> None:
    """Drop + recreate a namespace for test isolation (upstream
    ``admin.reset`` [U])."""
    spark.sql(f"DROP NAMESPACE IF EXISTS {namespace} CASCADE")
    spark.sql(f"CREATE NAMESPACE {namespace}")


# ---------------------------------------------------------------------------
# Transactions & extensions
# ---------------------------------------------------------------------------


def execute_statements(spark: SparkSession, statements: Sequence[str]) -> list[DataFrame]:
    """Run a statement list in order, stopping at the first failure
    (upstream ``execute_transaction`` [U]).  Semantic gap vs PostgreSQL:
    completed statements are NOT rolled back — Spark's catalog has no
    multi-statement transactions.  Use :func:`atomic_overwrite` staging for
    all-or-nothing single writes, and :class:`postpy_spark.versioned.
    VersionedTable` for snapshot commits with REAL post-hoc rollback /
    time travel (pointer-swap manifest, the Delta/Iceberg primitive)."""
    ensure_runtime_confs(spark)
    return [spark.sql(s) for s in statements]


#: Feature registry standing in for PG extensions (upstream
#: ``extensions.py::install_extension`` [U]).  Keys are the capabilities the
#: engine ships natively where postgres needed an extension.
KNOWN_EXTENSIONS: dict[str, str] = {
    "pgcrypto": "sha2/md5/crc32 builtins",
    "uuid-ossp": "uuid() builtin",
    "pg_trgm": "n-gram similarity (queries.llm_pipeline.dedup_ngram_jaccard_q; "
               "operators.dedup.jaccard_verify / minhash_dedup_pairs)",
    "hstore": "MapType + map_* functions",
    "postgis": "NOT AVAILABLE",
}

_installed: set[str] = set()


def install_extension(name: str, if_not_exists: bool = True) -> bool:
    """CREATE EXTENSION analog: validates the capability exists and records
    it; returns True if newly 'installed'."""
    if name not in KNOWN_EXTENSIONS or KNOWN_EXTENSIONS[name] == "NOT AVAILABLE":
        raise LookupError(f"extension {name!r} not supported")
    if name in _installed:
        if not if_not_exists:
            raise ValueError(f"extension {name!r} already installed")
        return False
    _installed.add(name)
    return True


def installed_extensions() -> list[str]:
    return sorted(_installed)


# ---------------------------------------------------------------------------
# Snapshot reconciliation (table diff)
# ---------------------------------------------------------------------------


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Row-level reconciliation of two snapshots of the same keyed table:
    one row per differing key with ``diff_status`` in
    ``('added', 'removed', 'changed')`` plus the old/new values of each
    compared column (``old_<c>`` / ``new_<c>``).  Unchanged keys are
    dropped.

    Plan shape: ONE full-outer join — both snapshots shuffle exactly once
    on the primary key (co-partitioned; with bucketed/sorted lakehouse
    layouts even that shuffle disappears).  Comparison is null-safe
    (``<=>``) so NULL→value and value→NULL transitions count as changes.
    At 100 TB the standard refinement is a per-partition digest pre-pass
    (hash-per-bucket, compare digests, full-join only the dirty buckets);
    the row-level core below is that refinement's inner loop.
    """
    keys = list(keys)
    compare_cols = list(compare_cols)
    o = old.select(*keys, *[F.col(c).alias(f"old_{c}") for c in compare_cols])
    n = new.select(*keys, *[F.col(c).alias(f"new_{c}") for c in compare_cols])
    # join on null-safe key equality via coalesced key presence flags
    joined = o.withColumn("_old", F.lit(True)).join(
        n.withColumn("_new", F.lit(True)), on=keys, how="full_outer"
    )
    # keys-only diff (no compare cols) still has well-defined semantics:
    # nothing can be 'changed', only added/removed (r7 advice — F.when(None)
    # would raise TypeError).
    changed = F.lit(False)
    for c in compare_cols:
        ne = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        changed = changed | ne
    status = (
        F.when(F.col("_new").isNull(), F.lit("removed"))
        .when(F.col("_old").isNull(), F.lit("added"))
        .when(changed, F.lit("changed"))
    )
    return (
        joined.withColumn("diff_status", status)
        .filter(F.col("diff_status").isNotNull())
        .drop("_old", "_new")
    )


# ---------------------------------------------------------------------------
# CDC changelog compaction (Debezium-style upsert/delete apply)
# ---------------------------------------------------------------------------

#: payload packing width: seq*1e7 + cents(qty) fits BIGINT for seq < 9e11.
_CDC_PACK = 10_000_000


def cdc_pack(changes: DataFrame, key: str, seq: str, qty: str) -> DataFrame:
    """(key, k): lexicographically-ordered (seq, payload) packed into ONE
    BIGINT so a plain MAX picks the deterministic latest change even when
    the feed carries duplicate (key, seq) pairs (arg_max would tie-break
    arbitrarily).  Tombstone rule: a latest seq ≡ 0 (mod 7) deletes."""
    k = F.col(seq).cast("bigint") * F.lit(_CDC_PACK) + F.round(
        F.col(qty) * 100
    ).cast("bigint")
    return changes.select(F.col(key).alias("order_key"), k.alias("k"))


def cdc_compact(packed: DataFrame) -> DataFrame:
    """(order_key, maxk, n_changes): compact a changelog (or a chunk of
    one) — ONE two-phase hash aggregate.  The output is a MERGEABLE
    summary: compactions of disjoint chunks recombine with
    greatest(maxk) + sum(n_changes), which is what the streaming path
    does per micro-batch."""
    return packed.groupBy("order_key").agg(
        F.max("k").alias("maxk"), F.count(F.lit(1)).alias("n_changes")
    )


def cdc_merge_states(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Merge two compacted states (commutative + associative).  Counts
    assume each chunk is merged exactly once — guaranteed here by the
    checkpointed availableNow foreachBatch; an at-least-once sink would
    track processed batch ids."""
    if existing is None:
        return batch
    return (
        existing.unionByName(batch)
        .groupBy("order_key")
        .agg(F.max("maxk").alias("maxk"), F.sum("n_changes").alias("n_changes"))
    )


def cdc_snapshot(state: DataFrame) -> DataFrame:
    """Snapshot view of a compacted state: drop keys whose latest change
    is a tombstone, decode the payload."""
    return state.filter((F.expr("maxk div 10000000") % 7) != 0).select(
        "order_key",
        ((F.col("maxk") % _CDC_PACK).cast("double") / 100).alias("last_qty"),
        F.col("n_changes").cast("bigint").alias("n_changes"),
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance
# ---------------------------------------------------------------------------


def ivm_merge(
    mv: DataFrame,
    delta_effect: DataFrame,
    keys: Sequence[str],
    count_col: str,
    add_cols: Sequence[str] = (),
) -> DataFrame:
    """Apply a per-group CDC delta to a materialized COUNT/SUM aggregate
    WITHOUT recomputing — and, critically, without shuffling the MV.

    ``delta_effect`` carries the SAME column names as ``mv`` holding
    *signed* per-group deltas (insert → +1/+v, delete → −1/−v, update →
    0/(new−v)); COUNT and SUM are self-maintainable under all three ops
    (the classic delta-rule IVM of Gupta & Mumick, "Maintenance of
    Materialized Views: Problems, Techniques, and Applications", IEEE DE
    Bulletin 1995).  Groups whose maintained count reaches 0 drop out.

    Scale plan (the point of IVM at 100 TB): the delta aggregate is
    broadcast-small by construction, so the big MV is only ever the
    STREAM side of broadcast hash joins — one anti (unchanged groups pass
    through untouched) and one semi (the handful of touched groups) —
    then the touched slice, now delta-sized, merges with the delta in a
    small-small full-outer.  No Exchange ever carries the MV.

    Column contract: ``mv`` must contain EXACTLY ``keys + [count_col] +
    add_cols`` (and ``delta_effect`` at least those) — the merged branch
    projects to that set, so any extra MV column would survive the
    anti-join branch only and break the final ``unionByName`` with a
    mismatch error that doesn't name the real cause.  Validated up
    front."""
    cols = [count_col, *add_cols]
    expected = [*keys, *cols]
    extra_mv = [c for c in mv.columns if c not in expected]
    missing_mv = [c for c in expected if c not in mv.columns]
    missing_d = [c for c in expected if c not in delta_effect.columns]
    if extra_mv or missing_mv or missing_d:
        raise ValueError(
            f"ivm_merge: mv must carry exactly keys+count_col+add_cols "
            f"{expected} and delta_effect at least those "
            f"(mv extra={extra_mv}, mv missing={missing_mv}, "
            f"delta missing={missing_d})"
        )
    d = F.broadcast(delta_effect)
    unchanged = mv.join(d.select(*keys), list(keys), "left_anti")
    touched = mv.join(d.select(*keys), list(keys), "left_semi")
    renamed = delta_effect.select(
        *keys, *[F.col(c).alias(f"_d_{c}") for c in cols]
    )
    # full-outer has no broadcast-hash form — but both sides here are
    # delta-sized, so the small sort-merge is the cheap part by design
    merged = (
        touched.join(renamed, list(keys), "full")
        .select(
            *keys,
            *[
                (
                    F.coalesce(F.col(c), F.lit(0))
                    + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
                ).alias(c)
                for c in cols
            ],
        )
        .filter(F.col(count_col) > 0)
    )
    return unchanged.unionByName(merged)
