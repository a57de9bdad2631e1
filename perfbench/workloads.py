"""The benchmark's workloads: registered postpy_spark query names per
workload, each with an exact DuckDB oracle (see README.md for why each
query is in its workload)."""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The relational surface postpy delegates to PostgreSQL: scans, joins,
    # aggregates, windows.  Reads only; no Python workers.
    "relational": (
        "agg_groupby",
        "agg_count_distinct",
        "join_inner",
        "join_broadcast",
        "join_asof",
        "join_range_interval",
        "win_running_sum",
        "topk_per_group",
        "distinct_rows",
        "pivot_wide",
        "events_dau_wau",
        "project_expr",
    ),
    # The LLM-pipeline operators, one query for each of the operator modules
    # dedup, similarity, editdist, linalg and graph: driver loops,
    # Arrow/pandas workers and persisted intermediate state.
    "llm_pipeline": (
        "dedup_simhash_planted",  # dedup: mapInArrow SimHash worker
        "sim_nndescent_planted",  # similarity: NN-descent k-NN graph
        "dedup_editdist_blocked",  # editdist: blocked verification
        "embed_pca_planted",  # linalg: mapInPandas moments, PCA projection
        "graph_label_propagation",  # graph: iterative driver loop
        "udf_scalar_pandas",  # pandas UDF workers
    ),
    # postpy's own ETL job: COPY, upsert, SCD2, DDL, JDBC, versioned
    # tables, CDC; writes beside reads through the file committer.
    "etl_write": (
        "sink_csv",
        "scan_csv",
        "merge_upsert",
        "merge_scd2",
        "sink_jdbc_append",
        "scan_jdbc",
        "etl_partition_overwrite",
        "etl_cdc_apply",
        "table_versioning",
        "ddl_create_table_as",
        "stream_dedup",
        "etl_table_diff",
    ),
}
