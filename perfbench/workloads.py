"""The benchmark's workloads: a fixed list of catalog entries each.

Entries are chosen by family and by the layer they load, never for being
steady; README.md gives the reason for each. `tables` are the tables the
entries read, which set-up caches; `staging` names the engine's
`warmStaging` modules the entries read (scan, stream, join).
"""

WORKLOADS = {
    # Short, read-only, oracle-checked SQL: one entry per family. The
    # per-entry floor (planning, dispatch, builder-side jobs) dominates.
    "sql_etl": {
        "entries": [
            "src_scan_project",      # scan and projection
            "scalar_case_when",      # scalar, string and date
            "join_inner_equi",       # join
            "agg_pricing_summary",   # aggregate
            "win_topk_per_group",    # window
            "sort_multi_limit",      # set and sort
            "subq_in",               # subquery
            "sink_partitioned_write",  # write path: partitioned sink + read-back
            "stream_tumbling_agg",   # write path: micro-batch stream with checkpoint
        ],
        "tables": ["region", "nation", "supplier", "customer", "part",
                   "orders", "lineitem", "events"],
        "staging": ["stream"],
    },
    # LLM-data-pipeline operators: a wide pairwise shuffle and three vector
    # scans (top-k, radius, IVF probe). Executor time dominates and planning
    # is small.
    "llm_dedup": {
        "entries": [
            "dedup_containment",     # dedup family, exact twin (pruned pair join)
            "vec_cosine_knn",        # exact cosine kNN
            "vec_range_search",      # exact cosine radius search
            "vec_ivf_knn",           # IVF ANN (memoized coarse quantizer)
        ],
        "tables": ["documents", "embeddings"],
        "staging": [],
    },
}
