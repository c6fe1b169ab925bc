"""The benchmark's workloads. Each is a closed loop with one client: the
queries run one after another in one JVM at local[<cores>], in an order the
seed sets anew for every pass.

Sizes are set by the run budget: 48 runs of the two workloads, with their
set-up and the build, must fit in under an hour, so a run is a cold pass 0
plus a few measured passes of a few seconds each. `nominal_pass_s` is the
pass time measured on a 4-core VM at this commit; it turns --seconds into
a fixed number of measured passes.
"""

# Every 20th query of each operator module of the registry (names sorted,
# evenly spaced, at least one per module): 14 of the 206 registered queries.
REGISTRY_SAMPLE = [
    "agg_cube", "agg_typed",                                      # Aggregates
    "join_interval",                                              # EventOps
    "graph_pagerank",                                             # GraphOps
    "join_outer",                                                 # Joins
    "layout_zorder",                                              # Lakehouse
    "sample_mix", "scan_nested",                                  # Relational
    "dedup_simhash", "text_normalize",                            # TextOps
    "multimodal_decode", "sim_mips_ivf",                          # VectorOps
    "window_range",                                               # Windows
    "stream_matview",                                             # streaming
]

WORKLOADS = {
    "registry-sf0.001": {
        "why": "Fixed cost: a module-stratified sample of the registry on 6k lineitem rows, "
               "so a query's time is construction, Catalyst, scheduling and codegen.",
        "sf": "sf0.001", "mode": "count", "terminal_sort": None, "warmup": 1,
        "nominal_pass_s": 5.0,
        "queries": REGISTRY_SAMPLE,
    },
    "sink-sf0.1": {
        "why": "Data-proportional cost on the production path: results written as parquet with "
               "terminal sorts elided, at sf0.1 (single row group, so the fan-outs fire).",
        "sf": "sf0.1", "mode": "sink", "terminal_sort": "false", "warmup": 0,
        "nominal_pass_s": 7.0,
        "queries": [
            # projections over all 600k lineitem rows, a text kernel
            "scalar_math", "project_arith", "text_pii",
            # the heavy tail at scale: fuzzy and as-of joins, LSH self-joins
            "join_fuzzy", "join_asof", "dedup_semantic_lsh",
            "multimodal_phash_pairs", "dedup_simhash_pairs",
        ],
    },
}
