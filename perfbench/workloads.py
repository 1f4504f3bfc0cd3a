"""Workload definitions: input sizes, operator mixes and the metric
catalogue the benchmark reports."""
import gen

# SparkEntry entries of the `query` mix (the other half is README SQL):
# graft.Bench's headline relational, map, spatial and stream entries,
# plus one entry per LLM-data family (dedup, similarity, retrieval)
QUERY_ENTRIES = ["agg_group", "join_inner_hash", "map_contains", "join_bbox_auto",
                 "stream_window_agg", "dedup_minhash_lsh", "sim_ivf_imi", "text_bm25_topk"]
QUERY_SQL = ["sql_readme_1", "sql_readme_2", "sql_readme_3", "sql_readme_4",
             "sql_area_filter", "sql_user_day_rollup"]
ORACLE_ENTRIES = QUERY_ENTRIES

SIZES = {
    "ingest": {"base": 10000, "backlog": 8, "pending": 60},
    "query": {"base": 10000, "backlog": 8, "orders": 15000, "docs": 1500, "vecs": 1500},
}


def generate(workload, seed, work):
    """Writes the workload's inputs under `work`; returns the config
    fragment for the harness (data dirs, truth file, entries)."""
    cfg = {"entries": []}
    truth = {}
    if workload in SIZES:
        sz = SIZES[workload]
        truth = gen.changeset_world(seed, f"{work}/world", sz["base"], sz["backlog"],
                                    sz.get("pending", 0), readme=workload == "query")
        cfg["world"] = f"{work}/world"
    if workload == "ingest":
        # a small world of its own warms the JVM on the same paths in set-up
        gen.changeset_world(seed + 1, f"{work}/warm", 2000, 2, 3)
        cfg["warm"] = f"{work}/warm"
    elif workload == "query":
        gen.relational_tables(seed, f"{work}/data", sz["orders"])
        cfg["corpus"] = gen.curate_corpus(seed, f"{work}/data", sz["docs"], sz["vecs"])
        cfg.update(data=f"{work}/data", entries=QUERY_ENTRIES)
    elif workload != "selftest-spans":
        raise SystemExit(f"unknown workload {workload}")
    gen.write_json(f"{work}/truth.json", truth)
    cfg["truth"] = f"{work}/truth.json"
    return cfg


# ---- metric catalogue -------------------------------------------------

END_TO_END = {  # name -> unit
    "setup_s": "s", "items_per_s": "1/s",
    "op_p50_s": "s", "op_tail_s": "s", "pass_s": "s",
}

PER_LAYER = {
    "jvm.peak_rss_mb": "MB",
    "cli.load_s": "s", "cli.replicate_s": "s",
    "sources.dump_scan_s": "s", "sources.diff_scan_s": "s", "sources.input_mb": "MB",
    "streaming.rows_written_per_row_changed": "ratio",
    "streaming.buckets_rewritten_per_tick": "count",
    "streaming.bytes_written_per_tick_mb": "MB", "streaming.jobs_per_tick": "count",
    "streaming.fresh_read_s": "s", "streaming.lookup_s": "s",
    "streaming.live_files": "count", "streaming.live_mb": "MB",
    "streaming.stored_bytes_per_changeset": "B",
    **{f"operators.{n}_s": "s" for n in QUERY_SQL + QUERY_ENTRIES},
    "operators.dedup_recall": "ratio", "operators.lsh_candidates_per_dup_pair": "ratio",
    "operators.ann_recall_at_5": "ratio",
    "plans.grid_rewrites": "count",
    "spark.planning_s": "s", "spark.driver_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_s": "s",
    "spark.cpu_s": "s", "spark.sched_delay_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.output_mb": "MB", "spark.task_skew": "ratio",
    **{f"overhead.{n}": u for n, u in END_TO_END.items()},
}
