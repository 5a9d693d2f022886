"""Metric names, units and directions. BENCHMARK.json lists the same
metrics; ``tests/test_spec.py`` keeps the two in step."""

from __future__ import annotations

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("latency_p50_s", "s", "lower"),
    ("latency_tail_s", "s", "lower"),
    ("iter_s", "s", "lower"),
    ("geomean_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
]

# top-level span layers: the first segment of a span name
LAYERS = ["config", "incremental", "tables", "rollup", "checksum_view",
          "datasource", "operators"]

# operator modules of the era-40 queries, grouped by fn.__module__
OPERATOR_MODULES = ["behavior", "corpus", "dedup", "flagship", "freq",
                    "joins_ext", "lateral", "llm_ext", "relational",
                    "relational_ext", "retrieval", "robust", "similarity",
                    "textstats", "tpch", "other"]


def per_layer() -> list[tuple[str, str, str]]:
    out = []
    for layer in LAYERS:
        out += [
            (f"{layer}.self_s", "s", "lower"),
            (f"{layer}.wait_s", "s", "lower"),
            (f"{layer}.jobs", "count", "lower"),
            (f"{layer}.tasks", "count", "lower"),
            (f"{layer}.exec_s", "s", "lower"),
            (f"{layer}.wall_share_s", "s", "lower"),
        ]
    out += [
        ("trace.unattributed_s", "s", "lower"),
        ("config.open_watermark_s", "s", "lower"),
        ("config.close_watermark_s", "s", "lower"),
        ("config.ledger_lock_wait_s", "s", "lower"),
        ("config.resolve_s", "s", "lower"),
        ("config.ledger_commits_per_load", "count", "lower"),
        ("incremental.load_s", "s", "lower"),
        ("incremental.jobs_per_load", "count", "lower"),
        ("incremental.parallel_efficiency", "ratio", "higher"),
        ("tables.merge_s", "s", "lower"),
        ("tables.commits_per_load", "count", "lower"),
        ("tables.files_rewritten_per_load", "count", "lower"),
        ("tables.bytes_written_per_user_byte", "ratio", "lower"),
        ("tables.snapshot_s", "s", "lower"),
        ("tables.snapshot_mid_chain_s", "s", "lower"),
        ("tables.change_feed_s", "s", "lower"),
        ("logcodec.log_bytes_per_commit", "bytes", "lower"),
        ("datasource.scan_s", "s", "lower"),
        ("datasource.files_read_ratio", "ratio", "lower"),
        ("rollup.refresh_s", "s", "lower"),
        ("checksum_view.refresh_s", "s", "lower"),
    ]
    for m in OPERATOR_MODULES:
        out += [(f"operators.{m}.build_s", "s", "lower"),
                (f"operators.{m}.exec_s", "s", "lower")]
    out += [
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.executor_cpu_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.shuffle_write_bytes", "bytes", "lower"),
        ("spark.shuffle_fetch_wait_s", "s", "lower"),
        ("spark.driver_only_s", "s", "lower"),
        ("trace.iter_s", "s", "lower"),
        ("trace.wrapper_s", "s", "lower"),
        ("trace.spans", "count", "lower"),
    ]
    return out


PER_LAYER = per_layer()
