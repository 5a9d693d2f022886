"""Per-layer metrics from spans, the Spark event log and the counts a
workload takes itself. Every value is per timed iteration (a cycle, a
pass or a read mix) unless its name says per load or it is a mean per
call."""

from __future__ import annotations

from . import spec
from .eventlog import EventLog
from .trace import (Span, ancestor_named, clip, descendants, length, self_intervals,
                    self_time, subtract, union, wall_shares)


def _dur(s: Span) -> float:
    return s.end - s.start


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(spans: dict[int, Span], windows, log: EventLog, offset: float,
            extras: dict[str, float], bookkeeping_s: float) -> dict[str, float]:
    """``windows``: timed iterations as perf_counter intervals; ``offset``
    converts perf_counter to the event log's epoch seconds."""
    out = {name: 0.0 for name, _, _ in spec.PER_LAYER}
    n_iter = len(windows)
    if n_iter == 0:
        return out
    inside = [s for s in spans.values()
              if s.end > 0 and any(a <= s.start < b for a, b in windows)]
    in_spans = {s.id: s for s in inside}
    jobs_by_span: dict[int, list] = {}
    for j in log.jobs.values():
        if j.group is not None and j.group.isdigit() and int(j.group) in in_spans:
            jobs_by_span.setdefault(int(j.group), []).append(j)

    def span_jobs(s: Span) -> list:
        return jobs_by_span.get(s.id, [])

    def subtree_jobs(s: Span) -> list:
        return [j for x in [s, *descendants(s, spans)] for j in span_jobs(x)]

    # generic per-layer figures
    shares: dict[str, float] = {}
    for a, b in windows:
        for layer, v in wall_shares(in_spans, a, b).items():
            shares[layer] = shares.get(layer, 0.0) + v
    for layer in spec.LAYERS:
        mine = [s for s in inside if s.layer == layer]
        jobs = [j for s in mine for j in span_jobs(s)]
        tasks = [t for j in jobs for t in j.tasks]
        wait = 0.0
        for s in mine:
            own = [(a + offset, b + offset) for a, b in self_intervals(s, spans)]
            busy = [(t.launch, t.finish) for j in span_jobs(s) for t in j.tasks]
            wait += length(subtract(own, busy))
        out[f"{layer}.self_s"] = sum(self_time(s, spans) for s in mine) / n_iter
        out[f"{layer}.wait_s"] = wait / n_iter
        out[f"{layer}.jobs"] = len(jobs) / n_iter
        out[f"{layer}.tasks"] = len(tasks) / n_iter
        out[f"{layer}.exec_s"] = sum(t.run_s for t in tasks) / n_iter
        out[f"{layer}.wall_share_s"] = shares.get(layer, 0.0) / n_iter
    out["trace.unattributed_s"] = shares.get("", 0.0) / n_iter

    def named(name: str) -> list[Span]:
        return [s for s in inside if s.name == name]

    def under_load(s: Span) -> bool:
        return ancestor_named(s, spans, "incremental.load_entity") is not None

    loads = named("incremental.load_entity")
    if loads:
        n = len(loads)
        opens = [s for s in named("config.open_watermark") if under_load(s)]
        closes = [s for s in named("config.close_watermark") if under_load(s)]
        out["config.open_watermark_s"] = sum(map(_dur, opens)) / n
        out["config.close_watermark_s"] = sum(map(_dur, closes)) / n
        out["config.ledger_lock_wait_s"] = sum(self_time(s, spans) for s in opens + closes) / n
        out["incremental.load_s"] = sum(map(_dur, loads)) / n
        out["incremental.jobs_per_load"] = sum(len(subtree_jobs(s)) for s in loads) / n
        pipes = named("incremental.run_pipeline")
        threads = extras.get("threads", 1.0)
        if pipes:
            out["incremental.parallel_efficiency"] = (
                sum(map(_dur, loads)) / sum(map(_dur, pipes)) / threads)
        out["tables.merge_s"] = sum(
            _dur(s) for s in named("tables.merge") if under_load(s)) / n
    out["config.resolve_s"] = _mean(map(_dur, named("config.entities_with_watermarks")))
    out["tables.snapshot_s"] = _mean(map(_dur, named("tables.read")))
    out["tables.snapshot_mid_chain_s"] = _mean(map(_dur, named("tables.read_version")))
    out["tables.change_feed_s"] = _mean(map(_dur, named("tables.change_feed")))
    out["rollup.refresh_s"] = _mean(map(_dur, named("rollup.refresh")))
    out["checksum_view.refresh_s"] = _mean(map(_dur, named("checksum_view.refresh")))
    scans = named("datasource.lookup")
    out["datasource.scan_s"] = _mean(map(_dur, scans))
    if scans and extras.get("snapshot_files"):
        scan_tasks = sum(len(j.tasks) for s in scans for j in subtree_jobs(s))
        out["datasource.files_read_ratio"] = (
            scan_tasks / (len(scans) * extras["snapshot_files"]))
    for s in inside:
        parts = s.name.split(".")
        if parts[0] == "operators" and len(parts) == 3:
            mod = parts[1] if parts[1] in spec.OPERATOR_MODULES else "other"
            out[f"operators.{mod}.{parts[2]}_s"] += _dur(s) / n_iter

    # Spark engine, over every job submitted inside a timed iteration
    ewin = [(a + offset, b + offset) for a, b in windows]
    jobs = [j for j in log.jobs.values() if any(a <= j.submit < b for a, b in ewin)]
    tasks = [t for j in jobs for t in j.tasks]
    out["spark.jobs"] = len(jobs) / n_iter
    out["spark.tasks"] = len(tasks) / n_iter
    out["spark.executor_run_s"] = sum(t.run_s for t in tasks) / n_iter
    out["spark.executor_cpu_s"] = sum(t.cpu_s for t in tasks) / n_iter
    out["spark.gc_s"] = sum(t.gc_s for t in tasks) / n_iter
    out["spark.shuffle_write_bytes"] = sum(t.shuffle_write_bytes for t in tasks) / n_iter
    out["spark.shuffle_fetch_wait_s"] = sum(t.fetch_wait_s for t in tasks) / n_iter
    busy = union((t.launch, t.finish) for t in log.tasks)
    out["spark.driver_only_s"] = sum(
        (b - a) - length(clip(busy, a, b)) for a, b in ewin) / n_iter
    out["trace.iter_s"] = sum(b - a for a, b in windows) / n_iter
    out["trace.wrapper_s"] = bookkeeping_s / n_iter
    out["trace.spans"] = len(inside) / n_iter

    for k, v in extras.items():
        if k in out:
            out[k] = v
    return out
