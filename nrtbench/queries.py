"""``query_era40``: the 40 frozen headline queries (``bench.HEADLINE``)
over the sf0.1 fixture in ``data/sf0.1``, written to the noop sink.

Set-up runs every query once with a collect in a pool of one thread per
CPU. That pass warms the JVM and Spark's code generation, and its
results are the ones checked against ``fingerprints.json``. The timed part
runs the 40 queries one after another in passes (closed loop), in
``bench.HEADLINE`` order; each query is timed from building its
DataFrame to the end of the noop write. The inputs are fixed, so the
seed changes nothing here.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from .core import log, now
from .fingerprint import fingerprint
from .trace import geomean, median, tail

HERE = os.path.dirname(os.path.abspath(__file__))
# the read-only TPC-H-ish fixture of TESTDATA.md at scale 0.1 (600k
# lineitem rows), kept in the benchmark so a run reads only its checkout
DATA = os.path.join(HERE, "data", "sf0.1")
# (rows, hash) of every query's result over DATA: under "duckdb" those of
# the 37 queries' DuckDB oracles (tests/test_fingerprint.py recomputes
# them), under "seed_commit" those of the three queries without an
# oracle, from the code this benchmark was written against
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def run(b, t0: float) -> dict[str, float]:
    import bench

    from nrtwithdeltalake_spark.operators.registry import all_queries

    spark = b.spark
    queries = all_queries()
    names = list(bench.HEADLINE)

    # -- set-up: warm-up pass that also yields the results to check ----------
    def collect(name):
        return fingerprint(queries[name](spark, DATA).toPandas())

    with ThreadPoolExecutor(b.cpus) as pool:
        futs = {n: pool.submit(b.op, lambda n=n: collect(n), f"collect {n}") for n in names}
        got = {n: f.result() for n, f in futs.items()}
    setup_s = now() - t0
    log(f"set-up {setup_s:.1f}s")

    # -- timed passes ---------------------------------------------------------------
    per_query: dict[str, list[float]] = {n: [] for n in names}
    passes: list[float] = []
    deadline = now() + b.seconds
    while not passes or now() < deadline:
        t_pass = now()
        for n in names:
            mod = queries[n].__module__.rsplit(".", 1)[-1]
            t = now()
            with b.tracer.span(f"operators.{mod}.build"):
                df = b.op(lambda: queries[n](spark, DATA), f"build {n}")
            if df is not None:
                with b.tracer.span(f"operators.{mod}.exec"):
                    b.op(lambda: df.write.format("noop").mode("overwrite").save(), f"run {n}")
            per_query[n].append(now() - t)
        passes.append(now() - t_pass)
        b.windows.append((t_pass, now()))
    log(f"{len(passes)} timed passes")

    # -- correctness (untimed) ------------------------------------------------------
    with open(FINGERPRINTS) as fh:
        recorded = {n: (src, fp) for src, fps in json.load(fh).items() for n, fp in fps.items()}
    for n in names:
        if got[n] is None:
            continue  # the failed collect is already counted
        src, ref = recorded.get(n, ("nothing", None))
        b.check(list(got[n]) == ref, f"{n}: {list(got[n])} vs {src} {ref}")

    samples = [x for v in per_query.values() for x in v]
    t_val, t_pct, t_n = tail(samples)
    b.notes.append(f"# latency_tail_s: p{t_pct:.1f} of n={t_n} query runs; passes={len(passes)}")
    result_rows = sum(got[n][0] for n in names if got[n] is not None)
    return {
        "setup_s": setup_s,
        "latency_p50_s": median(samples),
        "latency_tail_s": t_val,
        "iter_s": median(passes),
        "geomean_s": geomean(median(v) for v in per_query.values()),
        "rows_per_s": result_rows * len(passes) / sum(passes),
    }
