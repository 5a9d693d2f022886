"""Benchmark entry point.

    python3 nrtbench/run.py --workload nrt_load --seed 1 --seconds 10 --trace 0

Workloads: ``nrt_load`` and ``query_era40`` (METRICS.md says what each
measures). With ``--trace 0`` the last stdout line holds
the end-to-end metrics; with ``--trace 1`` it holds the per-layer
metrics of a traced run. The exit code is non-zero when the engine
package cannot be imported or the run breaks down.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".nrtbench_work")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["nrt_load", "query_era40"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    import importlib

    from nrtbench import core, spec

    # fails (non-zero exit, no result) where the engine is absent
    import nrtwithdeltalake_spark.session  # noqa: F401

    cpus = core.prepare_host(REPO, WORK)
    module = {"nrt_load": "nrt", "query_era40": "queries"}
    run = importlib.import_module(f"nrtbench.{module[args.workload]}").run
    b = core.Bench(work=WORK, seed=args.seed, seconds=args.seconds,
                   trace=bool(args.trace), cpus=cpus)
    ticks = core.cpu_ticks()
    t0 = time.perf_counter()
    try:
        b.start_spark()
        e2e = run(b, t0)
    finally:
        b.stop_spark()

    if b.trace:
        from nrtbench import eventlog, layers

        log = eventlog.read_dir(b.path("eventlog"))
        metrics = layers.compute(b.tracer.spans, b.windows, log, b.tracer.offset,
                                 b.extras, b.tracer.bookkeeping_s)
        names = spec.PER_LAYER
    else:
        metrics, names = e2e, spec.END_TO_END
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u, _ in names},
    }
    b.notes.append(core.host_note(ticks))
    for line in b.notes:
        print(line)
    print(json.dumps(result))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
