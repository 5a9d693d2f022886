"""``nrt_load``: closed-loop NRT cycles over four entities.

Set-up: four source tables of SOURCE_ROWS rows in SOURCE_FILES files
(CT and TMSTP, one of each with a composite key), the config store, the
bootstrap loads, a rollup and a checksum view over the first silver
table, one run of the read-back's reads (which starts the DataSource's
Python workers) and the first cycle's source commits. The first timed
cycle is thus the first incremental load; no untimed incremental cycle
runs, as the run budget has no room for one. Each timed cycle

1. commits a seeded batch of BATCH_ROWS rows to every source (outside
   the timed window; the first cycle's were made in set-up);
2. calls ``run_pipeline`` and refreshes both views side by side;
3. reads its own writes back from the first silver table: an upserted
   key through ``VersionedTable.read``, a deleted key through
   ``format("versioned")`` with pushdown, and a time-travel aggregate at
   the bootstrap version.

The next cycle starts when this one returns (closed loop, one client).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from . import gen, wraps
from .core import log, now
from .trace import geomean, median, tail

SOURCE_ROWS = 100_000
SOURCE_FILES = 8
BATCH_ROWS = 1_000
SPECS = [
    gen.EntitySpec("src_ct_a", "CT", ["k1"]),
    gen.EntitySpec("src_ct_b", "CT", ["k1", "k2"]),
    gen.EntitySpec("src_ts_a", "TMSTP", ["k1"]),
    gen.EntitySpec("src_ts_b", "TMSTP", ["k1", "k2"]),
]


def source_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("k1", T.LongType()),
        T.StructField("k2", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("qty", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ])


def change_frame(spark, upserts: pd.DataFrame, deletes: pd.DataFrame):
    """One source commit: upserts and deletes marked by ``__op``."""
    from pyspark.sql import types as T

    rows = pd.concat([upserts.assign(__op="U"), deletes.assign(__op="D")],
                     ignore_index=True)
    schema = T.StructType(source_schema().fields + [T.StructField("__op", T.StringType())])
    return spark.createDataFrame(rows, schema)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> bool:
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
            a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
        if not (a.to_numpy() == b.to_numpy()).all():
            return False
    return True


def row_tuple(r) -> tuple:
    return (int(r["k1"]), int(r["qty"]), float(r["amount"]), str(r["name"]))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Cycle:
    """Everything one cycle needs; ``run`` is the closed-loop body."""

    def __init__(self, b, store, models, ids, silver, views, threads):
        from nrtwithdeltalake_spark.pipeline import incremental

        self.b, self.store, self.models, self.ids = b, store, models, ids
        self.silver, self.views, self.threads = silver, views, threads
        self.incremental = incremental
        self.src_root, self.silver_root = b.path("source"), b.path("silver")
        self.stamps: list[tuple[int, float]] = []
        self.boot_version = silver[SPECS[0].name].latest_version()
        boot = models[0].source
        self.boot_agg = (len(boot), int(boot["qty"].sum()))

    def commit_sources(self, cycle: int) -> list:
        from nrtwithdeltalake_spark.pipeline.tables import VersionedTable

        spark = self.b.spark
        batches = [m.batch(cycle, BATCH_ROWS) for m in self.models]

        def commit(m, up, dl):
            VersionedTable(spark, os.path.join(self.src_root, m.spec.name)).merge(
                change_frame(spark, up, dl), m.spec.keys,
                delete_condition="__op = 'D'", exclude_cols=["__op"])

        with ThreadPoolExecutor(self.threads) as pool:
            for f in [pool.submit(commit, m, *bt) for m, bt in zip(self.models, batches)]:
                f.result()
        return batches

    def run(self, cycle: int, batches: list | None = None) -> dict:
        """One cycle; ``batches`` are the cycle's source commits when
        they were made beforehand. Returns its timings; checks go to the
        bench."""
        b, spark = self.b, self.b.spark
        if batches is None:
            t = now()
            batches = self.commit_sources(cycle)
            log(f"cycle {cycle}: sources committed in {now() - t:.1f}s")
        self.stamps.clear()
        t_call = now()
        res = b.op(lambda: self.incremental.run_pipeline(
            spark, self.store, self.src_root, self.silver_root,
            max_parallel=self.threads), "run_pipeline")
        t_pipe = now()
        with ThreadPoolExecutor(len(self.views)) as pool:
            for f in [pool.submit(b.op, v.refresh, f"{type(v).__name__}.refresh")
                      for v in self.views]:
                f.result()
        t_views = now()
        reads = self.read_back(cycle, batches[0])
        t_end = now()
        log(f"cycle {cycle}: pipeline {t_pipe - t_call:.1f}s, views {t_views - t_pipe:.1f}s, "
            f"reads {t_end - t_views:.1f}s")
        # outside the window: the file count the lookups saw
        files = len(self.silver[SPECS[0].name].get_commit().files)
        rows = 0
        for m, (up, dl) in zip(self.models, batches):
            r = next((r for r in res or [] if r.entity_id == self.ids[m.spec.name]), None)
            want = len(up) + (len(dl) if m.spec.wm_type == "CT" else 0)
            b.check(r is not None and r.action == "incremental" and r.rows == want,
                    f"cycle {cycle} {m.spec.name}: {r}")
            rows += r.rows if r is not None else 0
        return {"window": (t_call, t_end), "pipe_s": t_pipe - t_call,
                "lag_s": t_views - t_call, "rows": rows, "reads": reads, "files": files,
                "fresh": [(eid, t - t_call) for eid, t in self.stamps],
                "user_bytes": sum(gen.batch_bytes(*bt) for bt in batches)}

    def read_back(self, cycle: int, batch) -> dict[str, list[float]]:
        """Read this cycle's writes back from the first silver table."""
        from pyspark.sql import functions as F

        b, spark = self.b, self.b.spark
        table = self.silver[SPECS[0].name]
        want = self.models[0].expected_silver().set_index("k1", drop=False)
        up, dl = batch
        rng = self.models[0].rng
        upserted = int(up["k1"].iloc[int(rng.integers(0, len(up)))])
        deleted = int(dl["k1"].iloc[int(rng.integers(0, len(dl)))])
        out: dict[str, list[float]] = {}

        def lookup(kind, k, read):
            t = now()
            got = b.op(read, kind)
            out[kind] = [now() - t]
            expect = [row_tuple(want.loc[k])] if k in want.index else []
            b.check(got is not None and [row_tuple(r) for r in got] == expect,
                    f"cycle {cycle} {kind} of key {k}")

        lookup("lookup_table", upserted,
               lambda: table.read().filter(F.col("k1") == upserted).collect())
        with b.tracer.span("datasource.lookup"):
            lookup("lookup_datasource", deleted,
                   lambda: spark.read.format("versioned").option("path", table.path)
                   .load().filter(F.col("k1") == deleted).collect())
        t = now()
        got = b.op(lambda: table.read(version=self.boot_version)
                   .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("q")).collect(),
                   "time travel")
        out["time_travel"] = [now() - t]
        b.check(got is not None and (got[0]["n"], got[0]["q"]) == self.boot_agg,
                f"cycle {cycle} time travel to version {self.boot_version}")
        return out


def run(b, t0: float) -> dict[str, float]:
    from pyspark.sql import functions as F

    from nrtwithdeltalake_spark.pipeline import incremental
    from nrtwithdeltalake_spark.pipeline.checksum_view import IncrementalChecksum
    from nrtwithdeltalake_spark.pipeline.config import ConfigStore
    from nrtwithdeltalake_spark.pipeline.rollup import IncrementalRollup
    from nrtwithdeltalake_spark.pipeline.tables import VersionedTable
    from nrtwithdeltalake_spark.sources import datasource

    spark = b.spark
    threads = min(4, b.cpus)
    src_root, silver_root = b.path("source"), b.path("silver")
    models = [gen.NrtModel(s, b.seed, SOURCE_ROWS) for s in SPECS]

    # -- set-up: independent steps run side by side ------------------------------
    store = ConfigStore(spark, b.path("config"))
    datasource.register(spark)

    def create_source(m):
        df = spark.createDataFrame(m.source.reset_index(drop=True), source_schema())
        VersionedTable.create(spark, os.path.join(src_root, m.spec.name),
                              df.repartition(SOURCE_FILES))

    def register_entities():
        store.init()
        return {m.spec.name: store.register_entity(
                    m.spec.name, "silver_" + m.spec.name, m.spec.wm_type, m.spec.keys,
                    timestamp_column="ts" if m.spec.wm_type == "TMSTP" else None)
                for m in models}

    with ThreadPoolExecutor(threads + 1) as pool:
        sources = [pool.submit(create_source, m) for m in models]
        ids = pool.submit(register_entities).result()
        for f in sources:
            f.result()
    log(f"config store, entities and sources at {now() - t0:.1f}s")
    boot = incremental.run_pipeline(spark, store, src_root, silver_root, max_parallel=threads)
    b.check(sorted(r.action for r in boot) == ["full"] * len(models), "bootstrap loads")
    silver = {m.spec.name: VersionedTable(spark, os.path.join(silver_root, "silver_" + m.spec.name))
              for m in models}
    view_base = silver[SPECS[0].name]
    rollup = IncrementalRollup(spark, view_base, b.path("views", "rollup"), ["k2"],
                               {"n": lambda: F.count(F.lit(1)), "qty": lambda: F.sum("qty")})
    checksum = IncrementalChecksum(spark, view_base, b.path("views", "checksum"),
                                   cols=gen.SOURCE_COLUMNS)
    log(f"bootstrap at {now() - t0:.1f}s")

    def warm_reads():
        # the read-back's three shapes once on the bootstrap state: starts
        # the DataSource's Python workers and plans the reads
        table = silver[SPECS[0].name]
        table.read().filter(F.col("k1") == 0).collect()
        (spark.read.format("versioned").option("path", table.path).load()
         .filter(F.col("k1") == 0).collect())
        table.read(version=table.latest_version()).agg(F.sum("qty")).collect()

    # the first views, the read warm-up and the first cycle's source
    # commits do not depend on each other
    cyc = Cycle(b, store, models, ids, silver, [rollup, checksum], threads)
    with ThreadPoolExecutor(4) as pool:
        first = pool.submit(cyc.commit_sources, 1)
        reads = pool.submit(b.op, warm_reads, "read warm-up")
        for f in [pool.submit(fn) for fn in (rollup.refresh, checksum.refresh)]:
            f.result()
        reads.result()
        first = first.result()
    setup_s = now() - t0
    log(f"set-up {setup_s:.1f}s")

    # -- timed cycles -------------------------------------------------------------
    versions_before = {n: t.latest_version() for n, t in silver.items()}
    ledger_before = store.watermarks.latest_version() + store.entities.latest_version()
    bytes_before = dir_bytes(silver_root) + dir_bytes(b.path("config"))
    if b.trace:
        wraps.install(b.tracer)
    inner_load = incremental.load_entity

    def stamped_load(*args, **kwargs):
        r = inner_load(*args, **kwargs)
        cyc.stamps.append((r.entity_id, now()))
        return r

    incremental.load_entity = stamped_load
    cycles = []
    deadline = now() + b.seconds
    try:
        while not cycles or now() < deadline:
            n = len(cycles) + 1
            cycles.append(cyc.run(n, first if n == 1 else None))
            b.windows.append(cycles[-1]["window"])
    finally:
        incremental.load_entity = inner_load
        if b.trace:
            b.tracer.unwrap_all()
    log(f"{len(cycles)} timed cycles")

    # -- counts for the traced run (untimed) ------------------------------------
    n_loads = sum(len(c["fresh"]) for c in cycles)
    if b.trace and n_loads:
        rewritten = 0
        for n, t in silver.items():
            for v in range(versions_before[n] + 1, t.latest_version() + 1):
                rewritten += len(set(t.get_commit(v - 1).files) - set(t.get_commit(v).files))
        silver_commits = sum(t.latest_version() - versions_before[n] for n, t in silver.items())
        ledger_commits = (store.watermarks.latest_version()
                          + store.entities.latest_version() - ledger_before)
        written = dir_bytes(silver_root) + dir_bytes(b.path("config")) - bytes_before
        log_dir = os.path.join(view_base.path, "_log")
        b.extras.update({
            "threads": float(threads),
            "snapshot_files": sum(c["files"] for c in cycles) / len(cycles),
            "config.ledger_commits_per_load": ledger_commits / n_loads,
            "tables.commits_per_load": (silver_commits + ledger_commits) / n_loads,
            "tables.files_rewritten_per_load": rewritten / n_loads,
            "tables.bytes_written_per_user_byte":
                written / max(1, sum(c["user_bytes"] for c in cycles)),
            "logcodec.log_bytes_per_commit":
                dir_bytes(log_dir) / (view_base.latest_version() + 1),
        })

    # -- correctness (untimed) ----------------------------------------------------
    t_check = now()

    def silver_rows(m):
        return silver[m.spec.name].read().select(*gen.SOURCE_COLUMNS).toPandas()

    with ThreadPoolExecutor(threads) as pool:
        for m, got in zip(models, pool.map(silver_rows, models)):
            b.check(frames_equal(got, m.expected_silver()[gen.SOURCE_COLUMNS],
                                 m.spec.keys),
                    f"silver {m.spec.name} equals the batch log")
    want = models[0].expected_silver().groupby("k2").agg(
        n=("k1", "size"), qty=("qty", "sum")).reset_index()
    got = rollup.read().toPandas()
    b.check(frames_equal(got[["k2", "n", "qty"]].astype("int64"), want.astype("int64"), ["k2"]),
            "rollup equals a full recompute")
    maintained, recomputed = checksum.current(), checksum.compute_now()
    b.check(maintained == recomputed and maintained[0] == len(models[0].expected_silver()),
            f"checksum {maintained} equals a full recompute {recomputed}")

    log(f"checks took {now() - t_check:.1f}s")
    fresh: dict[int, list[float]] = {}
    for c in cycles:
        for eid, s in c["fresh"]:
            fresh.setdefault(eid, []).append(s)
    samples = [x for v in fresh.values() for x in v]
    kinds = [median(v) for v in fresh.values()]
    for kind in ("lookup_table", "lookup_datasource", "time_travel"):
        kinds.append(median([x for c in cycles for x in c["reads"][kind]]))
    t_val, t_pct, t_n = tail(samples)
    b.notes.append(f"# latency_tail_s: p{t_pct:.1f} of n={t_n} loads; cycles={len(cycles)}")
    return {
        "setup_s": setup_s,
        "latency_p50_s": median(samples),
        "latency_tail_s": t_val,
        "iter_s": median([c["lag_s"] for c in cycles]),
        "geomean_s": geomean(kinds),
        "rows_per_s": sum(c["rows"] for c in cycles) / sum(c["pipe_s"] for c in cycles),
    }
