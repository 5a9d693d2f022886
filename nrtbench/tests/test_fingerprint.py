import hashlib

import numpy as np
import pandas as pd

from nrtbench.fingerprint import _cell, fingerprint


def per_cell(pdf: pd.DataFrame) -> tuple[int, str]:
    """The definition: every cell through ``_cell``, row by row."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_cell(v) for v in r)
                  for r in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha1("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return len(rows), h.hexdigest()


def frame() -> pd.DataFrame:
    return pd.DataFrame({
        "i": np.array([3, -1, 7], dtype=np.int32),
        "f": [0.1, float("nan"), 1e16],
        "b": [True, False, True],
        "s": ["x", None, "z"],
        "t": pd.to_datetime(["2024-01-01 00:00:01.5", None, "2001-02-03 00:00:00"], format="ISO8601"),
        "a": [[1.0, 2.5], [], None],
        "n": pd.array([1, None, 3], dtype="Int64"),
    })


def test_columnwise_fingerprint_equals_the_per_cell_definition():
    pdf = frame()
    assert fingerprint(pdf) == per_cell(pdf)
    assert fingerprint(pdf.iloc[:0]) == per_cell(pdf.iloc[:0])


def test_fingerprint_ignores_row_and_column_order_but_not_types():
    pdf = frame()
    shuffled = pdf.iloc[[2, 0, 1], ::-1].reset_index(drop=True)
    assert fingerprint(shuffled) == fingerprint(pdf)
    assert fingerprint(pdf.assign(i=pdf["i"].astype(float))) != fingerprint(pdf)


def test_recorded_oracle_fingerprints_match_duckdb():
    """The "duckdb" fingerprints query_era40 checks against are those of
    each query's DuckDB oracle over the fixture; the rest cover the
    queries without one."""
    import json
    import os

    import bench
    import duckdb

    from nrtbench import queries
    from nrtwithdeltalake_spark.operators.registry import all_oracles
    from nrtwithdeltalake_spark.sources.catalog import TABLES

    with open(queries.FINGERPRINTS) as fh:
        recorded = json.load(fh)
    oracles = all_oracles()
    assert set(recorded) == {"duckdb", "seed_commit"}
    assert set(recorded["duckdb"]) == {n for n in bench.HEADLINE if n in oracles}
    assert set(recorded["seed_commit"]) == {n for n in bench.HEADLINE if n not in oracles}
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(queries.DATA, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    got = {n: list(fingerprint(con.execute(oracles[n]).df())) for n in recorded["duckdb"]}
    con.close()
    assert got == recorded["duckdb"]
