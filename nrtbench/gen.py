"""Seeded input generator for the NRT entities. The same seed always
yields the same inputs.

``NrtModel`` owns the source rows of one entity and predicts, without
the engine, what its silver table must hold after every committed
batch. (``query_era40`` reads a fixed fixture instead, ``data/sf0.1``.)
"""

from __future__ import annotations

import datetime
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa

SOURCE_COLUMNS = ["k1", "k2", "name", "qty", "amount", "ts"]
BASE_TS = datetime.datetime(2024, 1, 1)
K2_VALUES = 7  # k2 is drawn from 0..K2_VALUES-1


class EntitySpec(NamedTuple):
    name: str
    wm_type: str  # 'CT' | 'TMSTP'
    keys: list[str]


class NrtModel:
    """Source rows of one entity plus the silver state the engine must
    produce, kept in pandas and indexed by the entity's key.

    Cycle ``c`` stamps its rows ``BASE_TS + c minutes``, so a TMSTP
    watermark (second precision, strictly greater) sees exactly the
    rows of the cycles after it. Updates pick live keys uniformly, so
    they touch every data file; inserts take keys never used before;
    deletes pick live keys not updated in the same batch.

    ``k2`` is drawn independently of ``k1``. With a composite key
    ``(k1, k2)`` the ``k1`` values are drawn from half as many values
    as there are rows, so most ``k1`` values are shared by rows with
    another ``k2``, and inserts often add a new ``k2`` to a live ``k1``.
    """

    def __init__(self, spec: EntitySpec, seed: int, rows: int):
        self.spec = spec
        self.composite = len(spec.keys) > 1
        self.rng = np.random.default_rng([seed, 2, _stable_id(spec.name)])
        self.k1_hi = rows // 2 if self.composite else rows  # k1 values drawn so far
        self.used: set = set()
        self.source = self._rows(self._fresh_keys(rows, self.k1_hi), 0)
        # TMSTP cannot see deletes: its silver keeps the last version of
        # every key ever loaded
        self.loaded = self.source.copy()

    def _fresh_keys(self, n: int, k1_hi: int) -> pd.DataFrame:
        """``n`` keys never used before, in draw order."""
        if not self.composite:
            k1 = np.arange(k1_hi - n, k1_hi, dtype=np.int64)
            k2 = self.rng.integers(0, K2_VALUES, n)
        else:
            k1, k2 = [], []
            while len(k1) < n:
                a = self.rng.integers(0, k1_hi, 2 * n)
                c = self.rng.integers(0, K2_VALUES, 2 * n)
                for x, y in zip(a.tolist(), c.tolist()):
                    if (x, y) not in self.used and len(k1) < n:
                        self.used.add((x, y))
                        k1.append(x)
                        k2.append(y)
        return pd.DataFrame({"k1": np.asarray(k1, dtype=np.int64),
                             "k2": np.asarray(k2, dtype=np.int32)})

    def _rows(self, keys: pd.DataFrame, cycle: int) -> pd.DataFrame:
        n = len(keys)
        return pd.DataFrame({
            "k1": keys["k1"].to_numpy(np.int64),
            "k2": keys["k2"].to_numpy(np.int32),
            "name": [f"n{x}" for x in self.rng.integers(0, 10_000, n)],
            "qty": self.rng.integers(0, 1000, n).astype(np.int64),
            "amount": self.rng.integers(0, 10**7, n) / 100.0,
            "ts": pd.Series([BASE_TS + datetime.timedelta(minutes=cycle)] * n,
                            dtype="datetime64[us]"),
        }).set_index(self.spec.keys, drop=False)

    def batch(self, cycle: int, size: int) -> tuple[pd.DataFrame, pd.DataFrame]:
        """Next batch: (upserts, deletes) of ~50% updates, ~40% inserts
        and ~10% deletes. Applies it to the model."""
        n_upd, n_ins = size // 2, size * 4 // 10
        n_del = size - n_upd - n_ins
        picked = self.rng.choice(len(self.source), n_upd + n_del, replace=False)
        upd_keys = self.source.index[picked[:n_upd]]
        del_keys = self.source.index[np.sort(picked[n_upd:])]
        # a composite key's inserts draw k1 from the live range and a
        # little beyond it; a single key's take the next fresh values
        self.k1_hi += n_ins // 4 if self.composite else n_ins
        ins = self._fresh_keys(n_ins, self.k1_hi)
        old = self.source.loc[upd_keys, ["k1", "k2"]].reset_index(drop=True)
        upserts = self._rows(pd.concat([old, ins], ignore_index=True), cycle)
        deletes = self.source.loc[del_keys].copy()
        self.source = pd.concat([self.source.drop(index=del_keys).drop(index=upd_keys), upserts])
        self.loaded = pd.concat([self.loaded.drop(index=upd_keys), upserts])
        return upserts.reset_index(drop=True), deletes.reset_index(drop=True)

    def expected_silver(self) -> pd.DataFrame:
        want = self.source if self.spec.wm_type == "CT" else self.loaded
        return want.sort_index().reset_index(drop=True)


def batch_bytes(upserts: pd.DataFrame, deletes: pd.DataFrame) -> int:
    """Arrow size of a batch: the user bytes a load carries."""
    return sum(pa.Table.from_pandas(d, preserve_index=False).nbytes
               for d in (upserts, deletes))


def _stable_id(name: str) -> int:
    return int.from_bytes(name.encode()[:8].ljust(8, b"\0"), "little")
