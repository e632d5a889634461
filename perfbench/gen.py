"""Seeded input generators. The same seed always yields the same inputs.

Only the benchmark reads the generators' bookkeeping (expected keys, valid
key counts); the engine receives just the generated rows and files.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: ingest_live: item names are drawn from this many distinct keys, so a
#: steady phase mixes last-write-wins updates with first inserts.
LIVE_KEYS = 20_000

RAW_TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
RAW_SCHEMA = pa.schema(
    [
        ("item_name", pa.string()),
        ("ingestion_ts", pa.timestamp("us", tz="UTC")),
        ("data", pa.string()),
    ]
)
_FIELDS = (
    "calories",
    "serving_size_g",
    "fat_total_g",
    "fat_saturated_g",
    "protein_g",
    "sodium_mg",
    "potassium_mg",
    "cholesterol_mg",
    "carbohydrates_total_g",
    "fiber_g",
    "sugar_g",
)
_SCALE = (900.0, 400.0, 60.0, 20.0, 50.0, 2000.0, 1200.0, 300.0, 120.0, 30.0, 60.0)


def live_names(seed: int, phase: str, n: int) -> list[str]:
    """Item names one producer phase sends, in send order."""
    tag = {"warmup": 1, "steady": 2, "burst": 3}[phase]
    rng = np.random.default_rng([seed, tag])
    return [f"food-{k:05d}" for k in rng.integers(0, LIVE_KEYS, n)]


class RawFeed:
    """The batch workload's raw layer: a base load, then increments.

    Rows follow the reference's raw table (item_name, ingestion_ts, data)
    with the dirty shapes a real feed carries: NULL data, the processed
    marker ``"[]"``, unparseable JSON and payloads with missing fields.
    ``ingestion_ts`` is unique per row and grows with every increment, so
    last-write-wins has one answer. The feed tracks which keys have ever
    carried a valid payload: the enriched table must hold exactly those.
    """

    def __init__(self, seed: int, base_keys: int, base_rows: int, inc_rows: int):
        self.rng = np.random.default_rng([seed, 7])
        self.base_keys = base_keys
        self.base_rows = base_rows
        self.inc_rows = inc_rows
        self.n_keys = 0
        self.n_rows = 0
        self.valid = np.zeros(0, dtype=bool)

    def _rows(self, keys: np.ndarray) -> pa.Table:
        # kinds: 0 NULL, 1 "[]", 2 unparseable, 3 full payload, 4 partial
        n = len(keys)
        kinds = self.rng.choice(5, size=n, p=[0.02, 0.02, 0.02, 0.84, 0.10])
        vals = np.round(self.rng.random((n, len(_FIELDS))) * _SCALE, 1)
        vals[:, 1] += 20.0  # serving_size_g stays positive
        data: list[str | None] = []
        for k, t, v in zip(keys.tolist(), kinds.tolist(), vals.tolist()):
            if t == 0:
                data.append(None)
            elif t == 1:
                data.append("[]")
            elif t == 2:
                data.append(f'[{{"name": "item {k}", "calories": ')
            else:
                fields = _FIELDS if t == 3 else _FIELDS[:7] + _FIELDS[8:9]
                body = ", ".join(
                    f'"{f}": {x:.1f}' for f, x in zip(_FIELDS, v) if f in fields
                )
                data.append(f'[{{"name": "item {k:07d}", {body}}}]')
        ts = pa.array(
            (np.datetime64(RAW_TS0.replace(tzinfo=None), "us")
             + np.arange(self.n_rows, self.n_rows + n) * np.timedelta64(1, "s")),
            pa.timestamp("us", tz="UTC"),
        )
        self.n_rows += n
        ok = kinds >= 3
        grow = int(keys.max()) + 1 - len(self.valid) if n else 0
        if grow > 0:
            self.valid = np.concatenate([self.valid, np.zeros(grow, dtype=bool)])
        self.valid[keys[ok]] = True
        names = pa.array([f"item {k:07d}" for k in keys.tolist()])
        return pa.Table.from_arrays([names, ts, pa.array(data)], schema=RAW_SCHEMA)

    def base(self) -> pa.Table:
        """Every base key once, plus repeats of random keys."""
        self.n_keys = self.base_keys
        extra = self.rng.integers(0, self.base_keys, self.base_rows - self.base_keys)
        keys = np.concatenate([np.arange(self.base_keys), extra])
        self.rng.shuffle(keys)
        return self._rows(keys)

    def increment(self) -> pa.Table:
        """Mostly updates of known keys, about 10% new keys."""
        n_new = self.inc_rows // 10
        upd = self.rng.integers(0, self.n_keys, self.inc_rows - n_new)
        new = np.arange(self.n_keys, self.n_keys + n_new)
        self.n_keys += n_new
        keys = np.concatenate([upd, new])
        self.rng.shuffle(keys)
        return self._rows(keys)

    @property
    def valid_keys(self) -> int:
        return int(self.valid.sum())


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)
