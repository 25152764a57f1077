"""Seeded benchmark inputs.

Two kinds of input, both made only from the seed:

* ``write_tables`` writes the ten catalog tables as parquet files into a
  directory, for the registered query functions and their DuckDB oracles.
  They are a seeded subset of the shipped sf0.01 fixture in ``data/``
  (the seed-42 tables described in FIXTURES.md, copied unchanged): the
  dimension tables whole, and of the fact tables the rows of a seeded
  share of orders (with their line items), of users (with all their
  events), of documents and of embeddings.  Values,
  schemas and per-key patterns are the shipped ones; the seed only
  chooses which keys take part.
* ``MigrationSource`` is the migration workload's source table: a gappy
  int64 primary key plus three payload columns, with seeded deltas.  It
  keeps its own record of every row it has produced, which the
  correctness gate compares the destination against.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = Path(__file__).resolve().parent / "data" / "sf0.01"
DIMENSIONS = ("region", "nation", "supplier", "part", "customer")
#: fact table -> the key whose values are kept or dropped as a whole
FACT_KEYS = {
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _keep(table: pa.Table, key: str, keep: float, rng: np.random.Generator) -> pa.Table:
    keys = pc.unique(table.column(key))
    chosen = keys.filter(pa.array(rng.random(len(keys)) < keep))
    return table.filter(pc.is_in(table.column(key), value_set=chosen))


def build_tables(seed: int, keep: float) -> dict[str, pa.Table]:
    """The ten catalog tables, deterministic in ``seed``: the shipped
    fixture with about ``keep`` of each fact table's keys."""
    rng = np.random.default_rng([seed, 0xF17])
    out = {name: pq.read_table(FIXTURE / f"{name}.parquet") for name in DIMENSIONS}
    for name, key in FACT_KEYS.items():
        out[name] = _keep(pq.read_table(FIXTURE / f"{name}.parquet"), key, keep, rng)
    lineitem = pq.read_table(FIXTURE / "lineitem.parquet")
    out["lineitem"] = lineitem.filter(
        pc.is_in(lineitem.column("l_orderkey"), value_set=out["orders"].column("o_orderkey"))
    )
    return out


def write_tables(seed: int, keep: float, out_dir: Path) -> dict[str, int]:
    """Write the catalog tables as ``<out_dir>/<name>.parquet`` (one row
    group each, like the shipped files); returns row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, keep).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts


class MigrationSource:
    """The migration workload's source table and its seeded history.

    Schema: ``id BIGINT`` (gappy, strictly increasing), ``grp INT``,
    ``amount DOUBLE`` (2 dp), ``note VARCHAR``.  ``initial`` returns the
    bulk rows; each ``delta`` call returns rows past the current maximum
    key (possibly none).  ``rows`` is every row produced so far: the
    source of truth for the correctness gate."""

    COLUMNS = ("id", "grp", "amount", "note")

    def __init__(self, seed: int, n_rows: int, delta_rows: int, round_no: int = 0):
        self.rng = np.random.default_rng([seed, 0x316, round_no])
        self.delta_rows = delta_rows
        self._parts: list[pd.DataFrame] = []
        self._next_pk = int(self.rng.integers(1, 1000))
        self.initial = self._make(n_rows)

    def _make(self, n: int) -> pd.DataFrame:
        gaps = self.rng.integers(1, 4, n)
        # occasional wide holes: real PK spaces have deleted stretches
        gaps[self.rng.random(n) < 0.0005] += 2_000
        pk = self._next_pk + np.cumsum(gaps) - (gaps[0] if n else 0)
        if n:
            self._next_pk = int(pk[-1]) + int(self.rng.integers(1, 4))
        df = pd.DataFrame(
            {
                "id": pk.astype(np.int64),
                "grp": self.rng.integers(0, 100, n).astype(np.int32),
                "amount": self.rng.integers(0, 10**7, n) / 100.0,
                "note": [f"n{x:x}" for x in self.rng.integers(0, 2**40, n)],
            }
        )
        self._parts.append(df)
        return df

    def deltas(self, k: int) -> list[pd.DataFrame]:
        """``k`` seeded deltas of new rows beyond the current maximum key:
        ``k - 1`` hold between half of ``delta_rows`` and ``delta_rows``
        rows, the last is empty, so every seed gives the same mix of
        work."""
        sizes = self.rng.integers(self.delta_rows // 2, self.delta_rows + 1, max(k - 1, 0))
        return [self._make(int(n)) for n in sizes] + [self._make(0)][: max(k, 0)]

    @property
    def rows(self) -> pd.DataFrame:
        return pd.concat(self._parts, ignore_index=True)
