"""Benchmark inputs, made from the project's test data and ``--seed``.

``perfbench/data/sf0.01`` and ``perfbench/data/sf0.001`` are unmodified
copies of the project's test data (the TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``). The catalog lines read
them as they are. The replication and CDC inputs are derived from their
``orders`` and ``lineitem``:

* the replication bases are the real rows, with ``l_linenumber``
  renumbered within each order so ``(l_orderkey, l_linenumber)`` is
  unique (the incremental jobs merge on it; the test data repeats it);
* the incremental deltas and the CDC change files are the seeded part:
  real rows picked at random with a value column changed (updates), plus
  real rows re-keyed past the largest key (inserts).

So the bases do not depend on the seed, and the same seed always gives
byte-identical deltas and backlogs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

LINEITEM_PK = ["l_orderkey", "l_linenumber"]
ORDERS_PK = ["o_orderkey"]


def sf_dir(sf: str) -> str:
    """Directory of the test data at scale ``sf`` ("0.01" or "0.001")."""
    return os.path.join(DATA, f"sf{sf}")


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # one row group, like the test data (one scan task per file)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return path


def _read(sf: str, name: str) -> pa.Table:
    # drop the pandas metadata, so a derived file carries only its schema
    return pq.read_table(f"{sf_dir(sf)}/{name}.parquet").replace_schema_metadata(None)


def orders(sf: str, n: int) -> pa.Table:
    """The first ``n`` orders by key (keys are dense from 0)."""
    t = _read(sf, "orders")
    return t.filter(pc.less(t["o_orderkey"], n)).sort_by("o_orderkey")


def lineitem(sf: str, n_orders: int) -> pa.Table:
    """The lines of the first ``n_orders`` orders, ``l_linenumber``
    renumbered 1.. within each order in file order."""
    t = _read(sf, "lineitem")
    t = t.filter(pc.less(t["l_orderkey"], n_orders))
    t = t.append_column("__pos", pa.array(np.arange(t.num_rows))).sort_by(
        [("l_orderkey", "ascending"), ("__pos", "ascending")]).drop_columns("__pos")
    keys = t["l_orderkey"].to_numpy()
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    counts = np.diff(np.r_[starts, len(keys)])
    lines = np.arange(len(keys)) - np.repeat(starts, counts) + 1
    i = t.schema.get_field_index("l_linenumber")
    return t.set_column(i, "l_linenumber", pa.array(lines, pa.int32()))


def _scaled(rng: np.random.Generator, t: pa.Table, col: str) -> pa.Table:
    """``t`` with ``col`` multiplied by a random factor in [0.5, 1.5)."""
    x = t[col].to_numpy() * rng.uniform(0.5, 1.5, t.num_rows)
    return t.set_column(t.schema.get_field_index(col), col,
                        pa.array(np.round(x, 2), t.schema.field(col).type))


def _rekeyed(t: pa.Table, col: str, first: int) -> pa.Table:
    """``t`` with ``col`` replaced by ``first``, ``first + 1``, ..."""
    return t.set_column(t.schema.get_field_index(col), col,
                        pa.array(np.arange(first, first + t.num_rows), pa.int64()))


def _pick(rng: np.random.Generator, t: pa.Table, n: int) -> pa.Table:
    return t.take(pa.array(np.sort(rng.choice(t.num_rows, n, replace=False))))


def lineitem_delta(base: pa.Table, seed: int) -> pa.Table:
    """~15 % of ``base``: 10 % of its rows with ``l_extendedprice``
    changed, plus the lines of ~5 % of its orders copied to new order
    keys."""
    rng = np.random.default_rng([seed, 2])
    upd = _scaled(rng, _pick(rng, base, base.num_rows // 10), "l_extendedprice")
    okeys = np.unique(base["l_orderkey"].to_numpy())
    picked = np.sort(rng.choice(okeys, max(len(okeys) // 20, 1), replace=False))
    fresh = base.filter(pc.is_in(base["l_orderkey"], pa.array(picked)))
    # new key = largest key + 1 + rank of the picked order
    new_key = okeys.max() + 1 + np.searchsorted(picked, fresh["l_orderkey"].to_numpy())
    fresh = fresh.set_column(0, "l_orderkey", pa.array(new_key, pa.int64()))
    return pa.concat_tables([upd, fresh])


def orders_delta(base: pa.Table, seed: int) -> pa.Table:
    """~15 % of ``base``: 10 % of its orders with ``o_totalprice``
    changed, plus 5 % copied to new keys."""
    rng = np.random.default_rng([seed, 3])
    upd = _scaled(rng, _pick(rng, base, base.num_rows // 10), "o_totalprice")
    n_new = max(base.num_rows // 20, 1)
    first = int(pc.max(base["o_orderkey"]).as_py()) + 1
    return pa.concat_tables([upd, _rekeyed(_pick(rng, base, n_new), "o_orderkey", first)])


def cdc_backlog(out_dir: str, sf: str, seed: int, n_bootstrap: int, n_changes: int,
                change_rows: int) -> list[str]:
    """A staged change backlog: one bootstrap file (the first
    ``n_bootstrap`` orders), then ``n_changes`` files of ``change_rows``
    rows each. A change file holds updates of keys already staged (some
    keys repeated within the file) with ``o_totalprice`` changed, plus
    the next unstaged orders as inserts. Every row carries ``o_seq``, a
    global change sequence, so last-wins per key is well-defined. File
    mtimes are set one second apart, so the file source admits them in
    order without waiting on the clock."""
    rng = np.random.default_rng([seed, 4])
    n_new = change_rows // 5
    src = orders(sf, n_bootstrap + n_changes * n_new)
    tables = [src.slice(0, n_bootstrap)]
    staged = n_bootstrap
    for _ in range(n_changes):
        keys = rng.integers(0, staged, change_rows - n_new)
        upd = _scaled(rng, src.take(pa.array(keys)), "o_totalprice")
        tables.append(pa.concat_tables([upd, src.slice(staged, n_new)]))
        staged += n_new
    files, seq, base_mtime = [], 0, 1_700_000_000
    for i, t in enumerate(tables):
        t = t.append_column("o_seq", pa.array(np.arange(seq, seq + t.num_rows), pa.int64()))
        seq += t.num_rows
        path = write(t, f"{out_dir}/c{i:04d}.parquet")
        os.utime(path, (base_mtime + i, base_mtime + i))
        files.append(path)
    return files
