"""Seeded input generator for the benchmark's `join_exec` workload.

`write_join_tables` writes its star schema: one fact table whose four
foreign keys come twice, once uniform and once with the reference
benchmark's exponential skew y = (16^x - 1) / 15, and four dimension tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(dirpath, name, columns):
    pq.write_table(pa.table(columns), os.path.join(dirpath, name + ".parquet"))


def skewed(rng, n, hi):
    """n keys in [0, hi) drawn with y = (16^x - 1) / 15, x uniform on [0, 1)."""
    x = rng.random(n)
    return np.minimum((hi * (16.0 ** x - 1) / 15).astype(np.int64), hi - 1)


def write_join_tables(dirpath, seed, n_fact, n_dim):
    """`jx_fact` (keys u1..u4 uniform, s1..s4 skewed, payload v) and
    `jx_dim1..4` (id, w, name). Dimension k holds ids [k, n_dim + k), as in
    the reference's shifted ranges, so every join has unmatched rows on
    both sides."""
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32 = pa.int32()
    span = n_dim + 8
    fact = {}
    for k in range(1, 5):
        fact[f"u{k}"] = pa.array(rng.integers(0, span, n_fact), i32)
    for k in range(1, 5):
        fact[f"s{k}"] = pa.array(skewed(rng, n_fact, span), i32)
    fact["v"] = rng.integers(0, 1000, n_fact)
    _write(dirpath, "jx_fact", fact)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    for k in range(1, 5):
        names = letters[rng.integers(0, len(letters), (n_dim, 16))].view("<U16")[:, 0]
        _write(dirpath, f"jx_dim{k}", {
            "id": pa.array(np.arange(k, n_dim + k), i32),
            "w": rng.integers(0, 100, n_dim),
            "name": pa.array(names, pa.string())})
