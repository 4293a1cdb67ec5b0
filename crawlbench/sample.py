"""The ops pack's input: a seed-keyed row sample of the sf0.1 tables.

A row is kept when splitmix64(seed, key) mod 1000 falls below the table's
per-mille share, so the same seed always keeps the same rows. The key is the
one the ops queries group or join on, so a kept group keeps all its rows:
orders and customer are both keyed by the customer (a kept customer keeps
every order), events by the user (whole sessions). Each sample is
written as `<dst>/<table>.parquet/part-0.parquet` with the source's own
writer (pyarrow), so Spark and DuckDB read the same types as in the source.
"""
import os

import numpy as np

# table, sampling key, per-mille kept
TABLES = (("documents", "doc_id", 40), ("embeddings", "vec_id", 100), ("events", "user_id", 40),
          ("orders", "o_custkey", 40), ("customer", "c_custkey", 40))
_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(seed, keys):
    with np.errstate(over="ignore"):
        z = (np.uint64(seed & 0xFFFFFFFFFFFFFFFF) + np.uint64(0x9E3779B97F4A7C15)
             + keys.astype(np.uint64)) & _M64
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def write_sample(src, dst, seed, scale=1.0):
    """Writes the sample of every table; `scale` shrinks the shares (toy runs)."""
    import pyarrow.parquet as pq
    for table, key, per_mille in TABLES:
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        keys = t.column(key).to_numpy()
        keep = (_splitmix64(seed, keys) % np.uint64(1000)) < np.uint64(int(per_mille * scale))
        out = os.path.join(dst, f"{table}.parquet")
        os.makedirs(out, exist_ok=True)
        pq.write_table(t.filter(keep), os.path.join(out, "part-0.parquet"))
