"""Seeded inputs of the cache workloads, written with pyarrow from the
read-only sf0.1 tables:

- lineitem/l_bucket=<k>/part-*.parquet: every lineitem row, in PARTITIONS
  directories, split into about `files` files. The bucket of a row is
  (l_orderkey * BUCKET_MULTIPLIER + seed) mod PARTITIONS; the seed also
  shuffles the rows across the files of a directory. perfbench.Fixtures
  derives the same column on the original table for the result check.
- orders/part-*.parquet: every orders row in 8 files.
- pool/part-*.parquet (source churn only): files of sampled lineitem rows,
  l_quantity + 1, that the churn writer copies into partitions.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PARTITIONS = 40
BUCKET_MULTIPLIER = 2654435761


def _write_split(table, rows, out_dir, parts):
    """Write table[rows], in that order, as `parts` files."""
    out_dir.mkdir(parents=True)
    picked = table.take(pa.array(rows))
    bounds = np.linspace(0, len(rows), parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(picked.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       out_dir / f"part-{i:05d}.parquet")


def write(data, out, seed, files, pool_files=0):
    out = Path(out)
    rng = np.random.default_rng(seed)
    lineitem = pq.read_table(Path(data, "lineitem.parquet"))
    bucket = (lineitem.column("l_orderkey").to_numpy() * BUCKET_MULTIPLIER + seed) % PARTITIONS
    shuffled = rng.permutation(lineitem.num_rows)
    for k in range(PARTITIONS):
        _write_split(lineitem, shuffled[bucket[shuffled] == k],
                     out / "lineitem" / f"l_bucket={k}", max(1, files // PARTITIONS))
    orders = pq.read_table(Path(data, "orders.parquet"))
    _write_split(orders, rng.permutation(orders.num_rows), out / "orders", 8)
    if pool_files:
        rows = np.sort(rng.choice(lineitem.num_rows, lineitem.num_rows // 20, replace=False))
        sample = lineitem.take(pa.array(rows))
        qty = sample.schema.get_field_index("l_quantity")
        sample = sample.set_column(qty, "l_quantity", pc.add(sample.column(qty), 1.0))
        _write_split(sample, rng.permutation(sample.num_rows), out / "pool", pool_files)
