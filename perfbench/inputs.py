"""Seeded input generator for the benchmark.

Derives one input directory from the small base catalog committed under
``perfbench/base`` (the sf0.01 star schema plus the ``events`` and
``documents`` tables).  For a given seed it keeps a fixed share of each fact
table's keys, chosen at random, and writes the kept rows in a random order:

- ``orders`` by ``o_orderkey``, and ``lineitem`` follows its orders;
- ``events`` by ``user_id``, so every kept user keeps all their sessions;
- ``documents`` by ``doc_id``.

Dimension tables are copied unchanged.  Every seed yields the same number of
kept keys, so the work per run barely moves between seeds, while the rows
themselves and their order do.  The same seed gives byte-identical files.

Usage: python3 perfbench/inputs.py SEED OUT_DIR
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
DIMS = ("region", "nation", "customer", "supplier", "part")
# fact table -> sampling key; lineitem is sampled through its orders
FACTS = {"orders": "o_orderkey", "events": "user_id", "documents": "doc_id"}
KEEP_SHARE = 0.9
TABLES = DIMS + tuple(FACTS) + ("lineitem",)


def _sample_keys(rng: np.random.Generator, keys: pa.Array) -> pa.Array:
    uniq = np.unique(keys.to_numpy())
    return pa.array(rng.permutation(uniq)[: int(len(uniq) * KEEP_SHARE)])


def _write_shuffled(rng: np.random.Generator, table: pa.Table, path: str) -> None:
    pq.write_table(table.take(rng.permutation(table.num_rows)), path)


def generate(seed: int, out_dir: str) -> None:
    """Write the seeded input catalog for ``seed`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name in DIMS:
        shutil.copyfile(f"{BASE_DIR}/{name}.parquet", f"{out_dir}/{name}.parquet")
    kept = {}
    for name, key in FACTS.items():
        table = pq.read_table(f"{BASE_DIR}/{name}.parquet")
        kept[name] = _sample_keys(rng, table[key])
        table = table.filter(pc.is_in(table[key], value_set=kept[name]))
        _write_shuffled(rng, table, f"{out_dir}/{name}.parquet")
    lineitem = pq.read_table(f"{BASE_DIR}/lineitem.parquet")
    lineitem = lineitem.filter(pc.is_in(lineitem["l_orderkey"], value_set=kept["orders"]))
    _write_shuffled(rng, lineitem, f"{out_dir}/lineitem.parquet")


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
