"""Derive the benchmark's vendored tables from the engine's sf0.1 fixture.

    python3 perfbench/fixture/make_fixture.py <sf0.1 fixture dir>

The benchmark reads only its own checkout, so the fixture rows it samples
from are kept here, in this directory, next to this script. This script is
how they were made; re-running it on the same fixture gives the same files.

- ``documents`` and ``embeddings``: the fixture rows whose ids pair a
  document with its embedding (``doc_id = vec_id``, ids below 2000), every
  column as the fixture has it.
- ``orders``: 3000 fixture orders picked with a fixed seed, and ``lineitem``
  their line items; ``customer`` and ``part``: the rows those orders and
  line items name; ``supplier``, ``nation`` and ``region``: whole.
- ``events``: 2000 fixture events picked with the same fixed seed.

``gen.py`` resamples these rows by the run's seed.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRED = 2000
ORDERS = 3000
EVENTS = 2000


def main(src: str) -> None:
    rng = np.random.default_rng(0)

    def read(name):
        return pq.read_table(os.path.join(src, f"{name}.parquet"))

    def write(name, table):
        pq.write_table(table, os.path.join(HERE, f"{name}.parquet"), compression="zstd")

    docs = read("documents")
    write("documents", docs.filter(pc.less(docs["doc_id"], PAIRED)))
    emb = read("embeddings")
    write("embeddings", emb.filter(pc.less(emb["vec_id"], PAIRED)))

    orders = read("orders")
    orders = orders.take(np.sort(rng.choice(orders.num_rows, ORDERS, replace=False)))
    lineitem = read("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"]))
    customer = read("customer")
    part = read("part")
    write("orders", orders)
    write("lineitem", lineitem)
    write("customer", customer.filter(pc.is_in(customer["c_custkey"], orders["o_custkey"])))
    write("part", part.filter(pc.is_in(part["p_partkey"], lineitem["l_partkey"])))
    for name in ("supplier", "nation", "region"):
        write(name, read(name))
    events = read("events")
    write("events", events.take(np.sort(rng.choice(events.num_rows, EVENTS, replace=False))))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    main(sys.argv[1])
