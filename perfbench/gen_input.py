#!/usr/bin/env python3
"""Seeded benchmark input: a replica of the base fixture (perfbench/fixture,
the sf0.01 tables) with the fact tables and the corpus scaled up.

Replica 0 is the base table unchanged, so every id the library treats as
special (probe ids, snapshot ranges) keeps its meaning. Replica i >= 1
shifts its keys by i * 10,000,000 plus a seeded offset (orders and lineitem
share the offset, so the order join stays consistent), and each cloned
document gets a seeded suffix token, so clones are near-duplicates rather
than byte copies. Dimension tables are copied unchanged. Tables go through
pyarrow so the physical parquet types of the base stay as they are.

Usage: gen_input.py <base-dir> <out-dir> <seed> <facts> <docs> <embeddings>
  facts       replicas of orders, lineitem and events
  docs        replicas of documents
  embeddings  replicas of embeddings (fewer than docs leaves the added
              documents without a vector, as in the sf0.1 fixture)
"""
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFF = 10_000_000  # far above any base key
DIMS = ["region", "nation", "customer", "supplier", "part"]


def write(table, path):
    pq.write_table(table, path, version="2.6", coerce_timestamps=None)


def shifted(table, cols, offset):
    for c in cols:
        i = table.schema.get_field_index(c)
        table = table.set_column(i, c, pc.add(table.column(c), offset))
    return table


def main():
    base, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    facts, docs, embs = (int(x) for x in sys.argv[4:7])
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    stats = {}

    def emit(name, parts):
        table = pa.concat_tables(parts)
        path = f"{out}/{name}.parquet"
        write(table, path)
        stats[name] = {"rows": table.num_rows,
                       "mb": round(os.path.getsize(path) / 1048576, 3)}

    for t in DIMS:
        emit(t, [pq.read_table(f"{base}/{t}.parquet")])

    orders = pq.read_table(f"{base}/orders.parquet")
    lineitem = pq.read_table(f"{base}/lineitem.parquet")
    events = pq.read_table(f"{base}/events.parquet")
    order_offs = [0] + [i * OFF + rng.randrange(OFF // 2) for i in range(1, facts)]
    event_offs = [0] + [i * OFF + rng.randrange(OFF // 2) for i in range(1, facts)]
    emit("orders", [shifted(orders, ["o_orderkey"], o) for o in order_offs])
    emit("lineitem", [shifted(lineitem, ["l_orderkey"], o) for o in order_offs])
    emit("events", [shifted(events, ["event_id"], o) for o in event_offs])

    documents = pq.read_table(f"{base}/documents.parquet")
    embeddings = pq.read_table(f"{base}/embeddings.parquet")
    doc_offs = [0] + [i * OFF + rng.randrange(OFF // 2) for i in range(1, max(docs, embs))]
    letters = "abcdefghijklmnopqrstuvwxyz"
    doc_parts = [documents]
    for i in range(1, docs):
        token = " " + "".join(rng.choice(letters) for _ in range(6))
        clone = shifted(documents, ["doc_id"], doc_offs[i])
        clone = clone.set_column(clone.schema.get_field_index("text"), "text",
                                 pc.binary_join_element_wise(
                                     clone.column("text"), token, ""))
        clone = shifted(clone, ["n_chars"], len(token))
        doc_parts.append(clone)
    emit("documents", doc_parts)
    emit("embeddings", [shifted(embeddings, ["vec_id"], doc_offs[i])
                        for i in range(embs)])
    with open(f"{out}/input.json", "w") as f:
        json.dump({"seed": seed, "facts": facts, "docs": docs,
                   "embeddings": embs, "tables": stats}, f, indent=1)


if __name__ == "__main__":
    main()
