#!/usr/bin/env python3
"""Seeded input generator for the benchmark's workloads.

Every workload starts from the base tables in `perfbench/base/` (a copy of
the engine's sf0.01 test tables) and builds its input from `--seed` alone:
the same seed gives byte-identical files, another seed gives the same row
counts and sizes with different bytes.

- warehouse: a k-fold key-offset replication of orders, lineitem and
  events, as `tools/gen_scale.py` replicates them: copy j shifts the keys
  by 2 * j * (max key + 1) plus a seeded gap, so referential integrity and
  the per-copy structure hold while the keys differ per seed.
- llm_mapreduce: QA requests over long documents in the
  InfiniteBench Retrieve.PassKey shape (base texts concatenated to a fixed
  length, with the pass key planted at seeded depths) and survey requests
  of seeded papers that overlap across topics.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "base")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def spec(workload):
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)[workload]


def read(name):
    return pq.read_table(f"{BASE}/{name}.parquet").replace_schema_metadata(None)


def write(out, name, tables):
    """One parquet file per table, one row group per copy, no wall-clock
    metadata: the bytes depend on the rows alone."""
    with pq.ParquetWriter(f"{out}/{name}.parquet", tables[0].schema) as w:
        for t in tables:
            w.write_table(t)


def shifted(t, col, off):
    i = t.schema.get_field_index(col)
    c = pc.add(t.column(col), pa.scalar(off, type=t.schema.field(col).type))
    return t.set_column(i, t.schema.field(col), c)


def replicate(t, offs, k):
    """Copy j shifts each column in `offs` by offs[col][j]."""
    copies = []
    for j in range(k):
        tj = t
        for c, per_copy in offs.items():
            tj = shifted(tj, c, per_copy[j])
        copies.append(tj)
    return copies


def key_offsets(rng, span, k):
    """Offsets for copies 0..k-1: j * 2 * span plus a seeded gap below
    span, so copies never collide and every seed shifts them differently.
    A constant shift keeps each copy's key order and join structure."""
    gaps = rng.integers(0, span, size=k)
    return [int(j * 2 * span + gaps[j]) for j in range(k)]


def copy_base(out, names):
    for name in names:
        shutil.copyfile(f"{BASE}/{name}.parquet", f"{out}/{name}.parquet")


def gen_warehouse(rng, out, s):
    k = s["k"]
    copy_base(out, ["region", "nation", "customer", "supplier", "part",
                    "documents", "embeddings"])
    orders, lineitem, events = read("orders"), read("lineitem"), read("events")
    order_off = key_offsets(
        rng, int(pc.max(orders.column("o_orderkey")).as_py()) + 1, k)
    write(out, "orders", replicate(orders, {"o_orderkey": order_off}, k))
    write(out, "lineitem", replicate(lineitem, {"l_orderkey": order_off}, k))
    ev_off = key_offsets(
        rng, int(pc.max(events.column("event_id")).as_py()) + 1, k)
    user_off = key_offsets(
        rng, int(pc.max(events.column("user_id")).as_py()) + 1, k)
    write(out, "events", replicate(
        events, {"event_id": ev_off, "user_id": user_off}, k))
    return {"orders": orders.num_rows * k, "lineitem": lineitem.num_rows * k,
            "events": events.num_rows * k}


def long_document(rng, texts, n_chars, needle, depths):
    """Seeded base texts joined to exactly n_chars, with `needle` inserted
    at each fractional depth (on a word boundary)."""
    parts, size = [], 0
    while size < n_chars:
        t = texts[int(rng.integers(0, len(texts)))]
        parts.append(t)
        size += len(t) + 1
    hay = " ".join(parts)[:n_chars]
    words = hay.split(" ")
    for d in sorted(depths, reverse=True):
        words.insert(int(d * len(words)), needle)
    return " ".join(words)


def gen_llm(rng, out, s):
    texts = read("documents").column("text").to_pylist()
    qa = {"request_id": [], "doc_id": [], "question": [], "text": [],
          "passkey": []}
    made = []  # (doc rows) of each fresh request, for repeats
    n_req = s["qa_requests"]
    repeat_at = set(int(i) for i in rng.choice(
        np.arange(1, n_req), size=s["qa_repeats"], replace=False))
    doc_id = 0
    for r in range(n_req):
        if r in repeat_at:
            rows = made[int(rng.integers(0, len(made)))]
        else:
            rows = []
            for _ in range(s["docs_per_request"]):
                key = str(int(rng.integers(10000, 100000)))
                # one key per equal slice of the document, jittered inside
                # its middle half, so no two keys share a chunk and every
                # document keeps the same number of answering chunks; a
                # single key would leave one reply after V1's filter, and
                # the collapse loop would never run
                n = s["needles_per_doc"]
                depths = (np.arange(n) + 0.25 + 0.5 * rng.uniform(size=n)) / n
                text = long_document(rng, texts, s["doc_chars"],
                                     f"The pass key is ANSWER[{key}].", depths)
                rows.append((doc_id, "What is the pass key?", text, key))
                doc_id += 1
            made.append(rows)
        for d, q, t, key in rows:
            qa["request_id"].append(r)
            qa["doc_id"].append(d)
            qa["question"].append(q)
            qa["text"].append(t)
            qa["passkey"].append(key)
    pq.write_table(pa.table(qa), f"{out}/qa.parquet")

    # papers come from a shared pool, so topics overlap
    pool = [long_document(rng, texts, s["paper_chars"], "", [])
            for _ in range(s["paper_pool"])]
    sv = {"survey_id": [], "title": [], "paper_title": [], "paper_txt": []}
    for t in range(s["survey_requests"]):
        for p in rng.choice(len(pool), size=s["papers_per_survey"],
                            replace=False):
            sv["survey_id"].append(t)
            sv["title"].append(f"Survey topic {t}")
            sv["paper_title"].append(f"Paper {int(p):03d}")
            sv["paper_txt"].append(pool[int(p)])
    pq.write_table(pa.table(sv), f"{out}/surveys.parquet")
    copy_base(out, TABLES)
    return {"qa_rows": len(qa["doc_id"]), "survey_papers": len(sv["title"])}


def generate(workload, seed, out):
    s = spec(workload)
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(int(seed))
    gen = {"warehouse": gen_warehouse, "llm_mapreduce": gen_llm}[workload]
    return gen(rng, out, s)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], sys.argv[2], sys.argv[3])))
