"""Seeded input generators for the benchmark.

Everything the program reads is made here from the workload seed; the same
seed always gives byte-identical parquet files and text lines.

- `tables(dst, sf, seed)`: the ten tables of the test-data schema (TPC-H
  style star schema plus `events`, `documents`, `embeddings`), one parquet
  file with one row group per table, row counts scaled like the shipped
  scale factors (sf0.1: 600 K lineitem rows, 5 K documents).
- `query_order(names, seed)`: the seeded round-robin order of the surface
  workload.
- `arrival_feed(...)`: the crane_stream arrival lines, written as 500-line
  text files (Crane's CRANE_BATCH_SIZE) and as the matching parquet
  document batches for the ingest leg, with the copy/mutation ground truth.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
BATCH_LINES = 500  # Crane's CRANE_BATCH_SIZE
US_PER_DAY = 86_400_000_000


def _us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _write(dst, name, cols, schema):
    tbl = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                               schema=schema)
    pq.write_table(tbl, os.path.join(dst, f"{name}.parquet"),
                   row_group_size=max(1, tbl.num_rows), compression="snappy")


def doc_texts(rng, n):
    """Random documents over the 31-word vocabulary, 10-100 tokens each;
    5 % are an earlier document plus the token `dup` (near duplicates) and a
    few are exact copies, as in the shipped documents table."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    out, pos = [], 0
    for i, ln in enumerate(lens):
        out.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            out[i] = out[int(rng.integers(0, i))] + " dup"
        elif r < 0.0516:
            out[i] = out[int(rng.integers(0, i))]
    return out


def tables(dst, sf, seed, only=TABLES):
    """Write the tables named in `only` (default all ten) at scale factor
    `sf` into `dst`. Every table is drawn whether written or not, so a
    table's content depends only on (seed, sf)."""
    os.makedirs(dst, exist_ok=True)

    def write(name, cols, schema):
        if name in only:
           _write(dst, name, cols, schema)

    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust, n_supp = max(1, int(150_000 * sf)), max(1, int(10_000 * sf))
    n_part, n_ord = max(1, int(200_000 * sf)), max(1, int(1_500_000 * sf))
    n_line, n_ev = max(1, int(6_000_000 * sf)), max(1, int(1_000_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    write("region", [list(range(5)), ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]],
          pa.schema([("r_regionkey", i32), ("r_name", s)]))
    write("nation", [list(range(25)), [f"NATION_{i}" for i in range(25)],
                           [i % 5 for i in range(25)]],
          pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    ck = np.arange(n_cust)
    write("customer",
          [ck, [f"Customer#{i:09d}" for i in ck], rng.integers(0, 25, n_cust).astype(np.int32),
           np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
           np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]],
          pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                     ("c_acctbal", f64), ("c_mktsegment", s)]))
    sk = np.arange(n_supp)
    write("supplier",
          [sk, [f"Supplier#{i:09d}" for i in sk], rng.integers(0, 25, n_supp).astype(np.int32),
           np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)],
          pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    pk = np.arange(n_part)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    write("part",
          [pk, names, [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
           np.array(PTYPES)[rng.integers(0, 6, n_part)], rng.integers(1, 51, n_part).astype(np.int32),
           np.round(900.0 + (pk % 1000) / 10.0, 2)],
          pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                     ("p_size", i32), ("p_retailprice", f64)]))

    d0, d1 = _us(1995, 1, 1), _us(2001, 8, 1)
    days = (d1 - d0) // US_PER_DAY
    ok = np.arange(n_ord)
    write("orders",
          [ok, rng.integers(0, n_cust, n_ord), np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
           np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
           d0 + rng.integers(0, days + 1, n_ord) * US_PER_DAY,
           np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]],
          pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                     ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    s0 = _us(1995, 1, 2)
    sdays = (_us(2001, 11, 4) - s0) // US_PER_DAY
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem",
          [rng.integers(0, n_ord, n_line), rng.integers(0, n_part, n_line),
           rng.integers(0, n_supp, n_line), rng.integers(1, 8, n_line).astype(np.int32), qty,
           np.round(rng.uniform(900.0, 105000.0, n_line), 2),
           rng.integers(0, 11, n_line) / 100.0, rng.integers(0, 9, n_line) / 100.0,
           np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
           np.array(["O", "F"])[rng.integers(0, 2, n_line)],
           s0 + rng.integers(0, sdays + 1, n_line) * US_PER_DAY],
          pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                     ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                     ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                     ("l_linestatus", s), ("l_shipdate", ts)]))

    e0, span = _us(2024, 1, 1), 30 * US_PER_DAY
    ev_ts = np.sort(e0 + rng.integers(0, span, n_ev))
    write("events",
          [np.arange(n_ev), ev_ts, rng.integers(0, n_users, n_ev),
           np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
           np.round(rng.exponential(50.0, n_ev), 2),
           [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]],
          pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                     ("value", f64), ("props", s)]))

    texts = doc_texts(rng, n_doc)
    write("documents",
          [np.arange(n_doc), texts, np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
           [f"src{k}" for k in rng.integers(0, 20, n_doc)], [len(t) for t in texts]],
          pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", [np.arange(n_emb), list(vecs), labels.astype(np.int32)],
          pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


def query_order(names, seed):
    """The surface workload's round-robin order: one seeded permutation."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def mutation_suffix(doc_id):
    """StreamSoak's appended-token mutation: four tokens outside the
    vocabulary, so a mutated document keeps every shingle and gains at most
    four, scoring 0.5 < jaccard < 1 against its source."""
    return f" zq soakmut d{doc_id} end"


def arrival_feed(dst, corpus_texts, n_files, seed, copy_share=0.5, mutate_share=0.1,
                 id_base=10_000_000):
    """Write `n_files` arrival files of 500 lines each.

    Each line is either a copy of a corpus document (share `copy_share`), a
    seeded tenth of which get the mutation suffix, or a fresh document.
    Writes `lines/arrival-NNNNN.txt`, `docs/arrival-NNNNN.parquet` (the same
    lines as documents, doc ids from `id_base`) and `truth.json`: per copy the
    (source doc, new doc, mutated) triple the ingest leg must report.
    Mutations apply only to documents with at least 12 distinct 3-gram
    shingles, as in StreamSoak, so the pair stays above the 0.5 threshold.
    """
    rng = np.random.default_rng([seed, 7])
    os.makedirs(os.path.join(dst, "lines"), exist_ok=True)
    os.makedirs(os.path.join(dst, "docs"), exist_ok=True)
    n = n_files * BATCH_LINES
    fresh = doc_texts(rng, n)
    is_copy = rng.random(n) < copy_share
    src = rng.integers(0, len(corpus_texts), n)
    mut_draw = rng.random(n) < mutate_share
    lines, truth = [], []
    for i in range(n):
        doc_id = id_base + i
        if is_copy[i]:
            t = corpus_texts[src[i]]
            toks = t.split(" ")
            n_sh = len({tuple(toks[j:j + 3]) for j in range(len(toks) - 2)})
            mut = bool(mut_draw[i]) and n_sh >= 12
            if mut:
                t = t + mutation_suffix(doc_id)
            lines.append(t)
            truth.append([int(src[i]), doc_id, mut])
        else:
            lines.append(fresh[i])
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    for f in range(n_files):
        chunk = lines[f * BATCH_LINES:(f + 1) * BATCH_LINES]
        with open(os.path.join(dst, "lines", f"arrival-{f:05d}.txt"), "w") as fh:
            fh.write("\n".join(chunk) + "\n")
        ids = np.arange(id_base + f * BATCH_LINES, id_base + f * BATCH_LINES + len(chunk))
        tbl = pa.Table.from_arrays(
            [pa.array(ids), pa.array(chunk), pa.array(["en"] * len(chunk)),
             pa.array([f"arrival{f}"] * len(chunk)), pa.array([len(t) for t in chunk])],
            schema=schema)
        pq.write_table(tbl, os.path.join(dst, "docs", f"arrival-{f:05d}.parquet"))
    with open(os.path.join(dst, "truth.json"), "w") as fh:
        json.dump({"batch_lines": BATCH_LINES, "files": n_files, "id_base": id_base,
                   "copies": truth}, fh)
