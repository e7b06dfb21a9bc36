"""Seeded input generator for the benchmark.

Writes the ten tables graft's queries read (`Tables.all`) in the layout and
schema of the project's test data: one `<table>.parquet` file per table.

* The table *contents* depend only on the scale factor and CONTENT_SEED, so
  every run of a workload does the same amount of work.
* The run's `--seed` permutes the row order of every table. A query whose
  answer changes under that permutation has a defect (results must not
  depend on partitioning); the correctness check counts it as wrong.
* `ingest_inputs` makes the held-out stream for the streaming workload.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

def sizes(sf):
    """Row counts per table at scale factor `sf` (the test data's ratios)."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": max(500, int(20_000 * sf)),
        "users": max(150, int(15_000 * sf)),
    }


def _days(rng, n, start, span):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + ln]))
        pos += ln
    # ~5% near-duplicates: an earlier document with one word appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        out[i] = out[rng.integers(0, n)] + " dup"
    return out


def base_tables(sf):
    """The ten tables at scale factor `sf`, in key order (not yet permuted)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    npart = n["part"]
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", 2405),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, "1995-01-02", 2499)})
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = _doc_texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def permute(tables, seed):
    """The same rows, in an order drawn from `seed`."""
    rng = np.random.default_rng(seed)
    return {name: tb.take(rng.permutation(tb.num_rows)) for name, tb in tables.items()}


def write(tables, out_dir):
    """One single-row-group parquet file per table, like the test data."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tb.num_rows))


def batch_inputs(out_dir, sf, seed):
    """Generate a batch workload's input under `out_dir`; returns row counts."""
    tables = base_tables(sf)
    write(permute(tables, seed), out_dir)
    return {name: tb.num_rows for name, tb in tables.items()}


def ingest_inputs(out_dir, sf, seed, n_docs, n_events):
    """Corpus tables plus the held-out stream, as parquet under `out_dir`.

    * `documents.parquet` is the standing corpus (the base documents table).
    * `stream_docs.parquet`: `n_docs` held-out documents with fresh ids. About
      a quarter copy a corpus text verbatim or with one appended word, so the
      near-duplicate filter has work to do.
    * `stream_events.parquet`: `n_events` events in event-time order; about a
      tenth repeat an earlier event id a few rows later, which the
      watermarked dedup must drop.
    The stream's content is fixed; `seed` only orders it: the document
    stream is rotated and events are shuffled within blocks of eight rows,
    so event time is out of order by a few rows, far inside the watermark.
    """
    tables = base_tables(sf)
    write({"documents": tables["documents"]}, out_dir)
    rng = np.random.default_rng(CONTENT_SEED + 1)
    corpus = tables["documents"]["text"].to_pylist()
    fresh = _doc_texts(rng, n_docs)
    pick = rng.random(n_docs)
    src = rng.integers(0, len(corpus), n_docs)
    texts = [corpus[s] if p < 0.125 else corpus[s] + " dup" if p < 0.25 else f
             for p, s, f in zip(pick, src, fresh)]
    base_id = 10_000_000
    docs = pa.table({"doc_id": np.arange(base_id, base_id + n_docs, dtype=np.int64),
                     "text": texts})
    n_uniq = n_events - n_events // 10
    ids = np.arange(n_uniq, dtype=np.int64)
    dup_at = np.sort(rng.choice(np.arange(5, n_uniq), n_events - n_uniq, replace=False))
    order = np.insert(ids, dup_at, ids[dup_at - rng.integers(1, 5, len(dup_at))])
    t0 = np.datetime64("2024-02-01T00:00:00", "us")
    ts_of = t0 + (np.arange(n_uniq) * 50_000).astype("timedelta64[us]")
    events = pa.table({
        "event_id": order,
        "ts": ts_of[order],
        "user_id": rng.integers(0, 500, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2)})
    prng = np.random.default_rng(seed)
    docs = docs.take(np.roll(np.arange(n_docs), int(prng.integers(0, n_docs))))
    block = 8
    local = np.concatenate([prng.permutation(min(block, n_events - b)) + b
                            for b in range(0, n_events, block)])
    events = events.take(local)
    write({"stream_docs": docs, "stream_events": events}, out_dir)
    return {"documents": len(corpus), "stream_docs": n_docs, "stream_events": n_events}
