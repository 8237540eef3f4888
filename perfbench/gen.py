"""Seeded input generator for the benchmark.

Builds a tree of the ten tables graft reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with
the schema, cardinalities and value distributions of the sf0.1 test
tree: TPC-H-ish uniform star-schema columns, a 31-word document
vocabulary with ~5% planted near-duplicates (an earlier document's text
plus a ' dup' token), 64-dim unit-norm embeddings and a 30-day event
stream. Every value is drawn from `numpy.random.default_rng(seed)`, so
the same seed always gives the same bytes, and nothing outside the
benchmark directory is read.

`scale` multiplies every table but region, nation, documents and
embeddings, as TPC-H's scale factor does (scale 0.1 gives the sf0.01
cardinalities); `doc_scale` multiplies documents and embeddings (1 gives
the sf0.1 counts), which keep at least 500 rows, as the test trees do.

Trees are cached under `<cache>/<name>-s<seed>-<code digest>` and the
content digest (sha256 over every file) is returned with the path.
"""
import hashlib
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

BASE = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "users": 1500, "documents": 5000, "embeddings": 2000}
MIN_ROWS = {"documents": 500, "embeddings": 500}
CORPUS = {"documents", "embeddings"}
DIM = 64
DUP_FRAC = 0.05

US_PER_DAY = 86400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng, scale, doc_scale):
    n = {k: max(MIN_ROWS.get(k, 1), int(round(v * (doc_scale if k in CORPUS else scale))))
         for k, v in BASE.items()}
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _choice(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, npart)], " "),
                        np.array(NOUN)[rng.integers(0, 8, npart)])
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names.astype(object), type=pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _choice(rng, PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1))})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _choice(rng, ["O", "P", "F"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, no) * US_PER_DAY),
        "o_orderpriority": _choice(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, nl), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2)),
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["O", "F"], nl),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, nl) * US_PER_DAY)})
    t["events"] = _events(rng, n["events"], n["users"])
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    emb = rng.standard_normal((nv, DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), DIM)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32))})
    return t


def _events(rng, ne, users):
    return pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, ne))),
        "user_id": pa.array(rng.integers(0, users, ne, dtype=np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})


def _documents(rng, nd):
    vocab = np.array(WORDS, dtype=object)
    lengths = rng.integers(10, 90, nd)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[at:at + ln]]))
        at += ln
    # planted near-duplicates: an earlier document's text plus " dup"
    dups = rng.choice(np.arange(1, nd), int(nd * DUP_FRAC), replace=False)
    for d in np.sort(dups):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": _choice(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})


def digest_of(root):
    """Content digest of a tree: sha256 over every file's path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            if f == "DIGEST":
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _code_digest():
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def tree(cache, seed, scale=1, doc_scale=1, drops=0, drop_scale=1, keep=6):
    """Path and content digest of the tree for (seed, scales, drops).

    `drops` > 0 also writes under `<tree>/drops/` an events table of
    `drop_scale` as that many ndjson files (the sources of the
    benchmark's own transfer), drawn after the tree from the same
    generator.
    """
    name = f"t{scale}x{doc_scale}x{drops}x{drop_scale}-s{seed}-{_code_digest()}"
    path = os.path.join(cache, name)
    meta = os.path.join(path, "DIGEST")
    if os.path.exists(meta):
        with open(meta) as fh:
            return path, fh.read().strip()
    os.makedirs(cache, exist_ok=True)
    _evict(cache, keep)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    tables = _tables(rng, scale, doc_scale)
    for name_, tab in tables.items():
        pq.write_table(tab, os.path.join(tmp, f"{name_}.parquet"),
                       compression="snappy")
    if drops:
        events = _events(rng, int(round(BASE["events"] * drop_scale)),
                         int(round(BASE["users"] * drop_scale)))
        _write_drops(events, os.path.join(tmp, "drops"), drops)
    digest = digest_of(tmp)
    with open(os.path.join(tmp, "DIGEST"), "w") as fh:
        fh.write(digest + "\n")
    os.replace(tmp, path)
    return path, digest


def _write_drops(events, out, n):
    """The events table as `n` ndjson files, contiguous event_id ranges."""
    os.makedirs(out)
    con = duckdb.connect()
    con.register("events", events)
    rows = events.num_rows
    for i in range(n):
        lo, hi = rows * i // n, rows * (i + 1) // n
        con.sql(f"COPY (SELECT * FROM events WHERE event_id >= {lo} "
                f"AND event_id < {hi} ORDER BY event_id) "
                f"TO '{out}/part-{i:03d}.json' (FORMAT JSON)")
    con.close()


def _evict(cache, keep):
    """Keep the cache to `keep` trees, dropping the least recently made."""
    trees = sorted((os.path.getmtime(os.path.join(cache, d)), d)
                   for d in os.listdir(cache))
    for _, d in trees[:max(0, len(trees) - keep + 1)]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
