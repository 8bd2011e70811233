"""Seeded input generator for the benchmark.

Two families of inputs, each a pure function of (seed, size):

- ``sf``: the ten-table star schema plus ``events``, ``documents`` and
  ``embeddings`` with the schemas, row counts and value domains of the
  sf0.1 testdata (600k lineitem rows). ``events.ts`` is written as
  parquet TIMESTAMP(NANOS), the encoding ``graft.Tables.events`` and
  ``StreamingOps.rawEventsNs`` normalise.
- ``corpus``: ScaleGen's adversarial duplicate taxonomy (exact copies at
  ids = 6 mod 8, near copies at 7 mod 8, 8-deep mutation chains at
  9..15 mod 1024, a rare-token tail) and its soft-clustered embeddings,
  re-keyed by the seed: ``documents`` and ``embeddings`` only.

Each table goes to its own parquet file, snappy, one row group, so the
same seed gives identical bytes and different seeds give different rows.
Generation is cached per (family, seed, size) by a marker file written
last.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

M64 = np.uint64(0xFFFFFFFFFFFFFFFF)
GOLDEN = np.uint64(0x9E3779B97F4A7C15)

SF_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
           "orders": 150000, "lineitem": 600000, "events": 100000,
           "documents": 5000, "embeddings": 2000}
STAMP = "perfbench-gen v1"


def _write(dir_, name, table):
    pq.write_table(table, os.path.join(dir_, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30,
                   version="2.6", store_schema=False)


def _day_ts(start, days):
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def dims(rng, dir_):
    """region, nation, customer, supplier, part."""
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(dir_, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(regions)}))
    _write(dir_, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}))
    n = SF_ROWS["customer"]
    _write(dir_, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)}))
    n = SF_ROWS["supplier"]
    _write(dir_, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2))}))
    n = SF_ROWS["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adj for b in noun]
    _write(dir_, "part", pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1))}))


def facts(rng, dir_, scale):
    """orders, lineitem, events at `scale` (1.0 = sf0.1 row counts)."""
    n = int(SF_ROWS["orders"] * scale)
    _write(dir_, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, SF_ROWS["customer"], n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": _day_ts("1995-01-01", rng.integers(0, 2404, n)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)}))
    n_orders = n
    n = int(SF_ROWS["lineitem"] * scale)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(dir_, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, SF_ROWS["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, SF_ROWS["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _day_ts("1995-01-02", rng.integers(0, 2498, n))}))
    events(rng, dir_, int(SF_ROWS["events"] * scale), 1500)


def events(rng, dir_, n, n_users):
    span_us = 30 * 24 * 3600 * 10**6
    us = np.sort(rng.integers(0, span_us, n))
    base_ns = np.datetime64("2024-01-01", "ns").astype(np.int64)
    ts = pa.array(base_ns + us * 1000, pa.int64()).cast(pa.timestamp("ns"))
    _write(dir_, "events", pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}))


def documents_sf(rng, dir_, scale):
    """Docs of 10-100 words from a 30-word vocabulary; 5% are near
    copies (another doc's text plus ' dup'), a few are exact copies."""
    n = int(SF_ROWS["documents"] * scale)
    vocab = np.array(["a", "agg", "batch", "big", "column", "customer", "data",
                      "fast", "filter", "group", "hash", "join", "key", "line",
                      "merge", "order", "part", "query", "row", "scan", "slow",
                      "small", "sort", "spark", "stream", "table", "the",
                      "value", "vector", "window"], dtype=object)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    near = rng.choice(n, n // 20, replace=False)
    for i in near:
        texts[i] = texts[(i + 1 + int(rng.integers(0, n - 1))) % n] + " dup"
    for i in rng.choice(np.setdiff1d(np.arange(n), near), 8, replace=False):
        texts[i] = texts[(i + 1 + int(rng.integers(0, n - 1))) % n]
    langs = _pick(rng, ["de", "en", "es", "fr", "zh"], n,
                  p=[0.1475, 0.41, 0.1475, 0.1475, 0.1475])
    _write(dir_, "documents", pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": langs,
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}))


def embeddings_sf(rng, dir_, scale):
    n = int(SF_ROWS["embeddings"] * scale)
    e = rng.standard_normal((n, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    _write(dir_, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))}))


# ---- ScaleGen's duplicate taxonomy, keyed by the seed ----------------------

def _mix(z):
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = (z + GOLDEN) & M64
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & M64
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & M64
        return z ^ (z >> np.uint64(31))


VOCAB = np.array(["the", "and", "of", "a", "key", "agg", "row", "scan", "slow",
                  "fast", "table", "value", "part", "hash", "merge", "join",
                  "query", "batch", "window", "spark", "order", "data",
                  "column", "small", "line", "filter", "customer", "plan",
                  "shuffle", "stage", "task", "node", "disk", "cache", "sort",
                  "group", "count", "index", "range", "stream", "state",
                  "store", "read", "write", "block", "page", "file", "byte"],
                 dtype=object)
STOP = np.array(["the", "the", "a", "of", "and", "to", "in", "is"], dtype=object)


def _tokens(states):
    """ScaleGen.token over a uint64 state array: 20% stopwords, ~70% a
    vocabulary word with a 16-bit hex suffix, the rest bare words."""
    r = (states >> np.uint64(21)) & np.uint64(0xFF)
    stop = STOP[((states >> np.uint64(33)) % np.uint64(len(STOP))).astype(np.int64)]
    word = VOCAB[((states >> np.uint64(33)) % np.uint64(len(VOCAB))).astype(np.int64)]
    suf = ((states >> np.uint64(40)) & np.uint64(0xFFFF)).astype(np.int64)
    out = np.where(r < 51, stop, word)
    tail = (r >= 51) & (r < 230)
    out[tail] = [w + format(s, "x") for w, s in zip(word[tail], suf[tail])]
    return out


def corpus_docs(seed, n):
    """Token lists under ScaleGen's taxonomy: raw docs draw 60-119
    tokens from a per-doc LCG; ids = 6 (mod 8) copy id-1, 7 (mod 8)
    mutate ~4% of id-2's tokens, 9..15 (mod 1024) mutate id-1."""
    key = int(_mix(np.array([seed], dtype=np.uint64))[0])
    ids = np.arange(n, dtype=np.uint64) ^ np.uint64(key)
    with np.errstate(over="ignore"):
        lens = (60 + (_mix(ids * np.uint64(3) + np.uint64(1)) >> np.uint64(8))
                % np.uint64(60)).astype(np.int64)
        s = _mix(ids)
        steps = []
        for _ in range(int(lens.max())):
            s = (s * np.uint64(6364136223846793005)
                 + np.uint64(1442695040888963407)) & M64
            steps.append(s)
    states = np.stack(steps, axis=1)
    mask = np.arange(states.shape[1])[None, :] < lens[:, None]
    flat = _tokens(states[mask])
    cuts = np.concatenate([[0], np.cumsum(lens)])
    raw = [flat[cuts[i]:cuts[i + 1]] for i in range(n)]

    def mutate(toks, i):
        t = np.arange(len(toks), dtype=np.uint64)
        with np.errstate(over="ignore"):
            hit = ((_mix(np.uint64(key ^ i) ^ (np.uint64(0x9E3779B9) * t + np.uint64(1)))
                    >> np.uint64(8)) % np.uint64(25)) == 0
            repl = _tokens(_mix(np.uint64((key ^ i) * 131 & 0xFFFFFFFFFFFFFFFF) + t))
        return np.where(hit, repl, toks)

    docs = [None] * n
    for i in range(n):
        m = i % 1024
        if 9 <= m <= 15:
            docs[i] = mutate(docs[i - 1], i)
        elif i % 8 == 6 and i >= 6:
            docs[i] = docs[i - 1]
        elif i % 8 == 7 and i >= 7:
            docs[i] = mutate(docs[i - 2], i)
        else:
            docs[i] = raw[i]
    return key, [" ".join(d) for d in docs]


def corpus(seed, dir_, n):
    """n documents and n embeddings."""
    n_docs = n_vecs = n
    key, texts = corpus_docs(seed, n_docs)
    ids = np.arange(n_docs, dtype=np.uint64) ^ np.uint64(key)
    with np.errstate(over="ignore"):
        lang_pick = (_mix(ids * np.uint64(7) + np.uint64(5)) >> np.uint64(10)) % np.uint64(10)
        src = (_mix(ids * np.uint64(11) + np.uint64(3)) >> np.uint64(12)) % np.uint64(100)
    langs = np.where(lang_pick == 0, "de", np.where(lang_pick == 1, "fr",
                     np.where(lang_pick == 2, "es", "en")))
    _write(dir_, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{s}" for s in src]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}))
    # 64 soft clusters: 0.4 * centroid + uniform +-0.6 noise, unit length
    vids = np.arange(n_vecs, dtype=np.uint64) ^ np.uint64(key)
    rng = np.random.default_rng(seed)
    cents = rng.uniform(-1.0, 1.0, (64, 64)).astype(np.float32)
    with np.errstate(over="ignore"):
        c = ((_mix(vids * np.uint64(13) + np.uint64(7)) >> np.uint64(9))
             % np.uint64(64)).astype(np.int64)
    emb = 0.4 * cents[c] + rng.uniform(-0.6, 0.6, (n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    dup = np.arange(n_vecs) % 8 == 6  # exact re-ingests, as for documents
    emb[dup] = emb[np.nonzero(dup)[0] - 1]
    c[dup] = c[np.nonzero(dup)[0] - 1]
    _write(dir_, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array((c % 10).astype(np.int32))}))


def ensure(root, family, seed, size):
    """Generate (family, seed, size) under root once; return its dir."""
    dir_ = os.path.join(root, f"{family}_s{seed}_n{size}")
    marker = os.path.join(dir_, "_GEN_OK")
    stamp = f"{STAMP} {family} seed={seed} size={size}"
    if os.path.isfile(marker) and open(marker).read() == stamp:
        return dir_
    tmp = dir_ + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dir_, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 0x5F])
    if family == "sf":
        scale = size / 1000.0  # size is per mille of the sf0.1 row counts
        dims(rng, tmp)
        facts(rng, tmp, scale)
        documents_sf(rng, tmp, scale)
        embeddings_sf(rng, tmp, scale)
    elif family == "corpus":
        corpus(seed, tmp, size)
    else:
        raise ValueError(f"unknown input family {family}")
    with open(os.path.join(tmp, "_GEN_OK"), "w") as f:
        f.write(stamp)
    os.rename(tmp, dir_)
    return dir_
