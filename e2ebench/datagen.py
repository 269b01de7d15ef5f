"""Seeded inputs: the ten corpus tables and the CDC feed over ``orders``.

The tables follow the schema of the engine's corpus (TESTDATA.md) at a
smaller size, so every registry query runs on them unchanged. Everything is
drawn from ``numpy.random.default_rng(seed)``: the same seed gives the same
bytes of input, another seed gives other values of the same make-up.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. About a tenth of the engine's sf0.1 bench tier, where the
# per-job floor and planning, not scan volume, dominate llm_batch; orders
# keeps its sf0.1 size (150,000 rows), the table the CDC feed changes.
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 150000,
    "lineitem": 60000, "events": 10000, "documents": 400, "embeddings": 500,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# The CDC feed. A round is one seeded batch per entry of BATCH_SIZES; the
# last two of a round also carry the fixed probe key (price 111.0, then
# 222.0), and the round ends by re-delivering the older of the two (stale)
# and then the newer one (repair).
# Batch sizes: 1k, 5k and 20k changes to the 150k-row orders table, the
# sizes at which this engine's apply cost was probed (README, "Inputs").
BATCH_SIZES = (1000, 5000, 20000)
# Inserts and deletes in equal shares, as TPC-H's paired refresh functions
# RF1 (new orders) and RF2 (deleted orders) make them, so the table keeps
# its size; the update share is an assumption (README, "Inputs").
OP_SHARES = {"u": 0.6, "c": 0.2, "d": 0.2}
# Updated keys follow YCSB's default request distribution: Zipfian with
# constant 0.99 over the live keys in a seeded popularity order, so the
# hottest keys change many times inside one batch.
ZIPF_THETA = 0.99
PROBE_KEY = 7
PROBE_PRICES = (111.0, 222.0)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _words(rng, n_vocab):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n_vocab:
        k = int(rng.integers(3, 9))
        out.add("".join(rng.choice(letters, k)))
    return sorted(out)


def corpus(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    adj = ["large", "hot", "blue", "small", "red", "cold", "shiny", "old"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "plate", "valve", "screw"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)})
    t["orders"] = orders(rng, np.arange(n["orders"], dtype=np.int64))
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, li) * _DAY_US)})
    ev = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ev))),
        "user_id": rng.integers(0, 300, ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ev)],
        "value": _money(rng, 0, 560, ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]})
    t["documents"] = documents(rng, n["documents"])
    t["embeddings"] = embeddings(rng, n["embeddings"])
    return t


def orders(rng, keys: np.ndarray) -> pa.Table:
    k = len(keys)
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, SIZES["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000, 500000, k),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, k) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)]})


def _copied_from(rng, n: int) -> dict[int, int]:
    """Planted near-duplicate families: exactly a fifth of the rows after
    the first eleven, at seeded places, each copy an earlier original
    (never a copy), so every seed plants as many families, all of depth
    one, and the dedup jobs' work, connected-components rounds included,
    does not swing with the seed."""
    copies = set((11 + rng.choice(n - 11, n // 5, replace=False)).tolist())
    originals: list[int] = []
    out = {}
    for i in range(n):
        if i in copies:
            out[i] = originals[int(rng.integers(0, len(originals)))]
        else:
            originals.append(i)
    return out


def documents(rng, n_docs: int) -> pa.Table:
    """Random texts over a 1500-word vocabulary, with planted near-duplicate
    families (``_copied_from``): a copy keeps its original's language and
    replaces a few words, so Jaccard clusters exist and stay shallow."""
    vocab = np.array(_words(rng, 1500))
    copied = _copied_from(rng, n_docs)
    texts, langs = [], []
    for i in range(n_docs):
        if i in copied:
            j = copied[i]
            toks = texts[j].split(" ")
            for pos in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[pos] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
            langs.append(langs[j])
        else:
            length = int(rng.integers(8, 70))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), length)]))
            langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def embeddings(rng, n_vec: int) -> pa.Table:
    """64-dim float32 vectors, isotropic, with planted near-duplicate
    families like ``documents``: a copy is its original plus noise (cosine
    about 0.94), so semantic-dedup clusters stay small and shallow."""
    vecs = rng.normal(0, 1, (n_vec, 64))
    for i, j in _copied_from(rng, n_vec).items():
        vecs[i] = vecs[j] + rng.normal(0, 0.35, 64)
    return pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


def _zipf_pick(rng, ranked: list[int], n: int) -> list[int]:
    """``n`` keys from ``ranked`` (most popular first), Zipfian by rank."""
    w = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_THETA
    return [ranked[i] for i in rng.choice(len(ranked), n, p=w / w.sum())]


def feed(seed: int, base: pa.Table, rounds: int) -> list[pa.Table]:
    """The seeded change batches (lsn, op, orders columns), in delivery
    order, without the re-deliveries. Batch sizes cycle BATCH_SIZES; ops
    follow OP_SHARES. Updates pick live keys by ZIPF_THETA; deletes pick
    other live keys uniformly, so no key is changed after its delete."""
    rng = np.random.default_rng(seed + 1_000_003)
    keys0 = base.column("o_orderkey").to_numpy()
    popularity = [int(k) for k in rng.permutation(keys0) if k != PROBE_KEY]
    live = set(popularity)
    next_key = int(keys0.max()) + 1
    cols = base.column_names
    lsn = 0
    batches = []
    n_batches = rounds * len(BATCH_SIZES)
    for b in range(n_batches):
        size = BATCH_SIZES[b % len(BATCH_SIZES)]
        ops = rng.choice(list(OP_SHARES), size, p=list(OP_SHARES.values()))
        ranked = [k for k in popularity if k in live]
        updates = iter(_zipf_pick(rng, ranked, int((ops == "u").sum())))
        touched = set()
        keys = []
        for op in ops:
            if op == "u":
                keys.append(next(updates))
                touched.add(keys[-1])
            elif op == "c":
                keys.append(next_key)
                next_key += 1
            else:
                keys.append(None)
        spare = [k for k in ranked if k not in touched]
        deletes = iter(rng.choice(spare, int((ops == "d").sum()),
                                  replace=False))
        keys = [int(next(deletes)) if k is None else k for k in keys]
        payload = orders(rng, np.array(keys, dtype=np.int64)).to_pydict()
        pos = b % len(BATCH_SIZES)
        if pos >= len(BATCH_SIZES) - 2:
            probe = probe_row(PROBE_PRICES[pos - (len(BATCH_SIZES) - 2)])
            ops = np.append(ops, "u")
            keys.append(PROBE_KEY)
            for c in cols:
                payload[c].append(probe[c])
        for op, k in zip(ops, keys):
            if k == PROBE_KEY:
                continue
            if op == "d":
                live.discard(k)
            elif k not in live:
                live.add(k)
                popularity.append(k)
        n = len(keys)
        batch = {"lsn": list(range(lsn + 1, lsn + n + 1)), "op": list(ops)}
        lsn += n
        batch.update({c: payload[c] for c in cols})
        batches.append(pa.table(batch, schema=feed_schema(base.schema)))
    return batches


def probe_row(price: float) -> dict:
    import datetime as dt

    return {"o_orderkey": PROBE_KEY, "o_custkey": 7, "o_orderstatus": "O",
            "o_totalprice": price,
            "o_orderdate": dt.datetime(1999, 1, 1),
            "o_orderpriority": "1-URGENT"}


def feed_schema(orders_schema: pa.Schema) -> pa.Schema:
    fields = [pa.field("lsn", pa.int64()), pa.field("op", pa.string())]
    return pa.schema(fields + [orders_schema.field(c) for c in orders_schema.names])


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table.replace_schema_metadata(None),
                       os.path.join(out_dir, f"{name}.parquet"))
