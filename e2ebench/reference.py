"""Build the inputs of one seed and the answers they must produce.

    python3 e2ebench/reference.py --seed N --cdc-rounds R

Writes ``e2ebench/.build/seed-N/``: the corpus tables, the CDC feed (one
parquet file per batch, plus the file sequence the streaming apply drains)
and ``expected.json``. The answers come from outside the engine: DuckDB
runs q44b's oracle SQL and q135's pair list, whose connected components
are a Python union-find; q194 (no oracle) is checked against a pure-Python
BPE; the CDC answers are latest-wins folds in plain Python. A run builds
what is missing before it starts its clock; no run times this.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from collections import Counter
from operator import itemgetter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import spec  # noqa: E402
from checks import norm_rows  # noqa: E402

BUILD_ROOT = os.path.join(HERE, ".build")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def build_dir(seed: int) -> str:
    return os.path.join(BUILD_ROOT, f"seed-{seed}")


def cdc_steps(rounds: int) -> list[tuple[int, str]]:
    """(batch index, kind) in apply order: the round's batches, then the
    older probe batch again (stale) and the newer one again (repair)."""
    per = len(datagen.BATCH_SIZES)
    steps = []
    for r in range(rounds):
        first = r * per
        steps += [(first + i, "feed") for i in range(per)]
        steps += [(first + per - 2, "stale"), (first + per - 1, "repair")]
    return steps


def _duck(data_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _q(con, sql: str) -> list[list]:
    return norm_rows(con.execute(sql).fetchall())


def components(edges) -> dict:
    """node -> smallest node id reachable (union-find)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def bpe_reference(texts, n_merges: int = 12, min_pair_freq: int = 2):
    """Greedy BPE over the word-frequency table, in plain Python."""
    freq = Counter(w for t in texts for w in t.split(" ") if w)
    words = {w: list(w) for w in freq}
    rules = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            break
        (l, r), pf = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if pf < min_pair_freq:
            break
        rules.append([rank, l, r, l + r, pf])
        for w, syms in words.items():
            acc = syms[:1]
            for x in syms[1:]:
                if acc[-1] == l and x == r:
                    acc[-1] = l + r
                else:
                    acc.append(x)
            words[w] = acc
    return rules


def _llm_answers(con) -> dict:
    from inspectadb_spark.queries import REGISTRY

    out = {"q44b_simhash": _q(con, REGISTRY["q44b_simhash"].oracle)}
    # q135: the oracle's sign-blocked cosine pairs, closed by union-find
    # instead of its recursive CTE.
    sql = REGISTRY["q135_semantic_dedup"].oracle
    head = sql[:sql.index("), edges AS")] + ")"
    comp = components(con.execute(head + " SELECT v1, v2 FROM pairs").fetchall())
    ids = [r[0] for r in con.execute(
        "SELECT vec_id FROM embeddings ORDER BY vec_id").fetchall()]
    out["q135_semantic_dedup"] = [
        [v, comp.get(v, v), comp.get(v, v) == v] for v in ids]
    texts = [r[0] for r in con.execute("SELECT text FROM documents").fetchall()]
    out["q194_bpe_merges"] = bpe_reference(texts)
    return out


def _fold(state: dict, batch) -> None:
    """Apply one batch, latest lsn wins within it; batches are taken in
    the order given, so no lsn is kept between them."""
    cols = [c for c in batch.column_names if c not in ("lsn", "op")]
    rows = batch.to_pylist()
    rows.sort(key=lambda r: r["lsn"])
    for r in rows:
        key = r["o_orderkey"]
        if r["op"] == "d":
            state.pop(key, None)
        else:
            state[key] = [r[c] for c in cols]


def _fold_lsn(state: dict, batch) -> None:
    """Apply one batch keeping each key's lsn (deletes as tombstones): a
    change older than the key's last one is ignored, so an older batch
    re-delivered after a newer one changes nothing."""
    cols = [c for c in batch.column_names if c not in ("lsn", "op")]
    for r in batch.to_pylist():
        key = r["o_orderkey"]
        if key not in state or state[key][0] < r["lsn"]:
            state[key] = (r["lsn"], r["op"], [r[c] for c in cols])


def _live(state: dict) -> list[list]:
    return norm_rows(row for _, op, row in state.values() if op != "d")


def _agg_rows(state: dict, cols: list[str], read: dict) -> list[list]:
    """A CDC read evaluated over the folded state: exact cent sums."""
    group_of = itemgetter(*[cols.index(k) for k in read["keys"]])
    pi = cols.index("o_totalprice")
    groups: dict = {}
    for row in state.values():
        key, price = group_of(row), row[pi]
        g = groups.get(key)
        if g is None:
            groups[key] = [round(price * 100), 1, price]
        else:
            g[0] += round(price * 100)
            g[1] += 1
            g[2] = max(g[2], price)
    out = []
    for key, (cents, n, top) in groups.items():
        vals = {"sum": cents / 100, "count": n, "avg": cents / 100 / n,
                "max": top}
        out.append((list(key) if len(read["keys"]) > 1 else [key])
                   + [vals[agg] for agg, _ in read["measures"].values()])
    return out


def stream_steps(rounds: int) -> list[list[tuple[int, str]]]:
    """Per round, the files the streaming apply drains: the round's
    batches, then the older probe batch again (stale) as the last file, so
    the state checked after the round shows whether it was ignored."""
    per = spec.STEPS_PER_ROUND
    steps = cdc_steps(rounds)
    return [[s for s in steps[r * per:(r + 1) * per] if s[1] != "repair"]
            for r in range(rounds)]


def _stream_files(feed_dir: str, rounds: int) -> list[list[str]]:
    """The streaming source, one directory of files per round, with
    increasing modification times so the file source keeps their order."""
    out = []
    i = 0
    for r, steps in enumerate(stream_steps(rounds)):
        src = os.path.join(feed_dir, "stream", f"r{r:03d}")
        os.makedirs(src)
        names = []
        for b, _ in steps:
            names.append(f"s{i:04d}.parquet")
            dst = os.path.join(src, names[-1])
            shutil.copyfile(os.path.join(feed_dir, f"b{b:04d}.parquet"), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            i += 1
        out.append(names)
    return out


def build_cdc(seed: int, rounds: int) -> str:
    out = os.path.join(build_dir(seed), f"cdc-{rounds}")
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    base = pq.read_table(os.path.join(build_dir(seed), "data", "orders.parquet"))
    cols = base.column_names
    batches = datagen.feed(seed, base, rounds)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, b in enumerate(batches):
        pq.write_table(b, os.path.join(tmp, f"b{i:04d}.parquet"))
    steps = cdc_steps(rounds)
    state = {r["o_orderkey"]: [r[c] for c in cols] for r in base.to_pylist()}
    reads = []
    for i, (b, kind) in enumerate(steps):
        if kind == "feed":
            _fold(state, batches[b])
        read = spec.CDC_READS[spec.CDC_READ_AT[i % spec.STEPS_PER_ROUND]]
        reads.append(norm_rows(_agg_rows(state, cols, read)))
    stream_state: dict = {}
    stream_states = []
    for round_steps in stream_steps(rounds):
        for b, _ in round_steps:
            _fold_lsn(stream_state, batches[b])
        stream_states.append(_live(stream_state))
    expected = {
        "steps": steps,
        "reads": reads,
        "final_state": norm_rows(state.values()),
        "stream_files": _stream_files(tmp, rounds),
        "stream_states": stream_states,
        "columns": cols,
    }
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        f.write(json.dumps(expected))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def build(seed: int) -> str:
    """Corpus tables plus the llm_batch answers."""
    out = build_dir(seed)
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    data = os.path.join(tmp, "data")
    datagen.write(datagen.corpus(seed), data)
    con = _duck(data)
    expected = {"llm": _llm_answers(con)}
    con.close()
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        f.write(json.dumps(expected))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(BUILD_ROOT, exist_ok=True)
    os.replace(tmp, out)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cdc-rounds", type=int, default=0)
    a = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    print(build(a.seed))
    if a.cdc_rounds:
        print(build_cdc(a.seed, a.cdc_rounds))


if __name__ == "__main__":
    main()
