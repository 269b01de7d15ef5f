"""Planted-failure self-check: every correctness check must reject a wrong
answer.

    python3 e2ebench/selfcheck.py [--seed N]

For one seed's reference answers (built if missing; no Spark needed) it
plants three kinds of wrong answer into copies of them: a dropped row, a
stale value (for a cdc read, the same read two applies earlier; for the
streaming state, the state left by a fold that ignores the lsn) and a
wrong aggregate. Each must be rejected by the check the
workloads use, and each unchanged answer must pass. Exits 1 otherwise.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

from checks import norm_rows, rows_match  # noqa: E402


def _first_float(rows) -> tuple[int, int]:
    for i, r in enumerate(rows):
        for j, v in enumerate(r):
            if isinstance(v, float):
                return i, j
    raise ValueError("no float column")


def plants(name: str, rows, previous=None) -> dict:
    """Wrong versions of one answer."""
    out = {}
    if rows:
        out["dropped row"] = rows[1:]
    if previous is not None and not rows_match(previous, rows):
        out["stale value"] = previous
    try:
        i, j = _first_float(rows)
        wrong = copy.deepcopy(rows)
        wrong[i][j] += 0.01
        out["wrong aggregate"] = wrong
    except ValueError:
        pass
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    import reference

    with open(os.path.join(reference.build(a.seed), "expected.json")) as f:
        exp = json.load(f)
    cdc_dir = reference.build_cdc(a.seed, 2)
    with open(os.path.join(cdc_dir, "expected.json")) as f:
        cdc = json.load(f)
    cases = [(f"llm:{name}", rows, None) for name, rows in exp["llm"].items()]
    for i, rows in enumerate(cdc["reads"]):
        prev = cdc["reads"][i - 2] if i >= 2 else None  # same request, older
        cases.append((f"cdc read after step {i}", rows, prev))
    cases.append(("cdc final state", cdc["final_state"], None))
    # the stream's stale value: the state a fold that ignores the lsn
    # leaves after the round's last file, a stale re-delivery
    no_lsn: dict = {}
    for r, names in enumerate(cdc["stream_files"]):
        for n in names:
            reference._fold(no_lsn, pq.read_table(
                os.path.join(cdc_dir, "stream", f"r{r:03d}", n)))
        cases.append((f"stream state after round {r}",
                      cdc["stream_states"][r], norm_rows(no_lsn.values())))

    bad = 0
    counts: dict[str, int] = {}
    for name, rows, prev in cases:
        if not rows_match(copy.deepcopy(rows), rows):
            print(f"FAIL {name}: the true answer is rejected")
            bad += 1
        for kind, wrong in plants(name, rows, prev).items():
            counts[kind] = counts.get(kind, 0) + 1
            if rows_match(wrong, rows):
                print(f"FAIL {name}: {kind} accepted")
                bad += 1
    print(json.dumps({"answers": len(cases), "planted": counts,
                      "accepted_wrong_or_rejected_right": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
