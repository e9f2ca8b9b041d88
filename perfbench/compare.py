#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the standard output of runs of perfbench/run.py, one
file per run (any name). The workload is read from the report's
`== <workload> (...)` line and the metrics from the JSON last line. For
every workload and metric the tool prints each side's quartiles and a
verdict against the bounds in BENCHMARK.json:

  worse      the new median is worse than the base by more than the bound
  better     the new median is better by more than the base's own spread
  unchanged  neither, and both sides' spreads are within the bound
  unresolved a side's spread is wider than the bound, and the runs do not
             separate completely (every new run better, or every one worse)

Per-layer metrics (traced runs) have no bound; they get the median change.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


def load_runs(path: str) -> dict:
    """{workload: {metric: [values]}} from every run file under path."""
    out = {}
    for name in sorted(os.listdir(path)):
        f = os.path.join(path, name)
        if not os.path.isfile(f):
            continue
        lines = [ln for ln in open(f).read().splitlines() if ln.strip()]
        head = [ln for ln in lines if ln.startswith("== ")]
        if not lines or not head or not lines[-1].startswith("{"):
            continue
        workload = head[0].split()[1]
        res = json.loads(lines[-1])
        for k, m in res["metrics"].items():
            out.setdefault(workload, {}).setdefault(k, []).append(m["value"])
    return out


def verdict(base, new, better: str, bound) -> str:
    if bound is None:
        return "-"
    sign = 1.0 if better == "lower" else -1.0
    _, mb, _ = M.quartiles(base)
    _, mn, _ = M.quartiles(new)
    worse_by = sign * (mn - mb) / mb
    separated = (sign * max(new) < sign * min(base)
                 or sign * min(new) > sign * max(base))
    if max(M.spread(base), M.spread(new)) > bound and not separated:
        return "unresolved"
    if worse_by > bound:
        return "worse"
    if -worse_by > M.spread(base):
        return "better"
    return "unchanged"


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    defs = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    print(f"{'workload':<13} {'metric':<34} {'base q1/med/q3':>32} "
          f"{'new q1/med/q3':>32} {'change':>8}  verdict")
    for w in sorted(set(base) & set(new)):
        for k in sorted(set(base[w]) & set(new[w])):
            d = defs.get(k, {})
            b, n = base[w][k], new[w][k]
            qb, qn = M.quartiles(b), M.quartiles(n)
            change = (qn[1] - qb[1]) / qb[1] if qb[1] else float("nan")
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:<13} {k:<34} {fmt(qb):>32} {fmt(qn):>32} "
                  f"{change:>+8.1%}  "
                  f"{verdict(b, n, d.get('better', 'lower'), d.get('bound'))}"
                  f" (n={len(b)}/{len(n)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
