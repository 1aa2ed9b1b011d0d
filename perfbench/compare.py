"""Compare two sets of perfbench result records.

    python3 perfbench/compare.py --base .perfbench_results/A*.json --head .perfbench_results/B*.json

Prints, per (workload, trace) and metric, each side's median and
quartiles and the head's change. Records whose host part of the
fingerprint differs (nproc, MemTotal, pyspark, Java or Spark conf) are
refused: numbers from different machines or settings are not compared.

The census (the exact counts of each traced operation: rows out, jobs
and tasks per stage, plan node counts) must repeat between traced
records of the same workload, seed, size and source digest on one side.
A traced run makes one traced operation, so this cross-run check is the
census repeat check of every workload. A difference is reported and the
exit code is 4.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

from host import HOST_KEYS


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def _host(rec: dict) -> dict:
    return {k: rec["fingerprint"][k] for k in HOST_KEYS}


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def census_mismatches(records: list[dict]) -> list[str]:
    """Census differences between traced records of one workload, seed,
    size and source digest (the same engine and benchmark code); each
    record lists one census per traced operation."""
    first: dict[tuple, dict] = {}
    out = []
    for rec in records:
        if not rec["trace"]:
            continue
        key = (rec["workload"], rec["seed"], rec["size"], rec["fingerprint"]["source_digest"])
        ref = first.setdefault(key, rec)
        if rec is ref:
            continue
        a, b = ref["census"], rec["census"]
        if len(a) != len(b):
            out.append(f"{key}: {len(a)} vs {len(b)} traced operations")
        for i, (ca, cb) in enumerate(zip(a, b)):
            diff = sorted(k for k in set(ca) | set(cb) if ca.get(k) != cb.get(k))
            if diff:
                out.append(f"{key} op {i}: {[(k, ca.get(k), cb.get(k)) for k in diff[:5]]}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--head", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, head = _load(args.base), _load(args.head)

    ref = _host(base[0])
    for rec in base + head:
        if _host(rec) != ref:
            diff = {k: (ref[k], _host(rec)[k]) for k in HOST_KEYS if _host(rec)[k] != ref[k]}
            print(f"refused: host fingerprints differ: {diff}", file=sys.stderr)
            return 3

    groups: dict[tuple, dict[str, dict[str, list[float]]]] = {}
    for side, recs in (("base", base), ("head", head)):
        for rec in recs:
            g = groups.setdefault((rec["workload"], rec["trace"]), {})
            for name, m in rec["result"]["metrics"].items():
                g.setdefault(name, {"base": [], "head": [], "unit": m["unit"]})[side].append(m["value"])
    census = [f"{side} {m}" for side, recs in (("base", base), ("head", head)) for m in census_mismatches(recs)]
    for m in census:
        print(f"census differs: {m}", file=sys.stderr)

    for (workload, trace), metrics in sorted(groups.items()):
        print(f"== {workload} trace={trace}")
        for name, d in metrics.items():
            if not d["base"] or not d["head"]:
                continue
            b, h = _quartiles(d["base"]), _quartiles(d["head"])
            change = (h[1] - b[1]) / b[1] if b[1] else float("nan")
            print(f"{name:40s} {d['unit']:6s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}] "
                  f"head {h[1]:.4g} [{h[0]:.4g}, {h[2]:.4g}] change {change:+.1%}")
    return 4 if census else 0


if __name__ == "__main__":
    sys.exit(main())
