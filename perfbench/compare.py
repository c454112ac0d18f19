"""Summarize or compare result artifacts written by ``run.py``.

    python3 perfbench/compare.py perfbench/_results/A/*.json
    python3 perfbench/compare.py --base 'old/*.json' --head 'new/*.json'

For each workload and metric it prints the median, quartiles and the
quartile spread as a share of the median, the same statistic the bounds in
``BENCHMARK.json`` are checked against. Artifacts taken at different core
counts are never compared: the tool exits with code 2 instead.
"""

from __future__ import annotations

import argparse
import glob
import json
import statistics
import sys


def load(patterns: list[str]) -> list[dict]:
    arts = []
    for pat in patterns:
        for path in sorted(glob.glob(pat)):
            with open(path) as f:
                arts.append(json.load(f))
    return arts


def table(arts: list[dict]) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = {}
    for a in arts:
        w = a["detail"]["workload"]
        for name, m in a["result"]["metrics"].items():
            out.setdefault((w, name), []).append(m["value"])
    return out


def stats(xs: list[float]) -> dict[str, float]:
    med = statistics.median(xs)
    if len(xs) < 2:
        return {"n": len(xs), "median": med}
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"n": len(xs), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("artifacts", nargs="*")
    ap.add_argument("--base", action="append", default=[])
    ap.add_argument("--head", action="append", default=[])
    args = ap.parse_args()
    sets = {"base": load(args.base), "head": load(args.head)} \
        if args.base or args.head else {"runs": load(args.artifacts)}
    cores = {a["detail"]["nproc"] for arts in sets.values() for a in arts}
    if len(cores) > 1:
        print(f"refusing to compare artifacts taken at different core counts: "
              f"{sorted(cores)}", file=sys.stderr)
        return 2
    tables = {k: table(v) for k, v in sets.items()}
    keys = sorted({k for t in tables.values() for k in t})
    for key in keys:
        row = {name: stats(t[key]) for name, t in tables.items() if key in t}
        print(f"{key[0]:15s} {key[1]:28s} " + "  ".join(
            f"{name}: " + " ".join(f"{k}={v:.4g}" for k, v in s.items())
            for name, s in row.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
