"""Compare benchmark runs of a parent commit and a change.

Each side is a directory of captured stdout files, one per run:

    for s in 1 2 3 4 5 6 7 8 9 10; do
      for w in graph corpus; do
        python3 perfbench/run.py --workload $w --seed $s --seconds 5 --trace 0 \\
          > runs/parent/$w-$s.out
      done
    done

    python3 perfbench/compare.py runs/parent runs/change   # A/B verdicts
    python3 perfbench/compare.py runs/parent               # one side: spreads

Every ``e2e``/``layer`` report line is read, so metrics outside
BENCHMARK.json (op_p90_s, fail_ratio, read_p50_s, ...) compare too.
Comparing untraced runs (``--trace 0``) with traced runs of the same
code gives the tracing overhead on each end-to-end metric.

Runs pair by (workload, seed). The verdict follows the benchmark's
rule for claiming a change: ``better`` when the change wins at least
nine tenths of the pairs (ties count for neither) and the medians
differ by more than the parent's own quartile spread; ``worse`` under
the same rule the other way, or when the change's median is worse
than the parent's by more than the metric's bound; ``unresolved``
otherwise.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load_side(path: str) -> dict:
    """{(workload, metric): {seed: value}} plus per-workload failures."""
    values: dict = defaultdict(dict)
    fails: dict = defaultdict(lambda: [0, 0])
    units: dict = {}
    for fn in sorted(f for f in os.listdir(path) if f.endswith(".out")):
        with open(os.path.join(path, fn), encoding="utf-8") as f:
            lines = f.read().splitlines()
        head = next((ln for ln in lines if ln.startswith("settings:")), None)
        if head is None or not lines[-1].startswith("{"):
            print(f"skipping {fn}: not a complete run", file=sys.stderr)
            continue
        kv = dict(p.split("=", 1) for p in head.split()[1:] if "=" in p)
        wl, seed = kv["workload"], int(kv["seed"])
        for ln in lines:
            parts = ln.split()
            if len(parts) >= 3 and parts[0] in ("e2e", "layer"):
                values[(wl, parts[1])][seed] = float(parts[2])
                units[parts[1]] = parts[3] if len(parts) > 3 else ""
        res = json.loads(lines[-1])
        fails[wl][0] += res["failed"]
        fails[wl][1] += res["attempted"]
    return {"values": values, "fails": fails, "units": units}


def declared() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


HIGHER_IS_BETTER = ("ops_per_s", "ingest.useful_ratio", "dedup.candidate_precision")


def lower_is_better(metric: str, spec: dict) -> bool:
    if metric in spec:
        return spec[metric]["better"] == "lower"
    return metric not in HIGHER_IS_BETTER


def verdict(a: dict, b: dict, lower: bool, bound) -> tuple[float, str]:
    seeds = sorted(set(a) & set(b))
    sign = -1 if lower else 1
    wins = sum(1 for s in seeds if sign * (b[s] - a[s]) > 0)
    losses = sum(1 for s in seeds if sign * (b[s] - a[s]) < 0)
    aq1, am, aq3 = quartiles(sorted(a.values()))
    _, bm, _ = quartiles(sorted(b.values()))
    share = wins / len(seeds) if seeds else 0.0
    gap = abs(bm - am) > (aq3 - aq1)
    if seeds and wins >= 0.9 * len(seeds) and gap:
        return share, "better"
    if seeds and losses >= 0.9 * len(seeds) and gap:
        return share, "worse"
    if bound is not None and am and sign * (bm - am) / abs(am) < -bound:
        return share, "worse"
    return share, "unresolved"


def fmt(x: float) -> str:
    return f"{x:.4g}"


def main(argv) -> int:
    if len(argv) not in (1, 2):
        print(__doc__)
        return 2
    spec = declared()
    sides = [load_side(p) for p in argv]
    a = sides[0]
    for wl, (f, n) in sorted(a["fails"].items()):
        line = f"{wl}: parent failed {f}/{n}"
        if len(sides) == 2:
            f2, n2 = sides[1]["fails"][wl]
            line += f", change failed {f2}/{n2}"
        print(line)
    if len(sides) == 1:
        print(f"{'workload':10} {'metric':30} {'unit':10} {'n':>3} {'q1':>10} "
              f"{'median':>10} {'q3':>10} {'spread':>8}")
        for (wl, metric), vals in sorted(a["values"].items()):
            q1, med, q3 = quartiles(sorted(vals.values()))
            spread = (q3 - q1) / abs(med) if med else float("nan")
            print(f"{wl:10} {metric:30} {a['units'][metric]:10} {len(vals):3d} {fmt(q1):>10} "
                  f"{fmt(med):>10} {fmt(q3):>10} {spread:8.3f}")
        return 0
    b = sides[1]
    print(f"{'workload':10} {'metric':30} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'won':>5} verdict")
    for key in sorted(set(a["values"]) & set(b["values"])):
        wl, metric = key
        av, bv = a["values"][key], b["values"][key]
        bound = spec.get(metric, {}).get("bound")
        share, v = verdict(av, bv, lower_is_better(metric, spec), bound)
        pa = "/".join(fmt(x) for x in quartiles(sorted(av.values())))
        pb = "/".join(fmt(x) for x in quartiles(sorted(bv.values())))
        print(f"{wl:10} {metric:30} {pa:>30} {pb:>30} {share:5.2f} {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
