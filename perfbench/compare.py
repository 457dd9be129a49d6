#!/usr/bin/env python3
"""Compares two result sets of the benchmark, workload by workload.

    python3 perfbench/compare.py <base_dir> <new_dir>

A result set is a directory of files, each holding the standard output of
one `perfbench/run.py` run (any file name). Runs with --trace 0 give the
end-to-end metrics; runs with --trace 1 give the per-layer metrics.

For every workload it prints:
  - each end-to-end metric of BENCHMARK.json: median and quartiles of both
    sets, the change of the median, and a verdict against the metric's
    bound: "worse" when the new median is worse than the base median by
    more than the bound, "unresolved" when either set's spread (quartile
    distance over median) exceeds the bound and not every new run beats
    every base run, "better" or "same" otherwise;
  - the per-layer metrics whose medians moved, ranked by relative change,
    so that a regression names the layer it comes from.
Only runs whose outputs were correct give metric values. A workload whose
new set has more failed operations than its base set is reported as
"FAILED". Exit status is 1 when any end-to-end metric is "worse" or any
workload "FAILED".
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    """{(workload, trace): [(detail, result), ...]} from a result directory."""
    runs = {}
    for f in sorted(Path(d).iterdir()):
        if not f.is_file():
            continue
        detail, result = None, None
        for line in f.read_text(errors="replace").splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if "perfbench" in obj:
                detail = obj["perfbench"]
            elif {"correct", "attempted", "failed", "metrics"} <= obj.keys():
                result = obj
        if detail and result:
            runs.setdefault((detail["workload"], detail["trace"]), []).append((detail, result))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, name):
    return [r["metrics"][name]["value"] for _, r in runs
            if r["correct"] and name in r["metrics"]]


def verdict(base, new, better, bound):
    b1, bm, b3 = quartiles(base)
    n1, nm, n3 = quartiles(new)
    sign = 1.0 if better == "lower" else -1.0
    worse = sign * (nm - bm) / abs(bm) if bm else 0.0
    spread = max((b3 - b1) / abs(bm) if bm else 0.0, (n3 - n1) / abs(nm) if nm else 0.0)
    all_better = all(sign * n < sign * b for n in new for b in base)
    if worse > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse < 0 and (all_better or -worse > spread):
        v = "better"
    else:
        v = "same"
    return (b1, bm, b3), (n1, nm, n3), worse, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    base, new = load(sys.argv[1]), load(sys.argv[2])
    layers = {m["name"]: m for m in spec["per_layer"]}
    regressed = False
    for w in sorted({k[0] for k in base} | {k[0] for k in new}):
        print(f"== {w}")
        b, n = base.get((w, 0), []), new.get((w, 0), [])
        bt, nt = base.get((w, 1), []), new.get((w, 1), [])
        failed = {}
        for label, rs in (("base", b + bt), ("new", n + nt)):
            att = sum(r["attempted"] for _, r in rs)
            failed[label] = sum(r["failed"] for _, r in rs)
            print(f"  {label}: {len(rs)} runs, {failed[label]} of {att} operations failed")
        if failed["new"] > failed["base"]:
            regressed = True
            print("  FAILED: the new set has more failed operations than the base set")
        if b and n:
            print(f"  {'metric':16s} {'unit':6s} {'base q1/med/q3':>30s} "
                  f"{'new q1/med/q3':>30s} {'worse by':>9s} bound  verdict")
            for m in spec["end_to_end"]:
                bv, nv = values(b, m["name"]), values(n, m["name"])
                if not bv or not nv:
                    continue
                bq, nq, worse, v = verdict(bv, nv, m["better"], m["bound"])
                regressed |= v == "worse"
                fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
                print(f"  {m['name']:16s} {m['unit']:6s} {fmt(bq):>30s} {fmt(nq):>30s} "
                      f"{worse:+9.1%} {m['bound']:.2f}  {v}")
        if bt and nt:
            moved = []
            for name, m in layers.items():
                bv, nv = values(bt, name), values(nt, name)
                if not bv or not nv:
                    continue
                bm, nm = statistics.median(bv), statistics.median(nv)
                if bm == nm:
                    continue
                rel = (nm - bm) / abs(bm) if bm else float("inf")
                sign = 1.0 if m["better"] == "lower" else -1.0
                moved.append((abs(rel), name, bm, nm, rel, "worse" if sign * rel > 0 else "better",
                              m["unit"]))
            print("  per-layer medians that moved, largest relative change first:")
            for _, name, bm, nm, rel, how, unit in sorted(moved, reverse=True):
                print(f"    {name:26s} {bm:>12.5g} -> {nm:<12.5g} {unit:8s} {rel:+8.1%} {how}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
