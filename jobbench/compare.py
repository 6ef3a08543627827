#!/usr/bin/env python3
"""Compare two sets of extraction-job benchmark results.

    python3 jobbench/compare.py BASE CHANGE [--bench BENCHMARK.json]

BASE and CHANGE are each a results directory (`jobbench/work/results/` of a
checkout) or one record file. For every workload and metric found on
both sides it prints each side's median and quartiles (over runs, as
`statistics.quantiles(values, n=4)` gives them), the change of the median,
and, for the end-to-end metrics, whether the two agree within the bound
BENCHMARK.json fixes.

Exit status: 0 when every end-to-end metric agrees or improves, 1 when one
is worse by more than its bound, 2 when the inputs cannot be compared:
results from different hosts, a record whose output was wrong, or an
end-to-end metric of an untraced workload missing on one side.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HOST_KEYS = ("nproc", "mem_total", "cpu_model", "jvm_max_heap_mb")


def load(p):
    files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    recs = []
    for f in files:
        with open(f) as fh:
            recs.append(json.load(fh))
    return recs


def host(rec):
    h = rec["provenance"]["host"]
    return tuple(h.get(k) for k in HOST_KEYS)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def series(recs):
    """(workload, metric) -> values over the runs."""
    out = {}
    for r in recs:
        for name, m in r["metrics"].items():
            out.setdefault((r["workload"], name), []).append(m["value"])
    return out


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base", help="results directory or record file")
    ap.add_argument("change", help="results directory or record file")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(here), "BENCHMARK.json"))
    a = ap.parse_args()

    with open(a.bench) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    base, change = load(a.base), load(a.change)
    if not base or not change:
        print("compare: no records on one side", file=sys.stderr)
        sys.exit(2)
    hosts = {host(r) for r in base + change}
    if len(hosts) != 1:
        print("compare: refusing to compare results from different hosts:", file=sys.stderr)
        for h in sorted(hosts, key=str):
            print("  " + ", ".join(f"{k}={v}" for k, v in zip(HOST_KEYS, h)), file=sys.stderr)
        sys.exit(2)
    refuse = []
    for side, recs in (("base", base), ("change", change)):
        for r in recs:
            if not r.get("correct"):
                refuse.append(f"{side}: {r['workload']} seed {r['seed']} was not correct "
                              f"({'; '.join(r.get('problems', [])[:3])})")

    sb, sc = series(base), series(change)
    untraced = {r["workload"] for r in base + change if not r.get("trace")}
    for wl in sorted(untraced):
        for name in e2e:
            for side, s in (("base", sb), ("change", sc)):
                if (wl, name) not in s:
                    refuse.append(f"{side}: no {name} for {wl}")
    if refuse:
        print("compare: refusing to compare:", file=sys.stderr)
        for msg in refuse:
            print("  " + msg, file=sys.stderr)
        sys.exit(2)

    worse = False
    print(f"{'workload':<16} {'metric':<38} {'n':>5} {'base q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'Δmed':>8}  verdict")
    for key in sorted(set(sb) & set(sc)):
        wl, name = key
        spec = e2e.get(name) or layer.get(name)
        if spec is None:
            continue
        b1, bm, b3 = quartiles(sb[key])
        c1, cm, c3 = quartiles(sc[key])
        delta = (cm - bm) / abs(bm) if bm else float("inf") if cm != bm else 0.0
        verdict = ""
        if name in e2e:
            worse_by = delta if spec["better"] == "lower" else -delta
            if worse_by > spec["bound"]:
                verdict, worse = f"WORSE (bound {spec['bound']})", True
            elif -worse_by > spec["bound"]:
                verdict = f"better (bound {spec['bound']})"
            else:
                verdict = f"agree (bound {spec['bound']})"
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"{wl:<16} {name:<38} {len(sb[key]):>2}/{len(sc[key]):<2} "
              f"{fmt((b1, bm, b3)):>32} {fmt((c1, cm, c3)):>32} {delta:>+8.2%}  {verdict}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
