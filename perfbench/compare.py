#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR
    python3 perfbench/compare.py --overhead RUNS_DIR

A set is a directory of run records as perfbench/run.py writes them
(.bench_build/perfbench/runs/ by default; pass --record to keep sets
apart). Untraced runs only, unless --overhead.

For each workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles and the spread (interquartile range over
median), then:
  agree    -- the change's median is not worse than the base's by more
              than the metric's bound, and both spreads (setup_s exempt)
              are within it;
  verdict  -- improved / regressed when one side wins at least 9 of 10
              seed-matched pairs (ties count for neither) and the medians
              differ by more than the base's interquartile range;
              unchanged when the medians are within the bound and both
              spreads are too; otherwise unresolved.
Runs with other processes using more than 5% of the CPU, or more than 5%
iowait, are flagged as noisy.

--overhead prints, per workload, the traced minus untraced median of each
end-to-end metric (the tracing overhead), from one set holding both.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
NOISY = 0.05


def load_spec():
    for p in (os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              os.path.join(os.getcwd(), "BENCHMARK.json")):
        if os.path.exists(p):
            return json.load(open(p))
    sys.exit("BENCHMARK.json not found")


def load_runs(d):
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(p))
        r["file"] = os.path.basename(p)
        runs.append(r)
    if not runs:
        sys.exit(f"no run records in {d}")
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def worse(better, a, b):
    """True when b is worse than a."""
    return b > a if better == "lower" else b < a


def verdict(m, base, change):
    bound, better = m["bound"], m["better"]
    pairs = list(zip(base, change))
    wins = sum(worse(better, a, b) is False and a != b for a, b in pairs)
    losses = sum(worse(better, a, b) for a, b in pairs)
    q1, med_a, q3 = quartiles([a for a, _ in pairs] or base)
    med_b = statistics.median(change)
    beyond_iqr = abs(med_b - med_a) > (q3 - q1)
    if pairs and wins >= 0.9 * len(pairs) and beyond_iqr:
        return "improved"
    if pairs and losses >= 0.9 * len(pairs) and beyond_iqr:
        return "regressed"
    if better == "lower":
        all_better = max(change) < min(base)
    else:
        all_better = min(change) > max(base)
    within = abs(med_b - med_a) <= bound * abs(med_a)
    if within and spread(base) <= bound and spread(change) <= bound:
        return "unchanged"
    return "improved" if all_better else "unresolved"


def by_seed(runs, workload, metric):
    return {r["seed"]: r["e2e"][metric]["value"] for r in runs
            if r["workload"] == workload and metric in r["e2e"]}


def flag_noisy(runs, label):
    for r in runs:
        h = r.get("host", {})
        if h.get("ext_cpu_frac", 0) > NOISY or h.get("iowait_frac", 0) > NOISY:
            print(f"noisy {label} run {r['file']}: loadavg {h['loadavg']:.2f} "
                  f"ext_cpu {h['ext_cpu_frac']:.3f} iowait {h['iowait_frac']:.3f}")


def compare(spec, base_runs, change_runs):
    base_runs = [r for r in base_runs if not r["trace"]]
    change_runs = [r for r in change_runs if not r["trace"]]
    flag_noisy(base_runs, "base")
    flag_noisy(change_runs, "change")
    hdr = (f"{'workload':12s} {'metric':18s} {'base q1/med/q3':>30s} "
           f"{'change q1/med/q3':>30s} {'spr.b':>6s} {'spr.c':>6s} "
           f"{'agree':>5s} verdict")
    print(hdr)
    all_agree = True
    for w in [x["name"] for x in spec["workloads"]]:
        for m in spec["end_to_end"]:
            a = by_seed(base_runs, w, m["name"])
            b = by_seed(change_runs, w, m["name"])
            if not a or not b:
                continue
            # pair runs by seed; sets without common seeds pair in seed order
            seeds = sorted(set(a) & set(b))
            base = [a[s] for s in (seeds or sorted(a))]
            change = [b[s] for s in (seeds or sorted(b))]
            qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
            sa, sb = spread(list(a.values())), spread(list(b.values()))
            worse_by = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            if m["better"] == "higher":
                worse_by = -worse_by
            ok = worse_by <= m["bound"] and (
                m["name"] == "setup_s" or (sa <= m["bound"] and sb <= m["bound"]))
            all_agree &= ok
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:12s} {m['name']:18s} {fmt(qa):>30s} {fmt(qb):>30s} "
                  f"{sa:6.3f} {sb:6.3f} {'yes' if ok else 'NO':>5s} "
                  f"{verdict(m, base, change)}")
    print("sets agree within bounds" if all_agree else "sets DISAGREE")
    return all_agree


def overhead(spec, runs):
    print(f"{'workload':12s} {'metric':18s} {'untraced':>12s} {'traced':>12s} "
          f"{'overhead':>12s}")
    for w in [x["name"] for x in spec["workloads"]]:
        for m in spec["end_to_end"]:
            u = [r["e2e"][m["name"]]["value"] for r in runs
                 if r["workload"] == w and not r["trace"]]
            t = [r["e2e"][m["name"]]["value"] for r in runs
                 if r["workload"] == w and r["trace"]]
            if u and t:
                mu, mt = statistics.median(u), statistics.median(t)
                print(f"{w:12s} {m['name']:18s} {mu:12.4f} {mt:12.4f} "
                      f"{mt - mu:+12.4f} ({(mt - mu) / mu:+.1%}, "
                      f"n={len(u)}/{len(t)})")


def main():
    spec = load_spec()
    args = sys.argv[1:]
    if len(args) == 2 and args[0] == "--overhead":
        overhead(spec, load_runs(args[1]))
    elif len(args) == 2:
        sys.exit(0 if compare(spec, load_runs(args[0]),
                              load_runs(args[1])) else 1)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
