#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent and change), metric by metric.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds one file per run, named `<workload>-<seed>.json`,
whose last line is the result object run.py printed. Runs with the same
file name on both sides form a pair. For every workload and end-to-end
metric in BENCHMARK.json it prints both sides' median and quartiles, the
change's pair win rate and a verdict:

  improved    the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile spread;
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's quartile spread, as a share of its median, is
              wider than the bound, and not every change run beats every
              parent run;
  unchanged   otherwise.

It exits with code 1 when any metric is worse, any run failed its output
checks, any run file holds no result (the run failed or timed out), or a
workload's run files differ between the two sides; else 0.

To produce the two sets, run each seed on both checkouts, alternating
which side goes first:

    python3 perfbench/compare.py run PARENT_ROOT CHANGE_ROOT OUT_DIR \\
        --workload mr_text --seeds 1-10

writes OUT_DIR/parent/ and OUT_DIR/change/ for the comparison above.

    python3 perfbench/compare.py spread DIR

prints, for one set of runs, each metric's median and its quartile
spread as a share of the median, next to the metric's bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load_runs(d, workloads):
    """{workload: {file name: result}} for the runs under `d`; the result
    is None when the file holds no result object."""
    runs = {}
    for f in sorted(Path(d).glob("*.json")):
        w = next((w for w in workloads if f.name.startswith(w + "-")), None)
        if w is None:
            continue
        lines = f.read_text().strip().splitlines()
        try:
            r = json.loads(lines[-1]) if lines else None
        except json.JSONDecodeError:
            r = None
        runs.setdefault(w, {})[f.name] = r if isinstance(r, dict) and "metrics" in r else None
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par, chg, pairs, better, bound):
    """(verdict, wins, pairs counted) for one metric."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    q1, med_p, q3 = quartiles(par)
    med_c = statistics.median(chg)
    if pairs and wins >= 0.9 * len(pairs) and abs(med_c - med_p) > q3 - q1:
        return "improved", wins
    if sign * (med_c - med_p) < -bound * abs(med_p):
        return "worse", wins
    if med_p and (q3 - q1) / abs(med_p) > bound:
        all_better = min(sign * c for c in chg) > max(sign * p for p in par)
        if not all_better:
            return "unresolved", wins
    return "unchanged", wins


def compare(parent_dir, change_dir):
    spec = json.loads(BENCH.read_text())
    names = [w["name"] for w in spec["workloads"]]
    par, chg = load_runs(parent_dir, names), load_runs(change_dir, names)
    bad = False
    for side, runs in (("parent", par), ("change", chg)):
        for w, rs in runs.items():
            for f, r in rs.items():
                if r is None:
                    print(f"{side} run {f}: no result (the run failed)")
                    bad = True
                elif not r.get("correct") or r.get("failed"):
                    print(f"{side} run {f}: correct={r.get('correct')} failed={r.get('failed')}")
                    bad = True
    for w in names:
        only = set(par.get(w, {})) ^ set(chg.get(w, {}))
        if only:
            print(f"{w}: runs on one side only: {', '.join(sorted(only))}")
            bad = True
    print(f"{'workload':<14}{'metric':<20}{'parent median [q1, q3]':>34}"
          f"{'change median [q1, q3]':>34}{'delta':>9}{'wins':>8}  verdict")
    for w in names:
        p_runs = {f: r for f, r in par.get(w, {}).items() if r is not None}
        c_runs = {f: r for f, r in chg.get(w, {}).items() if r is not None}
        if not p_runs or not c_runs:
            print(f"{w:<14}(no runs on {'both sides' if not p_runs and not c_runs else 'one side'})")
            continue
        common = sorted(set(p_runs) & set(c_runs))
        for m in spec["end_to_end"]:
            n = m["name"]
            pv = [r["metrics"][n]["value"] for r in p_runs.values()]
            cv = [r["metrics"][n]["value"] for r in c_runs.values()]
            pairs = [(p_runs[f]["metrics"][n]["value"], c_runs[f]["metrics"][n]["value"]) for f in common]
            v, wins = verdict(pv, cv, pairs, m["better"], m["bound"])
            bad |= v == "worse"
            pq, cq = quartiles(pv), quartiles(cv)
            delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else 0.0
            print(f"{w:<14}{n:<20}{pq[1]:>14.4g} [{pq[0]:.4g}, {pq[2]:.4g}]".ljust(68) +
                  f"{cq[1]:>14.4g} [{cq[0]:.4g}, {cq[2]:.4g}]".ljust(34) +
                  f"{delta:>+8.1f}%{wins:>4}/{len(pairs):<3}  {v}")
    return 1 if bad else 0


def spread(d):
    """Quartile spread over median per workload and end-to-end metric."""
    spec = json.loads(BENCH.read_text())
    runs = load_runs(d, [w["name"] for w in spec["workloads"]])
    for w, rs in runs.items():
        failed = sorted(f for f, r in rs.items() if r is None)
        if failed:
            print(f"{w}: no result in {', '.join(failed)}")
        rs = {f: r for f, r in rs.items() if r is not None}
        if not rs:
            continue
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in rs.values()]
            q1, med, q3 = quartiles(xs)
            share = (q3 - q1) / abs(med) if med else 0.0
            print(f"{w:<14}{m['name']:<20} n={len(xs):<3} median {med:<12.5g} "
                  f"spread {share:6.3f}  bound {m['bound']}")
    return 0


def parse_seeds(s):
    out = []
    for part in s.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run_pairs(parent_root, change_root, out, workload, seeds, seconds):
    """Run every seed on both checkouts, alternating which goes first.
    A failed run leaves its file without a result, which the comparison
    counts as a failure. Returns 1 when any run failed, else 0."""
    failed = 0
    for i, seed in enumerate(seeds):
        sides = [("parent", parent_root), ("change", change_root)]
        for side, root in (sides if i % 2 == 0 else sides[::-1]):
            d = Path(out) / side
            d.mkdir(parents=True, exist_ok=True)
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", "0"],
                cwd=root, stdout=subprocess.PIPE, text=True)
            (d / f"{workload}-{seed}.json").write_text(proc.stdout if proc.returncode == 0 else "")
            print(f"{side} {workload} seed {seed}: exit {proc.returncode}", file=sys.stderr)
            failed |= proc.returncode != 0
    return 1 if failed else 0


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "run":
        ap = argparse.ArgumentParser(prog="compare.py run")
        ap.add_argument("parent_root")
        ap.add_argument("change_root")
        ap.add_argument("out")
        ap.add_argument("--workload", required=True)
        ap.add_argument("--seeds", default="1-10")
        ap.add_argument("--seconds", type=float,
                        default=json.loads(BENCH.read_text())["run_seconds"])
        a = ap.parse_args(sys.argv[2:])
        return run_pairs(a.parent_root, a.change_root, a.out, a.workload, parse_seeds(a.seeds),
                         a.seconds)
    if len(sys.argv) == 3 and sys.argv[1] == "spread":
        return spread(sys.argv[2])
    ap = argparse.ArgumentParser(description="Compare two sets of benchmark runs.")
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    a = ap.parse_args()
    return compare(a.parent_dir, a.change_dir)


if __name__ == "__main__":
    sys.exit(main())
