#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload lake_dml \
        --seeds 11-20 [--seconds 5] [--claim ops_per_s] [--log pairs.jsonl]

For each seed it runs `python3 benchmark/run.py --workload W --seed S
--seconds T --trace 0` once in each checkout, one after the other. Which
side goes first alternates from pair to pair, so a slow stretch of the
machine hits both sides alike. `benchmark/run.py` is called unchanged, from
the root of each checkout; nothing under `benchmark/` is edited.

Per end-to-end metric (names and directions from the change's
BENCHMARK.json) it prints each side's median, quartiles and IQR, the
change's win count over the pairs, and whether the claim rule holds: the
change wins at least 9 of 10 pairs and its median is better than the
parent's by more than the parent's IQR. `--claim` marks the metric a gain
is claimed on; the rule is printed for every metric either way.

Under the summary it prints, per operation kind, each side's median of
the run's `op_p50_s` (from the `[graftbench] detail` line the benchmark
writes to stderr) and their ratio, so a change shows which kinds moved.

Every run's result line, with its detail line under "detail", is
appended to `--log` (JSON lines), and pairs already in the log for the
same workload, seed and seconds are reused, so an interrupted series
resumes where it stopped.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out.extend(range(int(lo), int(hi) + 1))
        else:
            out.append(int(part))
    return out


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns its parsed result line (or an error)."""
    cmd = [sys.executable, "benchmark/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"error": f"exit {p.returncode}, no result line"}
    res["wall_s"] = round(wall, 1)
    tag = "[graftbench] detail "
    for line in p.stderr.splitlines():
        if line.startswith(tag):
            try:
                res["detail"] = json.loads(line[len(tag):])
            except ValueError:
                pass
    return res


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--claim", default=None)
    ap.add_argument("--log", default=None)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}

    done = {}
    if a.log and os.path.exists(a.log):
        with open(a.log) as f:
            for line in f:
                r = json.loads(line)
                if (r["workload"], r["seconds"]) == (a.workload, a.seconds):
                    done[(r["seed"], r["side"])] = r["result"]

    sides = {"parent": a.parent, "change": a.change}
    results = {}
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = done.get((seed, side))
            if res is None:
                res = run_once(sides[side], a.workload, seed, a.seconds)
                if a.log:
                    with open(a.log, "a") as f:
                        f.write(json.dumps({
                            "workload": a.workload, "seconds": a.seconds,
                            "seed": seed, "side": side, "result": res}) + "\n")
            results[(seed, side)] = res
            m = {k: v["value"] for k, v in res.get("metrics", {}).items()}
            print(f"seed {seed:>3} {side:<6} correct={res.get('correct')} "
                  f"failed={res.get('failed')} "
                  + " ".join(f"{k}={m[k]:.4g}" for k in better if k in m),
                  flush=True)

    seeds = parse_seeds(a.seeds)
    ok = [s for s in seeds
          if all("metrics" in results[(s, side)] for side in sides)]
    bad = [s for s in seeds if s not in ok]
    print(f"\n{a.workload}: {len(ok)} complete pairs"
          + (f", incomplete seeds {bad}" if bad else ""))
    print("every run correct with 0 failed ops: " + str(all(
        results[(s, side)].get("correct") is True
        and results[(s, side)].get("failed") == 0
        for s in ok for side in sides)))
    print(f"{'metric':<18} {'parent med [q1, q3] IQR':<34} "
          f"{'change med [q1, q3] IQR':<34} {'ratio':>6} {'wins':>6}  claim")
    for name, way in better.items():
        pv = [results[(s, "parent")]["metrics"][name]["value"] for s in ok]
        cv = [results[(s, "change")]["metrics"][name]["value"] for s in ok]
        if not pv:
            continue
        sign = 1 if way == "higher" else -1
        wins = sum(1 for p, c in zip(pv, cv) if sign * (c - p) > 0)
        p1, pm, p3 = quartiles(pv)
        c1, cm, c3 = quartiles(cv)
        rule = (wins >= 0.9 * len(ok) and len(ok) >= 10
                and sign * (cm - pm) > (p3 - p1))
        tag = " <- claimed" if name == a.claim else ""
        print(f"{name:<18} {pm:>9.4g} [{p1:.4g}, {p3:.4g}] {p3 - p1:<8.3g} "
              f"{cm:>9.4g} [{c1:.4g}, {c3:.4g}] {c3 - c1:<8.3g} "
              f"{cm / pm if pm else float('nan'):>6.3f} {wins:>3}/{len(ok):<2}"
              f"  {'holds' if rule else 'not met'}{tag}")

    def kinds(seed, side):
        return results[(seed, side)].get("detail", {}).get("op_p50_s", {})
    both = [s for s in ok if kinds(s, "parent") and kinds(s, "change")]
    if both:
        print(f"\nop_p50_s per operation kind, median over {len(both)} pairs")
        print(f"{'kind':<26} {'parent':>9} {'change':>9} {'ratio':>6}")
        names = sorted(set().union(*(kinds(s, side).keys()
                                     for s in both for side in sides)))
        for k in names:
            pv = [kinds(s, "parent")[k] for s in both if k in kinds(s, "parent")]
            cv = [kinds(s, "change")[k] for s in both if k in kinds(s, "change")]
            if pv and cv:
                pm, cm = statistics.median(pv), statistics.median(cv)
                print(f"{k:<26} {pm:>9.4g} {cm:>9.4g} "
                      f"{cm / pm if pm else float('nan'):>6.3f}")


if __name__ == "__main__":
    main()
