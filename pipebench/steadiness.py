#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same code, workloads
alternating, each end-to-end metric's median and quartiles per set, and
whether the sets agree within the bounds in BENCHMARK.json.

    python3 pipebench/steadiness.py [--from-log]

Every workload of BENCHMARK.json runs RUNS times per set: set 1 with
seeds 1..RUNS, set 2 with seeds 101..100+RUNS. A metric passes when its
interquartile range is within its bound in each set, the two medians
differ by no more than the bound in either direction, and the share of
failed operations is identical in both sets. Then TRACED traced runs per
workload give the tracing overhead: the traced op_p50_ms median against
the untraced one. Each check rewrites .bench_build/steadiness.jsonl with
every run's record; --from-log re-analyses that file against the current
bounds without running again.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
TRACED = 2


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed (exit {out.returncode}):\n"
                         f"{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    acct = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                 if ln.startswith("accounting ")), {})
    return json.loads(lines[-1]), acct


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--from-log", action="store_true")
    a = ap.parse_args()
    workloads = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    log_path = os.path.join(ROOT, ".bench_build", "steadiness.jsonl")
    logged = [json.loads(ln) for ln in open(log_path)] if a.from_log else []
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    log = None if a.from_log else open(log_path, "w")  # a fresh pair of sets

    sets = []
    for base in (1, 101):
        recs = {w: [] for w in workloads}
        for old in logged:
            if not old.get("trace") and old["workload"] in recs and \
                    base <= old["seed"] < base + 100:
                recs[old["workload"]].append(old["result"])
        for i in range(0 if a.from_log else RUNS):
            for w in workloads:
                res, acct = run(w, base + i, seconds, 0)
                recs[w].append(res)
                log.write(json.dumps({"workload": w, "seed": base + i, "result": res,
                                      "accounting": acct}) + "\n")
                log.flush()
                print(f"  {w} seed {base + i}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
                    flush=True)
        sets.append(recs)

    ok = True
    print(f"\n{'workload':14} {'metric':14} {'bound':>6}  "
          f"{'set1 q1/median/q3':>28} {'iqr%':>6}  {'set2 q1/median/q3':>28} {'iqr%':>6} "
          f"{'shift%':>7}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            cols, spreads, meds = [], [], []
            for recs in sets:
                xs = [r["metrics"][name]["value"] for r in recs[w]]
                q1, med, q3 = quartiles(xs)
                spreads.append((q3 - q1) / med)
                meds.append(med)
                cols.append(f"{q1:9.4g}/{med:9.4g}/{q3:9.4g}")
            shift = (meds[1] - meds[0]) / meds[0] * (1 if lower else -1)  # > 0: set 2 worse
            good = abs(shift) <= bound and max(spreads) <= bound
            ok &= good
            print(f"{w:14} {name:14} {bound:6.2f}  {cols[0]:>28} {spreads[0]*100:6.2f}  "
                  f"{cols[1]:>28} {spreads[1]*100:6.2f} {shift*100:7.2f}  "
                  f"{'ok' if good else 'FAIL'}")
        shares = [sum(r["failed"] for r in recs[w]) / sum(r["attempted"] for r in recs[w])
                  for recs in sets]
        same = shares[0] == shares[1]
        ok &= same
        print(f"{w:14} failed share: set1 {shares[0]:.6g}, set2 {shares[1]:.6g} "
              f"{'ok' if same else 'FAIL'}")

    for w in workloads:
        traced = [old["result"]["metrics"]["trace.op_p50_ms"]["value"] for old in logged
                  if old.get("trace") and old["workload"] == w]
        for i in range(0 if a.from_log else TRACED):
            res, acct = run(w, 201 + i, seconds, 1)
            log.write(json.dumps({"workload": w, "seed": 201 + i, "trace": 1, "result": res,
                                  "accounting": acct}) + "\n")
            traced.append(res["metrics"]["trace.op_p50_ms"]["value"])
        if not traced:
            continue
        plain = statistics.median(r["metrics"]["op_p50_ms"]["value"]
                                  for recs in sets for r in recs[w])
        print(f"{w:14} tracing overhead on op_p50_ms: traced median "
              f"{statistics.median(traced):.4g} ms vs untraced {plain:.4g} ms "
              f"({(statistics.median(traced) / plain - 1) * 100:+.1f}%)")
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
