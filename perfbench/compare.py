#!/usr/bin/env python3
"""Compare a parent commit and a change on the benchmark.

Record alternating pairs (the side that runs first alternates, each
pair on a fresh seed), then report one row per workload x end-to-end
metric:

    python3 perfbench/compare.py run --parent ../parent --change . \\
        --pairs 10 --out pairs.jsonl [--workload cdc_tail ...]
    python3 perfbench/compare.py report pairs.jsonl

Verdicts follow the benchmark's rules: "better" needs the change to
win at least 9 of 10 pairs (ties count for neither side) and the
medians to differ by more than the parent's own interquartile range;
"worse" means the change's median is worse than the parent's by more
than the metric's bound in BENCHMARK.json; where the parent's spread
(IQR / median) exceeds the bound the metric is "unresolved", unless
every run of the change reads better than every run of the parent.
Anything else is "unchanged". The report exits 1 if any row is worse.

Without --parent, `run` records one commit alone; `summary` then gives
each workload x metric's median, quartiles and spread over the seeds
(`--trace 1` records traced runs, summarized the same way).
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WIN_SHARE = 0.9


def load_bench(path):
    with open(path) as f:
        return json.load(f)


def run_pairs(a):
    bench = load_bench(os.path.join(a.change, "BENCHMARK.json"))
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    seconds = str(bench["run_seconds"])
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            seed = a.seed0 + i
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            if not a.parent:  # one commit recorded alone
                sides = [("commit", a.change)]
            for w in workloads:
                for order, (side, root) in enumerate(sides):
                    t0 = time.time()
                    p = subprocess.run(
                        [sys.executable, "perfbench/run.py", "--workload", w,
                         "--seed", str(seed), "--seconds", seconds,
                         "--trace", str(a.trace)],
                        cwd=root, stdout=subprocess.PIPE, text=True)
                    lines = p.stdout.strip().splitlines()
                    rec = {"pair": i, "seed": seed, "workload": w, "side": side,
                           "first": order == 0, "trace": a.trace, "exit": p.returncode,
                           "wall_s": round(time.time() - t0, 1),
                           "result": json.loads(lines[-1]) if lines else None}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"pair {i} {w} {side}: exit {p.returncode}", file=sys.stderr)


def summary(a):
    """Median, quartiles and spread of every metric over the seeds."""
    recs = [json.loads(x) for x in open(a.runs) if x.strip()]
    out = {}
    for r in recs:
        if not r["result"]:
            continue
        key = f"{r['workload']}/{r['side']}" + ("/traced" if r.get("trace") else "")
        e = out.setdefault(key, {"runs": 0, "correct": 0, "seeds": [], "wall_s": [],
                                 "metrics": {}})
        e["runs"] += 1
        e["correct"] += bool(r["result"]["correct"])
        e["seeds"].append(r["seed"])
        e["wall_s"].append(r.get("wall_s"))
        for m, v in r["result"]["metrics"].items():
            e["metrics"].setdefault(m, {"unit": v["unit"], "values": []})["values"].append(v["value"])
    for key, e in sorted(out.items()):
        print(f"== {key}: {e['correct']}/{e['runs']} correct, seeds {e['seeds']}")
        for m, d in e["metrics"].items():
            q1, med, q3 = stats.quartiles(d["values"])
            d.update(q1=q1, median=med, q3=q3,
                     spread=(q3 - q1) / abs(med) if med else 0.0)
            print(f"  {m:28} median {med:14.6g} {d['unit']:9} [{q1:.6g}, {q3:.6g}]"
                  f"  spread {d['spread']:.3f}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    return 0


def verdict(parent, change, pairs, better, bound):
    """One row's verdict from the two sides' values and the pairs."""
    pq1, pmed, pq3 = stats.quartiles(parent)
    _, cmed, _ = stats.quartiles(change)
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    worse_by = -sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    spread = (pq3 - pq1) / abs(pmed) if pmed else 0.0
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if pairs and wins >= WIN_SHARE * len(pairs) and abs(cmed - pmed) > pq3 - pq1 \
            and sign * (cmed - pmed) > 0:
        v = "better"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return {"parent_q1": pq1, "parent_median": pmed, "parent_q3": pq3,
            "change_median": cmed, "worse_by": worse_by, "parent_spread": spread,
            "wins": wins, "losses": losses, "pairs": len(pairs), "verdict": v}


def report(a):
    bench = load_bench(a.bench)
    recs = [json.loads(x) for x in open(a.runs) if x.strip()]
    rows, failed_runs = [], 0
    for w in sorted({r["workload"] for r in recs}):
        mine = [r for r in recs if r["workload"] == w]
        failed_runs += sum(1 for r in mine
                           if not r["result"] or not r["result"]["correct"])
        ok = [r for r in mine if r["result"] and r["result"]["correct"]]
        for m in bench["end_to_end"]:
            val = {(r["side"], r["pair"]): r["result"]["metrics"][m["name"]]["value"]
                   for r in ok if m["name"] in r["result"]["metrics"]}
            parent = [v for (s, _), v in val.items() if s == "parent"]
            change = [v for (s, _), v in val.items() if s == "change"]
            if not parent or not change:
                continue
            pairs = [(val[("parent", i)], val[("change", i)])
                     for (s, i) in val if s == "parent" and ("change", i) in val]
            row = verdict(parent, change, pairs, m["better"], m["bound"])
            rows.append({"workload": w, "metric": m["name"], "unit": m["unit"],
                         "bound": m["bound"], **row})
    print(f"{'workload':16} {'metric':18} {'parent median [q1, q3]':>34} "
          f"{'change':>12} {'worse by':>9} {'wins':>7}  verdict")
    for r in rows:
        print(f"{r['workload']:16} {r['metric']:18} "
              f"{r['parent_median']:12.5g} [{r['parent_q1']:.5g}, {r['parent_q3']:.5g}]"
              f"{r['change_median']:>12.5g} {100 * r['worse_by']:8.1f}% "
              f"{r['wins']:>3}/{r['pairs']:<3}  {r['verdict']}")
    if failed_runs:
        print(f"{failed_runs} run(s) failed or were incorrect")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(rows, f, indent=1)
    return 1 if failed_runs or any(r["verdict"] == "worse" for r in rows) else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="record alternating parent/change pairs")
    r.add_argument("--parent", help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--workload", action="append")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1000)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="one row per workload x metric")
    p.add_argument("runs")
    p.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    p.add_argument("--json", help="also write the rows here")
    m = sub.add_parser("summary", help="median, quartiles and spread per metric")
    m.add_argument("runs")
    m.add_argument("--json", help="also write the summary here")
    a = ap.parse_args()
    if a.cmd == "run":
        run_pairs(a)
        return 0
    return summary(a) if a.cmd == "summary" else report(a)


if __name__ == "__main__":
    sys.exit(main())
