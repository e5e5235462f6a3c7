"""Compare two commits on the benchmark (standard library only).

    # ten alternating pairs per workload, parent and change checked out side by side
    python3 perfbench/compare.py pairs PARENT_DIR CHANGE_DIR OUT_DIR --pairs 10
    # verdicts per workload and end-to-end metric
    python3 perfbench/compare.py report OUT_DIR/parent.jsonl OUT_DIR/change.jsonl
    # run-to-run spread of one checkout over ten seeds, against the bounds
    python3 perfbench/compare.py runs CHECKOUT_DIR OUT.jsonl --seeds 10
    python3 perfbench/compare.py spread OUT.jsonl

Rules (choosing-metrics §5-§8): a gain needs at least ten pairs, the change
winning at least nine tenths of them (ties count for neither side), and a
median gap larger than the parent's interquartile range. A regression is a
median worse than the parent's by more than the metric's bound. A metric
whose parent spread exceeds its bound is "unresolved", unless every change
run beats every parent run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench(path):
    with open(path) as f:
        return json.load(f)


def read_lines(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(rows, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in rows
            if r["workload"] == workload and metric in r["result"]["metrics"]]


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if out.returncode != 0 or not out.stdout.strip():
        sys.exit(f"{checkout}: {workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def cmd_pairs(a):
    bench = load_bench(os.path.join(a.change, "BENCHMARK.json"))
    os.makedirs(a.out, exist_ok=True)
    sides = {"parent": a.parent, "change": a.change}
    files = {k: open(os.path.join(a.out, f"{k}.jsonl"), "a") for k in sides}
    for w in [x["name"] for x in bench["workloads"]]:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_once(sides[side], w, seed, bench["run_seconds"])
                files[side].write(json.dumps({"workload": w, "seed": seed, "pair": i,
                                              "result": res}) + "\n")
                files[side].flush()
                print(f"{w} pair {i} {side} done", file=sys.stderr)
    for f in files.values():
        f.close()


def cmd_runs(a):
    bench = load_bench(os.path.join(a.checkout, "BENCHMARK.json"))
    workloads = a.workload or [x["name"] for x in bench["workloads"]]
    with open(a.out, "a") as f:
        for w in workloads:
            for i in range(a.seeds):
                seed = a.first_seed + i
                res = run_once(a.checkout, w, seed, bench["run_seconds"])
                f.write(json.dumps({"workload": w, "seed": seed, "result": res}) + "\n")
                f.flush()
                print(f"{w} seed {seed} done", file=sys.stderr)


def better(metric, x, y):
    """1 if x beats y, -1 if y beats x, 0 on a tie."""
    if x == y:
        return 0
    lower = metric["better"] == "lower"
    return 1 if (x < y) == lower else -1


def verdict(metric, parent, change, pair_wins, pairs):
    p_q1, p_med, p_q3 = quartiles(parent)
    _, c_med, _ = quartiles(change)
    iqr = p_q3 - p_q1
    sign = 1 if metric["better"] == "lower" else -1
    worse_by = sign * (c_med - p_med) / p_med if p_med else 0.0
    all_better = all(better(metric, c, p) == 1 for c in change for p in parent)
    if pairs >= 10 and pair_wins >= 0.9 * pairs and better(metric, c_med, p_med) == 1 \
            and abs(c_med - p_med) > iqr:
        return "gain"
    if worse_by > metric["bound"]:
        return "regression"
    if p_med and iqr / p_med > metric["bound"] and not all_better:
        return "unresolved"
    return "within bound"


def cmd_report(a):
    bench = load_bench(a.bench)
    parent, change = read_lines(a.parent), read_lines(a.change)
    for w in [x["name"] for x in bench["workloads"]]:
        p_rows = {r["pair"]: r for r in parent if r["workload"] == w}
        c_rows = {r["pair"]: r for r in change if r["workload"] == w}
        paired = sorted(set(p_rows) & set(c_rows))
        if not paired:
            print(f"{w}: no runs")
            continue
        failed = sum(r["result"]["failed"] for r in c_rows.values())
        summary = []
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = values([p_rows[i] for i in paired], w, name)
            cv = values([c_rows[i] for i in paired], w, name)
            wins = sum(better(m, c_rows[i]["result"]["metrics"][name]["value"],
                              p_rows[i]["result"]["metrics"][name]["value"]) == 1
                       for i in paired)
            v = verdict(m, pv, cv, wins, len(paired))
            if v == "gain" and failed > sum(r["result"]["failed"] for r in p_rows.values()):
                v = "no gain (more failures)"
            p1, pm, p3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            print(f"  {w:12s} {name:14s} parent {pm:.6g} [{p1:.6g}, {p3:.6g}]  change {cm:.6g} "
                  f"[{c1:.6g}, {c3:.6g}] {m['unit']}  wins {wins}/{len(paired)}  {v}")
            summary.append(f"{name} {v}")
        print(f"{w}: {len(paired)} pairs; " + "; ".join(summary))


def cmd_spread(a):
    bench = load_bench(a.bench)
    rows = read_lines(a.results)
    ok = True
    for w in [x["name"] for x in bench["workloads"]]:
        for m in bench["end_to_end"]:
            xs = values(rows, w, m["name"])
            if len(xs) < 2:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med
            flag = "ok" if spread <= m["bound"] / 3 else "WIDE"
            if m["name"] != "setup_s" and spread > m["bound"]:
                flag, ok = "OVER BOUND", False
            print(f"{w:12s} {m['name']:14s} n={len(xs):2d} median {med:.6g} {m['unit']:5s} "
                  f"iqr/median {spread:.4f} (bound {m['bound']}) {flag}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("out")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1000)
    n = sub.add_parser("runs")
    n.add_argument("checkout")
    n.add_argument("out")
    n.add_argument("--seeds", type=int, default=10)
    n.add_argument("--first-seed", type=int, default=1)
    n.add_argument("--workload", action="append")
    r = sub.add_parser("report")
    r.add_argument("parent")
    r.add_argument("change")
    r.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    s = sub.add_parser("spread")
    s.add_argument("results")
    s.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    {"pairs": cmd_pairs, "runs": cmd_runs, "report": cmd_report, "spread": cmd_spread}[a.cmd](a)


if __name__ == "__main__":
    main()
