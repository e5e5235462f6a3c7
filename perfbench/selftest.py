"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. The generators are deterministic: the same seed writes byte-identical
   inputs, another seed writes different ones.
2. A tiny-scale run of every workload, untraced and traced, prints every
   metric BENCHMARK.json names, with its unit, and no operation fails.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    files = sorted(os.listdir(a))
    if files != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
               for f in files)


def check_generators(tmp):
    for name, make in (("star_etl", lambda d, s: gen.himalayan(d, s, 2000)),
                       ("tables", lambda d, s: gen.tables(d, s, 0.002))):
        make(f"{tmp}/{name}_a", 7)
        make(f"{tmp}/{name}_b", 7)
        make(f"{tmp}/{name}_c", 8)
        assert same_tree(f"{tmp}/{name}_a", f"{tmp}/{name}_b"), f"{name}: same seed differs"
        assert not same_tree(f"{tmp}/{name}_a", f"{tmp}/{name}_c"), f"{name}: seed ignored"
        print(f"ok  {name} inputs are byte-identical for one seed")


def check_run(bench, workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "0", "--trace", str(trace), "--scale", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}:\n" + \
        out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    listed = bench["per_layer" if trace else "end_to_end"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    for m in listed:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{workload}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{workload}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{workload}: {m['name']} not a number"
    print(f"ok  {workload} trace={trace}: {len(listed)} metrics, "
          f"{res['attempted']} attempted, 0 failed")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(run.build.OUT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest_", dir=run.build.OUT)
    try:
        check_generators(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for w in sorted(run.WORKLOADS):
        for trace in (0, 1):
            check_run(bench, w, trace)


if __name__ == "__main__":
    main()
