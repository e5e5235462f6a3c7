"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Builds the program once (`build.py`), generates the workload's inputs from
the seed, runs the harness in a fresh JVM at a fixed `local[4]`, checks the
outputs and prints one JSON line: `correct`, `attempted`, `failed` and the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
Workloads, metrics and the layer each metric belongs to: README.md here.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

CPUS = 4
DATA_SEED = 42  # relational/corpus inputs are fixed; their seed orders the passes
SETUP_REPS = 3
HEAP = "3g"

CORE = [  # core q* queries; graph q59/q61 and web/WARC q71-q77 are left out
    "q01_pricing_summary", "q02_filter_project", "q03_left_join_2key",
    "q04_join_chain_agg", "q05_anti_join", "q06_semi_join", "q07_fuzzy_top1",
    "q08_pivot_mean", "q09_dedup_keep_first", "q10_surrogate_key", "q11_interpolate",
    "q12_qcut_buckets", "q13_topk_freq", "q14_rollup", "q15_set_ops", "q16_dim_date",
    "q17_static_bins", "q18_conditional_rewrite", "q19_profile", "q20_iqr_outliers",
    "q21_window_rank", "q22_json_extract", "q23_range_join", "q24_asof_prev_purchase",
    "q25_cube", "q26_distinct_agg", "q27_window_extras", "q28_scalar_funcs",
    "q29_date_funcs", "q30_numeric_describe", "q31_ship_priority", "q32_regional_volume",
    "q33_small_quantity", "q34_approx_stats", "q35_from_json", "q36_array_agg",
    "q37_order_distribution", "q38_min_per_group_filter", "q39_profile_verdicts",
    "q40_kmv_distinct", "q41_kmv_setops", "q42_hash_split", "q43_quality_checks",
    "q44_salted_join", "q45_fuzz_ratio_top1", "q46_stratified_sample", "q47_jaro_top1",
    "q48_drift_psi", "q49_wratio_top1", "q50_grouping_sets", "q51_unpivot",
    "q52_time_range_window", "q53_full_outer_join", "q54_nullsafe_join",
    "q55_cohort_retention", "q56_asof_next_purchase", "q57_asof_nearest_purchase",
    "q58_gap_fill_daily", "q60_rolling_distinct_users", "q62_weighted_sample",
    "q63_rolling_anomaly", "q64_cms_frequency", "q65_bucketed_interval_join",
    "q66_revenue_share", "q67_interval_overlap", "q68_quantile_sketch",
    "q69_weekly_percentile_rollup", "q70_domain_quota"]
RELATIONAL = CORE[::7]  # every 7th, so a run fits the time budget
CORPUS = ["d02_ngram_jaccard", "d10_incremental_neardup", "d18_max_dup_run"]
WORKLOADS = {
    "relational": {"queries": RELATIONAL, "sf": 0.01, "min_warm": 3},
    "corpus": {"queries": CORPUS, "sf": 0.006, "min_warm": 2},
    "star_etl": {"members": 15_000, "min_warm": 2},
}
TINY = {"relational": {"sf": 0.001, "min_warm": 2}, "corpus": {"sf": 0.001},
        "star_etl": {"members": 500}}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
    f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
    "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout


def generate(workload, seed, cfg, data):
    if workload == "star_etl":
        gen.himalayan(data, seed, cfg["members"])
    else:
        gen.tables(data, DATA_SEED, cfg["sf"])


def run_harness(cp_file, workload, seed, seconds, trace, work, cfg):
    with open(cp_file) as f:
        cp = f.read()
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--data", f"{work}/data", "--work", work,
           "--out", f"{work}/result.json", "--cpus", str(CPUS),
           "--setup-reps", str(SETUP_REPS), "--min-warm", str(cfg["min_warm"])]
    if cfg.get("queries"):
        cmd += ["--queries", ",".join(cfg["queries"])]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/local")
    env.pop("SPARK_GRAFT_EVENTLOG", None)  # the program's event logs would land elsewhere
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    deadline = time.monotonic() + 165
    while True:
        pid, status, usage = os.wait4(p.pid, os.WNOHANG)
        if pid:
            break
        if time.monotonic() > deadline:
            p.kill()
            os.wait4(p.pid, 0)
            sys.exit("harness timed out")
        time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        sys.exit(f"harness exited with {code}")
    with open(f"{work}/result.json") as f:
        result = json.load(f)
    result["peak_rss_mb"] = usage.ru_maxrss / 1024.0
    return result


def check_outputs(workload, work, queries):
    """Returns (outputs checked, outputs wrong, result rows of one pass)."""
    if workload == "star_etl":
        with open(f"{work}/data/expect.json") as f:
            expect = json.load(f)
        with open(f"{work}/star_out.txt") as f:
            out = f.read().strip()
        why = check.star_mismatch(out, expect)
        if why:
            print(f"check star_etl: {why}", file=sys.stderr)
        return 1, int(why is not None), expect["members"]
    with open(f"{work}/oracle_sql.json") as f:
        oracles = json.load(f)
    con = check.connect(f"{work}/data")
    wrong, rows = 0, 0
    for q in queries:
        d = f"{work}/results/{q}"
        if not os.path.isdir(d):
            why = "no output"
        else:
            got = check.read_result(con, d)
            rows += len(got)
            sql = oracles.get(q)
            # an oracle reading a committed golden file holds rows of the
            # repository's own test data, not of these inputs
            if sql and "FROM '" not in sql:
                why = check.oracle_mismatch(con, sql, got)
            else:
                why = "no DuckDB oracle for these inputs"
        if why:
            wrong += 1
            print(f"check {workload} {q}: {why}", file=sys.stderr)
    return len(queries), wrong, rows


def end_to_end(result, rows):
    passes = result["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    warm_s = statistics.median(p["seconds"] for p in warm)
    # per query (star_etl: per step), the median of its warm samples; the
    # percentiles are taken over those, so one slow pass moves them little
    by_unit = {}
    for p in warm:
        for name, b, e in p["units"]:
            by_unit.setdefault(name, []).append(b + e)
    samples = [statistics.median(v) for v in by_unit.values()]
    return {
        "setup_s": result["gen_s"] + statistics.median(result["setup_s"]),
        "cold_pass_s": passes[0]["seconds"],
        "warm_pass_s": warm_s,
        "query_p50_s": statistics.median(samples),
        "query_p90_s": statistics.quantiles(samples, n=10, method="inclusive")[8],
        "rows_per_s": rows / warm_s,
    }


def per_layer(result, work):
    with open(f"{work}/layers.json") as f:
        layers = json.load(f)
    traced = [p for p in layers["passes"] if p["index"] > 0]
    names = traced[0]["metrics"].keys()
    out = {k: statistics.median(p["metrics"][k] for p in traced) for k in names}
    cold = layers["passes"][0]["metrics"]
    for k in ("jvm.jit_s", "jvm.classes_loaded"):
        out[k] = cold[k]  # one-time costs: they move the cold pass
    out["sessions.start_s"] = statistics.median(layers["session_start_s"])
    out["queries.staging_s"] = statistics.median(layers["staging_s"])
    passes = result["passes"]
    untraced = [p["seconds"] for p in passes[1:] if not p["traced"]]
    traced_s = [p["seconds"] for p in passes[1:] if p["traced"]]
    out["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(untraced)
    out["peak_rss_mb"] = result["peak_rss_mb"]
    return out


def emit(values, listed, attempted, failed):
    """The result line: every metric BENCHMARK.json lists for this mode, by name."""
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        sys.exit(f"metrics not produced: {missing}")
    return json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's inputs")
    a = ap.parse_args()
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp_file = build.build()
    cfg = dict(WORKLOADS[a.workload], **(TINY[a.workload] if a.scale == "tiny" else {}))
    queries = cfg.get("queries", [])
    work = os.path.join(build.OUT, "runs", f"{a.workload}_{a.seed}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        generate(a.workload, a.seed, cfg, f"{work}/data")
        gen_s = time.perf_counter() - t0
        result = run_harness(cp_file, a.workload, a.seed, a.seconds, a.trace, work, cfg)
        result["gen_s"] = gen_s
        checked, wrong, rows = check_outputs(a.workload, work, queries)
        ran = sum(len(p["units"]) + p["failed"] for p in result["passes"])
        failed = wrong + sum(p["failed"] for p in result["passes"])
        if a.trace:
            trace_dir = os.path.join(build.OUT, "traces", f"{a.workload}_seed{a.seed}")
            shutil.rmtree(trace_dir, ignore_errors=True)
            os.makedirs(trace_dir)
            for f in ("spans.jsonl", "layers.json"):
                shutil.copy(os.path.join(work, f), trace_dir)
            print(f"trace written to {trace_dir}", file=sys.stderr)
            line = emit(per_layer(result, work), bench["per_layer"], ran + checked, failed)
        else:
            line = emit(end_to_end(result, rows), bench["end_to_end"], ran + checked, failed)
        print(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
