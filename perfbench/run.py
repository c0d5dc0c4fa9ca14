#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop, one client issuing one operation at a time):
  short-queries   sub-second read-only SparkEntry queries dominated by
                  per-query fixed cost (schema reads, planning, AQE
                  stage jobs)
  heavy-queries   a query that checkpoints its iteration rounds while it
                  is built, and shuffle/sort-bound queries
  table-commits   a seeded chain of CowTable commits, alternating
                  copy-on-write merge and merge-on-read upsert, each
                  followed by a snapshot read

Each run builds the program from source if needed (perfbench/build.py),
reads the repository's TPC-H-like test tables (perfbench/data/sf<scale>),
starts one JVM on local[nproc] (perfbench/src/perfbench/Harness.scala)
and checks every output: query results with scripts/check_oracle.py
(DuckDB running the query's oracle SQL), commit results against an
independent replay. The seed sets the order of the queries in each pass
and the keys of every commit. The last line of stdout is the result
object; the line before it carries every metric by name with its unit,
provenance and exclusions.

--trace 0 prints the end-to-end metrics, from untraced passes only.
--trace 1 alternates untraced and traced passes and prints the per-layer
metrics and the tracing overhead; spans go to the run's trace file.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# The 56 sub-second read-only queries, minus six that write files, take
# ~24 s per warm pass at sf0.01 on 4 cores, and every run also pays a cold
# check pass over its queries. Three workloads must each run in well under
# a minute, so this one keeps nine queries: a filter and projection, an
# aggregate, a broadcast join over three tables, an outer join, a window,
# set operations, two SQL subqueries and an as-of join. With an odd count
# of queries timed over two passes, the median operation falls on the
# middle query's times rather than halfway between two queries.
SHORT = """q01_pricing_summary q02_filter_project q03_join_broadcast q07_join_outer_hist q08_window_rank
q11_set_ops q22_sql_exists q24_sql_scalar_subquery q29_asof_join""".split()

# One query that checkpoints its iteration rounds while it is built, and
# two bound by shuffles and sorts. An odd count of queries, timed over
# three passes, keeps the median operation on one query's times rather
# than halfway between two.
HEAVY = "x109_label_propagation x133_weighted_percentile x207_prefix_join".split()

_BUDGET = "left out to fit the run budget"
# Queries left out of a workload on purpose, by name, with the reason.
# Every run prints them, so a workload that shrank is visible.
DROPPED = {
    "short-queries": dict(
        {q: "writes files" for q in """q37_catalog_roundtrip q39_csv_roundtrip q40_jsonl_roundtrip
        q43_merge_upsert q44_orc_roundtrip q73_binary_source""".split()},
        **{q: _BUDGET for q in """q05_join_semi q06_join_anti q09_window_running
        q10_topk q13_string_funcs q14_date_funcs q15_conditional q17_rollup q18_having q19_join_derived
        q21_cube q23_sql_in q25_union_by_name q26_string_agg q28_regex q30_hash_sample q31_null_ops
        q32_pivot q33_explode q41_lateral_topk q42_gap_fill q45_window_stats q46_stats_regression
        q47_higher_order q49_incremental_agg q50_range_frame q51_topk_per_key q52_unpivot
        q53_grouping_sets q54_map_funcs q57_argmax q58_variant q59_funnel q60_set_ops_all
        q61_fuzzy_match q63_ntile_distribution q65_bitwise_agg q70_bool_aggs q76_small_quantity_revenue
        q78_global_sales_opportunity q81_top_supplier q84_forecast_revenue q87_returned_items
        q89_shipmode_priority q90_customer_distribution q91_promo_share q93_disjunctive_revenue""".split()}),
    "heavy-queries": {
        "x180_logstar_cc": f"{_BUDGET} (179 jobs, ~8 s per call at sf0.01)",
        "q62_pagerank": f"{_BUDGET} (~2.2 s per call at sf0.01; x109 keeps the checkpointed rounds)",
        "q34_approx_sketches": f"{_BUDGET} (~2.6 s per call at sf0.01)",
    },
    "table-commits": {},
}

# Input scale (a directory of perfbench/data; lineitem = 6,000,000 x sf
# rows), warm passes, the least number of timed passes and run shape per
# workload. table-commits draws 300 upsert and 60 delete keys per commit
# against the 150,000 orders of sf0.1; at sf0.01 the counts shrink with
# the table, so a commit touches the same share of its 15 buckets. Its
# chain is merge, morUpsert, merge, and morUpsert is the slower kind, so
# the median commit is a merge. Its check chain, which runs the same
# commits, is its warm-up; one pass takes about the whole time budget, so
# it always times two. A pass of heavy-queries takes about half the
# budget, so it always times three.
WORKLOADS = {
    "short-queries": {"sf": "0.01", "warm": 1, "min_passes": 1, "ops": SHORT},
    "heavy-queries": {"sf": "0.01", "warm": 1, "min_passes": 3, "ops": HEAVY},
    "table-commits": {"sf": "0.01", "warm": 0, "min_passes": 2, "commits": 3, "upserts": 30, "deletes": 6},
}
SMALL = {  # --small: the self-test's reduced size
    "short-queries": {"sf": "0.001"},
    "heavy-queries": {"sf": "0.001"},
    "table-commits": {"sf": "0.001", "upserts": 3, "deletes": 1},
}

END_TO_END = [  # (name, unit): the result line's metrics with --trace 0
    ("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MB"),
]
PER_LAYER = [  # (name, unit): the result line's metrics with --trace 1
    ("session.start_s", "s"), ("catalog.schema_jobs", "count"), ("catalog.schema_s", "s"),
    ("operators.build_s", "s"), ("operators.build_self_s", "s"), ("operators.build_jobs", "count"),
    ("operators.checkpoint_jobs", "count"), ("operators.checkpoint_s", "s"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.aqe_stage_jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.task_gc_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.input_mb", "MB"), ("exec.core_util", "ratio"), ("exec.task_retries", "count"),
    ("sched.jobs_per_op", "count"), ("sched.jobs_per_pass", "count"), ("sched.ms_per_job", "ms"),
    ("sources.commit_jobs", "count"), ("sources.commit_bytes_written", "bytes"),
    ("sources.write_amp", "ratio"), ("sources.rewrite_useful_ratio", "ratio"),
    ("sources.manifest_entries", "count"), ("sources.read_jobs", "count"),
    ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("trace.overhead_s", "s"),
]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """(percentile, value): the highest of p50..p99.9 with at least ten
    samples beyond it, or None when the sample count cannot support one."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return p, xs[min(n - 1, int(p / 100.0 * n))]
    return None


def oracle_check(data_dir, results_dir):
    """Runs the repository's DuckDB oracle gate (scripts/check_oracle.py)
    over the check pass's results. Returns its failure lines; a result
    without oracle SQL is unchecked and counts as a failure too."""
    script = os.path.join(ROOT, "scripts", "check_oracle.py")
    r = subprocess.run([sys.executable, script, data_dir, results_dir], capture_output=True, text=True,
                       timeout=600)
    lines = r.stdout.splitlines()
    bad = [x for x in lines if x.startswith(("[FAIL]", "[rows-only]"))]
    if r.returncode not in (0, 1) or not any(re.fullmatch(r"\d+ queries, \d+ failures", x) for x in lines):
        bad.append(f"oracle check exited with {r.returncode}: {r.stderr[-500:]}")
    return bad


def fixture_roots(data, work):
    """Directories no timed pass may change: the input tables, the run's
    Spark warehouse, and every spark-warehouse directory the program's
    sources name (queries keep the fixtures they build there)."""
    import build
    roots = {data, os.path.join(work, "warehouse"), os.path.join(ROOT, "spark-warehouse")}
    for src in build.sources():
        if src.startswith(os.path.join(ROOT, "src")):
            with open(src, encoding="utf-8") as f:
                roots.update(re.findall(r'"(/[^"$]*/spark-warehouse)[/"]', f.read()))
    return sorted(roots)


def metric(v, unit):
    return {"value": float(v), "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="reduced input size (self-test)")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()

    load_start = loadavg()
    cfg = dict(WORKLOADS[a.workload], **(SMALL[a.workload] if a.small else {}))
    import build
    try:
        classes = build.build()
    except Exception as e:  # noqa: BLE001 - a missing or broken program is a failed run
        log(f"cannot build the program: {e}")
        return 2
    data = os.path.join(HERE, "data", f"sf{cfg['sf']}")
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    # a fixed heap keeps heap resizing out of the timed passes
    jvm = ["java", "-Xms2g", "-Xmx2g", "-Xss4m"]
    jvm += [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jvm += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(classes), "perfbench.Harness"]
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "data": data,
            "work": work, "out": out, "cores": cores, "warm": cfg["warm"],
            "min_passes": cfg["min_passes"],
            "fixtures": ",".join(fixture_roots(data, work)), "ops": ",".join(cfg.get("ops", []))}
    for k in ("commits", "upserts", "deletes"):
        if k in cfg:
            args[k] = cfg[k]
    cmd = jvm + [x for k, v in args.items() for x in (f"--{k}", str(v))]
    try:
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=max(150.0, 3 * a.seconds + 120))
            except subprocess.TimeoutExpired:
                log("the benchmark JVM ran out of time")
                return 3
            finally:  # also on SIGTERM: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if not os.path.exists(out):
            log(f"the benchmark JVM exited with {proc.returncode} and no record; see {work}/jvm.log")
            return 3
        with open(out) as f:
            rec = json.load(f)
        if a.trace:
            traces = os.path.join(HERE, ".work", "traces")
            os.makedirs(traces, exist_ok=True)
            rec["spans_file"] = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")
            os.replace(os.path.join(work, "trace", "spans.jsonl"), rec["spans_file"])
        return report(a, cfg, rec, data, cores, load_start)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


def report(a, cfg, rec, data, cores, load_start):
    if "fatal" in rec:
        log(f"run failed: {rec['fatal']}")
        return 4
    timed = [o for o in rec["ops"] if o["pass"] >= 0]
    untraced = [o for o in timed if not o["traced"]]
    failures = [f"{o['name']}: {o['error']}" for o in timed if o["error"]]
    check = rec["check"]
    n_checked = 0
    if a.workload == "table-commits":
        failures += check["mismatches"]
        n_checked = check["checked_reads"] + 1
    else:
        failures += [f"{n}: not in SparkEntry.queries" for n in check["missing"]]
        failures += [f"{n}: check pass: {e}" for n, e in check["errors"].items()]
        failures += [f"oracle: {x}" for x in oracle_check(data, check["results_dir"])]
        n_checked = len(rec["extra"]["queries"]) + len(check["missing"])
    failures += [f"fixture changed during the timed passes: {p}" for p in rec["fixture_changes"]]
    attempted = len(timed) + n_checked
    lat = [o["dur_s"] for o in untraced if o["kind"] in ("query", "commit")]
    reads = [o["dur_s"] for o in untraced if o["kind"] == "read"]
    walls = [p["wall_s"] for p in rec["passes"] if p["pass"] >= 0 and not p["traced"]]
    e2e = {
        "setup_s": metric(rec["setup"]["setup_s"], "s"),
        "pass_s": metric(median(walls), "s"),
        "op_p50_s": metric(median(lat), "s"),
        "peak_rss_mb": metric(rec["peak_rss_mb"], "MB"),
        "failed_ratio": metric(len(failures) / max(1, attempted), "ratio"),
    }
    t = tail(lat)
    if t:
        e2e["op_tail_s"] = dict(metric(t[1], "s"), percentile=t[0], n=len(lat))
    e2e["op_p50_s"]["n"] = len(lat)
    e2e["pass_s"]["n"] = len(walls)
    if reads:
        e2e["read_p50_s"] = dict(metric(median(reads), "s"), n=len(reads))
    if "stored_bytes_per_user_byte" in rec["extra"]:
        e2e["stored_bytes_per_user_byte"] = metric(rec["extra"]["stored_bytes_per_user_byte"], "ratio")
    side = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "end_to_end": e2e,
        "setup": {"setup.fixture_prime_s": metric(rec["setup"]["fixture_prime_s"], "s"),
                  "setup.check_s": metric(rec["setup"]["check_s"], "s"),
                  "setup.init_s": metric(rec["setup"]["init_s"], "s"),
                  "setup.warm_s": metric(rec["setup"]["warm_s"], "s"),
                  "session.start_s": metric(rec["setup"]["session_start_s"], "s")},
        "provenance": dict(rec["provenance"], source_sha=source_sha(), cores=cores, sf=cfg["sf"],
                           sf_dir=os.path.relpath(data, ROOT), loadavg_start=load_start, loadavg_end=loadavg()),
        "exclusions": {"etl_queries_not_run": rec["provenance"].get("etl_queries", []),
                       "dropped_from_workload": DROPPED[a.workload]},
        "failures": failures[:50],
    }
    if a.trace:
        side["per_layer"] = {k: metric(rec["layers"].get(k, 0.0), u) for k, u in PER_LAYER}
        side["trace_coverage"] = rec["uncovered"]
        side["spans_file"] = os.path.relpath(rec["spans_file"], ROOT)
        metrics = side["per_layer"]
    else:
        metrics = {k: {"value": e2e[k]["value"], "unit": u} for k, u in END_TO_END}
    if a.workload == "table-commits":
        side["commits"] = check["commits"]
    print(json.dumps(side))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": metrics}))
    return 0


def source_sha():
    """git SHA when run from a git work tree, else a hash of the sources"""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    import build
    import hashlib
    h = hashlib.sha256()
    for s in build.sources():
        with open(s, "rb") as f:
            h.update(f.read())
    return "src-" + h.hexdigest()[:16]


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main())
