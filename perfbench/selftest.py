#!/usr/bin/env python3
"""Self-test of the benchmark: runs each workload twice at reduced size
(--small) with the same seed, traced, and checks that

  1. every run is correct and prints every metric by name with its unit:
     the per-layer metrics on the result line, the end-to-end metrics on
     the line before it;
  2. counts that should repeat do repeat between the two runs: jobs per
     pass for the query workloads, and bytes written per commit and jobs
     per commit for table-commits;
  3. the build, plan and exec spans, each timed on its own, cover the wall
     time of the traced query and read ops: the uncovered remainder is
     printed and must stay under MAX_UNCOVERED of their time. A commit is
     one CowTable call; the share of it its jobs cover is printed.

Usage: python3 perfbench/selftest.py [workload ...]   (exit 0 = pass)
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

REPEATING = {
    "short-queries": ["sched.jobs_per_pass", "catalog.schema_jobs", "exec.jobs"],
    "heavy-queries": ["sched.jobs_per_pass", "operators.checkpoint_jobs"],
    "table-commits": ["sources.commit_jobs", "sources.commit_bytes_written", "sources.manifest_entries"],
}
SEED = 7
# what planning and the sink jobs leave between them (the scheduler's stage
# set-up, the noop sink's commit) is 2-9% of op time; a layer that went
# untimed would leave far more
MAX_UNCOVERED = 0.15


def bench(workload):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", "1", "--small"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload}: exit {r.returncode}\n{r.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_units(workload, side, last, problems):
    for name, unit in run.PER_LAYER:
        got = last["metrics"].get(name)
        if not got or got.get("unit") != unit or not isinstance(got.get("value"), float):
            problems.append(f"{workload}: per-layer {name} missing or without unit {unit}: {got}")
    want = dict(run.END_TO_END, failed_ratio="ratio")
    if workload == "table-commits":
        want.update(read_p50_s="s", stored_bytes_per_user_byte="ratio")
    for name, unit in want.items():
        got = side["end_to_end"].get(name)
        if not got or got.get("unit") != unit:
            problems.append(f"{workload}: end-to-end {name} missing or without unit {unit}: {got}")
    if not last["correct"] or last["failed"]:
        problems.append(f"{workload}: run not correct: {side['failures']}")


def main(workloads):
    problems = []
    for w in workloads:
        (s1, l1), (s2, l2) = bench(w), bench(w)
        for side, last in ((s1, l1), (s2, l2)):
            check_units(w, side, last, problems)
        for name in REPEATING[w]:
            a, b = l1["metrics"][name]["value"], l2["metrics"][name]["value"]
            status = "ok" if a == b else "DIFFERS"
            print(f"{w}: {name} run1={a} run2={b} {status}")
            if a != b:
                problems.append(f"{w}: {name} did not repeat: {a} vs {b}")
        if w == "table-commits":
            b1 = [c["bytes_written"] for c in s1["commits"]]
            b2 = [c["bytes_written"] for c in s2["commits"]]
            print(f"{w}: bytes written per commit run1={b1} run2={b2}")
            if b1 != b2:
                problems.append(f"{w}: bytes written per commit did not repeat: {b1} vs {b2}")
        for side in (s1, s2):
            cov = side["trace_coverage"]
            print(f"{w}: build/plan/exec spans leave {cov['uncovered_s_per_pass']:.3f} s of "
                  f"{cov['split_op_s_per_pass']:.3f} s query/read time per pass uncovered "
                  f"(share {cov['uncovered_share']:.4f}, worst op {cov['worst_op_uncovered_share']:.4f})")
            if cov["commit_s_per_pass"]:
                print(f"{w}: jobs cover {cov['commit_job_share']:.4f} of {cov['commit_s_per_pass']:.3f} s commit time "
                      "per pass")
            if cov["uncovered_share"] > MAX_UNCOVERED:
                problems.append(f"{w}: build/plan/exec spans leave {cov['uncovered_share']:.1%} of op time uncovered")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or sorted(run.WORKLOADS)))
