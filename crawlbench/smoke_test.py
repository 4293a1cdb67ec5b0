#!/usr/bin/env python3
"""Smoke test of the benchmark at toy sizes (about 8 minutes on 4 cores).

    python3 crawlbench/smoke_test.py      # from the repository root

Checks that
  * every workload, untraced and traced, prints a last line with exactly the
    keys correct/attempted/failed/metrics, passes its gates, and emits every
    metric BENCHMARK.json declares for that mode, with the declared unit;
  * every correctness gate fires on a deliberately corrupted output: the
    crawl gates on corrupted crawl rows (graftbench.GateSelfTest), the DuckDB
    oracle gate on a corrupted query output, and the digest gates on a
    digest that differs from the pinned or an earlier one.
Exits non-zero on the first failed check.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def fail(msg):
    print(f"FAIL {msg}")
    sys.exit(1)


def bench(root, spec, workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--size", "toy", "--keep"]
    res = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=400)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        fail(f"{workload} trace={trace}: exit {res.returncode}\n{res.stderr[-2000:]}")
    out = json.loads(lines[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload}: last line keys {sorted(out)}")
    if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
        fail(f"{workload}: {out['failed']} of {out['attempted']} operations failed")
    for m in spec["per_layer" if trace else "end_to_end"]:
        got = out["metrics"].get(m["name"])
        if got is None:
            fail(f"{workload} trace={trace}: metric {m['name']} missing")
        if got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            fail(f"{workload} trace={trace}: {m['name']} = {got}, declared unit {m['unit']}")
    print(f"ok   {workload} trace={trace}: {len(out['metrics'])} metrics, "
          f"{out['attempted']} operations, all gates pass")


def newest_work(root, workload):
    dirs = glob.glob(os.path.join(root, build.BUILD_DIR, "work", f"{workload}-3-*"))
    return max(dirs, key=os.path.getmtime)


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.ensure(root)
    shutil.rmtree(os.path.join(root, build.BUILD_DIR, "work"), ignore_errors=True)
    for w in run.WORKLOADS:
        for trace in (0, 1):
            bench(root, spec, w, trace)

    # crawl gates on corrupted crawl rows
    work = tempfile.mkdtemp(dir=os.path.join(root, build.BUILD_DIR))
    res = subprocess.run(build.java_cmd(root, classes) + ["graftbench.GateSelfTest", work],
                         cwd=root, capture_output=True, text=True, timeout=400)
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(l for l in res.stdout.splitlines() if l.startswith(("ok", "FAIL"))))
    if res.returncode != 0:
        fail(f"GateSelfTest exit {res.returncode}\n{res.stderr[-2000:]}")

    # the oracle gate on a corrupted query output
    import pandas as pd
    ops = newest_work(root, "ops_queries")
    out_dir, sample = os.path.join(ops, "ops-out"), os.path.join(ops, "sample")
    if not all(g["ok"] for g in oracle.check(out_dir, sample)):
        fail("oracle gates fail on the real ops output")
    target = "q_token_stats"
    part = sorted(glob.glob(os.path.join(out_dir, target, "*.parquet")))[0]
    df = pd.read_parquet(part)
    col = df.columns[-1]
    df[col] = df[col].astype(str) + "x" if df[col].dtype == object else df[col] + 1
    df.to_parquet(part)
    fired = [g["name"] for g in oracle.check(out_dir, sample) if not g["ok"]]
    if fired != [f"oracle:{target}"]:
        fail(f"corrupted {target}: gates that fired {fired}")
    print(f"ok   oracle gate fires on a corrupted {target} column ({col})")

    # digest gates: pinned mismatch, and a repeat run that differs
    tmp = tempfile.mkdtemp(dir=os.path.join(root, build.BUILD_DIR))
    rec = {"seed": 9, "digests": {"deep_crawl": "aa"}}
    g1 = run.check_digests(tmp, rec, {"deep_crawl@9": "bb"})
    g2 = run.check_digests(tmp, {"seed": 9, "digests": {"deep_crawl": "cc"}}, {})
    shutil.rmtree(tmp, ignore_errors=True)
    if [g["ok"] for g in g1] != [False] or [g["ok"] for g in g2] != [False]:
        fail(f"digest gates: {g1} {g2}")
    print("ok   digest gates fire on a pinned mismatch and on a differing repeat run")

    for w in run.WORKLOADS:
        for d in glob.glob(os.path.join(root, build.BUILD_DIR, "work", f"{w}-3-*")):
            shutil.rmtree(d, ignore_errors=True)
    print("smoke test passed")


if __name__ == "__main__":
    main()
