#!/usr/bin/env python3
"""Crawl-frontier benchmark: build, run one workload, check it, report.

Usage (from the repository root):

    python3 crawlbench/run.py --workload deep_crawl --seed 1 --seconds 40 --trace 0

Builds the program and the benchmark from source (see build.py), runs one
workload in one JVM, checks its outputs, and prints one JSON line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones declared in
BENCHMARK.json, with --trace 1 the per-layer ones. Every run also appends a
stamped record (host cpus, master, heap, seed, commit, state-dir file system)
to .bench_build/records.jsonl; a traced run writes its spans and self times
to .bench_build/trace/. Exits non-zero when a correctness gate fails.
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
import oracle  # noqa: E402
import sample  # noqa: E402

WORKLOADS = ("deep_crawl", "ops_queries")
JVM_TIMEOUT_S = 170
# the sf0.1 tables the ops pack samples (TESTDATA.md); GRAFT_BENCH_TESTDATA overrides
DEFAULT_TESTDATA = os.path.join("~", "testdata", "sf0.1")


def nproc():
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    try:
        return int(subprocess.run(["nproc"], capture_output=True, text=True, env=env,
                                  check=True).stdout.strip())
    except (OSError, ValueError, subprocess.CalledProcessError):
        return os.cpu_count() or 1


def fs_type(path):
    """File-system type of the mount holding `path` (from /proc/self/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/self/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) >= 3 and (path == parts[1] or path.startswith(parts[1].rstrip("/") + "/")):
                    if len(parts[1]) >= len(best):
                        best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except (OSError, ValueError):
        return 0, 0


def commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-" + build.source_hash(root)[:16]


def sample_input(work, seed, toy):
    """Writes the ops pack's table sample three times; returns the median
    seconds one sampling pass took."""
    src = os.path.expanduser(os.environ.get("GRAFT_BENCH_TESTDATA", DEFAULT_TESTDATA))
    times = []
    for _ in range(3):
        t0 = time.time()
        sample.write_sample(src, os.path.join(work, "sample"), seed, scale=0.2 if toy else 1.0)
        times.append(time.time() - t0)
    return statistics.median(times)


def run_jvm(root, classes, args, work, out_json, toy, input_s):
    cmd = build.java_cmd(root, classes) + [
        "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out_json, "--input-s", str(input_s),
        "--size", "toy" if toy else "full"]
    env = dict(os.environ)
    env["GRAFT_BENCH_CPUS"] = str(args.cpus)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0 or not os.path.exists(out_json):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        sys.stderr.write(f"benchmark JVM failed (exit {rc}); log tail:\n{tail}\n")
        return None
    with open(out_json) as f:
        return json.load(f)


def check_digests(root, rec, pinned):
    """Digest gates: equal to the value pinned for this seed (if any), and
    equal to every earlier run of the same seed in this checkout."""
    gates = []
    store_path = os.path.join(root, build.BUILD_DIR, "digests.json")
    try:
        with open(store_path) as f:
            store = json.load(f)
    except (OSError, ValueError):
        store = {}
    for name, digest in sorted(rec.get("digests", {}).items()):
        key = f"{name}@{rec['seed']}"
        want = pinned.get(key)
        if want is not None:
            gates.append({"name": f"digest_pinned:{name}", "ok": digest == want,
                          "detail": "" if digest == want else f"{digest} != pinned {want}"})
        prev = store.get(key)
        if prev is not None:
            gates.append({"name": f"digest_repeat:{name}", "ok": digest == prev,
                          "detail": "" if digest == prev else f"{digest} != earlier run {prev}"})
        else:
            store[key] = digest
    os.makedirs(os.path.dirname(store_path), exist_ok=True)
    with open(store_path, "w") as f:
        json.dump(store, f, indent=1, sort_keys=True)
    return gates


def vs_untraced(root, workload, rec):
    """The traced unit's wall against the median `work_s` of the untraced
    runs of this workload recorded in this checkout so far."""
    walls = []
    try:
        with open(os.path.join(root, build.BUILD_DIR, "records.jsonl")) as f:
            for line in f:
                r = json.loads(line)
                if r["workload"] == workload and not r["trace"] and r["correct"] and "work_s" in r["metrics"]:
                    walls.append(r["metrics"]["work_s"]["value"])
    except (OSError, ValueError, KeyError):
        pass
    traced = rec.get("extra", {}).get("wall_traced_s")
    if not walls or traced is None:
        return None
    base = statistics.median(walls)
    return {"traced_s": traced, "untraced_median_s": base, "untraced_runs": len(walls),
            "overhead_pct": 100.0 * (traced - base) / base}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: the smoke test's small inputs")
    ap.add_argument("--keep", action="store_true", help="keep the run's work dir")
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload}; one of {WORKLOADS}\n")
        return 2

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        classes = build.ensure(root)
    except (OSError, ValueError, build.BuildError) as e:
        sys.stderr.write(f"cannot build the benchmark here: {e}\n")
        return 2
    args.cpus = nproc()
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    work = os.path.join(root, build.BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    started = time.time()
    steal0 = cpu_ticks()
    toy = args.size == "toy"
    try:
        input_s = sample_input(work, args.seed, toy) if args.workload == "ops_queries" else 0.0
    except OSError as e:
        sys.stderr.write(f"cannot sample the ops tables: {e}\n")
        shutil.rmtree(work, ignore_errors=True)
        return 2
    rec = run_jvm(root, classes, args, work, os.path.join(work, "result.json"), toy, input_s)
    if rec is None:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
        return 1

    gates = list(rec["gates"])
    with open(os.path.join(HERE, "pinned_digests.json")) as f:
        pinned = json.load(f)
    if args.size == "full":
        gates += check_digests(root, rec, pinned)
    if args.workload == "ops_queries":
        gates += oracle.check(os.path.join(work, "ops-out"), os.path.join(work, "sample"))
    extra_gates = len(gates) - len(rec["gates"])
    attempted = rec["attempted"] + extra_gates
    failed = rec["failed"] + sum(1 for g in gates[len(rec["gates"]):] if not g["ok"])

    metrics = {}
    missing = []
    for n in names:
        m = rec["metrics"].get(n)
        if m is None or m["value"] is None:
            missing.append(n)
        else:
            metrics[n] = {"value": m["value"], "unit": m["unit"]}
    correct = failed == 0 and not missing

    steal1 = cpu_ticks()
    # share of the machine's CPU time the hypervisor gave to other guests
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "host_cpus": args.cpus, "master": rec["master"], "xmx": build.HEAP,
             "xmx_mb": rec["xmx_mb"], "commit": commit(root),
             "state_fs": fs_type(work), "wall_s": round(time.time() - started, 3),
             "host_steal_pct": round(steal_pct, 2)}
    record = dict(stamp, correct=correct, attempted=attempted, failed=failed,
                  gates=gates, missing=missing, metrics=rec["metrics"], extra=rec.get("extra", {}))
    os.makedirs(os.path.join(root, build.BUILD_DIR), exist_ok=True)
    with open(os.path.join(root, build.BUILD_DIR, "records.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    if args.trace and rec.get("tracing"):
        tdir = os.path.join(root, build.BUILD_DIR, "trace")
        os.makedirs(tdir, exist_ok=True)
        tracing = dict(rec["tracing"], vs_untraced=vs_untraced(root, args.workload, rec))
        with open(os.path.join(tdir, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(dict(stamp, tracing=tracing, extra=rec.get("extra", {})), f)
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)

    for g in gates:
        if not g["ok"]:
            sys.stderr.write(f"GATE FAILED {g['name']}: {g['detail']}\n")
    if missing:
        sys.stderr.write(f"metrics not produced: {missing}\n")
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
