"""Benchmark entry point: one workload, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the
program (build.py); later runs reuse the classes. A run starts one runner
JVM, or two for `queries` (COLD_JVMS). The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under --trace 0 and the per-layer metrics
under --trace 1. The line before it is the run record (host, config,
steal and load, every pass time), also kept in .bench_build/records/.
See README.md.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402
import check_catalog  # noqa: E402
import check_queries  # noqa: E402
import gen  # noqa: E402

HEAP = "2g"
# all the JVMs of one run together
JVM_TIMEOUT_S = 165
# the catalog_small roster: occupations (the "#T" total comes on top) x industries
N_NOC, N_IND = 20, 5
# a run whose CPU steal is above this share is marked in its record: the
# reference runs had under 1%, and a set of runs at 9-31% read up to three
# times slower
NOISY_STEAL = 0.05
WORKLOADS = ("catalog_small", "queries")
# fresh JVMs per untraced run. Each gives one cold pass and cold_pass_s is
# their median; the first also runs the warm-up and timed passes, the
# others only their cold pass. The host runs faster or slower for minutes
# at a time, and a second JVM's cold pass, ~40 s after the first's, still
# shares part of that: averaging the two narrows the spread over ten runs
# where the faster of them does not. A query cold pass is short (~17 s)
# and spread past its bound in single samples; a catalog cold pass is
# longer and steadier, and a second catalog JVM (~30 s) does not fit the
# run budget.
COLD_JVMS = {"catalog_small": 1, "queries": 2}

QUERIES_FILE = os.path.join(HERE, "queries.json")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def host_sample():
    """CPU steal and idle jiffies from /proc/stat, plus the load average."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"jiffies": cpu, "loadavg": load}


def steal_share(a, b):
    d = [y - x for x, y in zip(a["jiffies"], b["jiffies"])]
    total = sum(d)
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def tables_dir(scale):
    """The generated parquet tables of one scale, where TESTDATA.md lists them."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"`([^`]*/%s)/?`" % re.escape(scale), f.read())
    if not m:
        raise SystemExit(f"TESTDATA.md lists no {scale} tables")
    return m.group(1)


def jvm_command(classes, args):
    jars = os.path.join(build.jar_dir(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ParallelGCThreads=2",
             "-XX:ConcGCThreads=1", "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
             "-Dgraft.verify.artifactsDir=" + os.path.join(WORK, "verify_artifacts")]
            + opens + ["-cp", classes + ":" + jars, "perfbench.Runner"] + args)


def launch(classes, args, jvm_dir, deadline):
    """Run one runner JVM in `jvm_dir`, its outputs under `jvm_dir`/out;
    return (launch epoch seconds, its result)."""
    out = os.path.join(jvm_dir, "out")
    os.makedirs(out)
    result_file = os.path.join(jvm_dir, "result.json")
    log_path = os.path.join(jvm_dir, "jvm.log")
    launched = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_command(classes, args + ["--out", out, "--result", result_file]),
                                stdout=log, stderr=subprocess.STDOUT, cwd=jvm_dir)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - launched))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"runner exceeded {JVM_TIMEOUT_S}s; see {log_path}")
    if rc != 0 or not os.path.exists(result_file):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"runner failed (exit {rc})")
    with open(result_file) as f:
        return launched, json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(QUERIES_FILE) as f:
        query_list = json.load(f)

    classes, src_hash = build.build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    args = ["--seconds", str(a.seconds), "--trace", str(a.trace)]
    catalog = a.workload == "catalog_small"
    if catalog:
        raw = os.path.join(run_dir, "raw")
        gen.generate(raw, N_NOC, N_IND, a.seed)
        args += ["--mode", "catalog", "--raw", raw]
    else:
        sf_dir = tables_dir(query_list["tables"])
        if not os.path.isdir(sf_dir):
            raise SystemExit(f"missing query tables {sf_dir}")
        queries = [f"{q}:{c}" for c, qs in query_list["classes"].items() for q in qs]
        args += ["--mode", "queries", "--sf", sf_dir, "--queries", ",".join(queries)]

    # a traced run reports per-layer metrics only, so one JVM does
    n_jvms = 1 if a.trace else COLD_JVMS[a.workload]
    deadline = time.time() + JVM_TIMEOUT_S
    before = host_sample()
    jvms = [launch(classes, args + ([] if i == 0 else ["--cold-only", "1"]),
                   os.path.join(run_dir, f"jvm{i + 1}"), deadline) for i in range(n_jvms)]
    after = host_sample()
    launched, r = jvms[0]

    problems = []
    for i in range(n_jvms):
        out = os.path.join(run_dir, f"jvm{i + 1}", "out")
        cold = os.path.join(out, "cold")
        if catalog:
            found = check_catalog.check(cold, raw, N_NOC, N_IND)
        else:
            found = check_queries.check(sf_dir, cold, os.path.join(out, "oracle_sql.json"))
        problems += [f"jvm{i + 1}: {p}" for p in found]
    errors = [e for _, ri in jvms for e in ri["errors"]]
    for p in problems:
        print("CHECK FAILED:", p, file=sys.stderr)
    for e in errors:
        print("OPERATION FAILED:", e, file=sys.stderr)

    # a failed operation has no time (null); it is counted in "failed", and
    # a time with no successful operation behind it reads null
    timed = r["timed_pass_s"]
    best = lambda xs: min((x for x in xs if x is not None), default=None)  # noqa: E731
    colds = [ri["cold_pass_s"] for _, ri in jvms]
    cold_ok = [c for c in colds if c is not None]
    if r["query_s"]:
        per_query = [best(v) for v in r["query_s"].values()]
        warm = None if None in per_query else sum(per_query)
    else:
        warm = best(timed)
    e2e = {
        "setup_s": (r["first_pass_epoch_ms"] / 1000.0 - launched, "s"),
        "cold_pass_s": (statistics.median(cold_ok) if cold_ok else None, "s"),
        "warm_pass_s": (warm, "s"),
        "peak_live_heap_mb": (r["peak_live_heap_mb"], "MB"),
        "artifact_bytes": (r["artifact_bytes"], "bytes"),
    }
    layers = dict(r["layers"] or {})
    if a.trace:
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            names = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in names}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}

    steal = steal_share(before, after)
    attempted = sum(ri["attempted"] for _, ri in jvms)
    failed = sum(ri["failed"] for _, ri in jvms)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(), "source_sha256": src_hash, "nproc": os.cpu_count(),
        "task_slots": r["task_slots"], "heap_max_mb": r["heap_max_mb"],
        "spark_version": r["spark_version"], "session_conf": r["session_conf"],
        "steal_share": steal, "noisy_host": steal > NOISY_STEAL,
        "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
        "attempted": attempted, "failed": failed, "errors": errors,
        "check_problems": problems, "jvm_setup_s": [ri["first_pass_epoch_ms"] / 1000.0 - t
                                                    for t, ri in jvms],
        "cold_pass_s": colds, "warmup_pass_s": r["warmup_pass_s"],
        "timed_pass_s": timed, "cold_pass_cpu_s": [ri["cold_pass_cpu_s"] for _, ri in jvms],
        "timed_pass_cpu_s": r["timed_pass_cpu_s"],
        "query_cold_s": [ri["query_cold_s"] or {} for _, ri in jvms],
        "query_s": r["query_s"] or {}, "class_s": r["class_s"] or {},
        "layers": layers, "metrics": {k: v["value"] for k, v in metrics.items()},
    }
    if steal > NOISY_STEAL:
        print(f"NOISY HOST: CPU steal {steal:.1%} over the run; its times are not comparable",
              file=sys.stderr)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(launched)}.json"
    with open(os.path.join(WORK, "records", rec_name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"run_record": record}))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
