#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft Spark engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness (perfbench/build.py), runs the workload
against the fixed tables in perfbench/data, checks every result against the
golden digests in perfbench/golden.json, prints each metric as
`name value unit`, and prints one JSON result as the last line. The seed
only permutes the order of the queries within each pass.

A run is one JVM: one untimed warm pass, then timed passes until
`seconds` have passed since the first (at least one). With
--trace 0 no listener is attached and the result holds the end-to-end
metrics. With --trace 1 passes alternate traced and untraced, traced first
(so at least two run), and the result holds the per-layer metrics,
including the tracing overhead: traced minus untraced pass wall time.

Each run gets fresh artifact, Spark-local, temp and ETL work directories
under .bench_run/ and deletes them at the end.
"""
import argparse
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = os.path.join(HERE, "data", "sf0.1")
JVM_TIMEOUT_S = 170
MAX_PASSES = 100
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
MB = 1048576.0


def java_cmd(classes, tmp):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
               f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath([classes]), "perfbench.Harness"])


def host_sample():
    """(jiffies per field of /proc/stat's cpu line, 1-minute load)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return ticks, load


def children_cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def host_noise(before, after, cpu_before, cpu_after, seconds):
    """Cores stolen by the hypervisor and cores used by other processes."""
    hz = os.sysconf("SC_CLK_TCK")
    d = [b - a for a, b in zip(before[0], after[0])]
    steal = d[7] if len(d) > 7 else 0
    busy = sum(d) - d[3] - d[4] - steal
    return {"host_steal_cores": steal / hz / seconds,
            "host_other_cores": max(0.0, busy / hz - (cpu_after - cpu_before)) / seconds,
            "host_load_1m": after[1]}


def dir_usage(path):
    files, size = 0, 0
    for base, _, names in os.walk(path):
        for n in names:
            p = os.path.join(base, n)
            if os.path.isfile(p) and not os.path.islink(p):
                files += 1
                size += os.path.getsize(p)
    return files, size


def run_jvm(run_dir, spec, seed, seconds, trace, classes):
    """Write the plan, run the harness JVM, return its records and set-up time."""
    rng = random.Random(seed)
    fresh = spec.get("fresh_sessions", False)
    plan = [f"tables\t{TABLES}", f"cores\t{len(os.sched_getaffinity(0))}",
            f"warehouse\t{run_dir}/warehouse", f"deadline_ms\t{int(seconds * 1000)}",
            f"min_passes\t{2 if trace else 1}",
            f"fresh_sessions\t{int(fresh)}", f"index_root\t{run_dir}/index"]
    passes = [(False, False)] + [(True, bool(trace) and k % 2 == 0) for k in range(MAX_PASSES)]
    for p, (timed, traced) in enumerate(passes):
        # The warm pass runs each operation once, or the whole list with
        # warm_whole_list. The pipeline opens every pass; the seed orders
        # the queries after it.
        ops = list(spec["ops"] if timed or spec.get("warm_whole_list") else dict.fromkeys(spec["ops"]))
        queries = [op for op in ops if op != "etl"]
        rng.shuffle(queries)
        ops = [op for op in ops if op == "etl"] + queries
        for op in ops:
            kind, arg = ("etl", f"{run_dir}/work/etl{p}") if op == "etl" else ("query", op)
            plan.append(f"op\t{p}\t{int(timed)}\t{int(traced)}\t{kind}\t{arg}")
    for sub in ("index", "local", "tmp", "warehouse", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    with open(f"{run_dir}/plan.tsv", "w") as f:
        f.write("\n".join(plan) + "\n")
    out = f"{run_dir}/records.jsonl"
    env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=f"{run_dir}/index",
               SPARK_LOCAL_DIRS=f"{run_dir}/local")
    spawned = time.time()
    with open(f"{run_dir}/jvm.log", "w") as jlog:
        proc = subprocess.Popen(java_cmd(classes, f"{run_dir}/tmp") + ["run", f"{run_dir}/plan.tsv", out],
                                cwd=run_dir, env=env, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(f"{run_dir}/jvm.log") as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        raise SystemExit(f"harness JVM exited with {rc}")
    with open(out) as f:
        recs = [json.loads(line) for line in f]
    first_timed = next(r for r in recs if r["kind"] == "pass" and r["timed"])
    return recs, first_timed["start_ms"] / 1000.0 - spawned


def check(records, golden):
    """Return (attempted, failed, named failures)."""
    ops = [r for r in records if r["kind"] == "op"]
    bad = []
    for r in ops:
        want = golden.get(r["op"])
        if r["err"] is not None:
            bad.append(f"{r['op']}: error {r['err']}")
        elif want is None:
            bad.append(f"{r['op']}: no golden digest")
        elif want["digest"] is None:
            bad.append(f"{r['op']}: fails the DuckDB oracle: {want['oracle_diff']}")
        elif r["digest"] != want["digest"]:
            bad.append(f"{r['op']}: digest {r['digest']} != golden {want['digest']}")
    return len(ops), len(bad), bad


def wall(p):
    """First operation start to last result, without the session switches."""
    return (p["end_ms"] - p["start_ms"]) / 1000.0 - p["switch_s"]


def end_to_end(recs, setup_s):
    passes = [r for r in recs if r["kind"] == "pass" and r["timed"]]
    ops = [r for r in recs if r["kind"] == "op" and r["timed"]]
    lat = [o["latency_s"] for o in ops]
    med = statistics.median
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (med([wall(p) for p in passes]), "s"),
        "latency_p50_s": (med(lat), "s"),
        "cpu_s": (med([p["cpu_s"] for p in passes]), "s"),
        "storage_peak_mb": (max(o["storage_mb"] for o in ops), "MB"),
    }


def per_layer(recs, run_dir, fresh, cores):
    passes = [r for r in recs if r["kind"] == "pass" and r["timed"]]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    med = statistics.median

    def per_pass(f):
        """Median over traced passes of a per-pass sum over operations."""
        return med([sum(f(o) for o in recs if o["kind"] == "op" and o["pass"] == p["pass"])
                    for p in traced])

    walls = med([wall(p) for p in traced])
    m = {"wall_s_traced": (walls, "s"),
         "trace_overhead_s": (walls - med([wall(p) for p in untraced]), "s"),
         "session_switch_s": (med([p["switch_s"] for p in traced]), "s"),
         "latency_sum_s": (per_pass(lambda o: o["latency_s"]), "s"),
         "construct_s": (per_pass(lambda o: o["construct_s"]), "s"),
         "action_s": (per_pass(lambda o: o["latency_s"] - o["construct_s"]), "s"),
         "construct_jobs": (per_pass(lambda o: o["construct_jobs"]), "count"),
         "driver_gap_s": (per_pass(lambda o: max(0.0, o["latency_s"] - o["busy_s"])), "s"),
         "plan_s": (per_pass(lambda o: o["plan_s"]), "s")}
    for k in ("jobs", "stages", "tasks"):
        m[k] = (per_pass(lambda o, k=k: o[k]), "count")
    for k in ("executor_run_s", "executor_cpu_s", "executor_gc_s"):
        m[k] = (per_pass(lambda o, k=k: o[k]), "s")
    m["core_util"] = (m["executor_run_s"][0] / (walls * cores), "ratio")
    for k in ("input", "shuffle_read", "shuffle_write", "spill"):
        m[f"{k}_mb"] = (per_pass(lambda o, k=k: o[f"{k}_bytes"]) / MB, "MB")
    m["cached_rdds_peak"] = (max(p["cached_rdds_peak"] for p in passes), "count")
    # Artifacts written by a traced pass when passes have their own roots,
    # else by the whole run.
    roots = ([f"{run_dir}/index/pass{p['pass']}" for p in traced] if fresh
             else [f"{run_dir}/index"])
    artifacts = [dir_usage(r) for r in roots]
    m["artifact_mb"] = (med([a[1] for a in artifacts]) / MB, "MB")
    m["artifact_files"] = (med([a[0] for a in artifacts]), "count")
    for step in ("job1", "job2", "lineage"):
        m[f"{step}_s"] = (per_pass(lambda o, s=step: o["steps"].get(s, 0.0)), "s")
    written = [dir_usage(f"{run_dir}/work/etl{p['pass']}") for p in traced]
    m["bytes_written_mb"] = (med([w[1] for w in written]) / MB, "MB")
    m["files_written"] = (med([w[0] for w in written]), "count")
    return m


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload}; have {sorted(workloads)}")
    spec = workloads[args.workload]
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)
    classes = build.build(root)
    run_dir = os.path.join(root, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        h0, c0, t0 = host_sample(), children_cpu_s(), time.time()
        recs, setup_s = run_jvm(run_dir, spec, args.seed, args.seconds, args.trace, classes)
        noise = host_noise(h0, host_sample(), c0, children_cpu_s(), time.time() - t0)
        attempted, failed, bad = check(recs, golden)
        if args.trace:
            m = per_layer(recs, run_dir, spec.get("fresh_sessions", False),
                          len(os.sched_getaffinity(0)))
            m.update({k: (v, "cores" if k.endswith("cores") else "load") for k, v in noise.items()})
        else:
            m = end_to_end(recs, setup_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    for b in bad:
        print(f"FAILED {b}")
    for o in (r for r in recs if r["kind"] == "op" and r["timed"]):
        print(f"pass {o['pass']} {o['op']}: {o['latency_s']:.3f} s, construction {o['construct_s']:.3f} s")
    print(f"failed_frac {failed / attempted:.6f} ratio  ({failed} of {attempted} operations)")
    timed = [r for r in recs if r["kind"] == "pass" and r["timed"]]
    walls = " ".join(f"{wall(p):.2f}" for p in timed)
    switches = " ".join(f"{p['switch_s']:.2f}" for p in timed)
    print(f"timed passes {len(timed)}: {walls} s (session switches, not counted: {switches} s)")
    print(f"latency samples {sum(r['kind'] == 'op' and r['timed'] for r in recs)} operations")
    if not args.trace:
        for k, v in sorted(noise.items()):
            print(f"{k} {v:.4f} {'cores' if k.endswith('cores') else 'load'}")
    for k, (v, unit) in m.items():
        print(f"{k} {v:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
