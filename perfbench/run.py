#!/usr/bin/env python3
"""Benchmark for the graft counter library: one command per workload.

    python3 perfbench/run.py --workload <library|serve> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the library and the harness from the checkout's sources (sbt, cached
under .bench_build/), runs one JVM per run, checks the outputs, and prints
one JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the run is
made twice (untraced, then traced) and the metrics are the per-layer ones
plus overhead.<metric> = traced - untraced for every end-to-end metric.

Steadiness mode, for setting bounds and comparing two sets of runs:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 \
        --repeat 10 [--compare <earlier steady json>]

runs seeds seed..seed+N-1 and prints each end-to-end metric's median,
quartiles and quartile spread as a share of the median.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE = os.path.join(HERE, "fixture")
WORKLOADS = ("library", "serve")
E2E = (("setup_s", "s"), ("cold_s", "s"), ("op_p50_ms", "ms"), ("op_p75_ms", "ms"),
       ("throughput_per_s", "1/s"), ("fresh_p50_ms", "ms"), ("fresh_p75_ms", "ms"),
       ("heap_live_mb", "MB"))
RUN_TIMEOUT_S = 170


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, env, timeout, log_path):
    """Runs cmd to completion (or kills it at the timeout) and waits for it."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout} s; see {log_path}")
        except BaseException:
            os.killpg(p.pid, 9)
            p.wait()
            raise


# --- build ---------------------------------------------------------------

def sources_fingerprint(mem):
    h = hashlib.sha256(f"SPARK_DRIVER_MEM={mem}\n".encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the library and the harness if their sources changed.
    Returns the classpath and the library build's JVM options, which the
    build computes from SPARK_DRIVER_MEM."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"program source {need} not found next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    mem = heap()
    fp = sources_fingerprint(mem)
    if os.path.exists(stamp):
        cached = json.load(open(stamp))
        if cached.get("fingerprint") == fp:
            return cached["classpath"], cached["java_options"]
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=mem)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    build_log = os.path.join(BUILD, "build.log")
    open(build_log, "w").close()
    opts_file = os.path.join(HERE, "target", "java-options.txt")
    if os.path.exists(opts_file):
        os.remove(opts_file)
    log("building the library and the harness (sbt)")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeJavaOptions",
                   "export perfbench/Runtime/fullClasspath"],
                  HERE, env, 850, build_log)
    lines = open(build_log).read().splitlines()
    if rc != 0 or not lines or "scala-library" not in lines[-1] or not os.path.exists(opts_file):
        raise BenchError(f"build failed; see {build_log}")
    cp = lines[-1].strip()
    opts = [o for o in open(opts_file).read().splitlines() if o]
    json.dump({"fingerprint": fp, "classpath": cp, "java_options": opts}, open(stamp, "w"))
    return cp, opts


# --- one JVM run -----------------------------------------------------------

def heap():
    """SPARK_DRIVER_MEM as the library's tier-1 runs set it: half of RAM,
    at least 2g and at most 8g."""
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def cpus():
    return str(len(os.sched_getaffinity(0)))


def jvm(prog, main, args, work, log_path, timeout):
    """Runs one JVM with the library build's options (prog = build())."""
    cp, opts = prog
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus(), SPARK_DRIVER_MEM=heap())
    return run_proc(cmd, work, env, timeout, log_path)


def run_once(prog, workload, seed, seconds, traced, deadline):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    t0 = int(time.time() * 1000)
    try:
        rc = jvm(prog, "perfbench.Main",
                 ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", "1" if traced else "0", "--work", work, "--fixture", FIXTURE,
                  "--out", res, "--t0", str(t0)],
                 work, log_path, max(10, deadline - time.time()))
    finally:
        remove_scratch(work)
    if rc != 0 or not os.path.exists(res):
        tail = open(log_path, errors="replace").read()[-3000:]
        raise BenchError(f"{workload} run exited {rc}; log tail:\n{tail}")
    r = json.load(open(res))
    if workload == "library":
        check_library_rows(r)
    if traced:
        keep = os.path.join(BUILD, "trace", workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        shutil.copy(os.path.join(work, "spans.jsonl"), keep)
        if workload == "library":
            check_library_values(prog, r, keep, deadline)
    return r


def remove_scratch(work):
    """Removes the tmpfs scratch dirs the JVM listed in scratch.txt. The JVM
    deletes them itself when it exits; this covers a JVM that was killed."""
    listed = os.path.join(work, "scratch.txt")
    if os.path.exists(listed):
        for d in open(listed).read().splitlines():
            if d:
                shutil.rmtree(d, ignore_errors=True)


# --- correctness -----------------------------------------------------------

def oracle_rows(sqls):
    """Row count of each query's DuckDB oracle over the fixture, cached by
    the SQL text (the fixture is fixed)."""
    import duckdb
    cache_path = os.path.join(BUILD, "oracle_rows.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = None
    for sql in sqls.values():
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key in cache:
            continue
        if con is None:
            con = duckdb.connect()
            for t in sorted(os.listdir(FIXTURE)):
                if t.endswith(".parquet"):
                    con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(FIXTURE, t)}'")
        cache[key] = len(con.sql(sql).fetchall())
    json.dump(cache, open(cache_path, "w"))
    return {q: cache[hashlib.sha256(s.encode()).hexdigest()] for q, s in sqls.items()}


def check_library_rows(r):
    """Every timed execution's row count must equal its oracle's."""
    expected = oracle_rows(r["oracle_sql"])
    for q, counts in r["library_rows"].items():
        for n in counts:
            if n >= 0 and n != expected.get(q):
                r["failed"] += 1
                r["notes"].append(f"{q}: {n} rows, oracle {expected.get(q)}")


def check_library_values(prog, r, keep, deadline):
    """Full values through the library's own Verify dump and oracle compare."""
    out = os.path.join(keep, "verify")
    log_path = os.path.join(keep, "verify.log")
    rc = jvm(prog, "graft.Verify", [FIXTURE, out] + sorted(r["library_rows"]),
             keep, log_path, max(10, deadline - time.time()))
    check = os.path.join(ROOT, "tools", "check_oracle.py")
    if rc != 0 or not os.path.exists(check):
        raise BenchError(f"value check could not run; see {log_path}")
    p = subprocess.run([sys.executable, check, FIXTURE, out], capture_output=True, text=True,
                       timeout=max(10, deadline - time.time()))
    open(os.path.join(keep, "check_oracle.txt"), "w").write(p.stdout + p.stderr)
    passed = sum(1 for line in p.stdout.splitlines() if line.startswith("PASS"))
    fails = len(r["library_rows"]) - passed
    r["attempted"] += len(r["library_rows"])
    r["failed"] += fails
    if fails:
        r["notes"].append(f"{fails} queries differ from the oracle in value")


# --- modes -----------------------------------------------------------------

def single(args):
    prog = build()
    deadline = time.time() + RUN_TIMEOUT_S
    if not args.trace:
        r = run_once(prog, args.workload, args.seed, args.seconds, False, deadline)
        metrics = {k: r["metrics"][k] for k, _ in E2E}
        attempted, failed = r["attempted"], r["failed"]
    else:
        plain = run_once(prog, args.workload, args.seed, args.seconds, False, deadline)
        r = run_once(prog, args.workload, args.seed, args.seconds, True, deadline)
        metrics = dict(r["layers"])
        for k, unit in E2E:
            metrics[f"overhead.{k}"] = {
                "value": r["metrics"][k]["value"] - plain["metrics"][k]["value"], "unit": unit}
        attempted = plain["attempted"] + r["attempted"]
        failed = plain["failed"] + r["failed"]
        write_layer_table(args.workload, r, plain)
    for note in (plain["notes"] if args.trace else []) + r["notes"]:
        log(note)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def write_layer_table(workload, traced, plain):
    """Per-layer table of a traced run, with the tracing overhead."""
    keep = os.path.join(BUILD, "trace", workload)
    lines = [f"## {workload}", "", "| metric | untraced | traced | overhead |", "|---|---|---|---|"]
    for k, unit in E2E:
        a, b = plain["metrics"][k]["value"], traced["metrics"][k]["value"]
        lines.append(f"| {k} ({unit}) | {a:.4g} | {b:.4g} | {b - a:+.4g} |")
    lines += ["", "| layer metric | value | unit |", "|---|---|---|"]
    for k, v in traced["layers"].items():
        lines.append(f"| {k} | {v['value']:.4g} | {v['unit']} |")
    spans = [json.loads(line) for line in open(os.path.join(keep, "spans.jsonl"))]
    gets = sorted((x for x in spans if x.get("span") == "GET"),
                  key=lambda x: x["end_ms"] - x["start_ms"])
    if gets:
        child = {x["parent"]: x for x in spans if x.get("span") == "lookupRows"}
        tail = gets[int(0.75 * (len(gets) - 1)):]
        total = statistics.mean(x["end_ms"] - x["start_ms"] for x in tail)
        lookup = statistics.mean(child[x["id"]]["end_ms"] - child[x["id"]]["start_ms"]
                                 if x["id"] in child else 0.0 for x in tail)
        lines += ["", f"GETs at or above p75 ({len(tail)} of {len(gets)}): mean {total:.1f} ms = "
                  f"{lookup:.1f} ms in lookupRows (store) + {total - lookup:.1f} ms queued on the "
                  "dispatcher or rendering (HTTP)."]
    prem = traced.get("cold_premium_s", {})
    if prem:
        lines += ["", "Cold premium (cold minus median warm time), largest first:", "",
                  "| query | s |", "|---|---|"]
        lines += [f"| {q} | {s:.3f} |" for q, s in list(prem.items())[:15]]
    open(os.path.join(keep, "layers.md"), "w").write("\n".join(lines) + "\n")


def steady(args):
    """Runs N seeds and prints median, quartiles and spread per metric."""
    prog = build()
    values = {k: [] for k, _ in E2E}
    fails = 0
    for i in range(args.repeat):
        seed = args.seed + i
        r = run_once(prog, args.workload, seed, args.seconds, False, time.time() + RUN_TIMEOUT_S)
        fails += r["failed"]
        for note in r["notes"]:
            log(f"{args.workload} seed {seed}: {note}")
        for k, _ in E2E:
            values[k].append(r["metrics"][k]["value"])
        log(f"{args.workload} seed {seed}: " +
            ", ".join(f"{k}={values[k][-1]:.4g}" for k, _ in E2E))
    earlier = json.load(open(args.compare))["values"] if args.compare else None
    print(f"{args.workload}: {args.repeat} runs, {fails} failed operations")
    print(f"{'metric':18} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>8}"
          + (f" {'earlier':>11} {'drift':>8}" if earlier else ""))
    for k, _ in E2E:
        q1, med, q3 = statistics.quantiles(values[k], n=4)
        row = f"{k:18} {med:11.4g} {q1:11.4g} {q3:11.4g} {(q3 - q1) / med:8.3f}"
        if earlier:
            em = statistics.median(earlier[k])
            row += f" {em:11.4g} {(med - em) / em:+8.3f}"
        print(row)
    out = os.path.join(BUILD, "steady", f"{args.workload}-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    json.dump({"workload": args.workload, "seed": args.seed, "values": values}, open(out, "w"))
    print(f"values written to {out}")


def main():
    # a terminated runner still stops and reaps the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--compare")
    args = ap.parse_args()
    try:
        if args.repeat:
            steady(args)
        else:
            print(json.dumps(single(args)))
    except BenchError as e:
        log(str(e))
        sys.exit(2)


if __name__ == "__main__":
    main()
