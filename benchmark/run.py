#!/usr/bin/env python3
"""Benchmark launcher: builds the program and the harness from this
checkout, runs one workload for one seed, checks every op's output, and
prints the metrics.

    python3 benchmark/run.py --workload ingest|query --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. The lines before it are a readable summary: the
workload's own figures, the checks and the name of each failed check.
Host settings and workload sizes come from benchmark/config.json.

The first run in a checkout compiles with sbt (offline) and caches the
classpath under .bench_build/; later runs start the JVM directly.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JVM_LIMIT_S = 165  # a run must end within 180 s
BUILD_LIMIT_S = 700  # the first run in a checkout, which builds, within 900 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the classpath cache key."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def die_with_parent():
    """In the child: have the kernel kill it if this launcher dies."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns its exit code, or
    None on timeout. The group is killed and waited for on timeout and when
    this launcher is terminated, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, preexec_fn=die_with_parent, **kw)

    def stop(*_):
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

    def terminated(signum, _):
        stop()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, terminated) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        p.wait(timeout=timeout)
        return p.returncode
    except subprocess.TimeoutExpired:
        return None
    finally:
        stop()
        for s, h in old.items():
            signal.signal(s, h)


def classpath():
    """Compiles once per source state and returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    cache = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(cache):
        return open(cache).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SPARK_GRAFT_LOCAL_DIR=os.path.join(BUILD, "sbt-spark-local"),
               SPARK_GRAFT_TMPDIR=os.path.join(BUILD, "sbt-tmp"))
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in open(log) if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); log in {log}", 1)
    with open(cache, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found in {ROOT}")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    conf = json.load(open(os.path.join(HERE, "config.json")))
    host, sizes = conf["host"], conf["workloads"][a.workload]

    cp = classpath()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_file = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    args = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "work": work, "out": os.path.join(work, "result.json"), "trace_out": trace_file,
        "cores": host["cores"], "shuffle_partitions": host["shuffle_partitions"],
        "warmup": sizes["warmup"],
    }
    for k, v in sizes.items():
        if k == "warmup":
            continue
        args[f"{a.workload}_{k}" if k != "queries" else k] = ",".join(v) if isinstance(v, list) else v
    cmd = (["java", f"-Xmx{host['heap']}"] + host["jvm_flags"] + [
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "bench.Main"] + [f"{k}={v}" for k, v in args.items()])
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            rc = run_group(cmd, JVM_LIMIT_S, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
        result_file = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write("".join(l for l in open(os.path.join(work, "jvm.log")) if l.startswith("[bench]")))
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(BUILD, "failed-run.log"))
            tail = open(os.path.join(work, "jvm.log")).read()[-4000:]
            sys.stderr.write(tail)
            fail("workload did not finish" + (" in time" if rc is None else f" (exit {rc})"), 1)
        res = json.load(open(result_file))
        if a.workload == "query":
            oracle_check(res, work)
        report(a, bench, conf, res, trace_file)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def oracle_check(res, work):
    """Adds the DuckDB oracle check of each query to the result: a query
    whose rows differ from its oracle fails every op of that query."""
    sys.path.insert(0, HERE)
    import oracle
    t0 = time.time()
    verdicts = oracle.check(os.path.join(work, "events"), os.path.join(work, "query_out"))
    res["oracle_s"] = time.time() - t0
    for q, why in verdicts.items():
        name = f"query.{q}.oracle"
        n = sum(1 for op in res["ops"] if op["kind"] == q)
        res["checks"][name] = {"passed": n if why is None else 0, "failed": 0 if why is None else n,
                               "detail": why or "rows equal the DuckDB oracle"}
        if why is not None:
            res["failed_checks"][name] = n
            for op in res["ops"]:
                if op["kind"] == q and op["ok"]:
                    op["ok"] = False
                    res["failed"] += 1


def report(a, bench, conf, res, trace_file):
    known = set(conf["known_defects"])
    unexpected = sorted(set(res["failed_checks"]) - known)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"heap {conf['host']['heap']}  cores {conf['host']['cores']}")
    s = res["setup"]
    print(f"setup: session {s['session_s']:.2f} s, inputs {s['prepare_s']:.2f} s, "
          f"warmup {s['warmup_s']:.2f} s; checks {res['check_s']:.2f} s"
          + (f", oracle {res['oracle_s']:.2f} s" if "oracle_s" in res else ""))
    kinds = {}
    for op in res["ops"]:
        kinds.setdefault(op["kind"], []).append(op["seconds"])
    print("ops: " + ", ".join(f"{k} x{len(v)} med {sorted(v)[len(v) // 2]:.3f} s" for k, v in kinds.items()))
    fig = dict(res["figures"])
    fig["failed_frac"] = res["failed"] / res["attempted"]
    fig["peak_rss_mb"] = res["e2e"]["peak_rss_mb"]
    print("figures: " + ", ".join(f"{k}={v:.6g}" for k, v in sorted(fig.items())))
    for name, c in sorted(res["checks"].items()):
        status = "ok  " if c["failed"] == 0 else ("KNOWN" if name in known else "FAIL")
        print(f"check {status} {name}: {c['passed']} passed, {c['failed']} failed; {c['detail'][:300]}")
    print(f"attempted {res['attempted']}  failed {res['failed']}  failed checks: "
          + (", ".join(f"{k} x{v}" for k, v in sorted(res["failed_checks"].items())) or "none"))
    for e in res["errors"]:
        print(f"error: {e}")

    sys.path.insert(0, HERE)
    import trace_summary
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(res["e2e"], fh)
    if a.trace:
        print(trace_summary.summary(trace_file))
        names = [m["name"] for m in bench["per_layer"]]
        # peak_rss_mb is also an end-to-end metric, and a name is listed once
        extra = set(res["layers"]) - set(names) - set(res["e2e"])
        if extra and a.workload in {w["name"] for w in bench["workloads"]}:
            fail(f"per-layer metrics missing from BENCHMARK.json: {sorted(extra)}", 1)
        for k in sorted(extra):
            print(f"layer {k} = {res['layers'][k]:.6g}")
        specs, values = bench["per_layer"], res["layers"]
    else:
        traced = os.path.join(results, f"{a.workload}-{a.seed}-trace1.json")
        if os.path.exists(traced):
            print(trace_summary.overhead(json.load(open(traced))["op_p50_s"], res["e2e"]["op_p50_s"]))
        specs, values = bench["end_to_end"], res["e2e"]
    # a layer the workload does not run reports 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in specs}
    print(json.dumps({"correct": not unexpected and not res["errors"],
                      "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
