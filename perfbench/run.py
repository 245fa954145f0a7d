#!/usr/bin/env python3
"""Seeded end-to-end benchmark for Graft's record-transform pipelines.

    python3 perfbench/run.py --workload py_json --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the program
and the harness from source (perfbench/build.sbt) into .bench_build/;
later runs reuse that build. Each run generates its inputs from --seed
(cached per workload, seed and size), builds the DuckDB reference for
them (cached beside the inputs), launches the harness JVM at
local[<cores>] and prints, as its last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics of a traced run with --trace 1.

`--size smoke` runs the same code on tiny inputs (the self-test size).
See perfbench/README.md for the workloads and the metric map.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("py_json", "py_arrow", "jvm_etl", "curation")
# everything after the build must end within this many seconds
RUN_LIMIT_S = 170
# Generated inputs kept per workload (least recently used go first):
# py_arrow's payloads take ~170 MB a seed.
KEEP_INPUTS = 6
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(root):
    """Hash of every source file the build compiles."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    for d in dirs:
        for base, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    return env


def build(root, work):
    """Compile program + harness once per source stamp; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(work, "classpath-%s.txt" % stamp)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log("building program and harness (first run in this checkout)")
    t = time.time()
    with open(os.path.join(work, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                           stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed (see .bench_build/perfbench/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    log("build took %.1f s" % (time.time() - t))
    return cp


def java_cmd(cp, work, heap):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed, pre-touched heap: GC sizing does not depend on when G1
    # grows it, and all of it is resident, so the sampler can count the
    # live heap in its place in peak_rss_mb; compiler threads stay alive,
    # so their CPU (taken out of cpu_s_per_mrec) never vanishes with a
    # reaped thread
    return [java, "-Xms" + heap, "-Xmx" + heap, "-XX:+AlwaysPreTouch",
            "-XX:-UseDynamicNumberOfCompilerThreads", *opens,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dio.netty.tryReflectionSetAccessible=true",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"]


def run_jvm(cmd, args, work, deadline):
    env = dict(os.environ)
    env["TMPDIR"] = os.path.join(work, "tmp")
    out = os.path.join(work, "tmp", "result-%d.json" % os.getpid())
    if os.path.exists(out):
        os.remove(out)
    argv = cmd + [x for k, v in args.items() for x in ("--" + k, str(v))] + ["--out", out]
    t0_ms = time.time() * 1000.0
    argv += ["--t0", "%.3f" % t0_ms]
    with open(os.path.join(work, "jvm.log"), "a") as errf:
        p = subprocess.Popen(argv, stdout=errf, stderr=errf, env=env)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness JVM killed: the run passed its %d s limit" % RUN_LIMIT_S)
        finally:
            # also on SIGTERM (see main): the JVM never outlives the run
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        fail("harness JVM failed with exit code %d (see .bench_build/perfbench/jvm.log)" % rc)
    with open(out) as f:
        return json.load(f)


def prepare_inputs(workload, seed, size, work, cp_cmd):
    """Inputs and DuckDB reference for (workload, seed, size), cached."""
    import gen
    data = os.path.join(work, "data", "%s-s%d-%s" % (workload, seed, size))
    done = os.path.join(data, "done.json")
    if not os.path.exists(done):
        tmp = data + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        t = time.time()
        rows = gen.generate(workload, seed, size, tmp)
        gen_s = time.time() - t
        import ref
        oracle = {}
        if workload == "curation":
            osql = os.path.join(work, "oracle_sql.json")
            if not os.path.exists(osql):
                subprocess.run(cp_cmd + ["--oracle-sql", osql], check=True, timeout=120,
                               stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            with open(osql) as f:
                oracle = json.load(f)
        t = time.time()
        counts = ref.build(workload, tmp, oracle, os.path.join(work, "tmp"))
        with open(os.path.join(tmp, "done.json"), "w") as f:
            json.dump({"rows": rows, "gen_s": gen_s, "ref_s": time.time() - t,
                       "ref_counts": counts}, f)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    os.utime(done)
    root = os.path.dirname(data)
    cached = [os.path.join(root, d, "done.json") for d in os.listdir(root)
              if d.startswith(workload + "-s")]
    cached = sorted((f for f in cached if os.path.exists(f)), key=os.path.getmtime)
    for f in cached[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.dirname(f), ignore_errors=True)
    with open(done) as f:
        meta = json.load(f)
    log("inputs %s: %d rows, generated in %.2f s, reference in %.2f s (not part of setup_s)"
        % (os.path.basename(data), meta["rows"], meta["gen_s"], meta["ref_s"]))
    return data, meta


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no Graft sources under ./src/main/scala/graft: run from the root of a checkout")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))

    t = time.time()
    cp = build(root, work)
    deadline = time.time() + RUN_LIMIT_S - (t - START)
    cmd = java_cmd(cp, work, "2g")
    data, meta = prepare_inputs(a.workload, a.seed, a.size, work, cmd)
    args = {"workload": a.workload, "data": data, "rows": meta["rows"],
            "seconds": a.seconds, "trace": a.trace, "cores": cores}

    if a.trace == 1:
        args["spans"] = os.path.join(work, "traces", "%s-s%d-%s.spans.jsonl"
                                     % (a.workload, a.seed, a.size))
    res = run_jvm(cmd, args, work, deadline)
    metrics = res["metrics"]
    if a.trace == 1:
        log("spans written to %s" % os.path.relpath(args["spans"], root))

    # recall with its base: rows matched / rows the reference has, per channel
    print("recall base (%s, seed %d): %s" % (a.workload, a.seed, json.dumps(res["recall_base"])))
    print("passes: %d attempted, %d checked, %d failed; pass seconds %s; "
          "pass cpu seconds [jvm, of it jit, workers] %s"
          % (res["attempted"], res["checked"], res["failed"], [round(x, 3) for x in res["pass_s"]],
             [[round(x, 2) for x in c] for c in res["pass_cpu_s"]]))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
