#!/usr/bin/env python3
"""Benchmark driver for the graft engine.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (sbt, offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Each run generates its inputs
from `--seed` (perfbench/gen.py), runs one workload in one JVM
(graftbench.Main), checks the answers, and prints a summary line and, as
the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are its per-layer metrics. Workloads and metrics are
described in perfbench/WORKLOADS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["olap_mix", "ingest_upkeep"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# A fixed-size heap (-Xms = -Xmx): the heap is touched through over a run,
# so the peak resident set does not depend on when the JVM grows it.
JVM_HEAP = "3g"

# (name, unit, better): the end-to-end metrics, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("op_p50_s", "s", "lower"),
    ("op_tail_s", "s", "lower"),
    ("serve_p50_s", "s", "lower"),
    ("serve_tail_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's own
# build passes the same list to its forked JVMs).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
           "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def ensure_built():
    """Build once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found: run from a full checkout")
    h = hashlib.sha256()
    for rel in source_files():
        p = os.path.join(ROOT, rel)
        if not os.path.isfile(p):
            die(f"missing build input {rel}")
        h.update(rel.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportClasspath"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}", 1)
    if r.returncode != 0 or not os.path.isfile(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("build failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def inputs_for(seed):
    """Generated inputs for a seed, cached under .bench_build keyed by the
    generator's own source, so a changed generator never serves stale
    inputs."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{key}-seed{seed}")
    if not os.path.isfile(os.path.join(d, "manifest.json")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def run_jvm(cp, workload, inputs, work, seconds, trace, deadline):
    out = os.path.join(work, "raw.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = str(os.cpu_count() or 4)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
            f"-Dderby.system.home={work}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", workload, "--inputs", inputs,
              "--work", work, "--seconds", str(seconds), "--trace", str(trace),
              "--cores", cores, "--out", out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"{workload} run failed (exit {rc})", 1)
    with open(out) as f:
        return json.load(f)


def end_to_end(raw):
    w = raw["window"]
    lat = [o["s"] for o in w["ops"]]
    # a serve sample is one op's serve reads, all index families together
    # (on olap_mix every op is itself a read)
    rounds = {}
    for sv in w["serves"]:
        rounds[sv["op"]] = rounds.get(sv["op"], 0.0) + sv["s"]
    serve = [rounds[o] for o in sorted(rounds)] if rounds else lat
    op_tail, op_p, op_n = stats.tail(lat)
    sv_tail, sv_p, sv_n = stats.tail(serve)
    values = {
        "setup_s": stats.median(raw["setup_s"]),
        "ops_per_s": len(lat) / w["elapsed_s"],
        "op_p50_s": stats.p50(lat),
        "op_tail_s": op_tail,
        "serve_p50_s": stats.p50(serve),
        "serve_tail_s": sv_tail,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    notes = f"op_tail p{op_p:g} of {op_n}, serve_tail p{sv_p:g} of {sv_n}"
    # op_growth needs two whole cycles; it is printed, not bounded
    if len(lat) >= 2 * raw["cycle"]:
        notes += f", op_growth {stats.growth(lat, raw['cycle']):.4f}"
    return values, notes


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    cp = ensure_built()
    deadline = max(deadline, time.time() + 150)  # a build does not eat the run's budget
    inputs = inputs_for(a.seed)
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace, deadline)
        checks = list(raw["checks"])
        n_checks = raw["final_checks"]
        if a.workload == "olap_mix":
            results = oracle.compare(os.path.join(inputs, "tables"), raw["answers_dir"],
                                     raw["oracle_sql"])
            n_checks += len(results)
            checks += [{"name": f"oracle:{n}", "ok": ok, "detail": d}
                       for n, ok, d in results if not ok]
        ops = raw["window"]["ops"]
        attempted = len(ops) + n_checks
        # per-op checks ("name@op") already mark their op failed
        failed = (sum(not o["ok"] for o in ops)
                  + sum("@" not in c["name"] for c in checks))
        for c in checks:
            print(f"CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
        e2e, notes = end_to_end(raw)
        summary = {k: round(v, 4) for k, v in e2e.items()}
        summary["failed_ratio"] = failed / attempted
        print(f"{a.workload} seed={a.seed}: "
              + " ".join(f"{k}={v}" for k, v in summary.items())
              + f" ({notes}, warmup_s={raw['warmup_s']:.2f},"
              f" session_s={raw['session_s']:.2f})")
        if a.trace:
            values = layers.compute(raw)
            metrics = {n: {"value": values[n], "unit": u} for n, u, _ in layers.per_layer_specs()}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
