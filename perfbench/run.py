#!/usr/bin/env python3
"""Runs one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload curate_release --seed 1 --seconds 6 --trace 0

Builds the library and the harness with sbt when their sources changed
(classpath cached in perfbench/.build), generates the seeded inputs (cached
in perfbench/.cache), runs the workload in a fresh JVM at local[4], checks
its outputs and prints, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Lines before it
are a readable report (tail latency, tracing overhead, span coverage, host
noise, the core-scaling probe). Exits non-zero, without a result, when it
cannot build or run, and non-zero with correct=false when a check fails.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("curate_release", "crawl_serve", "link_rank")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 880.0
# A fixed, pre-touched heap and the throughput collector: heap growth and
# concurrent GC threads on a 4-core host were the largest sources of
# run-to-run spread in operation times. The metaspace threshold is set above
# what a run loads, so the generated classes of each query never trigger a
# full collection inside a timed operation.
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
    "-XX:MetaspaceSize=512m",
    "-Duser.language=en", "-Duser.country=US",
] + [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def die(msg):
    print("perfbench: %s" % msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """sha1 over every file the build reads."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "scala")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_limited(cmd, limit, log, cwd=None, env=None):
    """Runs `cmd` with output to `log`; kills its process group after `limit`
    seconds. Returns the exit code, or None on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(deadline):
    """(harness classpath, whether it was rebuilt); rebuilds when the
    sources changed."""
    bdir = os.path.join(HERE, ".build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(bdir, "classpath")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(bdir, "build.log")
    rc = run_limited(["sbt", "-batch", "-Dsbt.server.autostart=false",
                      "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                     deadline - time.time(), log, cwd=HERE, env=env)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines:
        die("build failed (exit %s); see %s" % (rc, log))
    cp = lines[-1]
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        die("build printed no usable classpath; see %s" % log)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def run_jvm(cp, workload, inp, work, seconds, trace, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main",
                                 "--workload", workload, "--input", inp, "--work", work,
                                 "--out", out, "--seconds", str(seconds),
                                 "--trace", "1" if trace else "0"]
    log = os.path.join(work, "jvm.log")
    rc = run_limited(cmd, deadline - time.time(), log, cwd=ROOT)
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die("workload JVM %s" % ("timed out" if rc is None else "exited with %s" % rc))
    with open(out) as f:
        return json.load(f)


def items(workload, inp, result):
    """Units of work per timed operation."""
    if workload == "curate_release":
        return [gen.PLANS[workload]["n_docs"]] * len(result["ops"])
    if workload == "crawl_serve":
        with open(os.path.join(inp, "truth.json")) as f:
            listed = json.load(f)["listed_per_tick"]
        return [listed[1]] * len(result["ops"])
    return [3 * o["info"]["edges"] * o["info"]["rounds"] for o in result["ops"]]


def end_to_end(workload, inp, result, ops):
    secs = [o["seconds"] for o in ops]
    n = items(workload, inp, {"ops": ops})
    return {
        "setup_s": (stats.median(result["setup_s"]), "s"),
        "op_p50_s": (stats.median(secs), "s"),
        "items_per_s": (sum(n) / sum(secs), "1/s"),
    }


def report(workload, result, ops_timed, op_fails, run_fails, trace):
    secs = [o["seconds"] for o in ops_timed]
    tail, pct, n = stats.tail(secs)
    st = result["proc_stat"]
    jiffies = sum(st.values()) or 1
    rep = {
        "workload": workload,
        "ops": len(result["ops"]),
        "fingerprint": result["ops"][0]["fingerprint"],
        "op_seconds": [round(s, 4) for s in secs],
        "op_tail_s": tail, "op_tail_percentile": pct, "op_tail_samples": n,
        "setup_s": result["setup_s"], "warmup_s": result["warmup_s"],
        "peak_rss_mb": result["peak_rss_mb"], "peak_old_gen_mb": result["peak_old_gen_mb"],
        "failed_frac": sum(1 for f in op_fails if f or run_fails) / max(1, len(op_fails)),
        "failures": [f for f in op_fails if f] + run_fails,
        "host_steal_share": st.get("steal", 0) / jiffies,
        "host_iowait_share": st.get("iowait", 0) / jiffies,
    }
    if trace:
        plain = [o["seconds"] for o in result["ops"] if not o["traced"]]
        traced = [o["seconds"] for o in result["ops"] if o["traced"]]
        if plain and traced:
            rep["tracing_overhead_s"] = stats.median(traced) - stats.median(plain)
            rep["tracing_overhead_share"] = rep["tracing_overhead_s"] / stats.median(plain)
        setup_total = sum(result["setup_s"])
        rep["span_coverage"], rep["span_coverage_loop_only"] = stats.coverage(
            result["trace"], setup_total, result["loop_s"])
        if result.get("probe"):
            p = {x["master"]: x["seconds"] for x in result["probe"]}
            rep["probe_s"] = p
            if p.get("local[1]") and p.get("local[4]"):
                rep["probe_speedup_4_over_1"] = p["local[1]"] / p["local[4]"]
    return rep


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            die("no library sources here (missing %s)" % os.path.relpath(need, ROOT))
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die("%s is not on PATH" % tool)

    cp, built = build(start + BUILD_LIMIT_S)
    inp = gen.ensure(args.workload, args.seed, os.path.join(HERE, ".cache"))
    work = os.path.join(HERE, ".work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - start)
        result = run_jvm(cp, args.workload, os.path.abspath(inp), work, args.seconds,
                         args.trace == 1, time.time() + limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    op_fails, run_fails = checks.run(args.workload, args.seed, inp, result)
    ops_timed = [o for o in result["ops"] if not (args.trace and o["traced"])] \
        if args.trace else result["ops"]
    rep = report(args.workload, result, ops_timed, op_fails, run_fails, args.trace)
    failed = sum(1 for f in op_fails if f or run_fails)
    if args.trace:
        m = stats.per_layer(result["trace"], [o for o in result["ops"] if o["traced"]],
                            result["check"], result["check"].get("rounds"))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(args.workload, inp, result, ops_timed).items()}
    print(json.dumps({"report": rep}))
    print(json.dumps({"correct": failed == 0, "attempted": len(op_fails), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


def unit_of(name):
    kind = name.rsplit(".", 1)[1]
    if kind.endswith("_s") or kind == "s_per_round":
        return "s"
    if kind.endswith("_mb"):
        return "MB"
    return {"tasks": "count", "sink_files": "count"}.get(kind, "ratio")


if __name__ == "__main__":
    main()
