#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source if needed (perfbench/build.py),
runs one workload in one JVM started directly (no build tool), checks
its outputs, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end ones, with --trace 1 its
per_layer ones. Everything a run writes goes under .bench_out/ in the
checkout; the traced run also leaves spans.jsonl, per_layer.json and
trace_overhead.json there. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build

WORKLOADS = ["relay_backlog", "relay_live", "batch_mix", "stream_ops"]
JVM_TIMEOUT_S = 150
# Spark on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def slots():
    """Task slots: the cores this process may use, at most four."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def java(main, args, out, log):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # -XX:TieredStopAtLevel=1: C1 only. With C2, compiling Spark's large
    # driver methods took about 0.7 of a core all through a stream_ops
    # run, half of its measured CPU time, and did not settle in a minute.
    # -XX:ReservedCodeCacheSize=240m: the tiered JVM's default; C1 alone
    # gets 48 MB, which batch_mix's generated classes filled within five
    # passes, after which every pass paid for flushing and recompiling.
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), main] + args
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=out, stdout=lf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def fail(msg, log=None):
    if log and os.path.exists(log):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def selftest():
    build.build()
    out = os.path.join(ROOT, ".bench_out", "selftest")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(out, "jvm.log")
    rc = java("perfbench.SelfTest", [], out, log)
    with open(log) as f:
        print("".join(l for l in f if l.startswith(("ok", "FAIL", "selftest"))), end="")
    import oracle
    bad = oracle.selftest()
    sys.exit(0 if rc == 0 and bad == 0 else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    # the relay traffic's make-up, e.g. large=0.01,tombstone=0.1,escaped=0.1
    # (shares of change rows; defaults in Relay.scala's RelayMix)
    ap.add_argument("--mix", default="")
    a = ap.parse_args()
    if a.selftest:
        selftest()
    if not a.workload:
        ap.error("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build.build()
    # set-up time runs from here: after the build, before the JVM starts
    t0 = time.time()

    base = os.path.join(ROOT, ".bench_out", a.workload)
    out = os.path.join(base, f"seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(out, "jvm.log")
    rc = java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--out", out, "--cpus", str(slots()),
                                 "--t0-ms", str(int(t0 * 1000)), "--mix", a.mix], out, log)
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        fail(f"{a.workload} JVM exited with {rc}", log)
    with open(res_path) as f:
        res = json.load(f)
    checks = res["checks"]
    if a.workload == "batch_mix":
        import oracle
        work = os.path.join(out, "work")
        for name, ok, why in oracle.check(os.path.join(work, "tables"),
                                          os.path.join(work, "results"),
                                          os.path.join(ROOT, ".bench_out", "oracle_cache")):
            checks.append({"name": f"oracle.{name}", "ok": ok, "detail": why})
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out, "checks.json"), "w") as f:
        json.dump(checks, f, indent=1)
    for c in checks:
        if not c["ok"]:
            sys.stderr.write(f"perfbench: check {c['name']} failed: {c['detail']}\n")

    if a.trace == 0:
        with open(os.path.join(base, "last_untraced.json"), "w") as f:
            json.dump(res, f)
        values, wanted = res["end_to_end"], spec["end_to_end"]
    else:
        # per-layer metrics a workload does not reach read 0
        values, wanted = res["per_layer"], spec["per_layer"]
        with open(os.path.join(out, "per_layer.json"), "w") as f:
            json.dump(res["per_layer"], f, indent=1, sort_keys=True)
        untraced = os.path.join(base, "last_untraced.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                plain = json.load(f)["end_to_end"]
            overhead = {k: {"untraced": plain[k], "traced": v,
                            "change": v / plain[k] - 1 if plain[k] else None}
                        for k, v in res["end_to_end"].items() if k in plain}
        else:
            overhead = {"note": "no untraced run of this workload in .bench_out to compare"}
        with open(os.path.join(out, "trace_overhead.json"), "w") as f:
            json.dump(overhead, f, indent=1)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    # how much work lies behind the figures (passes, rounds, bursts, ...)
    print(f"{a.workload}: " + ", ".join(f"{k} {v:g}" for k, v in sorted(res["extra"].items())
                                        if not k.startswith("phase_end_s.")))
    # wall-clock and unscaled figures, printed for reading but not in
    # BENCHMARK.json: on a shared host they follow the neighbours' load
    print("not gated: " + ", ".join(f"{k} {v:g}" for k, v in sorted(res["end_to_end"].items())
                                     if k not in {m["name"] for m in spec["end_to_end"]}))
    print(json.dumps({"correct": all(c["ok"] for c in checks),
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
