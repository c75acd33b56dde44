#!/usr/bin/env python3
"""The benchmark command: builds the harness, generates the workload's
inputs, runs the workload in a JVM, checks its outputs, and prints one
JSON result as the last line of standard output.

    python3 perfbench/run.py --workload session_report --seed 1 --seconds 20 --trace 0

Run it from the repository root. See perfbench/README.md.
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

import checks
import gen

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("session_report", "adclick_live", "corpus_dedup")
# A run, set-up and checks included, must end within 180 s; the build
# of a fresh checkout gets its own budget.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Input sizes; "small" is the self-test's.
SIZES = {
    "session_report": {"full": dict(customers=15000, parts=2000, orders=5000, events=20000,
                                    tasks=100),
                       "small": dict(customers=1500, parts=200, orders=1500, events=4000,
                                     tasks=100)},
    "corpus_dedup": {"full": dict(docs=3000), "small": dict(docs=600)},
    "adclick_live": {"full": dict(customers=15000), "small": dict(customers=1500)},
}
GENERATORS = {"session_report": gen.session_inputs, "corpus_dedup": gen.corpus,
              "adclick_live": gen.adclick}
SETUP_REPS = 3
# adclick_live drains its lines a chunk (one second of event time) at a
# time; the first chunks are warm-up, in which the bots are blacklisted.
CHUNK_LINES = 1000
WARMUP_CHUNKS = 5
# Printed by name with their units, but not gated: they apply to
# adclick_live only, and every gated metric must apply to every workload.
PRINTED_ONLY = {"lat_p50_ms": "ms", "lat_p99_ms": "ms", "done_eps": "events/s"}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness with the program's sources; returns the classpath."""
    for need in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "build.sbt"),
                 os.path.join(ROOT, "BENCHMARK.json")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} not found; run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                           timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if cp is None:
        fail("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def generate(args, work):
    """Writes the workload's inputs SETUP_REPS times, each into a fresh
    directory; returns the last directory, the median write time and the
    input digest."""
    make = GENERATORS[args.workload]
    size = dict(SIZES[args.workload][args.size])
    if args.workload == "adclick_live":
        # enough chunks for any op time above 1/6 s
        size["lines"] = CHUNK_LINES * (WARMUP_CHUNKS + 2 + int(6 * args.seconds))
    times, digests, out = [], set(), None
    for i in range(SETUP_REPS):
        if out:
            shutil.rmtree(out)
        out = os.path.join(work, f"input-{i}")
        t = time.perf_counter()
        digests.add(make(out, args.seed, **size))
        times.append(time.perf_counter() - t)
    if len(digests) != 1:
        fail("the same seed generated different inputs", 3)
    return out, statistics.median(times), digests.pop()


def run_jvm(cp, args, work, out, deadline, extra):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # A fixed, pre-touched heap keeps peak RSS independent of when G1
    # decides to grow the heap: peak_rss_mb then tracks memory outside
    # the heap, and heap_live_mb the heap the program keeps in use.
    cmd = [java_bin(), "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out,
            "--launch-ms", str(int(time.time() * 1000))] + extra
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        p.wait(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log.close()
        fail("run exceeded its time limit", 3)
    log.close()
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}", 3)
    with open(out) as f:
        return json.load(f)


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, or None."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full",
                    help="small: the self-test's smallest inputs")
    args = ap.parse_args()
    cp = build()
    t_start = time.time()  # the run's time limit starts after the build
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BENCH, ".work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    input_dir, gen_s, digest = generate(args, work)
    extra = ["--input", input_dir, "--gen-s", f"{gen_s:.6f}",
             "--chunk-lines", str(CHUNK_LINES), "--warmup-ops", str(WARMUP_CHUNKS)]
    t_jvm, ticks0 = time.time(), cpu_ticks()
    res = run_jvm(cp, args, work, os.path.join(work, "result.json"), t_start + RUN_LIMIT_S, extra)
    t_check = time.time()
    bad, notes = checks.check(args.workload, res)
    res["facts"].update(input_sha256=digest, generate_s=gen_s, jvm_s=t_check - t_jvm,
                        check_s=time.time() - t_check, run_s=time.time() - t_start)
    failed = int(res["failed"]) + bad
    attempted = int(res["attempted"])
    correct = bool(res["correct"]) and bad == 0

    printed = {n: res["metrics"].pop(n) for n in PRINTED_ONLY if n in res["metrics"]}
    undeclared = sorted(set(res["metrics"]) - set(units))
    if undeclared:
        fail(f"metrics missing from BENCHMARK.json: {undeclared}", 4)
    metrics = {}
    for name, unit in units.items():
        if name in res["metrics"]:
            v = float(res["metrics"][name])
        elif args.trace:
            v = 0.0  # a layer this workload does not call
        else:
            fail(f"end-to-end metric {name} was not measured", 4)
        metrics[name] = {"value": v, "unit": unit}

    results_dir = os.path.join(BENCH, ".results")
    os.makedirs(results_dir, exist_ok=True)
    spans = None
    if args.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        spans = os.path.join(results_dir, f"{tag}-spans.jsonl")
        shutil.copy(os.path.join(work, "spans.jsonl"), spans)
    ticks1 = cpu_ticks()
    # the share of CPU time the hypervisor gave to other machines while
    # the workload ran and was checked: a run slowed by a busy host shows
    # it here
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None
    env = dict(res["env"], git_commit=git_commit(), python=sys.version.split()[0],
               cpu_steal_share=steal)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "correct": correct, "attempted": attempted,
              "failed": failed, "metrics": metrics, "env": env, "facts": res["facts"],
              "check_notes": notes, "spans_file": spans}
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    for name, v in printed.items():
        print(f"{args.workload} {name} = {v:.6g} {PRINTED_ONLY[name]}")
    print(f"{args.workload} failed_ratio = {failed / max(1, attempted):.6g} fraction "
          f"({failed} of {attempted})")
    print(f"{args.workload} input_sha256 = {res['facts'].get('input_sha256')}")
    print(f"{args.workload} env = nproc {env.get('nproc')}, loadavg {env.get('loadavg_start')}"
          f" -> {env.get('loadavg_end')}, heap {env.get('heap_max_mb')} MB,"
          f" cpu steal {steal if steal is None else round(steal, 3)},"
          f" spark {env.get('spark_version')}, commit {env.get('git_commit')}")
    if spans:
        print(f"{args.workload} spans = {os.path.relpath(spans, ROOT)}")
    for n in notes[:10]:
        print(f"{args.workload} check: {n}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
