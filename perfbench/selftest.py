#!/usr/bin/env python3
"""Self-test of the benchmark: runs every workload at its smallest size,
untraced and traced, and asserts that each metric BENCHMARK.json
declares is emitted with its unit, that the layers a workload calls
report non-zero figures, and that the output checks pass.

    python3 perfbench/selftest.py      # from the repository root
"""
import json
import subprocess
import sys

WORKLOADS = ("session_report", "corpus_dedup", "adclick_live")
PRINTED = ("setup_s", "job_s_p50", "heap_live_mb", "peak_rss_mb", "failed_ratio")
PRINTED_STREAMING = ("lat_p50_ms", "lat_p99_ms", "done_eps")
# A per-layer metric of each layer the workload calls; each must be > 0.
CALLED = {
    "session_report": ("tables.load_s", "control.task_params_ms", "ingest.from_events_s",
                       "ops.sessionize_s", "ops.area_top3_s", "plans.planning_ms",
                       "sources.jdbc_append_s", "ops.task_cpu_s"),
    "corpus_dedup": ("tables.load_s", "ops.exact_dedup_s", "ops.minhash_pairs_s",
                     "ops.neardup_clusters_s", "expressions.minhash_signature_s",
                     "expressions.simhash_s", "sources.kept_write_s", "expressions.task_cpu_s"),
    "adclick_live": ("streaming.stats.trigger_ms_p50", "streaming.adstat.trigger_ms_p50",
                     "streaming.trend.trigger_ms_p50", "streaming.adstat.state_rows",
                     "streaming.task_cpu_s", "sink.increment.calls", "sink.put.calls",
                     "sink.scan_prefix.calls"),
}


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", "1", "--seconds", "4", "--trace", str(trace),
                                "--size", "small"], capture_output=True, text=True)
            tag = f"{w} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-800:]}")
                continue
            res = json.loads(lines[-1])
            want = spec["per_layer"] if trace else spec["end_to_end"]
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: checks failed: {res['failed']} of {res['attempted']}")
            for m in want:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} missing or without unit")
            if set(res["metrics"]) != {m["name"] for m in want}:
                problems.append(f"{tag}: undeclared metrics emitted")
            if trace:
                for name in CALLED[w]:
                    if not res["metrics"].get(name, {}).get("value"):
                        problems.append(f"{tag}: {name} is 0 on a layer the workload calls")
            else:
                printed = {l.split(" = ")[0].split(" ", 1)[1] for l in lines[:-1] if " = " in l}
                want_printed = PRINTED + (PRINTED_STREAMING if w == "adclick_live" else ())
                for name in want_printed:
                    if name not in printed:
                        problems.append(f"{tag}: {name} not printed")
            print(f"{tag}: ok" if not problems else f"{tag}: {len(problems)} problem(s) so far",
                  flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
