"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload es_build --seed 1 --seconds 12 --trace 0

Builds graft and the harness from source (perfbench/build.py), runs the
workload in one JVM at local[nproc], checks its outputs, and prints as the
last stdout line {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1. The full run record (stamp, every iteration, spans, jobs,
stages) is kept under .bench_work/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
from stats import median, spread, tail_percentile, uncovered  # noqa: E402

WORKLOADS = ("es_build", "es_append_restore", "ops_mix")
DEADLINE_S = 170
MB = 1e6


def nproc():
    return len(os.sched_getaffinity(0))


def git_commit():
    if not os.path.exists(".git"):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def run_jvm(jar, args, work, deadline):
    """Runs the harness; its output goes to stderr. Returns the exit code,
    or None when it had to be killed at the deadline."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = (f"-XX:SharedArchiveFile={os.path.abspath(build.ARCHIVE)}"
           if os.path.exists(build.ARCHIVE) else "-Xshare:auto")
    proc = subprocess.Popen(build.java_command(jar, args, tmp, cds), stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


# ---- metrics from the run record ----------------------------------------

def dur(span):
    return (span["end_ms"] - span["start_ms"]) / 1e3


def top_spans(it):
    return [s for s in it["spans"] if s["parent"] == 0]


def iteration_e2e(it):
    top = top_spans(it)
    work = it.get("work_s") or 0.0
    return {
        "wall_s": sum(dur(s) for s in top),
        "cpu_s": sum(s["cpu_s"] for s in top),
        "heap_peak_mb": it["heap_mb"],
        "docs_per_s": it["docs"] / work if work else 0.0,
        "mb_per_s": it["payload_bytes"] / MB / work if work else 0.0,
    }


class Traced:
    """Jobs and stages of one traced iteration, by span."""

    def __init__(self, it):
        self.it = it
        self.spans = {s["id"]: s for s in it["spans"]}
        self.stages = {s["id"]: s for s in it["stages"]}
        self.jobs = it["jobs"]

    def top_of(self, span_id):
        while span_id in self.spans and self.spans[span_id]["parent"] != 0:
            span_id = self.spans[span_id]["parent"]
        return span_id if span_id in self.spans else 0

    def jobs_in(self, span):
        return [j for j in self.jobs if j["span"] != 0 and self.top_of(j["span"]) == span["id"]]

    def stages_of(self, jobs):
        ids = sorted({i for j in jobs for i in j["stages"] if i in self.stages})
        return [self.stages[i] for i in ids]

    def gap(self, span):
        return uncovered((span["start_ms"], span["end_ms"]),
                         [(j["start_ms"], j["end_ms"]) for j in self.jobs_in(span)]) / 1e3


def sink_metrics(t):
    """Shuffle, writer and commit numbers of the write spans of one
    iteration. The writer stage is the result stage of a job whose stages
    include `save at`; the map stages are the shuffle-writing stages of the
    jobs that end before it starts (adaptive execution runs them as jobs of
    their own)."""
    m = dict.fromkeys(["shuffle_write_mb", "shuffle_records", "spill_mb", "map_tasks",
                       "writer_tasks", "map_stage_s", "writer_stage_s", "writer_task_max_s",
                       "writer_cpu_s", "commit_s", "commit_s_first", "commit_s_last",
                       "commit_fs_calls", "compact_fs_calls", "read_s", "read_tasks",
                       "pruned_read_tasks", "compact_s", "restore_docs_per_s",
                       "indexing_ms", "flushing_ms", "writer_files", "on_disk_mb",
                       "bytes_per_doc"], 0.0)
    commits = []
    for span in top_spans(t.it):
        jobs = t.jobs_in(span)
        stages = t.stages_of(jobs)
        tasks = sum(s["tasks"] for s in stages)
        if span["name"] in ("es.index_job", "es.write"):
            writer_jobs = [j for j in jobs if any("save at" in t.stages[i]["name"]
                                                  for i in j["stages"] if i in t.stages)]
            writer_ids = {j["stages"][-1] for j in writer_jobs}
            first_write = min((j["start_ms"] for j in writer_jobs), default=0)
            map_ids = {i for j in jobs if j["end_ms"] <= first_write for i in j["stages"]}
            for s in stages:
                if s["id"] in writer_ids:
                    m["writer_tasks"] += s["tasks"]
                    m["writer_stage_s"] += (s["done_ms"] - s["submit_ms"]) / 1e3
                    m["writer_task_max_s"] = max(m["writer_task_max_s"], s["max_task_ms"] / 1e3)
                    m["writer_cpu_s"] += s["cpu_ns"] / 1e9
                elif s["sw_bytes"] > 0 and s["id"] in map_ids:
                    m["map_tasks"] += s["tasks"]
                    m["map_stage_s"] += (s["done_ms"] - s["submit_ms"]) / 1e3
                    m["shuffle_write_mb"] += s["sw_bytes"] / MB
                    m["shuffle_records"] += s["sw_records"]
                m["spill_mb"] += s["spill_bytes"] / MB
            if writer_jobs:
                written = max(j["end_ms"] for j in writer_jobs)
                later = [j["start_ms"] for j in jobs if j["start_ms"] >= written]
                commits.append((min(later + [span["end_ms"]]) - written) / 1e3)
            m["commit_fs_calls"] += span["fs_calls"]
        elif span["name"] == "es.read_full":
            m["read_s"] += dur(span)
            m["read_tasks"] += tasks
        elif span["name"] == "es.read_pruned":
            m["pruned_read_tasks"] += tasks
        elif span["name"] == "es.compact":
            m["compact_s"] += dur(span)
            m["compact_fs_calls"] += span["fs_calls"]
    if commits:
        m["commit_s"] = sum(commits)
        m["commit_s_first"], m["commit_s_last"] = commits[0], commits[-1]
    it = t.it
    if "indexing_ms" in it:
        m["indexing_ms"] = it["indexing_ms"]
        m["flushing_ms"] = it["flushing_ms"]
        m["writer_files"] = it["writer_files"]
        m["on_disk_mb"] = it["on_disk_bytes"] / MB
        m["bytes_per_doc"] = it["on_disk_bytes"] / it["docs"]
    if m["read_s"] and it.get("restored_docs"):
        m["restore_docs_per_s"] = it["restored_docs"] / m["read_s"]
    return {"sinks." + k: v for k, v in m.items()}


def iteration_layers(it, cores, queries):
    t = Traced(it)
    top = top_spans(it)
    jobs = [j for s in top for j in t.jobs_in(s)]
    stages = t.stages_of(jobs)
    wall = sum(dur(s) for s in top)
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.failed_tasks": sum(s["failed"] for s in stages),
        "spark.busy_frac": sum(s["run_ms"] for s in stages) / 1e3 / (wall * cores) if wall else 0.0,
        "spark.task_wait_s": sum(s["wait_ms"] for s in stages) / 1e3,
        "spark.driver_gap_s": sum(t.gap(s) for s in top),
        "jvm.gc_s": sum(s["gc_s"] for s in top),
        "jvm.tmp_entries_new": it["tmp_new"],
    }
    out.update(sink_metrics(t))
    for q in queries:
        span = next((s for s in top if s["name"] == "ops." + q), None)
        qjobs = t.jobs_in(span) if span else []
        qstages = t.stages_of(qjobs)
        out.update({
            f"ops.{q}.wall_s": dur(span) if span else 0.0,
            f"ops.{q}.jobs": len(qjobs),
            f"ops.{q}.tasks": sum(s["tasks"] for s in qstages),
            f"ops.{q}.cpu_s": span["cpu_s"] if span else 0.0,
            f"ops.{q}.shuffle_mb": sum(s["sw_bytes"] for s in qstages) / MB,
            f"ops.{q}.driver_gap_s": t.gap(span) if span else 0.0,
        })
    return out


EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "sinks.shuffle_write_mb",
         "sinks.shuffle_records", "sinks.map_tasks", "sinks.writer_tasks", "sinks.writer_files",
         "sinks.commit_fs_calls", "sinks.compact_fs_calls")


def exact_counter(name):
    return name in EXACT or (name.startswith("ops.") and
                             name.rsplit(".", 1)[1] in ("jobs", "tasks", "shuffle_mb"))


def summarize(record, cores, queries):
    timed = [it for it in record["iterations"] if not it["warmup"] and it["ok"]]
    e2e_rows = [iteration_e2e(it) for it in timed]
    e2e = {k: median([r[k] for r in e2e_rows]) for k in
           ("wall_s", "cpu_s", "docs_per_s", "mb_per_s")}
    e2e["heap_peak_mb"] = max((r["heap_peak_mb"] for r in e2e_rows), default=0.0)
    e2e["setup_s"] = median(record["setup_s"])

    traced = [it for it in timed if it["traced"]]
    layer_rows = [iteration_layers(it, cores, queries) for it in traced]
    layers = {k: median([r[k] for r in layer_rows]) for k in (layer_rows[0] if layer_rows else {})}
    unstable = sorted(k for k in layers if exact_counter(k) and
                      len({round(r[k], 9) for r in layer_rows}) > 1)
    for k in ("sources.scan_s", "sources.ingest_s", "sources.input_docs",
              "sources.rejected_docs", "sources.serialize_s", "functions.route_s"):
        layers[k] = record["layers"].get(k, 0.0)
    untraced = [r["wall_s"] for r, it in zip(e2e_rows, timed) if not it["traced"]]
    traced_wall = [r["wall_s"] for r, it in zip(e2e_rows, timed) if it["traced"]]
    layers["bench.trace_overhead_s"] = (median(traced_wall) - median(untraced)
                                        if traced_wall and untraced else 0.0)
    layers["bench.unstable_counters"] = len(unstable)
    walls = [r["wall_s"] for r in e2e_rows]
    return e2e, layers, {
        "iterations": len(timed),
        "wall_s_spread": spread(walls),
        "wall_s_tail": tail_percentile(walls),
        "unstable_counters": unstable,
        "exact_counters": {k: v for k, v in layers.items() if exact_counter(k)},
    }


def flag_moved_counters(summary_path, digest, layers, notes):
    """Adds to the unstable counters those that differ from an earlier
    traced run of the same sources, workload and seed."""
    if not os.path.exists(summary_path):
        return
    with open(summary_path) as f:
        before = json.load(f)
    if before["stamp"].get("source_sha256") != digest:
        return
    prev = before["notes"]["exact_counters"]
    moved = {k for k, v in notes["exact_counters"].items()
             if k in prev and round(prev[k], 9) != round(v, 9)}
    notes["unstable_counters"] = sorted(set(notes["unstable_counters"]) | moved)
    layers["bench.unstable_counters"] = len(notes["unstable_counters"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    jar, digest = build.build()
    cores = nproc()
    work = os.path.abspath(os.path.join(".bench_work", a.workload))
    results = os.path.abspath(os.path.join(".bench_work", "results"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    record_path = os.path.join(results, f"{tag}.record.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    code = run_jvm(jar, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                             record_path], work, deadline)
    if code != 0 or not os.path.exists(record_path):
        sys.exit(f"perfbench: harness {'timed out' if code is None else f'exited {code}'}")
    with open(record_path) as f:
        record = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    queries = [m["name"].split(".")[1] for m in spec["per_layer"]
               if m["name"].startswith("ops.") and m["name"].endswith(".wall_s")]
    e2e, layers, notes = summarize(record, cores, queries)
    summary_path = os.path.join(results, f"{tag}.summary.json")
    if a.trace:
        flag_moved_counters(summary_path, digest, layers, notes)
    values = layers if a.trace else e2e
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    # a metric of a layer no successful iteration reached reads 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    stamp = dict(record["stamp"], nproc=cores, git_commit=git_commit(), source_sha256=digest)
    failures = record["failures"]
    correct = record["failed"] == 0 and notes["iterations"] > 0
    summary = {"stamp": stamp, "end_to_end": e2e, "per_layer": layers, "notes": notes,
               "setup_s": record["setup_s"], "warmup_s": record["warmup_s"],
               "failures": failures}
    with open(summary_path, "w") as f:
        json.dump(summary, f, indent=1)
    for msg in failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    if notes["unstable_counters"]:
        print(f"perfbench: exact counters differ between iterations or runs: "
              f"{', '.join(notes['unstable_counters'])}", file=sys.stderr)
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
