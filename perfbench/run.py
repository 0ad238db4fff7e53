#!/usr/bin/env python3
"""graft benchmark: runs one workload, checks its outputs, prints metrics.

    python3 perfbench/run.py --cpus 4 --rate 200 \\
        --workload ingest|curation --seed N --seconds S --trace 0|1

Run from the repository root. The program (src/main/scala) and the
harness (perfbench/harness) are compiled into the build directory on
first use (see build.py). Every run prints, as its last stdout line, one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The raw run
log, the span file (traced runs) and a summary stay in
<build dir>/perfbench/runs/<workload>-seed<N>-trace<T>/. The exit code is
non-zero when any output check fails. METRICS.md describes every metric.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

# The closed-loop query list: one query per graft.api operator family
# that fits one run (METRICS.md, "Workloads").
CURATION = [
    "q_dedup_clusters",  # api.TextDedup: MinHash/LSH, Ckpt, Par.adaptiveParts
    "q_ann_join",        # api.Similarity, functions.VectorExprs
    "q_pagerank",        # api.Graph: iterative, checkpointed rounds
]
WORKLOADS = {
    "ingest": {"kind": "ingest"},
    "curation": {"kind": "queries", "scale": "sf0.01", "queries": CURATION},
}
# ingest sizes: each of ROUNDS rounds drains a backlog in a few
# admission-capped triggers, then runs a steady segment of seconds / ROUNDS
BACKLOG, ROUNDS, MAX_PER_TRIGGER = 4000, 3, 2000

END_TO_END = {"setup_s": "s", "pass_s": "s", "lag_p50_ms": "ms", "lag_p99_ms": "ms",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "arrivals.latest_offset_ms": "ms", "arrivals.plan_partitions_ms": "ms",
    "arrivals.commit_ms": "ms", "arrivals.listing_calls": "count",
    "arrivals.pending_files_max": "count", "arrivals.rename_failures": "count",
    "arrivals.order_inversions": "count",
    "trigger.count": "count", "trigger.query_planning_ms": "ms",
    "trigger.wal_commit_ms": "ms", "trigger.get_batch_ms": "ms",
    "trigger.add_batch_ms": "ms", "trigger.execution_ms_p50": "ms",
    "trigger.execution_ms_p99": "ms",
    "dedup.state_rows": "count", "dedup.state_bytes": "bytes",
    "dedup.state_commit_ms": "ms", "dedup.rows_in": "count", "dedup.rows_out": "count",
    "gen.late_ms_p99": "ms",
    "api.build_s": "s", "api.build_jobs": "count", "ckpt.persisted_rdds": "count",
    "sql.plan_s": "s", "exec.s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.core_util": "ratio", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "box.canary_ms_before": "ms", "box.canary_ms_after": "ms",
    "box.loadavg_before": "load", "box.loadavg_after": "load", "box.steal_pct": "%",
}

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:CompileThresholdScaling=0.2", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # no performance-data file in the system temporary directory
    "-XX:-UsePerfData"]


def loadavg():
    return float(Path("/proc/loadavg").read_text().split()[0])


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f)


def launch(cp, run_dir, args, timeout):
    """Runs one harness JVM; returns its run log and spans (or [])."""
    log = run_dir / "jvm.log"
    # Spark's scratch space, native libraries and other temporary files go
    # under the run's own directory, inside the checkout
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp), "graftbench.Main",
           "--out", str(run_dir), *[str(a) for a in args]]
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        tail = log.read_text(errors="replace").splitlines()[-25:]
        sys.exit(f"harness JVM failed ({rc}); last lines of {log}:\n" + "\n".join(tail))
    spans = run_dir / "spans.json"
    return (json.loads((run_dir / "run.json").read_text()),
            json.loads(spans.read_text()) if spans.exists() else [])


def spark_layer(counters, wall_s, cores):
    """spark.* metrics summed over every counter tag (the counters only
    cover the timed region)."""
    tot = defaultdict(int)
    for c in counters.values():
        for k, v in c.items():
            tot[k] += v
    return {
        "spark.jobs": tot["jobs"], "spark.stages": tot["stages"], "spark.tasks": tot["tasks"],
        "spark.core_util": metrics.core_util(tot["run_ms"], wall_s, cores),
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9, "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
    }


def run_queries(cfg, args, cp, run_dir, work):
    data = inputs.seeded_tables(HERE / "fixtures" / cfg["scale"], args.seed, work / "data")
    log, spans = launch(cp, run_dir, [
        "--kind", "queries", "--data", data, "--queries", ",".join(cfg["queries"]),
        "--seconds", args.seconds, "--cpus", args.cpus, "--trace", args.trace], 170)

    # -- output checks: each query's reference result against DuckDB; every
    # later run of the query against the reference (done in the JVM) --
    sql = json.loads((run_dir / "oracle_sql.json").read_text())
    answers = inputs.oracle_answers(data, cfg["queries"], sql, work / "oracle")
    problems = [f"{r['query']} pass {r['pass']}: {r['error']}" for r in log["runs"] if not r["ok"]]
    for q in cfg["queries"]:
        got = inputs.read_result(run_dir / "results" / q)
        diff = "no result" if got is None else inputs.compare(got, answers[q])
        if diff:
            problems.append(f"{q}: {diff}")
    attempted = len(log["runs"]) + len(cfg["queries"])

    # each query's fastest timed run: time a shared machine's neighbours
    # add to a run is noise, never the code's cost. A pass is the sum.
    timed = [r for r in log["runs"] if r["pass"] > 0]
    lat_ms = [1e3 * min(r["wall_s"] for r in timed if r["query"] == q) for q in cfg["queries"]]
    p50, n = metrics.percentile(lat_ms, 50)
    p99, _ = metrics.percentile(lat_ms, 99)
    e2e = {"setup_s": log["setup_s"], "pass_s": sum(lat_ms) / 1e3,
           "lag_p50_ms": p50, "lag_p99_ms": p99, "peak_rss_mb": log["peak_rss_mb"]}
    samples = {"pass_s": len(log["pass_s"]), "lag_ms": n}

    def per_pass(f):
        return statistics.median(sum(f(r) for r in timed if r["pass"] == p)
                                 for p in range(1, len(log["pass_s"]) + 1))
    counters = log["counters"]
    layer = {
        "api.build_s": per_pass(lambda r: r["build_s"]),
        "api.build_jobs": per_pass(lambda r: counters.get(f"{r['pass']}/{r['query']}/build",
                                                          {}).get("jobs", 0)),
        "ckpt.persisted_rdds": per_pass(lambda r: r["persisted_rdds"]),
        "sql.plan_s": per_pass(lambda r: r["plan_s"]),
        "exec.s": per_pass(lambda r: r["exec_s"]),
    }
    passes = len(log["pass_s"])
    sp = spark_layer(counters, sum(log["pass_s"]), log["cores"])
    layer.update({k: (v / passes if k != "spark.core_util" else v) for k, v in sp.items()})
    n_failed = len(problems)
    return problems, n_failed, attempted, e2e, layer, samples, spans


def run_ingest(args, cp, run_dir):
    log, spans = launch(cp, run_dir, [
        "--kind", "ingest", "--seed", args.seed, "--backlog", BACKLOG, "--rounds", ROUNDS,
        "--max-per-trigger", MAX_PER_TRIGGER, "--rate", args.rate,
        "--seconds", args.seconds, "--cpus", args.cpus, "--trace", args.trace], 170)
    deliveries, batches, progress = log["deliveries"], log["batches"], log["progress"]
    drains, segments = log["drains"], log["segments"]
    seg_q = {s["query"] for s in segments}

    # -- output checks; a delivery fails if it was not emitted, its record's
    # election is wrong, or its file was not renamed. Keep-min must hold
    # for records written before their stream started; see METRICS.md,
    # "Output checks", for steady-phase order inversions --
    emit, problems = metrics.map_deliveries(deliveries, batches)
    drain_fps = {metrics.fingerprint(d["record"]) for d in deliveries if d["phase"] == "drain"}
    wrong, inversions = metrics.election_problems(deliveries, batches, drain_fps.__contains__)
    problems += list(wrong.values())
    root = run_dir / "ingest"
    done = {n[:-len(".COMPLETED")] for d in os.listdir(root) if not d.endswith("ckpt")
            for n in os.listdir(root / d) if n.endswith(".COMPLETED")}
    # the run's files are throwaway; keep the build directory small
    shutil.rmtree(root, ignore_errors=True)
    unrenamed = [d["seq"] for d in deliveries
                 if f"w_{d['seq']:08d}_r{d['record']:08d}.txt" not in done]
    if unrenamed:
        problems.append(f"{len(unrenamed)} files not renamed .COMPLETED, first seq {unrenamed[0]}")
    failed = {d["seq"] for d in deliveries
              if d["seq"] not in emit or metrics.fingerprint(d["record"]) in wrong}
    failed |= set(unrenamed)
    offered = sum(p["input_rows"] for p in progress)
    # the source's counters are per query: take each query's last report
    last = {p["query"]: p["source"] for p in progress}
    if len(last) != len(drains) + len(segments):
        problems.append(f"progress reported for {len(last)} of "
                        f"{len(drains) + len(segments)} queries")
    source_total = lambda k: sum(int(m.get(k, 0)) for m in last.values())  # noqa: E731
    # a query that reports no rename counter counts as one failure
    renames_failed = sum(int(m.get("renameFailures", 1)) for m in last.values())
    if offered != len(deliveries):
        problems.append(f"source offered {offered} rows, generator wrote {len(deliveries)}")
    if renames_failed:
        problems.append(f"renameFailures = {renames_failed}")
    n_failed = len(failed) + abs(offered - len(deliveries)) + renames_failed
    attempted = len(deliveries)

    # per round: the drain's time, and the segment's lag percentiles over
    # its open-loop deliveries, each from its scheduled write to the sink
    # emitting it. A metric is the median round's: a burst of load from
    # elsewhere on the machine that slows one round moves it little
    drain_s = [(d["end_ms"] - d["start_ms"]) / 1e3 for d in drains]
    steady_d = [d for d in deliveries if d["phase"] == "steady"]
    seg_lags = [[emit[d["seq"]] - d["sched_ms"] for d in steady_d
                 if d["query"] == q and d["seq"] in emit] for q in sorted(seg_q)]
    seg_p50 = [metrics.percentile(x, 50)[0] for x in seg_lags]
    seg_p99 = [metrics.percentile(x, 99)[0] for x in seg_lags]
    e2e = {"setup_s": log["setup_s"], "pass_s": statistics.median(drain_s),
           "lag_p50_ms": statistics.median(seg_p50), "lag_p99_ms": statistics.median(seg_p99),
           "peak_rss_mb": log["peak_rss_mb"]}
    samples = {"lag_ms_per_segment": [len(x) for x in seg_lags], "drain_s": drain_s,
               "segment_p50_ms": seg_p50, "segment_p99_ms": seg_p99,
               "backlog_files": BACKLOG, "files_per_s": BACKLOG / e2e["pass_s"],
               "order_inversions": len(inversions)}

    metrics.adopt(spans, lambda s: s["name"] == "job" or s["name"].startswith("arrivals."),
                  lambda s: s["group"].startswith("trigger-"))
    seg_start = {s["query"]: s["start_ms"] for s in segments}
    steady_p = [p for p in progress if p["query"] in seg_q
                and p["start_ms"] >= seg_start[p["query"]] and p["input_rows"] > 0]
    dur = lambda k: [p["duration_ms"].get(k, 0) for p in steady_p]  # noqa: E731
    in_drain = lambda s: any(d["start_ms"] * 1e6 <= s["startNs"] < d["end_ms"] * 1e6  # noqa: E731
                             for d in drains)
    # source call time per drain
    src_ms = lambda name: sum((s["endNs"] - s["startNs"]) / 1e6  # noqa: E731
                              for s in spans if s["name"] == f"arrivals.{name}"
                              and in_drain(s)) / len(drains)
    med = lambda xs: statistics.median(xs) if xs else 0  # noqa: E731
    # state of the last segment's query when it ended
    steady_last = [p for p in progress if p["query"] == max(seg_q)][-1:]
    layer = {
        "arrivals.latest_offset_ms": src_ms("latestOffset"),
        "arrivals.plan_partitions_ms": src_ms("planInputPartitions"),
        "arrivals.commit_ms": src_ms("commit"),
        "arrivals.listing_calls": source_total("listingCalls"),
        "arrivals.pending_files_max": max((int(p["source"].get("pendingFiles", 0))
                                           for p in steady_p), default=0),
        "arrivals.rename_failures": renames_failed,
        "arrivals.order_inversions": len(inversions),
        "trigger.count": len(steady_p),
        "trigger.query_planning_ms": med(dur("queryPlanning")),
        "trigger.wal_commit_ms": med(dur("walCommit")),
        "trigger.get_batch_ms": med(dur("getBatch")),
        "trigger.add_batch_ms": med(dur("addBatch")),
        "trigger.execution_ms_p50": metrics.percentile(dur("triggerExecution") or [0], 50)[0],
        "trigger.execution_ms_p99": metrics.percentile(dur("triggerExecution") or [0], 99)[0],
        "dedup.state_rows": sum(p["state_rows"] for p in steady_last),
        "dedup.state_bytes": sum(p["state_bytes"] for p in steady_last),
        "dedup.state_commit_ms": med([p["state_commit_ms"] for p in steady_p]),
        "dedup.rows_in": offered,
        "dedup.rows_out": sum(len(b["rows"]) for b in batches),
        "gen.late_ms_p99": metrics.percentile(
            [d["written_ms"] - d["sched_ms"] for d in steady_d] or [0], 99)[0],
    }
    wall = sum(drain_s) + sum(s["end_ms"] - s["start_ms"] for s in segments) / 1e3
    layer.update(spark_layer(log["counters"], wall, log["cores"]))
    return problems, n_failed, attempted, e2e, layer, samples, spans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True,
                    help="Spark master width and shuffle partitions")
    ap.add_argument("--rate", type=float, required=True,
                    help="ingest steady-phase arrival rate, deliveries per second")
    args = ap.parse_args()
    if not (Path("src/main/scala").is_dir() and Path("perfbench").is_dir()):
        sys.exit("run from the repository root: src/main/scala not found")

    cfg = WORKLOADS[args.workload]
    work = build.build_dir() / "perfbench"
    cp = build.build()
    run_dir = work / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    load_before, jiffies_before = loadavg(), cpu_jiffies()
    if cfg["kind"] == "ingest":
        out = run_ingest(args, cp, run_dir)
    else:
        out = run_queries(cfg, args, cp, run_dir, work)
    problems, n_failed, attempted, e2e, layer, samples, spans = out
    # a layer the workload does not cross reads 0
    layer = {k: 0 for k in PER_LAYER} | layer
    log = json.loads((run_dir / "run.json").read_text())
    layer.update({"box.canary_ms_before": log["canary_ms"][0],
                  "box.canary_ms_after": log["canary_ms"][1],
                  "box.loadavg_before": load_before, "box.loadavg_after": loadavg()})
    steal, total = (a - b for a, b in zip(cpu_jiffies(), jiffies_before))
    layer["box.steal_pct"] = 100.0 * steal / max(total, 1)

    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "end_to_end": e2e, "per_layer": layer, "samples": samples,
               "problems": problems[:50], "at": time.time()}
    if spans:
        (run_dir / "spans.json").write_text(json.dumps(spans))
        selft = metrics.self_times(spans)
        by_name = defaultdict(float)
        for s in spans:
            by_name[s["name"]] += selft[s["id"]] / 1e6
        summary["self_time_ms"] = dict(sorted(by_name.items(), key=lambda kv: -kv[1]))
        untraced = work / "runs" / f"{args.workload}-seed{args.seed}-trace0" / "summary.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            summary["tracing_overhead"] = {k: e2e[k] / base[k] - 1 for k in base if base[k]}
    (run_dir / "summary.json").write_text(json.dumps(summary, indent=1))

    for p in problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    print(f"{args.workload} seed {args.seed}: " + ", ".join(
        f"{k}={v:.4g}" for k, v in e2e.items()) + f"; samples {samples}; box canary "
        f"{log['canary_ms']} ms, load {load_before:.2f}, steal {layer['box.steal_pct']:.1f}%; run dir {run_dir}", file=sys.stderr)
    if "tracing_overhead" in summary:
        print("tracing overhead vs the untraced run of this seed: " + ", ".join(
            f"{k} {v:+.1%}" for k, v in summary["tracing_overhead"].items()), file=sys.stderr)

    chosen, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": n_failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units}}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
