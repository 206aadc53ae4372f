#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run, timed from outside the program.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds graft and the harness (see
build.py), runs one workload in one JVM at local[<cores>], and prints as
its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end ones; with
`--trace 1` the run also records one span per timed call, writes the
spans to `.bench_work/spans-<workload>-<seed>.jsonl`, and the metrics are
the per-layer ones derived from that file. The line before the last
holds the workload's own named metrics with units and sample counts.

Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# BENCHMARK.json lists the first two; dedup_ann is run by hand (README.md)
WORKLOADS = ("keyed_churn", "join_agg_chain", "dedup_ann")

END_TO_END = [
    ("setup_s", "s"),
    ("bulk_rows_per_s", "rows/s"),
    ("write_mean_s", "s"),
    ("read_p50_s", "s"),
    ("fresh_mean_s", "s"),
]

STORE_PHASES = ("plan", "planSplit", "planProbe", "write", "stats", "commit", "publish",
                "deleteWrite")
COMMIT_SPANS = ("store.load_chunk", "store.upsert", "store.delete", "streaming.source_commit",
                "ops.ivfpq_upsert", "ops.ivfpq_delete")

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    return statistics.quantiles(xs, n=10)[-1]


def end_to_end(res):
    s, v = res["samples"], res["values"]
    return {
        "setup_s": res["setup_s"],
        "bulk_rows_per_s": v["e2e.bulk_rows"] / v["e2e.bulk_s"],
        "write_mean_s": statistics.fmean(s["e2e.write"]),
        "read_p50_s": median(s["e2e.read"]),
        "fresh_mean_s": statistics.fmean(s["e2e.fresh"]),
    }


def detail(res):
    """The workload's own metrics: name -> (value, unit, samples)."""
    s, v = res["samples"], res["values"]
    d = {}

    def timing(name, key):
        if s.get(key):
            d[name] = (median(s[key]), "s", len(s[key]))

    if res["workload"] == "keyed_churn":
        d["load_rows_per_s"] = (v["e2e.bulk_rows"] / v["e2e.bulk_s"], "rows/s",
                                len(s["store.load_chunk"]))
        d["commit_p50_s"] = (median(s["e2e.write"]), "s", len(s["e2e.write"]))
        timing("point_read_p50_s", "store.point_read")
        if len(s["store.point_read"]) >= 100:
            d["point_read_p90_s"] = (p90(s["store.point_read"]), "s", len(s["store.point_read"]))
        timing("feed_read_p50_s", "store.feed_read")
        d["stored_bytes_per_row"] = (v["live_bytes"] / v["live_rows"], "bytes", 1)
    elif res["workload"] == "join_agg_chain":
        d["freshness_p50_s"] = (median(s["e2e.fresh"]), "s", len(s["e2e.fresh"]))
        d["catchup_rows_per_s"] = (v["e2e.bulk_rows"] / v["e2e.bulk_s"], "rows/s", 1)
    else:
        d["dedup_s"] = (s["ops.minhash_lsh"][0] + s["ops.near_dup_clusters"][0], "s", 1)
        d["ann_build_s"] = (s["ops.ivfpq_build"][0], "s", 1)
        timing("ann_upsert_p50_s", "ops.ivfpq_upsert")
        timing("ann_query_p50_s", "e2e.read")
        d["ann_recall_at_20"] = (v["ann_recall_at_20"], "1", 1)
    d["failed_op_ratio"] = (res["failed"] / res["attempted"], "1", res["attempted"])
    return d


def steal_seconds():
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (the `steal` field of /proc/stat), or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def table_listing(root):
    """(data files, log bytes) summed over every keyed table under `root`."""
    files = log_bytes = 0
    for dirpath, dirnames, _ in os.walk(root):
        if "_log" not in dirnames:
            continue
        for sub, _, fs in os.walk(dirpath):
            rel = os.path.relpath(sub, dirpath).split(os.sep)
            if rel[0] == "_log":
                log_bytes += sum(os.path.getsize(os.path.join(sub, f)) for f in fs)
            elif rel[0] not in ("cdf", "_cdf_pending") and not rel[0].startswith("_"):
                files += sum(1 for f in fs if f.endswith(".parquet"))
        dirnames[:] = []  # a table's own subdirectories hold no further tables
    return files, log_bytes


def per_layer(res, spans, listing):
    s, v = res["samples"], res["values"]
    byid = {sp["id"]: sp for sp in spans}

    def named(*names):
        return [sp for sp in spans if sp["name"] in names]

    def in_wave(sp):
        return sp["parent"] in byid and byid[sp["parent"]]["name"] == "streaming.wave"

    def dur(sp):
        return (sp["end_ns"] - sp["start_ns"]) / 1e9

    def ctr(sps, key):
        return sum(sp["counters"][key] for sp in sps)

    def store_s(sp):
        return sum(t for k, t in sp["phases"].items() if k in STORE_PHASES)

    def per(total, n):
        return total / n if n else 0.0

    def rate(name):
        sp = named(name)
        return per(sum(x["rows"] for x in sp), sum(dur(x) for x in sp))

    waves = named("streaming.wave")
    wave_commits = [sp for sp in named("streaming.source_commit") if in_wave(sp)]
    upserts = named("store.upsert") + wave_commits
    deletes = named("store.delete")
    commits = named(*COMMIT_SPANS)
    changed = [sp for sp in upserts + deletes + named("ops.ivfpq_upsert", "ops.ivfpq_delete")
               if sp["rows"] > 0]
    roots = [sp for sp in spans if sp["parent"] < 0]
    phase = {k[len("phase."):-len(".s")]: x for k, x in v.items()
             if k.startswith("phase.") and k.endswith(".s")}
    ncommit = v.get("phase.commit.n", 0)
    m = {
        "store.upsert_p50_s": median([dur(x) for x in upserts])
        if upserts else median([store_s(x) for x in named("ops.ivfpq_upsert")]),
        "store.delete_p50_s": median([dur(x) for x in deletes])
        if deletes else median([store_s(x) for x in named("ops.ivfpq_delete")]),
    }
    for p in ("plan", "write", "stats", "commit", "deleteWrite"):
        m[f"store.phase.{p}_s_per_commit"] = per(phase.get(p, 0.0), ncommit)
    m.update({
        "store.jobs_per_commit": per(ctr(commits, "jobs"), len(commits)),
        "store.tasks_per_commit": per(ctr(commits, "tasks"), len(commits)),
        "store.bytes_written_per_changed_row":
            per(ctr(changed, "bytes_written"), sum(x["rows"] for x in changed)),
        "store.files_live": listing[0],
        "store.log_bytes": listing[1],
        "store.point_read_rows_scanned_per_row_returned":
            per(ctr(named("store.point_read"), "records_read"), v.get("point_read_rows", 0)),
        "store.time_travel_p50_s": median(s.get("store.time_travel", [])),
        "store.feed_read_p50_s": median(s.get("store.feed_read", [])),
        "store.stored_bytes_per_row": per(v.get("live_bytes", 0), v.get("live_rows", 0)),
        "streaming.source_commit_p50_s": median([dur(x) for x in wave_commits]),
        "streaming.stage.join_p50_s": median(s.get("streaming.stage.join", [])),
        "streaming.stage.agg_p50_s": median(s.get("streaming.stage.agg", [])),
        "streaming.jobs_per_wave": per(ctr(waves, "jobs"), len(waves)),
        "streaming.shuffle_bytes_per_wave": per(ctr(waves, "shuffle_write_bytes"), len(waves)),
        "streaming.phase.downgrade_s_per_wave": per(sum(
            x["phases"].get("downgrade", 0.0) + x["phases"].get("downgradeMerge", 0.0)
            for x in waves), len(waves)),
        "streaming.out_change_rows_per_source_row":
            per(v.get("out_change_rows", 0), v.get("source_change_rows", 0)),
        "streaming.catchup_s": median(s.get("streaming.catchup", [])),
        "ops.minhash_lsh_s": median(s.get("ops.minhash_lsh", [])),
        "ops.near_dup_clusters_s": median(s.get("ops.near_dup_clusters", [])),
        "ops.ivfpq_build_s": median(s.get("ops.ivfpq_build", [])),
        "ops.ivfpq_upsert_p50_s": median(s.get("ops.ivfpq_upsert", [])),
        "ops.ivfpq_delete_s": median(s.get("ops.ivfpq_delete", [])),
        "ops.ivfpq_query_jobs": median([x["counters"]["jobs"] for x in named("ops.ivfpq_query")]),
        "ops.ann_recall_at_20": v.get("ann_recall_at_20", 0.0),
        "functions.shingles_rows_per_s": rate("functions.shingles"),
        "functions.minhash_rows_per_s": rate("functions.minhash"),
        "functions.argmin_l2_rows_per_s": rate("functions.argmin_l2"),
        "spark.task_cpu_s": ctr(roots, "cpu_ns") / 1e9,
        "spark.jvm_gc_s": v["spark.jvm_gc_s"],
        "spark.spill_bytes": ctr(roots, "spill_bytes"),
        "jvm.heap_peak_mb": v["jvm.heap_peak_mb"],
        "jvm.jit_compile_s": v["jit_s_timed"],
        "spark.persistent_rdds_left": v["spark.persistent_rdds_left"],
        "spark.conf_keys_changed": v["spark.conf_keys_changed"],
    })
    # the end-to-end metrics as measured with tracing on: their ratio to an
    # untraced run of the same seed is the tracing overhead
    for k, x in end_to_end(res).items():
        m[f"traced.{k}"] = x
    return m


# Per-layer metrics of the workloads BENCHMARK.json lists. A metric of a
# layer a workload does not call reads 0 on that workload.
PER_LAYER_UNITS = {
    "store.upsert_p50_s": "s", "store.delete_p50_s": "s",
    "store.phase.plan_s_per_commit": "s", "store.phase.write_s_per_commit": "s",
    "store.phase.stats_s_per_commit": "s", "store.phase.commit_s_per_commit": "s",
    "store.phase.deleteWrite_s_per_commit": "s",
    "store.jobs_per_commit": "count", "store.tasks_per_commit": "count",
    "store.bytes_written_per_changed_row": "bytes", "store.files_live": "count",
    "store.log_bytes": "bytes", "store.point_read_rows_scanned_per_row_returned": "1",
    "store.time_travel_p50_s": "s", "store.feed_read_p50_s": "s",
    "store.stored_bytes_per_row": "bytes",
    "streaming.source_commit_p50_s": "s", "streaming.stage.join_p50_s": "s",
    "streaming.stage.agg_p50_s": "s", "streaming.jobs_per_wave": "count",
    "streaming.shuffle_bytes_per_wave": "bytes", "streaming.phase.downgrade_s_per_wave": "s",
    "streaming.out_change_rows_per_source_row": "1", "streaming.catchup_s": "s",
    "spark.task_cpu_s": "s", "spark.jvm_gc_s": "s", "spark.spill_bytes": "bytes",
    "jvm.heap_peak_mb": "MB", "jvm.jit_compile_s": "s", "spark.persistent_rdds_left": "count",
    "spark.conf_keys_changed": "count",
}
PER_LAYER_UNITS.update({f"traced.{k}": u for k, u in END_TO_END})

# Added for dedup_ann, the workload that calls `ops` and `functions`.
OPS_LAYER_UNITS = {
    "ops.minhash_lsh_s": "s", "ops.near_dup_clusters_s": "s", "ops.ivfpq_build_s": "s",
    "ops.ivfpq_upsert_p50_s": "s", "ops.ivfpq_delete_s": "s", "ops.ivfpq_query_jobs": "count",
    "ops.ann_recall_at_20": "1",
    "functions.shingles_rows_per_s": "rows/s", "functions.minhash_rows_per_s": "rows/s",
    "functions.argmin_l2_rows_per_s": "rows/s",
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--timeout", type=float, default=150,
                    help="seconds before the JVM is killed; raise it for --cores 1")
    args = ap.parse_args()

    classpath = build.build()
    root = os.path.abspath(".bench_work")
    work = os.path.join(root, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    spans_path = os.path.join(root, f"spans-{args.workload}-{args.seed}.jsonl")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC"] + JAVA_OPTS +
           ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(args.cores), "--work", work, "--out", out, "--spans", spans_path])
    steal0 = steal_seconds()
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    timeout=args.timeout).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as log:
                sys.stderr.write(log.read()[-6000:])
            sys.exit(f"benchmark JVM failed: {rc}")
        with open(out) as fh:
            res = json.load(fh)
        listing = table_listing(os.path.join(work, "run"))
        steal1 = steal_seconds()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        with open(spans_path) as fh:
            spans = [json.loads(line) for line in fh]
        values = per_layer(res, spans, listing)
        units = dict(PER_LAYER_UNITS)
        if args.workload == "dedup_ann":
            units.update(OPS_LAYER_UNITS)
    else:
        values = end_to_end(res)
        units = dict(END_TO_END)
    print(json.dumps({"workload": res["workload"], "seed": res["seed"],
                      "setup": {k: res[k] for k in ("session_s", "warmup_s", "prepare_s")},
                      "settle_s": res["values"]["settle_s"],
                      "host_steal_s": None if steal0 is None else steal1 - steal0,
                      "jit_s_timed": res["values"]["jit_s_timed"],
                      "warmup_calls_s": {k[len("warmup."):]: x for k, x in res["values"].items()
                                         if k.startswith("warmup.")},
                      "detail": {k: {"value": x, "unit": u, "n": n}
                                 for k, (x, u, n) in detail(res).items()},
                      "samples": {k: x for k, x in res["samples"].items() if k.startswith("e2e.")},
                      "failures": res["failures"]}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
