#!/usr/bin/env python3
"""CDC replay benchmark.

    python3 cdcbench/run.py --workload replay_bulk|replay_trickle \\
        --seed N --seconds S --trace 0|1

Builds the engine from source (see build.py), runs one workload in a
fresh JVM (Spark `local[4]`), checks the final table state against the
state the generator's own changes imply, and prints two JSON lines: a
detail record (every figure by its name, plus provenance), then the
result line `{"correct", "attempted", "failed", "metrics"}` — the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. A failed correctness gate exits 1; a build or run error
exits 2 without a result line. All files go under the build directory
($CARGO_TARGET_DIR, default `.bench_build`); the run's work directory is
removed at the end, its span trace is kept under `traces/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("replay_bulk", "replay_trickle")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(rec, launch_ms):
    """The user-visible figures of one untraced run."""
    setup = rec["setup"]
    snap = stats.median(rec["snapshot_ms"])
    setup_s = ((rec["session_ready_ms"] - launch_ms) + setup["generate_ms"] + snap +
               setup["warmup_ms"]) / 1000.0
    trigs, files = measured(rec, rec["progress"], rec.get("files"))
    rows = sum(rec["file_rows"][pos - 1] for pos, _ in files)
    busy_ms = rec["drain_ms"] if "drain_ms" in rec else sum(t["ms"] for t in trigs)
    fresh = stats.freshness(files, trigs)
    out = {
        "setup_s": m(setup_s, "s"),
        "snapshot_s": m(snap / 1000.0, "s"),
        "apply_rows_per_s": m(rows / (busy_ms / 1000.0), "rows/s"),
        "batch_ms_p50": m(stats.median(t["ms"] for t in trigs), "ms"),
        "fresh_ms_p50": m(stats.median(fresh), "ms"),
        "heap_peak_mb": m(rec["heap_peak_mb"], "MB"),
    }
    tail = stats.tail_percentile(len(fresh))
    bl = stats.backlog(files, trigs)
    extra = {
        "fresh_ms_tail": {"percentile": tail, "samples": len(fresh),
                          "value": stats.percentile(fresh, tail) if tail else None},
        "fresh_ms": fresh, "batch_ms": [t["ms"] for t in trigs],
        "batches": len(trigs), "rows": rows,
        "backlog": bl, "saturated": bool(rec.get("files")) and stats.saturated(bl),
        "gen_late_ms_max": max([f["placed_ms"] - f["due_ms"] for f in rec.get("files") or []], default=0.0),
        "error_log_lines": rec["error_log_lines"], "error_log_first": rec["error_log_first"],
        "setup_parts_ms": dict(setup, session=rec["session_ready_ms"] - launch_ms,
                               snapshots=rec["snapshot_ms"]),
        "sizes": rec["sizes"],
    }
    return out, extra


def measured(rec, progress, placed):
    """Triggers of the measured phase (after the warm-up files) and the
    files it published, as (1-based spool position, due epoch ms). A
    replay_bulk backlog is due all at once, when the warm-up triggers
    end; replay_trickle files are due on the open-loop schedule, whose
    lead-in files count as warm-up."""
    warm = rec["warm_files"]
    trigs = [t for t in stats.triggers(progress) if t["start_files"] >= warm]
    if placed:
        files = [(f["file"], f["due_ms"]) for f in placed if f["file"] > warm]
    else:
        files = [(p, rec["measure_start_ms"]) for p in range(warm + 1, trigs[-1]["end_files"] + 1)]
    return trigs, files


def per_layer(rec):
    """Layer figures of the traced run; end-to-end figures are never
    taken from it."""
    tr = rec["trace"]
    trigs, _ = measured(rec, tr["progress"], tr.get("files"))
    windows = [(t["start"], t["end"]) for t in trigs]
    jobs = tr["jobs"]

    def per_batch(f):
        return stats.median(f(w, t) for w, t in zip(windows, trigs))

    def jobs_of(w):
        return [j for j in jobs if w[0] <= j["start"] <= w[1]]

    def phase(t, name):
        """Jobs the engine labelled `cdc batch N: <name>…` in trigger t."""
        return [j for j in jobs_of((t["start"], t["end"])) if j["desc"].startswith(f"cdc batch {t['batch']}: {name}")]

    def in_jobs(jobs_, t):
        return stats.union_ms(stats.clip([(j["start"], j["end"]) for j in jobs_], t["start"], t["end"]))

    selfs = stats.self_times(tr["spans"])
    by_batch = {}
    for s in tr["spans"]:
        by_batch.setdefault(s["ref"], {}).setdefault(s["name"], 0.0)
        by_batch[s["ref"]][s["name"]] += selfs[s["id"]]

    def span_med(name):
        return stats.median(v.get(name, 0.0) for ref, v in by_batch.items() if "batch" in v)

    c = tr["counters"]
    ddl = [s["end"] - s["start"] for s in tr["spans"] if s["name"] == "ddl.barrier"]
    execs = tr["executions"]

    def execs_of(w):
        return [e for e in execs if w[0] <= e["start"] <= w[1]]

    trigger_ms = stats.median(t["ms"] for t in trigs)
    if "drain_ms" in tr:
        overhead = stats.overhead_pct(rec["drain_ms"], tr["drain_ms"])
    else:
        overhead = stats.overhead_pct(stats.median(t["ms"] for t in measured(rec, rec["progress"], rec["files"])[0]),
                                      trigger_ms)
    traced_jobs = [j for w in windows for j in jobs_of(w)]
    out = {
        # replay_trickle times its source's offset calls in spans; the
        # parquet file source of replay_bulk has progress durations
        "sources.offset_ms": m(span_med("sources.offset") if any(s["name"] == "sources.offset" for s in tr["spans"])
                               else stats.median(t["durations"].get("latestOffset", 0) +
                                                 t["durations"].get("getBatch", 0) for t in trigs), "ms"),
        "sources.rows_read": m(sum(t["rows"] for t in trigs), "rows"),
        "decode.parse_ms": m(span_med("decode.parse"), "ms"),
        "decode.events_ms": m(span_med("decode.events"), "ms"),
        "decode.rows_in": m(c["rows_in"], "rows"),
        "decode.events_out": m(c["events_out"], "rows"),
        "apply.collapse_ms": m(span_med("apply.collapse"), "ms"),
        "apply.merge_ms": m(span_med("apply.merge"), "ms"),
        "apply.keys_per_event": m(c["keys"] / c["events_out"] if c["events_out"] else 0.0, "ratio"),
        "stream.trigger_ms": m(trigger_ms, "ms"),
        "stream.preamble_ms": m(per_batch(lambda w, t: sum(j["end"] - j["start"] for j in phase(t, "preamble"))), "ms"),
        "stream.stage_ms": m(per_batch(lambda w, t: in_jobs(phase(t, "stage"), t)), "ms"),
        "stream.jobs_per_batch": m(per_batch(lambda w, t: len(jobs_of(w))), "count"),
        "stream.driver_ms_per_batch": m(per_batch(lambda w, t: t["ms"] - stats.union_ms(
            stats.clip([(j["start"], j["end"]) for j in jobs_of(w)], *w))), "ms"),
        "stream.commit_ms": m(span_med("stream.commit"), "ms"),
        "stream.checkpoint_ms": m(stats.median(t["durations"].get("walCommit", 0) +
                                               t["durations"].get("commitOffsets", 0) for t in trigs), "ms"),
        "stream.buckets_touched_ratio": m(stats.median(tr["bucket_ratios"]) if tr["bucket_ratios"] else 0.0, "ratio"),
        "stream.stage_bytes": m(per_batch(lambda w, t: sum(j["out_bytes"] for j in phase(t, "stage"))), "bytes"),
        # the engine's own decode + apply work: its preamble jobs (parse and,
        # on bucketed tables, collapse) and stage jobs (decode, collapse,
        # merge and write, fused), as a share of the trigger
        "stream.decode_apply_share": m(per_batch(lambda w, t: (in_jobs(phase(t, "preamble") + phase(t, "stage"), t)) /
                                                 t["ms"]), "ratio"),
        "ddl.events": m(len(ddl), "count"),
        "ddl.barrier_ms": m(stats.median(ddl), "ms"),
        "snapshot.rows": m(rec["snapshot_rows"], "rows"),
        "snapshot.ms": m(stats.median(rec["snapshot_ms"]), "ms"),
        "snapshot.bytes": m(rec["snapshot_bytes"], "bytes"),
        "queries.executions": m(per_batch(lambda w, t: len(execs_of(w))), "count"),
        "queries.analysis_ms": m(per_batch(lambda w, t: sum(e["analysis_ms"] for e in execs_of(w))), "ms"),
        "queries.optimization_ms": m(per_batch(lambda w, t: sum(e["optimization_ms"] for e in execs_of(w))), "ms"),
        "queries.planning_ms": m(per_batch(lambda w, t: sum(e["planning_ms"] for e in execs_of(w))), "ms"),
        "queries.tasks": m(per_batch(lambda w, t: sum(j["tasks"] for j in jobs_of(w))), "count"),
        "queries.in_job_ms": m(per_batch(lambda w, t: stats.union_ms(
            stats.clip([(j["start"], j["end"]) for j in jobs_of(w)], *w))), "ms"),
        "spark.jobs": m(len(traced_jobs), "count"),
        "spark.tasks": m(sum(j["tasks"] for j in traced_jobs), "count"),
        "spark.task_cpu_ms": m(sum(j["cpu_ms"] for j in traced_jobs), "ms"),
        "spark.gc_ms": m(sum(j["gc_ms"] for j in traced_jobs), "ms"),
        "spark.shuffle_write_bytes": m(sum(j["shuffle_write"] for j in traced_jobs), "bytes"),
        "spark.spill_bytes": m(sum(j["spill"] for j in traced_jobs), "bytes"),
        "spark.error_log_lines": m(rec["error_log_lines"], "count"),
        "harness.trace_overhead_pct": m(overhead, "%"),
    }
    return out


def provenance(rec, args):
    root = build.ROOT
    commit = None
    if (root / ".git").exists():
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return dict(rec["provenance"], nproc=len(os.sched_getaffinity(0)), git_commit=commit,
                source_sha256=build.digest(build.sources()), seed=args.seed, seconds=args.seconds,
                sf_dir="none: inputs are generated from the seed inside the run")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.ensure()
        jars = build.spark_jars()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    out = build.build_dir()
    work = out / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    record = work / "record.json"
    # replay_trickle allocates slowly: under G1's default young-generation
    # sizing one or two collections fall into its measured phase, too few
    # to sample heap_peak_mb. A 256 MB young generation collects about
    # every second there (on replay_bulk it makes the peak jump instead).
    young = ["-Xmn256m"] if args.workload == "replay_trickle" else []
    cmd = ["java", "-Xms2g", "-Xmx2g"] + young + ["-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + \
        ["-cp", f"{classes}:{jars / '*'}", "cdcbench.Main", "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--work", str(work), "--out", str(record)]
    log = work / "jvm.log"
    try:
        launch_ms = time.time() * 1000.0
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=str(work))
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0 or not record.is_file():
            print(f"run: JVM exited with {code}; last log lines:", file=sys.stderr)
            print("".join(log.read_text(errors="replace").splitlines(True)[-40:]), file=sys.stderr)
            return 2
        rec = json.loads(record.read_text())
        checks = rec["checks"]
        bad = [c for c in checks if not c["ok"]]
        e2e, extra = end_to_end(rec, launch_ms)
        layers = per_layer(rec) if args.trace else None
        traces = out / "traces"
        traces.mkdir(exist_ok=True)
        if args.trace:
            (traces / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(
                {"spans": rec["trace"]["spans"], "jobs": rec["trace"]["jobs"],
                 "executions": rec["trace"]["executions"]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = extra["batches"]
    failed = attempted if bad else 0
    detail = {"workload": args.workload, "provenance": provenance(rec, args),
              "metrics": {k: v["value"] for k, v in e2e.items()}, "extra": extra,
              "error_rate": failed / attempted if attempted else 1.0,
              "checks": checks}
    if layers:
        detail["per_layer"] = {k: v["value"] for k, v in layers.items()}
    if extra["saturated"]:
        print("run: the backlog grew across the schedule; the engine is saturated at this "
              "arrival rate and freshness is not a steady-state figure", file=sys.stderr)
    for c in bad:
        print(f"run: correctness check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": layers if args.trace else e2e}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
