#!/usr/bin/env python3
"""One benchmark invocation: build, generate the seed's inputs, run the
JVM half for one workload, check every output, print the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics` — the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Everything else
(all end-to-end figures with units, the Calibration readings, self times,
tracing overhead) is printed above it and written to
`.bench_build/reports/`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = sorted(gen.WORKLOADS)
DEADLINE_S = 170  # the whole invocation, build excluded

# per-layer metrics: every layer reports these fields on every workload
# (zero where the workload does not call the layer)
LAYERS = [
    "sources.Ingest.eventsTyped",
    "operators.Quality.filterSizeAndObservations",
    "operators.Movement.features",
    "operators.TimeSeries.elevation",
    "operators.TimeSeries.haarEnergies",
    "Pipeline.full",
    "operators.TrackAssignment.nearestTracksByVideo",
    "operators.LapLink.gapClose",
    "operators.Quality.trackLengthHistogram",
    "operators.Quality.duplicates",
    "operators.Quality.cellsPerFrame",
    "text.Bm25Index.build",
    "text.Bm25Index.append",
    "text.Bm25Index.compact",
    "text.Bm25Index.retire",
    "text.Bm25Index.topK",
    "vector.NnDescent.build",
    "vector.NnDescent.insert",
    "vector.GraphSearch.topK",
]
FIELDS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
          ("task_s", "s"), ("shuffle_mb", "MB"), ("idle_slot_s", "s")]
EXTRAS = [
    ("operators.Quality.filterSizeAndObservations.keep_ratio", "ratio"),
    ("operators.TrackAssignment.nearestTracksByVideo.tracks_out", "count"),
    ("text.Bm25Index.append.written_mb", "MB"),
    ("text.Bm25Index.compact.rewritten_mb", "MB"),
    ("vector.GraphSearch.topK.hops", "count"),
    ("spark.failed_tasks", "count"),
]
# the registry oracle that checks each part's reference output, and
# where in the work directory that output lands
ORACLES = {"cellphe_features": ("q_pipeline_e2e", "runs/warm1/features"),
           "cellphe_tracking": ("q_link_track", "oracle/link_track"),
           "store_lifecycle": ("q_bm25c", "oracle/bm25c")}
STAGED = LAYERS[:5] + ["Pipeline.staged_join"]  # the traced-only staged chain
# the end-to-end metrics of the JSON result; the other figures are printed
GATED = ["setup_s", "run_per_box"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """The p-th percentile, or None unless at least ten samples lie
    beyond it."""
    if not xs or len(xs) * min(p, 1 - p) < 10:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[round(p * 100) - 1]


def run_jvm(classes, workload, data_dir, meta, work, seconds, trace, deadline):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [a for p in build.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [build.java()] + opens + [
        # no hsperfdata file in the system temp dir: writes stay in the checkout
        "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}",
        "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.PerfBench",
        workload, data_dir, work, str(seconds), str(trace), str(cpus())]
    p = meta["params"]
    if "cellphe_features" in p:
        cmd.append(f"features_rows={meta['sizes']['cellphe_features']['rows']}")
    if "store_lifecycle" in p:
        cmd += [f"appends={p['store_lifecycle']['appends']}",
                f"buckets={p['store_lifecycle']['buckets']}"]
    if "knn_graph" in p:
        cmd.append(f"insert_every={p['knn_graph']['insert_every']}")
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = None
    finally:
        log.close()
    return rc


def hash_checks(work, jvm):
    """Every run's tables must hash equal to the first warm-up run's;
    the traced staged chain must equal the fused one."""
    runs_dir = os.path.join(work, "runs")
    ref = check.run_hashes(os.path.join(runs_dir, "warm1"))
    problems = []
    for r in jvm["runs"]:
        tag = r["tag"]
        if not r["ok"]:
            problems.append(f"{tag}: run failed")
            continue
        got = check.run_hashes(os.path.join(runs_dir, tag))
        if "features_staged" in got:
            if got.pop("features_staged") != got.get("features"):
                problems.append(f"{tag}: staged chain differs from Pipeline.full")
        if not ref or got != ref:
            diff = sorted(k for k in set(ref) | set(got) if ref.get(k) != got.get(k))
            problems.append(f"{tag}: output hash differs from warm1 in {diff}")
    return len(jvm["runs"]), problems


def reference_checks(parts, work, data_dir, jvm, out):
    """Once per invocation: registry oracle SQL on the generated tables,
    and brute-force cosine for the K-NN search."""
    problems = []
    for part in parts:
        try:
            if part in ORACLES:
                q, rel = ORACLES[part]
                why = check.oracle(jvm["oracle_sql"][q], os.path.join(data_dir, part),
                                   pd.read_parquet(os.path.join(work, rel)))
                if why:
                    problems.append(f"{q} oracle: {why}")
            else:
                found = pd.read_parquet(os.path.join(work, "runs", "warm1", "search"))
                recall, sim_err = check.knn_recall(os.path.join(data_dir, part), found)
                # recall is a quality figure of an approximate index, not
                # a check; a similarity off the exact cosine is a wrong answer
                out["recall_at_10"] = recall
                if sim_err > 1e-5:
                    problems.append(f"similarity off brute-force cosine by {sim_err:.2e}")
        except Exception as e:  # a reference that cannot run is a failure
            problems.append(f"{part} reference check: {type(e).__name__}: {e}")
    return len(parts), problems


def end_to_end(jvm, meta, extra):
    """All end-to-end figures of the workload: (name, value, unit)."""
    runs = [r for r in jvm["runs"] if r["tag"].startswith("r") and r["ok"]]
    timed = jvm["run_s"]
    calls = {}
    for r in runs:
        for k, v in r["calls"].items():
            calls.setdefault(k, []).extend(v)
    rows = [
        ("setup_s", jvm["setup_s"], "s"),
        ("run_s", median(timed), "s"),
        ("run_s.p25", percentile(timed, 0.25), "s"),
        ("run_s.p75", percentile(timed, 0.75), "s"),
        ("run_s.n", len(timed), "count"),
        ("box_s", median([median(r["box_jobs_s"]) for r in runs]), "s"),
        ("run_per_box", median([r["wall_s"] / median(r["box_jobs_s"]) for r in runs]),
         "ratio"),
        ("rows_per_s", meta["rows"] * len(timed) / sum(timed), "1/s"),
        ("fail_frac", extra["fail_frac"], "ratio"),
        ("peak_rss_mb", jvm["peak_rss_mb"], "MB"),
    ]
    if "store_lifecycle" in meta["sizes"]:
        serve = [1e3 * x for x in calls.get("text.Bm25Index.topK", [])]
        last = runs[-1]["extras"] if runs else {}
        rows += [
            ("append_s", median(calls.get("text.Bm25Index.append", [])), "s"),
            ("compact_s", median(calls.get("text.Bm25Index.compact", [])), "s"),
            ("serve_p50_ms", median(serve), "ms"),
            ("serve_p95_ms", percentile(serve, 0.95), "ms"),
            ("serve.n", len(serve), "count"),
            ("store_bytes_per_input_byte",
             last.get("store_bytes", 0) / meta["sizes"]["store_lifecycle"]["text_bytes"],
             "ratio"),
        ]
    if "knn_graph" in meta["sizes"]:
        rows += [
            ("build_s", median(calls.get("vector.NnDescent.build", [])), "s"),
            ("search_p50_ms",
             median([1e3 * x for x in calls.get("vector.GraphSearch.topK", [])]), "ms"),
            ("recall_at_10", extra.get("recall_at_10"), "ratio"),
        ]
    return rows


def per_layer(jvm, work, nproc):
    """The 120 per-layer metrics of the traced run, plus the share of the
    run's executor task time the layers account for."""
    t = jvm["traced"]
    layers = t["layers"]
    out = {}
    covered = 0.0
    for layer in LAYERS:
        wall, jobs, tasks, task_s, shuffle = layers.get(layer, [0.0] * 5)
        covered += task_s
        vals = dict(wall_s=wall, jobs=jobs, tasks=tasks, task_s=task_s,
                    shuffle_mb=shuffle,
                    idle_slot_s=(wall * nproc - task_s) if wall else 0.0)
        for f, unit in FIELDS:
            out[f"{layer}.{f}"] = (vals[f], unit)
    ex = t["extras"]
    tracks_out = 0
    tl = os.path.join(work, "runs", "traced", "track_lengths")
    if os.path.isdir(tl):
        df = pd.read_parquet(tl)
        tracks_out = int(df.loc[df.filter_state == "raw", "n_tracks"].sum())
    keep = ex["filter_rows_out"] / ex["filter_rows_in"] if ex.get("filter_rows_in") else 0.0
    vals = [keep, tracks_out, ex.get("written_mb", 0.0),
            ex.get("rewritten_mb", 0.0), ex.get("hops", 0.0), t["failed_tasks"]]
    for (name, unit), v in zip(EXTRAS, vals):
        out[name] = (v, unit)
    coverage = covered / t["total_task_s"] if t["total_task_s"] else 1.0
    return out, coverage


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + DEADLINE_S
    data_dir, meta = gen.generate(args.workload, args.seed,
                                  os.path.join(root, ".bench_build", "data"))
    work = os.path.join(root, ".bench_build", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return report(args, root, classes, data_dir, meta, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, root, classes, data_dir, meta, work, deadline):
    rc = run_jvm(classes, args.workload, data_dir, meta, work, args.seconds, args.trace,
                 deadline - 20)
    jvm_json = os.path.join(work, "jvm.json")
    if rc != 0 or not os.path.exists(jvm_json):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"benchmark JVM failed (exit {rc})", file=sys.stderr)
        return 3
    with open(jvm_json) as f:
        jvm = json.load(f)
    extra = {}
    n_runs, problems = hash_checks(work, jvm)
    n_ref, ref_problems = reference_checks(gen.WORKLOADS[args.workload], work, data_dir,
                                           jvm, extra)
    problems += ref_problems + [f"JVM: {e}" for e in jvm["errors"]]
    attempted = n_runs + n_ref
    failed = min(len(problems), attempted)
    extra["fail_frac"] = failed / attempted
    e2e = end_to_end(jvm, meta, extra)

    report = dict(workload=args.workload, seed=args.seed, trace=args.trace,
                  sizes=meta["sizes"], params=meta["params"],
                  calibration=dict(before_s=jvm["cal_before_s"],
                                   after_s=jvm["cal_after_s"]),
                  run_samples_s=jvm["run_s"],
                  runs={r["tag"]: dict(wall_s=r["wall_s"], calls=r["calls"])
                        for r in jvm["runs"]},
                  end_to_end={n: dict(value=v, unit=u) for n, v, u in e2e},
                  problems=problems)
    print(f"# {args.workload} seed={args.seed} inputs={json.dumps(meta['sizes'])}")
    for n, v, u in e2e:
        shown = "n/a (fewer than ten samples beyond it)" if v is None else f"{v:.6g} {u}"
        print(f"{n:28s} {shown}")
    if args.trace:
        print(f"{'calibration':28s} graft.Calibration.timed before={jvm['cal_before_s']:.3f} s "
              f"after={jvm['cal_after_s']:.3f} s (box-load record, not a metric)")
    for p in problems:
        print(f"CHECK FAILED: {p}")

    metrics = {}
    if args.trace:
        layer_metrics, coverage = per_layer(jvm, work, jvm["cpus"])
        t = jvm["traced"]
        by_tag = {r["tag"]: r["calls"] for r in jvm["runs"]}
        pre, traced = by_tag.get("r1", {}), by_tag.get("traced", {})
        # tracing overhead over the calls both the first timed run and the
        # traced run make: the staged feature chain only a traced run
        # executes stays out of it
        untraced_s = sum(sum(v) for v in pre.values())
        traced_s = sum(sum(traced.get(k, [])) for k in pre)
        report["tracing_overhead_s"] = traced_s - untraced_s
        print(f"{'tracing_overhead_s':28s} {traced_s - untraced_s:.4f} s "
              f"(traced calls {traced_s:.4f} s against untraced {untraced_s:.4f} s)")
        if "Pipeline.staged_join" in t["layers"]:
            staged = sum(t["layers"].get(k, [0.0])[0] for k in STAGED)
            fused = t["layers"]["Pipeline.full"][0]
            report["staged_sum_s"] = staged
            report["staged_minus_fused_s"] = staged - fused
            print(f"{'staged_sum_s':28s} {staged:.4f} s (fused Pipeline.full {fused:.4f} s)")
        report["task_s_coverage"] = coverage
        with open(os.path.join(work, "spans.json")) as f:
            report["spans"] = json.load(f)
        print(f"{'task_s_coverage':28s} {coverage:.4f} of "
              f"{t['total_task_s']:.3f} s executor task time")
        if coverage < 0.9:
            problems.append(f"per-layer task_s covers {coverage:.3f} < 0.9 of task time")
            print(f"CHECK FAILED: {problems[-1]}")
            failed = min(failed + 1, attempted)
        metrics = {n: dict(value=v, unit=u) for n, (v, u) in layer_metrics.items()}
        report["per_layer"] = metrics
    else:
        metrics = {n: dict(value=v, unit=u) for n, v, u in e2e if n in GATED}

    reports = os.path.join(root, ".bench_build", "reports")
    os.makedirs(reports, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(reports, name), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(dict(correct=failed == 0, attempted=attempted, failed=failed,
                          metrics=metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
