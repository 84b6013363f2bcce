#!/usr/bin/env python3
"""Pipeline benchmark: one workload per run against the unmodified library.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the library and the
benchmark's driver with sbt (offline); later runs reuse the build while the
sources are unchanged. Inputs are generated from --seed. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are the per-layer metrics, taken from a
second, traced measurement. Any failed correctness check makes the exit
code non-zero. See perfbench/README.md for workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

import pyarrow.dataset as ds

import gen

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
BUILD_STAMP = BENCH / "target" / "perfbench-build.json"

# Fixed sizes. A smoke run shrinks every input so all workloads finish fast.
SIZES = {
    "full": {"sf": 0.01, "states": 11524, "interval_s": 1.5, "setup_reps": 3,
             "gate_batch": 200, "fold_every": 3},
    "smoke": {"sf": 0.001, "states": 500, "interval_s": 0.5, "setup_reps": 1,
              "gate_batch": 60, "fold_every": 2},
}

# layer label : query name. Dashboard/Athena families plus the text
# dedup-clustering jobs; every one has a DuckDB oracle.
QUERY_MIX = [
    "analytics.core:q02_band_distribution", "analytics.dashboard:q141_flight_summary", "analytics.join:q07_segment_performance",
    "analytics.timeseries:q16_dedup_best", "analytics.geo:q55_corridor_classify",
    "analytics.batchchecks:q40_iqr_outliers",
    "text:q59_dup_clusters", "text:q104_dup_clusters_star",
    "text:q117_curation_export", "text:q118_incremental_clusters",
]

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    for p in files + [ROOT / "build.sbt", BENCH / "build.sbt"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built():
    """Compile with sbt when the sources changed; return the run classpath."""
    digest = source_digest()
    if BUILD_STAMP.exists():
        stamp = json.loads(BUILD_STAMP.read_text())
        if stamp["digest"] == digest:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    BUILD_STAMP.parent.mkdir(parents=True, exist_ok=True)
    BUILD_STAMP.write_text(json.dumps({"digest": digest, "classpath": lines[-1]}))
    return lines[-1]


def run_driver(classpath, work, make_inputs=lambda: None, **conf):
    """Run the Scala driver to completion and return its result.json.

    The driver starts its Spark session while `make_inputs` writes the
    inputs; it waits for `<work>/in/READY` before touching them."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    (work / "in").mkdir(exist_ok=True)
    # a fixed, pre-touched heap and the parallel collector keep heap sizing
    # and concurrent GC threads out of the run-to-run spread
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           *JAVA_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath, "perfbench.Main", f"work={work}",
           *(f"{k}={v}" for k, v in conf.items())]
    with open(work / "driver.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=subprocess.DEVNULL, stderr=err)
        try:
            make_inputs()
            (work / "in" / "READY").touch()
            rc = proc.wait(timeout=160)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.stderr.write((work / "driver.log").read_text()[-6000:])
        raise SystemExit(f"perfbench: driver exited with {rc}")
    return json.loads((work / "result.json").read_text())


def quantile(xs, p):
    """Linear-interpolated quantile (the `inclusive` method)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = p * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_p(n):
    """The highest percentile with at least ten samples beyond it, floored
    at the 75th for short runs (README states the sample counts)."""
    return max(0.75, 1 - 10 / n)


# ------------------------------------------------------------------ checks

def check_ingest(res, manifest, work):
    snaps = [manifest["snapshots"][k] for k in res["processed"]]
    expect_by_hour = {}
    for s in snaps:
        h = datetime.fromtimestamp(s["time"], timezone.utc)
        key = (h.year, h.month, h.day, h.hour)
        expect_by_hour[key] = expect_by_hour.get(key, 0) + s["valid"]
    sink = ds.dataset(work / "out" / "flights", format="parquet", partitioning="hive")
    got = sink.to_table(columns=["year", "month", "day", "hour"]).group_by(
        ["year", "month", "day", "hour"]).aggregate([([], "count_all")]).to_pylist()
    got_by_hour = {(r["year"], r["month"], r["day"], r["hour"]): r["count_all"] for r in got}
    failures = []
    if got_by_hour != expect_by_hour:
        failures.append(f"sink rows by hour {got_by_hour} != generated valid states {expect_by_hour}")
    planted = sorted(str(Path(s["dir"]) / "partial.json") for s in snaps if s["corrupt_files"])
    dlq_dir = work / "out" / "dlq"
    dlq = ds.dataset(dlq_dir, format="parquet").to_table(columns=["source_file"]).to_pylist() \
        if any(dlq_dir.glob("*.parquet")) else []
    got_bad = sorted(r["source_file"].removeprefix("file://") for r in dlq)
    if got_bad != planted:
        failures.append(f"DLQ rows {len(got_bad)} != planted corrupt files {len(planted)}")
    return failures


def check_gate(res, manifest, work):
    steps = manifest["steps"][:res["steps"]]
    dec = ds.dataset(work / "out" / "decisions", format="parquet", partitioning="hive") \
        .to_table(columns=["vec_id", "status", "dup_of", "batch_id"]).to_pylist()
    failures = []
    for st in steps:
        rows = [r for r in dec if r["batch_id"] == st["batch_id"]]
        counts = {}
        for r in rows:
            counts[r["status"]] = counts.get(r["status"], 0) + 1
        if counts != st["status"]:
            failures.append(f"batch {st['batch_id']}: decisions {counts} != planted {st['status']}")
        dup_of = {str(r["vec_id"]): r["dup_of"] for r in rows if r["status"] != "accepted"}
        if dup_of != st["dup_of"]:
            failures.append(f"batch {st['batch_id']}: duplicate targets differ from planted")
    got = {str(q): r for q, r in res["probe_rows"]}
    for st in steps:
        for q, want in st["probe_expect"].items():
            if got.get(q) != want:
                failures.append(f"probe {q} retrieved {got.get(q)}, planted original {want}")
    return failures


def check_queries(res, work, tables, golden):
    failures = []
    for name, sums in res["checksums"].items():
        if len(sums) != 1:
            failures.append(f"{name}: checksum differs across passes {sums}")
        elif golden is not None and golden.get(name) != sums[0]:
            failures.append(f"{name}: checksum {sums[0]} != golden {golden.get(name)}")
        elif res["verified_checksums"].get(name) != sums[0]:
            failures.append(f"{name}: timed checksum differs from the oracle-checked output")
    proc = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "selfcheck.py"), str(work / "out" / "results"),
         str(tables), *res["checksums"]], capture_output=True, text=True)
    passed = {l.split()[1] for l in proc.stdout.splitlines() if l.startswith("PASS ")}
    for name in res["checksums"]:
        if name not in passed:
            failures.append(f"{name}: DuckDB oracle compare failed")
    if failures:
        log(proc.stdout[-3000:])
    return failures


# ----------------------------------------------------------------- metrics

def end_to_end(workload, res):
    ops = [o for o in res["ops"] if o["phase"] == "untraced"]
    if workload == "ingest":
        lat = [(o["end_ms"] - o["due_ms"]) / 1000 for o in ops]
        per_unit = [(o["end_ms"] - o["start_ms"]) / 1000 for o in ops]
    elif workload == "gate":
        lat = [o["gate_ms"] / 1000 for o in ops]
        per_unit = [(o["gate_ms"] + o["probe_ms"]) / 1000 for o in ops]
    else:
        lat = [(o["end_ms"] - o["start_ms"]) / 1000 for o in ops if o["kind"] == "query"]
        per_unit = [(o["end_ms"] - o["start_ms"]) / 1000 for o in ops if o["kind"] == "pass"]
    return {
        "setup_s": (statistics.median(res["setup_reps_s"]), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (quantile(lat, tail_p(len(lat))), "s"),
        "pass_s": (statistics.median(per_unit), "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB"),
    }, len(lat)


def per_layer(workload, res, untraced_e2e, local1):
    spans = res["spans"]
    ops = [o for o in res["ops"] if o["phase"] == "traced"]
    n_ops = max(1, len({s["op"] for s in spans if s["op"] >= 0}))

    def med_s(name):
        xs = [(s["end_ms"] - s["start_ms"]) / 1000 for s in spans if s["name"] == name]
        return statistics.median(xs) if xs else 0.0

    def total(field, pred=lambda s: True):
        return sum(s[field] for s in spans if pred(s))

    passes = max(1, sum(1 for o in ops if o["kind"] == "pass"))

    def per_pass_s(prefix):
        return sum((s["end_ms"] - s["start_ms"]) / 1000 for s in spans
                   if s["name"].startswith(prefix + ".")) / passes

    waits = [(o["start_ms"] - o["due_ms"]) / 1000 for o in ops if "due_ms" in o]
    write_spans = lambda s: s["name"] in ("streaming.gate_batch", "streaming.fold")
    write_tasks = total("write_tasks", write_spans)
    span_ms = total("end_ms", lambda s: s["parent"] < 0) - total("start_ms", lambda s: s["parent"] < 0)
    traced_e2e, _ = end_to_end(workload, {**res, "ops": [{**o, "phase": "untraced"} for o in ops]})
    key = "pass_s" if workload == "analytics" else "latency_p50_s"
    m = {
        "flight.ingest_write_s": (med_s("flight.ingest_write"), "s"),
        "flight.errors_s": (med_s("flight.errors"), "s"),
        "flight.queue_wait_s": (statistics.median(waits) if waits else 0.0, "s"),
        "flight.local1_snapshot_s": (local1, "s"),
        "streaming.gate_batch_s": (med_s("streaming.gate_batch"), "s"),
        "streaming.fold_s": (med_s("streaming.fold"), "s"),
        "sim.probe_s": (med_s("sim.probe"), "s"),
        "sim.probe_files_read": (statistics.median(
            [s["files_read"] for s in spans if s["name"] == "sim.probe"] or [0]), "count"),
        "sources.write_tasks": (write_tasks, "count"),
        "sources.empty_write_task_ratio": (
            total("empty_write_tasks", write_spans) / write_tasks if write_tasks else 0.0, "ratio"),
        "sources.files_written": (total("files_written", write_spans), "count"),
        "spark.session_start_s": (res["session_s"], "s"),
        "spark.planning_s": (total("planning_ms") / 1000 / n_ops, "s"),
        "spark.jobs_per_op": (total("jobs") / n_ops, "count"),
        "spark.driver_gap_share": (1 - total("job_busy_ms") / span_ms if span_ms else 0.0, "ratio"),
        "spark.tasks_per_op": (total("tasks") / n_ops, "count"),
        "spark.task_cpu_share": (total("task_cpu_ns") / 1e6 / max(1, total("task_run_ms")), "ratio"),
        "spark.shuffle_bytes_per_op": (total("shuffle_bytes") / n_ops, "bytes"),
        "spark.scan_bytes_per_op": (total("scan_bytes") / n_ops, "bytes"),
        "spark.output_bytes_per_op": (total("output_bytes") / n_ops, "bytes"),
        "trace.overhead_ratio": (traced_e2e[key][0] / untraced_e2e[key][0], "ratio"),
    }
    for fam in ("core", "dashboard", "join", "timeseries", "geo", "batchchecks"):
        m[f"analytics.{fam}_s"] = (per_pass_s(f"analytics.{fam}"), "s")
    for q in ("q59", "q104", "q117", "q118"):
        m[f"text.{q}_s"] = (statistics.median(
            [(s["end_ms"] - s["start_ms"]) / 1000 for s in spans
             if s["name"].startswith(f"text.{q}_")] or [0.0]), "s")
    return m


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "gate", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--golden", type=Path, help="JSON map query -> expected checksum")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        raise SystemExit("perfbench: the library sources are not in this checkout")
    size = SIZES["smoke" if a.smoke else "full"]
    classpath = ensure_built()
    cores = len(os.sched_getaffinity(0))

    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    inputs = work / "in"
    conf = dict(workload=a.workload, seconds=a.seconds, trace=a.trace, cores=cores,
                seed=a.seed, setup_reps=size["setup_reps"], tables=inputs / "tables")
    phases = 2 if a.trace else 1
    manifest = {}
    if a.workload == "ingest":
        n = size["setup_reps"] + phases * int(-(-a.seconds // size["interval_s"]))
        conf.update(snapshots=inputs / "snapshots", interval_s=size["interval_s"])

        def make_inputs():
            manifest.update(gen.snapshots(str(inputs / "snapshots"), a.seed, n,
                                          states=size["states"]))
    elif a.workload == "gate":
        # one step per second of measurement is more than the loop can use
        n = int(a.seconds * phases) + 4
        conf.update(gate=inputs / "gate", fold_every=size["fold_every"])

        def make_inputs():
            gen.tables(str(inputs / "tables"), a.seed, size["sf"])
            manifest.update(gen.gate_steps(
                str(inputs / "gate"), a.seed, str(inputs / "tables" / "embeddings.parquet"), n,
                batch=size["gate_batch"]))
    else:
        # the set-up rep is a whole cold pass (~25 s), so it runs once
        conf.update(queries=",".join(QUERY_MIX), setup_reps=1)

        def make_inputs():
            gen.tables(str(inputs / "tables"), a.seed, size["sf"])
    res = run_driver(classpath, work, make_inputs, **conf)

    if a.workload == "ingest":
        failures = check_ingest(res, manifest, work)
        attempted = len(res["processed"])
    elif a.workload == "gate":
        failures = check_gate(res, manifest, work)
        attempted = 2 * res["steps"]
    else:
        golden = json.loads(a.golden.read_text()) if a.golden else None
        failures = check_queries(res, work, inputs / "tables", golden)
        attempted = sum(1 for o in res["ops"] if o["kind"] == "query")
    for f in failures:
        log(f"CHECK FAILED: {f}")

    log(f"session {res['session_s']:.1f} s, set-up reps {[round(x, 2) for x in res['setup_reps_s']]}")
    e2e, n_lat = end_to_end(a.workload, res)
    log(f"{n_lat} latency samples; tail is p{100 * tail_p(n_lat):.0f}")
    by_name = {}
    for o in res["ops"]:
        if o["phase"] == "untraced" and o["kind"] == "query":
            by_name.setdefault(o["name"].split("_")[0], []).append(o["end_ms"] - o["start_ms"])
    if by_name:
        log("query ms: " + " ".join(f"{k}={statistics.median(v):.0f}" for k, v in sorted(by_name.items())))
    if a.trace:
        local1 = 0.0
        if a.workload == "ingest":
            # the single-threaded baseline: the same snapshots under local[1]
            r1 = run_driver(classpath, work / "local1", **dict(
                conf, cores=1, trace=0, setup_reps=1, seconds=size["interval_s"]))
            local1 = statistics.median((o["end_ms"] - o["start_ms"]) / 1000 for o in r1["ops"])
        metrics = per_layer(a.workload, res, e2e, local1)
        spans_out = BENCH / "out"
        spans_out.mkdir(exist_ok=True)
        (spans_out / f"spans_{a.workload}_{a.seed}.json").write_text(json.dumps(res["spans"]))
    else:
        metrics = e2e
    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": min(attempted, len(failures)),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    shutil.rmtree(work, ignore_errors=True)
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
