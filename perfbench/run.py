#!/usr/bin/env python3
"""Pipeline benchmark: one workload, measured end to end or layer by layer.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload batch_flow|stream_maint --seed N \\
        --seconds S --trace 0|1 [--cpus N]

Builds the harness and the program from source with sbt when either
changed, runs the workload in one JVM (Spark at local[cpus]), checks the
program's outputs against an independent DuckDB replay of the generated
inputs, and prints the metrics. With --trace 0 the last line carries the
end-to-end metrics, with --trace 1 the per-layer ones; every measured
value also goes to perfbench/.work/<workload>/details.json. Everything the
run writes stays under perfbench/.work/ and perfbench/harness/target/.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("batch_flow", "stream_maint")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Metrics BENCHMARK.json gates; every workload reports each of them.
END_TO_END = [
    ("setup_s", "s"), ("flow_s", "s"), ("ingest_rows_per_s", "rows/s"),
    ("freshness_p50_s", "s"), ("store_bytes_per_input_byte", "ratio"),
    ("write_bytes_per_input_byte", "ratio"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def sources_stamp():
    h = hashlib.sha256()
    files = [p for p in (ROOT / "src" / "main").rglob("*") if p.is_file()]
    for p in HARNESS.rglob("*"):
        parts = p.relative_to(HARNESS).parts
        if p.is_file() and "target" not in parts and parts[:2] != ("project", "project"):
            files.append(p)
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def build():
    """Compile harness and program with sbt when their sources changed;
    return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) are missing")
    target = HARNESS / "target"
    stamp, cp = target / "sources.sha256", target / "classpath.txt"
    want = sources_stamp()
    if cp.exists() and stamp.exists() and stamp.read_text() == want:
        return cp.read_text().strip()
    log("building harness and program with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    with open(HERE / ".work" / "build.log", "w") as out:
        rc = run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       timeout=840, cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not cp.exists():
        raise SystemExit(f"perfbench: build failed (exit {rc}); see perfbench/.work/build.log")
    stamp.write_text(want)
    log(f"built in {time.time() - t0:.1f} s")
    return cp.read_text().strip()


def run_harness(classpath, workload, seed, seconds, trace, cpus, work):
    if work.exists():
        subprocess.run(["rm", "-rf", str(work)], check=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:+UseParallelGC", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graft.perfbench.Harness",
        workload, str(seed), str(seconds), str(trace), str(cpus), str(work), str(HERE / "data")]
    with open(work / "harness.log", "w") as out:
        rc = run_group(cmd, timeout=JVM_TIMEOUT_S, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not (work / "result.json").exists():
        raise SystemExit(f"perfbench: harness failed (exit {rc}); see {work / 'harness.log'}")
    return json.loads((work / "result.json").read_text())


def input_hash(work):
    """sha256 over every generated input file, by file name, in name order."""
    h = hashlib.sha256()
    files = sorted((p for p in (work / "inputs").rglob("*") if p.is_file()), key=lambda p: p.name)
    for p in files:
        h.update(p.name.encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def tree_bytes(path):
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def durations(changes):
    return [(c["done_us"] - c["due_us"]) / 1e6 for c in changes]


def end_to_end(r, work):
    """Every end-to-end metric that applies to the workload: name -> (value, unit)."""
    out = {}
    out["setup_s"] = (r["session_s"] + metrics.median(r["gen_reps_s"]) + r["preload_s"] + r["warmup_s"], "s")
    if r["workload"] == "stream_maint":
        units = [((d["fold_end_us"] - d["start_us"]) / 1e6, d["rows"]) for d in r["drains"] if d["files"]]
    else:
        units = [(f["s"], f["rows"]) for f in r["flows"]]
    out["flow_s"] = (metrics.median([s for s, _ in units]), "s")
    # rows a flow (or a cycle that found files) took in, per second of it
    out["ingest_rows_per_s"] = (sum(n for _, n in units) / len(units) / out["flow_s"][0], "rows/s")
    fresh = durations(r["changes"])
    out["freshness_p50_s"] = (metrics.median(fresh), "s")
    value, pct, n = metrics.tail(fresh)
    out["freshness_tail_s"] = (value, "s", f"p{pct:.0f} of {n}")
    if r["workload"] == "stream_maint":
        # a system that keeps up folds every file within one trigger period
        # of the schedule's end; what is left then is backlog
        end = r["schedule_end_us"]
        by = end + r["trigger_s"] * 1e6
        folded_at = {f: d["fold_end_us"] for d in r["drains"] for f in d["files"]}
        backlog = sum(1 for x in r["landed"] if x["landed_us"] <= end and folded_at.get(x["file"], by + 1) > by)
        out["backlog_end_files"] = (backlog, "files")
    else:
        passes = [p["s"] for p in r["passes"]]
        out["report_pass_p50_s"] = (metrics.median(passes), "s")
        value, pct, n = metrics.tail(passes)
        out["report_pass_tail_s"] = (value, "s", f"p{pct:.0f} of {n}")
    built_from = sum((work / f).stat().st_size for step in r["replay"] for f in step["files"])
    out["store_bytes_per_input_byte"] = (sum(tree_bytes(work / p) for p in r["live_roots"]) / built_from, "ratio")
    written = sum(v["bytes"] for v in r["version_bytes"])
    out["write_bytes_per_input_byte"] = (written / r["counters"]["input_bytes"], "ratio")
    # between collections the old generation grows only by objects too
    # large for the young one, so the last collection before the timed
    # work gives its occupancy at the start
    start = r["windows"][0][0]
    gcs = r["old_gen_after_gc"]
    at_start = [g["mb"] for g in gcs if g["end_us"] < start][-1:]
    in_work = [g["mb"] for g in gcs if metrics.in_windows(g["end_us"], r["windows"])]
    out["heap_peak_mb"] = (max(at_start + in_work), "MB")
    out["ops_failed_frac"] = (r["failed"] / r["attempted"], "ratio", f"{r['failed']} of {r['attempted']}")
    return out


def live_store_counts(work, roots):
    versions = files = 0
    for root in roots:
        for v in (work / root).glob("v-*"):
            versions += 1
            files += sum(1 for p in v.rglob("*.parquet"))
    return versions, files


def per_layer(r, work):
    """Every per-layer metric: name -> value, plus the names not applicable."""
    windows = r["windows"]
    spans = [s for s in r["spans"] if metrics.in_windows(s["start_us"], windows)]
    jobs = [j for j in r["jobs"] if metrics.in_windows(j["start_ms"] * 1000, windows)]
    out = metrics.layer_rollup(spans, jobs, metrics.attribute_jobs(spans, jobs))
    c = r["counters"]
    written = {}
    for v in r["version_bytes"]:
        written[v["call"]] = written.get(v["call"], 0) + v["bytes"]
    for call in metrics.STATE_CALLS:
        out[f"state.{call}.bytes_written"] = written.get(f"state.{call}", 0)
    for name in ("ingest.read.rows_in", "ingest.read.rows_null_ts", "ingest.retried.retries",
                 "schemasync.sync.changes", "state.upsert.rows_in", "maintain.fold.steps"):
        out[name] = c.get(name, 0)
    out["state.versions_live"], out["state.files_live"] = live_store_counts(work, r["live_roots"])
    out["state.meta_jobs"] = sum(1 for j in jobs if j["meta"])
    drains = r["drains"]
    if drains:
        landed = {x["file"]: x for x in r["landed"]}
        out["streaming.drain.files"] = sum(len(d["files"]) for d in drains) / len(drains)
        out["streaming.drain.rows"] = sum(d["rows"] for d in drains) / len(drains)
        out["streaming.drain.micro_batches"] = sum(
            1 for b in r["micro_batches"] if metrics.in_windows(b["ts_ms"] * 1000, windows))
        out["streaming.drain.wait_s"] = metrics.median(
            [(d["start_us"] - landed[f]["landed_us"]) / 1e6 for d in drains for f in d["files"] if f in landed])
        out["streaming.drain.useful_ratio"] = sum(1 for d in drains if d["files"]) / len(drains)
        keys, touched = changed_keys(work, drains)
        groups = report_groups(work, r)
        out["maintain.fold.changed_keys"] = metrics.median(keys)
        out["maintain.fold.touched_ratio"] = metrics.median([t / groups for t in touched])
        out["gen.late_max_s"] = max((x["landed_us"] - x["due_us"]) / 1e6 for x in r["landed"])
    reports = {}
    for s in spans:
        if s["layer"] == "reports":
            reports.setdefault(s["call"], []).append((s["end_us"] - s["start_us"]) / 1e6)
    for q in metrics.REPORTS:
        out[f"reports.{q}.busy_s"] = metrics.median(reports[q]) if q in reports else 0
    out["gen.files"] = len(r["gen_files"])
    out["gen.bytes"] = sum(g["bytes"] for g in r["gen_files"])
    out["jvm.gc_s"] = r["gc_in_window_s"]
    called = {(s["layer"], s["call"]) for s in spans}

    def applicable(name):
        parts = name.split(".")
        if parts[0] in metrics.LAYERS and out[f"{parts[0]}.calls"] == 0:
            return False
        if parts[0] == "state" and parts[1] in metrics.STATE_CALLS and ("state", parts[1]) not in called:
            return False
        return name in out

    na = [n for n, _, _ in metrics.per_layer_catalogue() if not applicable(n)]
    layer_union = metrics.union_length([(s["start_us"], s["end_us"]) for s in spans if s["layer"] in metrics.LAYERS])
    window_us = sum(b - a for a, b in windows)
    return out, na, layer_union / window_us


def changed_keys(work, drains):
    """Distinct keys and products each fold absorbed, from its files."""
    keys, touched = [], []
    for d in drains:
        if not d["files"]:
            continue
        ks = set()
        for f in d["files"]:
            for row in check.read_rows(work / f, "orders"):
                ks.add((row[0], row[1]))
        keys.append(len(ks))
        touched.append(len({k[1] for k in ks}))
    return keys, touched


def report_groups(work, r):
    glob = check.current_version_glob(work / r["report_root"])
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    (HERE / ".work").mkdir(exist_ok=True)
    classpath = build()
    work = HERE / ".work" / a.workload
    r = run_harness(classpath, a.workload, a.seed, a.seconds, a.trace, a.cpus, work)
    digest = input_hash(work)
    failures = check.check(work, r)
    for f in failures:
        log(f"output mismatch: {f}")
    e2e = end_to_end(r, work)
    details = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "cpus": a.cpus, "input_sha256": digest, "correct": not failures, "failures": failures,
               "attempted": r["attempted"], "failed": r["failed"],
               "end_to_end": {k: list(v) for k, v in e2e.items()},
               "setup_parts_s": {"session": r["session_s"], "gen_reps": r["gen_reps_s"],
                                 "preload": r["preload_s"], "warmup": r["warmup_s"]},
               "window_s": sum(b - a for a, b in r["windows"]) / 1e6}
    print(f"[perfbench] workload={a.workload} seed={a.seed} cpus={a.cpus} "
          f"inputs={digest[:16]} correct={not failures}")
    print("[perfbench] end-to-end: " + "  ".join(
        f"{k}={v[0]:.6g} {v[1]}" + (f" ({v[2]})" if len(v) > 2 else "") for k, v in e2e.items()))
    if a.trace:
        layer, na, coverage = per_layer(r, work)
        details.update({"per_layer": layer, "not_applicable": na, "layer_coverage": coverage})
        print(f"[perfbench] layer spans cover {coverage:.1%} of the timed work; "
              f"not applicable here: {', '.join(na) or 'none'}")
        result_metrics = {n: {"value": layer.get(n, 0) if n not in na else 0, "unit": u}
                          for n, u, _ in metrics.per_layer_catalogue()}
    else:
        result_metrics = {n: {"value": e2e[n][0], "unit": u} for n, u in END_TO_END}
    (work / "details.json").write_text(json.dumps(details, indent=1, sort_keys=True) + "\n")
    if failures:
        result_metrics = {}
    print(json.dumps({"correct": not failures, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": result_metrics}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
