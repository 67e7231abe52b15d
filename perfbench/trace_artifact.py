#!/usr/bin/env python3
"""Write the traced-run artifact: for each workload an untraced and a
traced run on one seed, the per-layer numbers, how much of the timed work
the layer spans cover, and the tracing overhead (traced minus untraced,
per end-to-end metric). Adds one stream_maint pair at local[1], the
single-threaded baseline, which is not gated.

Usage (from the root of a checkout):
    python3 perfbench/trace_artifact.py --seed N --seconds S --out perfbench/artifacts/trace.json
"""
import argparse
import json
import os
import platform
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run(workload, seed, seconds, trace, cpus=None):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    return json.loads((HERE / ".work" / workload / "details.json").read_text())


def pair(workload, seed, seconds, cpus=None):
    plain = run(workload, seed, seconds, 0, cpus)
    traced = run(workload, seed, seconds, 1, cpus)
    overhead = {k: {"untraced": v[0], "traced": traced["end_to_end"][k][0],
                    "difference": traced["end_to_end"][k][0] - v[0], "unit": v[1]}
                for k, v in plain["end_to_end"].items()}
    return {"cpus": traced["cpus"], "input_sha256": traced["input_sha256"],
            "correct": plain["correct"] and traced["correct"],
            "untraced_end_to_end": plain["end_to_end"], "tracing_overhead": overhead,
            "layer_coverage": traced["layer_coverage"], "per_layer": traced["per_layer"],
            "not_applicable": traced["not_applicable"], "setup_parts_s": traced["setup_parts_s"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    out = {"seed": a.seed, "seconds": a.seconds,
           "machine": {"cpus": len(os.sched_getaffinity(0)), "system": platform.platform()},
           "runs": {}}
    for w in ("batch_flow", "stream_maint"):
        out["runs"][w] = pair(w, a.seed, a.seconds)
    out["runs"]["stream_maint@local[1]"] = pair("stream_maint", a.seed, a.seconds, cpus=1)
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
