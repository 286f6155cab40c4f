"""Result formatting, and the one command that runs every workload.

    python3 perfbench/report.py [--seed 1] [--seconds N] [--trace 0]

runs each workload of BENCHMARK.json in turn (one process at a time;
``--workloads transcripts_etl`` runs the hand-run one) and prints every
metric by name with its unit, the verification outcome and the share of
failed operations.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "freshness_p50_s": "s",
    "freshness_p99_s": "s",
    "pr_lpa_edges_per_s": "edges/s",
    "peak_rss_mb": "MB",
}
EXTRA_UNITS = {
    "pagerank.superstep_p50_s": "s",
    "lpa.superstep_p50_s": "s",
    "iterate.supersteps": "count",
    "extract.turns_in": "count",
    "extract.edges_out": "count",
    "stream_driver.batch_s_p50": "s",
    "stream_driver.batch_convs_p50": "count",
    "stream_driver.backlog_max_convs": "count",
    "stream_driver.busy_ratio": "ratio",
    "stream.generator_lag_s": "s",
    "session.launch_s": "s",
    "session.get_spark_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def layer_units() -> dict[str, str]:
    from perfbench.spans import LAYER_UNITS, LAYERS

    units = {f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_UNITS.items()}
    units.update(EXTRA_UNITS)
    return units


def result_line(wl, rec: dict) -> dict:
    from perfbench.workloads import end_to_end

    if rec["trace"]:
        units = layer_units()
        values = rec["layers"]
    else:
        units = END_TO_END_UNITS
        values = end_to_end(wl, rec)
    return {
        "correct": not rec["errors"],
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def describe(wl, rec: dict, result: dict) -> list[str]:
    att, failed = result["attempted"], result["failed"]
    op = "conversation" if wl.kind == "stream" else "job"
    lines = [
        f"workload {wl.name} seed {rec['seed']} seconds {rec['seconds']:g} trace {int(rec['trace'])}",
        f"  verification: {'ok' if result['correct'] else 'FAILED'}",
        f"  operations ({op}s): attempted {att}, failed {failed} ({failed / att:.2%})",
    ]
    lines += [f"    error: {e}" for e in rec["errors"][:5]]
    for ph in rec["phases"]:
        lines.append(
            f"  {ph.tracer.run_id}: set-ups {' '.join(f'{x:.2f}' for x in ph.setup_s)} s"
        )
    lines.append(f"  JVM launch {rec['launch_s']:.1f} s, input {rec['input_s']:.1f} s, verify {rec['verify_s']:.1f} s")
    walls = {}
    for sp in rec["phases"][0].tracer.spans:
        walls.setdefault(sp.name, []).append(sp.wall)
    lines.append("  span walls (median s): " + ", ".join(f"{k} {statistics.median(v):.2f}" for k, v in walls.items()))
    if "samples" in rec:
        lines.append(f"  samples: {rec['samples']}")
    if wl.kind == "stream":
        ph = rec["phases"][0]
        late = sum(f > wl.freshness_limit_s for f in ph.stream.freshness)
        lines.append(
            f"  offered {wl.rate:g} conv/s open loop, {len(ph.stream.batches)} micro-batches, "
            f"{late} conversations over the {wl.freshness_limit_s:g} s freshness limit"
        )
        lines.append(
            "  micro-batches (convs, start s, wall s): "
            + ", ".join(f"({b.hi - b.lo}, {b.start:.1f}, {b.end - b.start:.2f})" for b in ph.stream.batches)
        )
    if rec["trace"]:
        lines.append(f"  tasks by job group: {rec.get('tasks_by_group')}  trace: {rec.get('trace_file')}")
    for name, m in result["metrics"].items():
        lines.append(f"  {name:34s} {m['value']:>16.6g} {m['unit']}")
    return lines


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description="Run every perfbench workload and print its metrics.")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", nargs="*", default=listed, help="default: those in BENCHMARK.json")
    args = ap.parse_args(argv)
    status = 0
    summary = []
    for name in args.workloads:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            status = 1
            continue
        res = json.loads(lines[-1])
        summary.append((name, res))
        status |= not res["correct"]
    print("\nworkload            correct  failed/attempted")
    for name, res in summary:
        print(f"{name:20s}{str(res['correct']):8s} {res['failed']}/{res['attempted']}")
    return status


if __name__ == "__main__":
    sys.exit(main())
