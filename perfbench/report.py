#!/usr/bin/env python3
"""Per-layer report: runs each workload untraced and traced with one seed,
then prints every per-layer metric by name, the self time of every span name
(its duration minus the time its child spans cover), and the tracing overhead
(traced minus untraced end-to-end metrics).

    python3 perfbench/report.py --seed 1 --seconds 10 [--workloads notebook_rehit,pipeline_ops]
"""
import argparse
import json
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def self_times(trace):
    spans = trace["spans"]
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    rows = defaultdict(lambda: {"count": 0, "ms": 0.0, "self_ms": 0.0, "list_calls": 0, "jobs": 0})
    for s in spans:
        if s["op"] < 0:
            continue
        r = rows[(s["kind"], s["name"])]
        dur = s["end_ms"] - s["start_ms"]
        r["count"] += 1
        r["ms"] += dur
        r["self_ms"] += dur - run._union_ms(children[s["id"]])
        r["list_calls"] += s["fs"].get("fs.list_calls", 0)
        r["jobs"] += s["spark"].get("jobs", 0)
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default="notebook_rehit,source_churn,pipeline_ops")
    args = ap.parse_args()
    out = run.ROOT / ".bench_out"
    for w in args.workloads.split(","):
        saved = {}
        for trace in (0, 1):
            subprocess.run([sys.executable, str(run.HERE / "run.py"), "--workload", w,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", str(trace)], check=True, stdout=subprocess.DEVNULL)
            saved[trace] = json.loads((out / f"{w}-seed{args.seed}-trace{trace}.json").read_text())
        print(f"== {w} seed {args.seed}")
        for name, unit in run.per_layer_specs():
            print(f"  {name:44s} {saved[1]['per_layer'][name]:14.4f} {unit}")
        print(f"  {'span (kind name)':52s} {'count':>6s} {'ms':>10s} {'self ms':>10s} {'lists':>7s} {'jobs':>6s}")
        for (kind, name), r in sorted(self_times(saved[1]["trace"]).items()):
            print(f"  {kind + ' ' + name:52s} {r['count']:6d} {r['ms']:10.1f} {r['self_ms']:10.1f}"
                  f" {r['list_calls']:7d} {r['jobs']:6d}")
        print("  tracing overhead (traced - untraced):")
        for name, v0 in saved[0]["e2e"].items():
            v1 = saved[1]["e2e"][name]
            if v0 is not None and v1 is not None:
                print(f"  {name:24s} {v0:12.4f} -> {v1:12.4f}  ({v1 - v0:+.4f})")


if __name__ == "__main__":
    main()
