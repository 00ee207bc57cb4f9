#!/usr/bin/env python3
"""Per-layer report of one workload: runs it once untraced and once traced
on the same seed, then prints the end-to-end metrics, every per-layer
metric grouped by layer, the self time per layer from the traced run's
spans, the layers behind each end-to-end metric, and the tracing overhead
(traced minus untraced end-to-end latency, and the same measured between
alternating passes inside the traced run).

    python3 perfbench/report.py --workload corpus_build --seed 1 --seconds 25
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# which layers an end-to-end metric waits on, per workload (blocking steps)
BEHIND = {
    "clickstream_reports": {
        "latency_p50_ms": "operators (build) -> plans -> exec (scan, user_id shuffle + "
                          "window, broadcast joins) -> functions (GroupConcatDistinct)",
    },
    "corpus_build": {
        "latency_p50_ms": "operators (build, footer reads, eager collects) -> plans -> "
                          "exec (dedup/decontamination joins, packing windows) -> functions "
                          "(quality, shingles, minhash, classifier, bpe, remove_intervals)",
    },
    "adclick_realtime": {
        "latency_p50_ms": "streaming (micro-batch: latest offset, planning, WAL) -> exec "
                          "(state store) -> sources (Derby upserts, top-3 rewrite)",
    },
    "*": {
        "setup_s": "session start, input schemas (batch) or Derby tables and query "
                   "start (stream)",
        "peak_rss_mb": "JVM heap growth across every layer",
    },
}


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit(f"run failed (trace {trace})")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1])["metrics"], lines[:-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    a = ap.parse_args()
    e2e, _ = run(a.workload, a.seed, a.seconds, 0)
    layers, traced_lines = run(a.workload, a.seed, a.seconds, 1)
    print(f"# {a.workload}, seed {a.seed}, {a.seconds} s per run\n")
    print("## End to end (untraced)")
    for k, v in e2e.items():
        print(f"  {k:24s} {v['value']:12.4g} {v['unit']}")
    print("\n## Per layer (traced run)")
    groups = {}
    for k, v in layers.items():
        groups.setdefault(k.split(".")[0], []).append((k, v))
    for g, items in groups.items():
        print(f"  [{g}]")
        for k, v in items:
            print(f"    {k:44s} {v['value']:12.4g} {v['unit']}")
    selfs = {k.split(".", 1)[1]: v["value"] for k, v in layers.items() if k.startswith("self_s.")}
    total = sum(selfs.values()) or 1.0
    print("\n## Self time per layer")
    for k, v in sorted(selfs.items(), key=lambda x: -x[1]):
        print(f"  {k:12s} {v:10.4f} s  {100 * v / total:5.1f}%")
    print("\n## Layers behind each end-to-end metric")
    for k in e2e:
        print(f"  {k}: " + BEHIND.get(a.workload, {}).get(k, BEHIND["*"].get(k, "")))
    print("\n## Tracing overhead")
    traced_p50 = next((float(x.split()[1]) for x in traced_lines
                       if x.startswith("latency_p50_ms ")), None)
    if traced_p50 is not None:
        base = e2e["latency_p50_ms"]["value"]
        print(f"  latency_p50_ms traced {traced_p50:.1f} vs untraced {base:.1f} ms: "
              f"{100 * (traced_p50 / base - 1):+.1f}% (two runs)")
    if "trace.overhead_share" in layers:
        print(f"  alternating passes inside the traced run: "
              f"{100 * layers['trace.overhead_share']['value']:+.1f}%")


if __name__ == "__main__":
    main()
