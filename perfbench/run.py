#!/usr/bin/env python3
"""Benchmark of the log-analysis system: one command runs one workload
for one seed, checks every output, and prints each metric by name with
its unit. The last line of standard output is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

    python3 perfbench/run.py --workload clickstream_reports --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. The first call builds the program and the
harness from source (see build.py); inputs are generated from the seed
(gen.py), the program runs in one JVM (src/graft/perfbench), and the
outputs are checked (checks.py). Exits non-zero, without a result line,
on a wrong output, a failed run, or missing program sources.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("clickstream_reports", "corpus_build", "adclick_realtime")
SETUPS = 5              # set-ups per run; setup_s is their median
WARM_SCALE = 0.3        # size of the warm-up copy of a batch workload's inputs
JVM_TIMEOUT_S = 165
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xss8m",
    "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]

# names printed in the readable part of the output, per workload
JOB_METRICS = {
    "clickstream_reports": [("session_report_s", "session_report"),
                            ("page_convert_s", "page_convert"),
                            ("area_top3_s", "area_top3")],
    "corpus_build": [("corpus_build_s", "corpus_build"),
                     ("corpus_model_s", "corpus_model"),
                     ("chunked_pretrain_s", "chunked_pretrain")],
}


def say(*a):
    print(*a, flush=True)


def pct(xs, p):
    """Nearest-rank percentile of a non-empty list, p in [0, 1]."""
    s = sorted(xs)
    return s[min(len(s) - 1, int(p * len(s)))]


def unit_of(name):
    """Unit of a metric outside BENCHMARK.json, from the words of its name."""
    words = set(name.replace(".", "_").split("_"))
    for word, unit in (("ms", "ms"), ("mb", "MB"), ("eps", "1/s"), ("s", "s"),
                       ("share", "ratio")):
        if word in words:
            return unit
    return "count"


def run_jvm(cp, work, args, timeout):
    log = os.path.join(work, "jvm.log")
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-cp", cp, "graft.perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"harness JVM failed: {rc}")


# ------------------------------------------------------------ per-layer

def self_times(spans_file):
    """Self time per layer: each span's duration minus the part of it its
    children cover."""
    spans = [json.loads(x) for x in open(spans_file)]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        own = (s["end_us"] - s["start_us"] - covered) / 1e6
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


# ---------------------------------------------------------------- batch

def run_batch(a, cp, work, out):
    data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
    os.makedirs(data)
    os.makedirs(warm)
    g = gen.gen_clickstream if a.workload == "clickstream_reports" else gen.gen_corpus
    props = g(a.seed, data)
    g(a.seed, warm, scale=WARM_SCALE)
    gen.write_props(props, os.path.join(out, "generator.json"))
    bad = ["generator: " + k for k in gen.check_props(props)]
    run_jvm(cp, work, ["--workload", a.workload, "--data", data, "--warm", warm, "--work", work,
                       "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--setups", str(SETUPS)], JVM_TIMEOUT_S)
    r = json.load(open(os.path.join(out, "result.json")))
    bad += checks.oracle(data, out)
    bad += ["job error: " + e for e in r["errors"]]
    passes = r["pass_s"]
    say(f"passes: {len(passes)}  ({', '.join(f'{p:.3f}' for p in passes)} s)")
    for name, job in JOB_METRICS[a.workload]:
        xs = r["job_s"][job]
        say(f"{name} {statistics.median(xs):.4f} s (median of {len(xs)})")
    e2e = {"latency_p50_ms": statistics.median(passes) * 1000.0}
    layers = dict(r.get("layers", {}))
    if a.trace:
        for name, job in JOB_METRICS[a.workload]:
            layers["job." + name] = statistics.median(r["job_s"][job])
        tp = r["traced_pass_s"]      # the first untraced pass was still warming up
        layers["trace.overhead_share"] = statistics.median(tp) / statistics.median(passes[1:]) - 1
        n = len(tp)
        for layer, sec in self_times(os.path.join(out, "spans.jsonl")).items():
            layers[f"self_s.{layer}"] = sec / n
    return r, e2e, layers, bad, r["attempted"], r["failed"]


# --------------------------------------------------------------- stream

def sources_log(ck):
    """File name -> batch id, from a file-source checkpoint's metadata log."""
    out = {}
    d = os.path.join(ck, "sources", "0")
    for f in os.listdir(d) if os.path.isdir(d) else []:
        if f.startswith(".") or f.endswith(".tmp"):
            continue
        for line in open(os.path.join(d, f)):
            if line.startswith("{"):
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def run_stream(a, cp, work, out):
    src, stage = os.path.join(work, "src"), os.path.join(work, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    backlog, live, props, crossing = gen.gen_adclick(a.seed, a.seconds)
    gen.write_props(props, os.path.join(out, "generator.json"))
    bad = ["generator: " + k for k in gen.check_props(props)]
    per = len(backlog) // gen.AD_BACKLOG_S + 1
    lines_files = []
    for i in range(0, len(backlog), per):        # the outage's files, one per second
        p = os.path.join(src, f"backlog_{i // per:03d}.txt")
        with open(p, "w") as f:
            f.write("\n".join(backlog[i:i + per]) + "\n")
        lines_files.append(p)
    for k, lines in enumerate(live):
        with open(os.path.join(stage, f"live_{k:05d}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    with open(os.path.join(work, "live_all.txt"), "w") as f:
        for lines in live:
            f.write("\n".join(lines) + "\n")
    lines_files.append(os.path.join(work, "live_all.txt"))
    go, manifest = os.path.join(work, "go"), os.path.join(work, "manifest.json")
    n_live = sum(len(x) for x in live)
    feeder = subprocess.Popen([sys.executable, os.path.join(HERE, "feed.py"),
                               "--stage", stage, "--src", src, "--go", go,
                               "--period-ms", str(gen.AD_PERIOD_MS), "--manifest", manifest,
                               "--wait-s", str(JVM_TIMEOUT_S)])
    try:
        run_jvm(cp, work, ["--workload", a.workload, "--work", work, "--out", out,
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--setups", str(SETUPS), "--src", src, "--go", go,
                           "--backlog-rows", str(len(backlog)),
                           "--total-rows", str(len(backlog) + n_live)], JVM_TIMEOUT_S)
        feeder.wait(timeout=30)
    finally:
        if feeder.poll() is None:
            feeder.kill()
            feeder.wait()
    r = json.load(open(os.path.join(out, "result.json")))
    if not (r["drained"] and r["finished"]):
        bad.append(f"stream did not consume every line: {r['processed']}")
    if r["dump_error"]:
        bad.append("tables unreadable after the run: " + r["dump_error"])
    else:
        bad += checks.stream(lines_files, os.path.join(out, "tables"), gen.AD_THRESHOLD)

    m = json.load(open(manifest))
    due = {f["name"]: f["due_ms"] for f in m["files"]}
    late = [f["written_ms"] - f["due_ms"] for f in m["files"]]
    attempts = json.load(open(os.path.join(out, "attempts.json")))

    def commit_of(query, table):
        """batch id -> commit ms of `table`'s upsert in its successful attempt."""
        return {x["batch"]: x["commits"][table] for x in attempts
                if x["query"] == query and x["ok"] and table in x["commits"]}

    ck = os.path.join(work, "s0", "checkpoints")
    stat_batch, feed_batch = sources_log(os.path.join(ck, "stats")), sources_log(os.path.join(ck, "feeder"))
    stat_commit, bl_commit = commit_of("stats", "ad_stat"), commit_of("feeder", "blacklist")
    lat = []
    for k, lines in enumerate(live):
        name = f"live_{k:05d}.txt"
        c = stat_commit.get(stat_batch.get(name))
        if c is None:
            bad.append(f"{name}: no ad_stat commit")
            continue
        lat += [c - due[name]] * len(lines)
    bl_lat = []
    for c in crossing:
        name = f"live_{c['file']:05d}.txt"
        t = bl_commit.get(feed_batch.get(name))
        if t is not None:
            bl_lat.append(t - due[name])
    if len(bl_lat) != len(crossing):
        bad.append(f"blacklist commits found for {len(bl_lat)} of {len(crossing)} bots")
    lat = lat or [float("nan")]
    bl_lat = bl_lat or [float("nan")]
    catchup = len(backlog) / (r["catchup_ms"] / 1000.0)
    say(f"ad_stat_latency_p50_ms {pct(lat, 0.5):.1f} ms ({len(lat)} events)")
    say(f"ad_stat_latency_p99_ms {pct(lat, 0.99):.1f} ms ({len(lat)} events, limit 5000)")
    say(f"blacklist_latency_p50_ms {pct(bl_lat, 0.5):.1f} ms ({len(bl_lat)} bots)")
    say(f"ad_catchup_eps {catchup:.1f} events/s ({len(backlog)} backlog events)")
    say(f"micro-batch attempts {r['attempts']}, failed {r['failed_attempts']}, "
        f"error_share {r['failed_attempts'] / max(1, r['attempts']):.4f}, restarts {r['restarts']}")
    for e in r["errors"][:5]:
        say("  " + e)
    say(f"generator late_ms max {max(late):.1f}, p99 {pct(late, 0.99):.1f}")
    e2e = {"latency_p50_ms": pct(lat, 0.5)}
    layers = dict(r.get("layers", {}))
    if a.trace:
        layers.update({
            "stream.ad_stat_latency_p99_ms": pct(lat, 0.99),
            "stream.blacklist_latency_p50_ms": pct(bl_lat, 0.5),
            "stream.catchup_eps": catchup,
            "streaming.backlog_events": float(len(backlog)),
            "error_share": r["failed_attempts"] / max(1, r["attempts"]),
            "generator.late_ms_max": max(late),
            "generator.late_ms_p99": pct(late, 0.99),
        })
        for layer, sec in self_times(os.path.join(out, "spans.jsonl")).items():
            layers[f"self_s.{layer}"] = sec / a.seconds
    # an operation is one generated line, done once the final tables
    # reflect it (checked above); failed micro-batch attempts are reported
    # on their own
    return r, e2e, layers, bad, len(backlog) + n_live, 0


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file) or not os.path.isdir(build.PROGRAM):
        raise SystemExit("run from a checkout of the repository: program sources missing")
    bench = json.load(open(bench_file))
    cp = build.build()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    t0 = time.time()
    try:
        fn = run_stream if a.workload == "adclick_realtime" else run_batch
        r, e2e, layers, bad, attempted, failed = fn(a, cp, work, out)
        setups = r["setup_s"]
        e2e["setup_s"] = statistics.median(setups)
        e2e["peak_rss_mb"] = r["peak_rss_mb"]
        say(f"setups: {', '.join(f'{s:.3f}' for s in setups)} s (first from JVM start)")
        say(f"run wall {time.time() - t0:.1f} s on {r['cores']} cores")
        for p in bad:
            print("WRONG: " + p, file=sys.stderr)
        if bad:
            raise SystemExit(1)
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        for k, v in list(e2e.items()) + sorted(layers.items()):
            say(f"{k} {v:.6g} {units.get(k) or unit_of(k)}")
        kind = "per_layer" if a.trace else "end_to_end"
        vals = layers if a.trace else e2e
        metrics = {m["name"]: {"value": float(vals.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench[kind]}
        print(json.dumps({"correct": True, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
