"""Open-loop generator process of the adclick_realtime workload.

Waits for the harness to open the live phase (the `--go` file appears),
then moves one staged file of reference-format lines into the stream's
source directory every `--period-ms`, on a fixed schedule that does not
wait for the consumer. Each file is due at t0 + (k+1) * period; the
manifest records when each was due and when it was actually written, so
the harness can time every line from its due time and report how late the
generator ran.

    python3 perfbench/feed.py --stage DIR --src DIR --go FILE \
        --period-ms 100 --manifest FILE [--wait-s 120]
"""
import argparse
import json
import os
import sys
import time


def now_ms():
    return time.time() * 1000.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--go", required=True)
    ap.add_argument("--period-ms", type=int, required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--wait-s", type=float, default=120)
    a = ap.parse_args()
    files = sorted(os.listdir(a.stage))
    give_up = time.time() + a.wait_s
    while not os.path.exists(a.go):
        if time.time() > give_up:
            sys.exit("live phase never opened")
        time.sleep(0.002)
    t0 = now_ms()
    out = []
    for k, name in enumerate(files):
        due = t0 + (k + 1) * a.period_ms
        wait = (due - now_ms()) / 1000.0
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(a.stage, name), os.path.join(a.src, name))
        out.append({"name": name, "due_ms": due, "written_ms": now_ms()})
    with open(a.manifest + ".tmp", "w") as f:
        json.dump({"t0_ms": t0, "period_ms": a.period_ms, "files": out}, f)
    os.rename(a.manifest + ".tmp", a.manifest)


if __name__ == "__main__":
    main()
