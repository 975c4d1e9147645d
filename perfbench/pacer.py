#!/usr/bin/env python3
"""Open-loop pacer for the stream_fresh workload.

    pacer.py STAGING TARGET FILES INTERVAL_MS RESULT

Moves STAGING/part-<k>.json into TARGET at start + k * INTERVAL_MS,
whatever the stream under test does, and writes to RESULT the wall-clock
time (ms since the epoch) each file was due and when it landed. It runs
as its own process so that pauses of the JVM under test cannot delay it.
"""
import json
import os
import sys
import time


def main():
    staging, target, files, interval_ms, result = sys.argv[1:]
    files, interval = int(files), float(interval_ms) / 1000.0
    start = time.time()
    due, done = [], []
    for k in range(files):
        t = start + k * interval
        wait = t - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"part-{k:06d}.json"
        os.rename(os.path.join(staging, name), os.path.join(target, name))
        due.append(t * 1000.0)
        done.append(time.time() * 1000.0)
    with open(result + ".tmp", "w") as f:
        json.dump({"due_ms": due, "done_ms": done}, f)
    os.rename(result + ".tmp", result)


if __name__ == "__main__":
    main()
