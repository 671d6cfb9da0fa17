"""Open-loop feeder for the trickle workload, run as its own process.

    python3 feeder.py STAGE_DIR DEST_DIR START INTERVAL_S LOG_PATH

Moves the files of STAGE_DIR, in name order, into DEST_DIR with an
atomic rename: file i is due at START + i * INTERVAL_S (START on the
system-wide CLOCK_MONOTONIC).  The schedule never waits for the stream,
so a stalled stream builds a backlog.  LOG_PATH receives one JSON
object per file: name, due and landed times.  Single-threaded.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    stage, dest, start, interval, log_path = argv
    start, interval = float(start), float(interval)
    log = []
    for i, name in enumerate(sorted(os.listdir(stage))):
        due = start + i * interval
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(stage, name), os.path.join(dest, name))
        log.append({"name": name, "due": due, "landed": time.monotonic()})
    with open(log_path, "w") as f:
        json.dump(log, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
