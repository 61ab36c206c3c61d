"""Open-loop landing of pre-written change-log files (trickle workload).

Runs as its own process, without Spark, so the driver's foreachBatch
callback (which holds the interpreter lock) cannot delay a landing. File i
is due at ``t0 + i / rate``; at its due instant it gets its due time as
mtime and is renamed (atomically, same filesystem) from the staging
directory into the live log directory. The log records due and landed
instants, so lateness is measured, not assumed.

    python3 cdcbench/feeder.py STAGING LIVE LOG T0 RATE
"""

from __future__ import annotations

import json
import os
import sys
import time


def land(staging: str, live: str, t0: float, rate: float) -> list[dict]:
    names = sorted(n for n in os.listdir(staging) if n.endswith(".parquet"))
    out = []
    for i, name in enumerate(names):
        due = t0 + i / rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        src = os.path.join(staging, name)
        os.utime(src, (due, due))
        os.rename(src, os.path.join(live, name))
        out.append({"name": name, "due": due, "landed": time.time()})
    return out


def main(argv: list[str]) -> int:
    staging, live, log_path, t0, rate = argv[0], argv[1], argv[2], float(argv[3]), float(argv[4])
    landed = land(staging, live, t0, rate)
    tmp = log_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(landed, fh)
    os.rename(tmp, log_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
