"""Open-loop file feeder, run as its own process by the ``live_match`` workload.

Usage: ``python3 feeder.py PLAN.json``. The plan lists ``[offset_s, src,
dst]`` moves sorted by offset. The feeder reads the schedule origin (an
epoch time) from its standard input, then renames each staged file into
the watched folder at ``origin + offset_s`` — an atomic rename, so the
file source never lists a half-written file. It never waits for the
engine, so a stalled engine cannot slow the schedule. It writes the
actual move times to ``PLAN.json.done``.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(plan_path: str) -> int:
    with open(plan_path) as f:
        moves = json.load(f)["moves"]
    origin = float(sys.stdin.readline())
    actual = []
    for offset, src, dst in moves:
        delay = origin + offset - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(src, dst)
        actual.append(time.time())
    with open(plan_path + ".done", "w") as f:
        json.dump({"actual": actual}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
