"""Open-loop load generator for the stream workload.

Runs as its own process so its schedule does not slow when the system
under test does. Reads a plan written by the worker, copies each match
file into the stream source directory at its due time (write to a name
the source glob skips, then rename), and writes the monotonic time each
file became visible.

Usage: python3 perfbench/publisher.py PLAN.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def publish(plan: dict) -> list[float]:
    done = []
    for src, dst, due in plan["files"]:
        delay = plan["t0"] + due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        shutil.copyfile(src, dst + ".part")
        os.replace(dst + ".part", dst)
        done.append(time.monotonic())
    return done


def main(plan_path: str) -> None:
    with open(plan_path) as fh:
        plan = json.load(fh)
    done = publish(plan)
    with open(plan["out"] + ".part", "w") as fh:
        json.dump(done, fh)
    os.replace(plan["out"] + ".part", plan["out"])


if __name__ == "__main__":
    main(sys.argv[1])
