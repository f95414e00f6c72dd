"""Open-loop load generator for the ``live`` workload.

Runs as its own process. It moves pre-staged frame files from a holding
directory into the watched directory by atomic rename, file ``i`` at
``t0 + i * interval`` (wall clock), whether or not the pipeline keeps
up, until the names run out or ``STOP_FILE`` exists. For each file it
prints one JSON line with the due time and the time the rename
happened, so the driver can charge each file's freshness from its
*scheduled* arrival and report how late the generator ran.

    python3 gen.py HOLD_DIR WATCH_DIR STOP_FILE T0 INTERVAL NAME [NAME ...]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    hold, watch, stop, t0, interval, names = (
        argv[0], argv[1], argv[2], float(argv[3]), float(argv[4]), argv[5:]
    )
    for i, name in enumerate(names):
        due = t0 + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        if os.path.exists(stop):
            break
        os.rename(os.path.join(hold, name), os.path.join(watch, name))
        print(json.dumps({"name": name, "due": due, "done": time.time()}),
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
