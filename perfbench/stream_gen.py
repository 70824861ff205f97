"""Open-loop stream generator: one process, one thread.

Publishes the pre-generated files of a live input directory into the watched
directory on a fixed wall-clock schedule: file ``i`` is due at
``t0 + i * period``.  A file is published by writing it under a hidden name
(the Spark file source skips names starting with ``.``) and renaming it into
place.  The schedule never waits for the engine; a late publish is recorded,
and the next file keeps its own due time.

    python3 perfbench/stream_gen.py SRC DST T0 PERIOD LOG_JSON
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def publish(src: str, dst: str, t0: float, period: float) -> dict:
    names = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
    sched, actual = [], []
    for i, name in enumerate(names):
        due = t0 + i * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(dst, f".{name}.tmp")
        shutil.copyfile(os.path.join(src, name), tmp)
        os.rename(tmp, os.path.join(dst, name))
        sched.append(due)
        actual.append(time.time())
    lag_ms = [(a - s) * 1000.0 for s, a in zip(sched, actual)]
    return {"files": names, "sched": sched, "actual": actual,
            "lag_ms_max": max(lag_ms) if lag_ms else 0.0}


def main(argv: list[str]) -> int:
    if len(argv) != 6:
        print(__doc__, file=sys.stderr)
        return 2
    src, dst, t0, period, log_path = argv[1], argv[2], float(argv[3]), float(argv[4]), argv[5]
    record = publish(src, dst, t0, period)
    with open(log_path, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
