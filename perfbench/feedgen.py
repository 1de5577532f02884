"""Open-loop feed generator for the tail phase of ``cdc``, run as its own process.

The envelope lines are made before the run, in set-up, and read from
``--pool``; the first ``--start`` of them are already in the log. Line
``i`` is due at ``t0 + (i - start) / rate``; every few milliseconds the
generator appends all lines that have come due to the flashfeed log in
one write, whatever the pipeline is doing. It stops once the stop file
exists (or the pool is used up) and prints
``{"written": n, "late_ms_max": x}`` — the log's length in events, and
how late the latest-written event was against its due time.

    python3 perfbench/feedgen.py --path FEED --pool POOL --start N --rate R --t0 T --stop FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time

TICK_S = 0.005


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--path", required=True)
    ap.add_argument("--pool", required=True)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--stop", required=True)
    args = ap.parse_args()

    with open(args.pool, encoding="utf-8") as fh:
        lines = fh.readlines()
    written, late_max = args.start, 0.0
    with open(args.path, "a", encoding="utf-8") as feed:
        while written < len(lines) and not os.path.exists(args.stop):
            now = time.time()
            due = args.start + (int((now - args.t0) * args.rate) + 1 if now >= args.t0 else 0)
            due = min(due, len(lines))
            if due > written:
                feed.write("".join(lines[written:due]))
                feed.flush()
                late_max = max(late_max, time.time() - (args.t0 + (written - args.start) / args.rate))
                written = due
            time.sleep(TICK_S)
    print(json.dumps({"written": written, "late_ms_max": late_max * 1000.0}), flush=True)


if __name__ == "__main__":
    main()
