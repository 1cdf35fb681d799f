"""Open-loop oplog generator for the traced tail.

Runs as its own single-threaded process. Every `tick` seconds it appends
one segment file holding the entries due in that tick, on a fixed schedule
that does not wait for the replicator. Each phase runs at its own rate: a
warm-up part, then a measured part. It records each file's due time and how
late it was written (due.json), then writes `gen_done` with the head ts.

usage: tailgen.py <seg_dir> <work_dir> <seed> <users> <ts_start> <tick_s>
                  <name:rate:warm_s:measure_s> ...
"""
import json
import math
import os
import sys
import time

import gen


def schedule(phases, tick):
    """(phase, measured, n) per tick: how many entries each tick writes."""
    out = []
    for name, rate, warm, measure in phases:
        ticks = int(round((warm + measure) / tick))
        warm_ticks = int(round(warm / tick))
        for k in range(1, ticks + 1):
            n = int(math.floor(rate * k * tick)) - int(math.floor(rate * (k - 1) * tick))
            out.append((name, k > warm_ticks, n))
    return out


def main():
    seg_dir, work = sys.argv[1], sys.argv[2]
    seed, users, ts_start = int(sys.argv[3]), int(sys.argv[4]), int(sys.argv[5])
    tick = float(sys.argv[6])
    phases = [(n, float(r), float(w), float(m))
              for n, r, w, m in (a.split(":") for a in sys.argv[7:])]
    plan = schedule(phases, tick)
    lines, _ = gen.oplog(seed, sum(n for _, _, n in plan), users, ts_start=ts_start)
    tick_us = int(tick * 1e6)
    start_us = time.time_ns() // 1000 + 200_000
    files = []
    done = 0
    for k, (phase, measured, n) in enumerate(plan, start=1):
        due_us = start_us + k * tick_us
        wait = (due_us - time.time_ns() // 1000) / 1e6
        if wait > 0:
            time.sleep(wait)
        if n == 0:
            continue
        gen.write_segment(os.path.join(seg_dir, f"seg-{k:06d}.json"), lines[done:done + n])
        files.append({"phase": phase, "measured": measured, "due_us": due_us,
                      "written_us": time.time_ns() // 1000,
                      "first_ts": ts_start + done, "last_ts": ts_start + done + n - 1, "n": n})
        done += n
    with open(os.path.join(work, "due.json"), "w") as f:
        json.dump(files, f)
    tmp = os.path.join(work, ".gen_done")
    with open(tmp, "w") as f:
        f.write(f"{ts_start + done - 1}\n")
    os.rename(tmp, os.path.join(work, "gen_done"))


if __name__ == "__main__":
    main()
