"""CPU "weather" probe for this host-shared guest, width-aware.

The steal%% counter only sees hypervisor preemption; the dominant noise
mode here is *effective core speed/capacity* drift (frequency scaling +
neighbor load), which is invisible to steal yet swings wall times 2-3x
over minutes (it has destroyed multiple scaling campaigns — see
BENCH_SCALING.md disclosures).  Two distinct failure modes matter:

- single-core slowdown (frequency / shared-cache pressure) — probed at
  width 1;
- under-delivery of WIDE parallelism (the host grants 8 fast cores but
  not 32) — probed at width N: N threads each hash a fixed buffer
  (hashlib releases the GIL for large updates, so threads genuinely
  parallelize) and the probe times the slowest.

Each width's PAR is the best time ever recorded at that width
(self-calibrating, persisted in bench/weather_par.json, only lowered).
`slowdown` = this probe / PAR at the same width.

    python -m bench.weather                  # width-1 probe
    python -m bench.weather --width 32       # can the host deliver 32?
    python -m bench.weather --width 32 --wait 30 --max-slowdown 1.15

bench.py probes at its width before the timed run and records the
slowdown, so a reader can see the weather a number was measured under
without re-running anything.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAR_PATH = os.path.join(REPO, "bench", "weather_par.json")

# 4 MiB per update: hashlib releases the GIL for the whole update, so
# the Python-level loop bookkeeping (GIL-held) is <0.1% of the work and
# wide probes measure the HOST's core delivery, not interpreter lock
# contention.  24 updates = 96 MiB hashed per thread.
_BUF = ((b"\x00\x01\x02\x03" * 64 + bytes(range(256))) * 128) * 64  # 4 MiB
_MD5_ITERS = 24


def _work() -> None:
    h = hashlib.md5()
    for _ in range(_MD5_ITERS):
        h.update(_BUF)


def probe(width: int = 1) -> dict:
    t0 = time.perf_counter()
    if width == 1:
        _work()
    else:
        threads = [threading.Thread(target=_work) for _ in range(width)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    wall = time.perf_counter() - t0
    key = str(width)
    pars: dict = {}
    try:
        with open(PAR_PATH) as f:
            pars = json.load(f)
    except (OSError, ValueError):
        pars = {}
    par = min(wall, pars.get(key, wall))
    pars[key] = round(par, 5)
    pars["updated"] = time.strftime("%Y-%m-%d %H:%M:%S")
    try:
        with open(PAR_PATH, "w") as f:
            json.dump(pars, f)
    except OSError:
        pass
    return {"width": width, "probe_sec": round(wall, 4),
            "par_sec": round(par, 4), "slowdown": round(wall / par, 3)}


def wait_for_window(width: int, max_slowdown: float, wait_minutes: float,
                    interval_sec: float = 60.0) -> dict:
    """Probe until slowdown <= max_slowdown or the budget runs out;
    returns the last probe (caller decides what to do on a bad one)."""
    deadline = time.time() + wait_minutes * 60
    p = probe(width)
    while p["slowdown"] > max_slowdown and time.time() < deadline:
        time.sleep(interval_sec)
        p = probe(width)
    return p


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--width", type=int, default=1)
    ap.add_argument("--wait", type=float, default=0.0,
                    help="minutes to wait for a clean window")
    ap.add_argument("--max-slowdown", type=float, default=1.15)
    ap.add_argument("--interval", type=float, default=60.0)
    args = ap.parse_args()
    if args.wait > 0:
        p = wait_for_window(args.width, args.max_slowdown, args.wait,
                            args.interval)
    else:
        p = probe(args.width)
    p["clean"] = p["slowdown"] <= args.max_slowdown
    print(json.dumps(p))


if __name__ == "__main__":
    main()
