"""Load-gated two-parallelism criterion runner.

A plain interleaved series measures honest ratios when the host is
quiet, but on a shared host co-tenant bursts hit the 4N-core run
asymmetrically (an N-core job leaves 4N-N quiet-half cores for
neighbours to burn; the 4N job fights them everywhere), and a burst
landing mid-run poisons one side of a ratio. Rather than hand-picking
"the quiet round" after the fact, this runner makes the acceptance rule
explicit and mechanical, BEFORE seeing the throughput:

- WAIT until the pinned half is quiet (fixed pure-CPU calibration kernel
  x16 under 1.35 s, twice in a row) before starting any timed run;
- SAMPLE /proc/loadavg every 15 s during the run; a 1-min average more
  than 5 over the job's own core count means a co-tenant burst landed
  mid-run;
- BRACKET with the same calibration kernel after the run (> 1.8 s =
  burst near the end);
- a run failing any gate is DISCARDED AND RETRIED (up to --attempts),
  with the discarded measurement still logged — the gate is about when
  the measurement is taken, never about which number it produced.

Usage:
    python tools_scale_gated.py .scale100m --small 4 --large 16 --rounds 3
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import re
import subprocess
import sys
import threading
import time


def _kern(_=0):
    import numpy as np

    x = np.arange(1_500_000, dtype=np.float64)
    for _ in range(40):
        x = np.sqrt(x * 1.0001 + 1.0)
    return float(x[0])


def calib(base: int) -> float:
    """Fixed pure-CPU kernel x16 pinned to the chosen half; ~1.1 s idle."""
    prev = os.sched_getaffinity(0)
    os.sched_setaffinity(0, set(range(base, base + 16)))
    try:
        with mp.get_context("fork").Pool(16) as p:
            t0 = time.perf_counter()
            p.map(_kern, range(16))
            return time.perf_counter() - t0
    finally:
        os.sched_setaffinity(0, prev)


def pick_base() -> int:
    """Quieter 16-core half (co-tenants pin to low core ids here)."""
    lo, hi = calib(0), calib(16)
    base = 0 if lo <= hi else 16
    print(f"probe lo={lo:.2f}s hi={hi:.2f}s -> base {base}", flush=True)
    return base


def wait_quiet(base: int, thresh: float, timeout_s: float) -> bool:
    t0, streak = time.monotonic(), 0
    while time.monotonic() - t0 < timeout_s:
        c = calib(base)
        streak = streak + 1 if c < thresh else 0
        if streak >= 2:
            return True
        time.sleep(20)
    return False


class LoadSampler(threading.Thread):
    def __init__(self, interval: float = 15.0):
        super().__init__(daemon=True)
        self.samples: list[float] = []
        self.interval = interval
        # NB: must not be named _stop — that shadows Thread._stop, which
        # join() calls internally (TypeError: 'Event' object is not callable)
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            with open("/proc/loadavg") as f:
                self.samples.append(float(f.read().split()[0]))
            self._halt.wait(self.interval)

    def stop(self) -> list[float]:
        self._halt.set()
        self.join()
        return self.samples


def run_once(data: str, base: int, cores: int, tag: str) -> dict:
    out = os.path.join(data, f"gated_{tag}")
    subprocess.run(["rm", "-rf", out], check=True)
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_CONSOLE_PROGRESS": "false",
        "SPARK_DRIVER_MEMORY": "48g",
    }
    cpre = calib(base)
    sampler = LoadSampler()
    sampler.start()
    t0 = time.perf_counter()
    proc = subprocess.run(
        [
            "taskset", "-c", f"{base}-{base + cores - 1}",
            sys.executable, "-m", "polars_genson_spark.jobs",
            "--shuffle-partitions", str(cores * 8),
            "validate", "--input", os.path.join(data, "tokens"),
            "--output", out, "--no-resume",
        ],
        env=env,
        capture_output=True,
        text=True,
    )
    outer = time.perf_counter() - t0
    loads = sampler.stop()
    cpost = calib(base)
    m = re.search(r'"wall_s": ([0-9.]+)', proc.stdout)
    injob = float(m.group(1)) if m else None
    maxload = max(loads) if loads else 0.0
    rec = {
        "cores": cores,
        "outer_s": round(outer, 1),
        "injob_s": injob,
        "calib_pre": round(cpre, 2),
        "calib_post": round(cpost, 2),
        "load_max": round(maxload, 1),
        "load_mean": round(sum(loads) / len(loads), 1) if loads else 0.0,
    }
    # acceptance: purely about measurement conditions, decided before
    # anyone looks at the throughput number
    rec["clean"] = bool(
        injob is not None
        and cpre < 1.35
        and cpost < 1.8
        and maxload <= cores + 5
    )
    return rec


def hw_ceiling(base: int, small: int, large: int, kernels: int = 32) -> dict:
    """Pure-CPU hardware ceiling for this core pair, in this window:
    time a FIXED total work (``kernels`` kernel calls) with ``small``
    workers vs ``large`` workers pinned to the same 16-core half, best
    of 2. The host itself does not scale linearly (shared memory bus,
    co-tenants), so a job's measured efficiency is bounded by this —
    the engine-attributable figure is job_eff / hw_eff."""
    import multiprocessing as mp

    prev = os.sched_getaffinity(0)
    os.sched_setaffinity(0, set(range(base, base + 16)))
    try:
        times = {}
        for w in (small, large):
            best = None
            for _ in range(2):
                with mp.get_context("fork").Pool(w) as p:
                    t0 = time.perf_counter()
                    p.map(_kern, range(kernels))
                    dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            times[w] = best
    finally:
        os.sched_setaffinity(0, prev)
    eff = times[small] / (large / small) / times[large]
    return {
        "hw_small_s": round(times[small], 2),
        "hw_large_s": round(times[large], 2),
        "hw_eff": round(eff, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("data")
    ap.add_argument("--small", type=int, default=4)
    ap.add_argument("--large", type=int, default=16)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--attempts", type=int, default=4)
    ap.add_argument("--quiet-thresh", type=float, default=1.35)
    ap.add_argument("--quiet-timeout", type=float, default=900.0)
    ap.add_argument(
        "--start-round", type=int, default=1,
        help="first round number (resume a killed multi-round run "
             "without renumbering: round N's artifacts are tagged rN)",
    )
    args = ap.parse_args()

    # every record is ALSO appended to gated_results.jsonl the moment it
    # exists: the first run of this tool was SIGKILLed between rounds
    # and its completed round survived only in scrollback
    jsonl = os.path.join(args.data, "gated_results.jsonl")

    def emit(rec: dict) -> None:
        print(json.dumps(rec), flush=True)
        with open(jsonl, "a") as f:
            f.write(json.dumps(rec) + "\n")

    results: list[dict] = []
    for rnd in range(args.start_round, args.start_round + args.rounds):
        pair = {}
        for side, cores in (("small", args.small), ("large", args.large)):
            for att in range(1, args.attempts + 1):
                # re-probe EVERY attempt: co-tenants move between halves
                # over the minutes a round takes, so a base picked once
                # at startup goes stale and every retry inherits the
                # same contended half
                base = pick_base()
                if not wait_quiet(base, args.quiet_thresh, args.quiet_timeout):
                    print(f"r{rnd} {side}: quiet-wait timed out, running anyway", flush=True)
                rec = run_once(args.data, base, cores, f"{side}{cores}_r{rnd}")
                rec.update({
                    "round": rnd, "side": side, "attempt": att,
                    "base": base,
                    "t": time.strftime("%H:%M:%S"),
                })
                emit(rec)
                results.append(rec)
                if rec["clean"]:
                    pair[side] = rec
                    break
        if "small" in pair and "large" in pair:
            eff = (
                pair["small"]["injob_s"] / pair["large"]["injob_s"]
            ) / (args.large / args.small)
            # same-window hardware ceiling on the quieter half, so the
            # round's ratio can be read against what the host offered
            hw = hw_ceiling(pick_base(), args.small, args.large)
            rec = {
                "round": rnd,
                "side": "summary",
                "efficiency": round(eff, 3),
                **hw,
                "engine_vs_hw": round(eff / hw["hw_eff"], 3)
                if hw["hw_eff"]
                else None,
            }
            emit(rec)
            results.append(rec)
            print(
                f"ROUND {rnd}: small={pair['small']['injob_s']}s "
                f"large={pair['large']['injob_s']}s efficiency={eff:.3f} "
                f"hw_eff={hw['hw_eff']} "
                f"engine_vs_hw={rec['engine_vs_hw']}",
                flush=True,
            )
    with open(os.path.join(args.data, "gated_results.json"), "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
