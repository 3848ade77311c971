"""Same-window memory-bandwidth scaling control for the N->4N legs.

Aggregate memcpy GB/s with N worker processes confined to cores 0..N-1 —
the identical confinement bench_scaling.py uses — at N=2 and N=8.  The
ratio (agg8/agg2)/4 is the CURRENT window's memory-bandwidth scaling
ceiling: on this shared VM absolute bandwidth drifts by 10x across hours
(BENCH.md host-variance control), so the ceiling must be measured in the
same window as the pipeline legs it normalizes.

Legs are capped at the cores this process may run on
(``os.sched_getaffinity``): on a 4-core host the 8-process leg runs with 4
processes, the line says so under "capped", and the ceiling is reported for
the legs actually run.  A worker that fails (or a leg that does not finish
within LEG_TIMEOUT_S) turns into an "error" entry instead of a hang.

Usage: python scripts/membw_probe.py  -> one JSON line
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import queue
import time

MB = 256
LEGS = (1, 2, 8)
LEG_TIMEOUT_S = 120.0


def worker(core: int, out):
    try:
        os.sched_setaffinity(0, {core})
        import numpy as np

        a = np.ones(MB * 1024 * 1024 // 8)
        # warm
        b = a.copy()
        t0 = time.time()
        reps = 6
        for _ in range(reps):
            b = a.copy()
        dt = time.time() - t0
        del b
        out.put(("ok", reps * a.nbytes / dt / 1e9))
    except Exception as e:  # report, never leave the parent waiting
        out.put(("error", f"core {core}: {type(e).__name__}: {e}"))


def agg_bw(n: int, timeout: float = LEG_TIMEOUT_S) -> float:
    """Aggregate GB/s of ``n`` workers, each pinned to one of the first
    ``n`` usable cores.  Raises RuntimeError if a worker fails or the leg
    does not finish within ``timeout`` seconds."""
    cores = sorted(os.sched_getaffinity(0))[:n]
    if len(cores) < n:
        raise RuntimeError(f"{n}-process leg: only {len(cores)} usable cores")
    q = mp.Queue()
    procs = [mp.Process(target=worker, args=(c, q)) for c in cores]
    for p in procs:
        p.start()
    deadline = time.time() + timeout
    vals, errors = [], []
    try:
        for _ in procs:
            kind, val = q.get(timeout=max(0.0, deadline - time.time()))
            (vals if kind == "ok" else errors).append(val)
    except queue.Empty:
        errors.append(f"{n - len(vals) - len(errors)} workers silent after {timeout:.0f}s")
    finally:
        for p in procs:
            p.join(timeout=1.0)
            if p.is_alive():
                p.terminate()
                p.join()
    if errors:
        raise RuntimeError(f"{n}-process leg: " + "; ".join(errors))
    return round(sum(vals), 2)


def main():
    usable = len(os.sched_getaffinity(0))
    legs = sorted({min(n, usable) for n in LEGS})
    res = {"cores": usable}
    if legs[-1] < LEGS[-1]:
        res["capped"] = f"{LEGS[-1]}-process leg run with the {usable} usable cores"
    try:
        for n in legs:
            res[str(n)] = agg_bw(n)
    except RuntimeError as e:
        res["error"] = str(e)
    top = legs[-1]
    if "error" not in res and top > 2:
        res[f"ceiling_2_to_{top}"] = round(res[str(top)] / res["2"] / (top / 2), 3)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
