"""Noise-guarded bench wrapper: wait for a quiet host (low hypervisor
steal), run ``bench.py <queries>``, and reject the measurement if the
host went noisy while it ran.

Usage: python tools/quiet_bench.py [sf_dir] <query> [query ...]

Rationale (OPTIMIZATION_r14.md "Baseline measurement"): this container
sees multi-minute hypervisor noise windows that inflate whole
alphabetical stretches of a full bench pass 2-4x. Per-change evidence
therefore comes from subset runs bracketed by /proc/stat steal-time
checks; a run is accepted only if steal stayed under THRESH for its
whole duration.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _steal_counters

THRESH_PCT = 1.5
MAX_WAIT_S = 900


def steal_pct(window_s: float = 3.0) -> float:
    s0, t0 = _steal_counters()
    time.sleep(window_s)
    s1, t1 = _steal_counters()
    return 100.0 * (s1 - s0) / max(t1 - t0, 1)


def main() -> int:
    args = sys.argv[1:]
    deadline = time.time() + MAX_WAIT_S
    for attempt in range(99):
        while True:
            s = steal_pct()
            if s < THRESH_PCT:
                break
            print(f"steal {s:.1f}% — waiting for quiet host", file=sys.stderr)
            if time.time() > deadline:
                print("quiet_bench: gave up waiting for quiet host", file=sys.stderr)
                return 3
            time.sleep(20)
        t0 = time.time()
        s0, c0 = _steal_counters()
        env = dict(os.environ, SPARK_GRAFT_BENCH_JSON="/tmp/quiet_bench_last.json")
        r = subprocess.run(
            [sys.executable, "bench.py", *args],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            env=env,
            capture_output=True,
            text=True,
        )
        s1, c1 = _steal_counters()
        run_steal = 100.0 * (s1 - s0) / max(c1 - c0, 1)
        line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        # returncode gate BEFORE the parse (ADVICE r14): a failed bench
        # whose last stdout line isn't JSON must reach the stderr-tail
        # path, not die in json.loads
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-2000:])
            return r.returncode
        try:
            parsed = json.loads(line)
        except json.JSONDecodeError:
            parsed = {}
        floor = parsed.get("floor")
        if run_steal < THRESH_PCT:
            print(
                f"# accepted: steal {run_steal:.2f}% over {time.time() - t0:.0f}s, floor {floor}",
                file=sys.stderr,
            )
            print(line)
            return 0
        print(
            f"# attempt {attempt}: steal {run_steal:.1f}% during run (floor {floor}) — retrying",
            file=sys.stderr,
        )
        if time.time() > deadline:
            print("quiet_bench: deadline; last (noisy) result:", file=sys.stderr)
            print(line)
            return 3
    return 3


if __name__ == "__main__":
    raise SystemExit(main())
