"""Benchmark entry point (driver contract).

Times the headline query set at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints exactly
ONE JSON line to stdout:

    {"metric": "headline_total", "value": <sum sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": <sec>, ...}, "sf": 0.1}

Each query is fully materialized through the no-op sink (every row is
produced and serialized by the executors; nothing short-circuits the
plan the way count() can) after one tiny warmup to absorb JVM +
codegen startup. Per query the reported number is the TRIMMED MEAN of
N_RUNS=7 in-process runs (two fastest and two slowest dropped, mean
of the middle 3), so round-over-round deltas reflect plan changes rather than
JIT/page-cache noise — VERDICT r3 saw a 2x "speedup" between identical
binaries, and VERDICT r5 saw spreads larger than the medians at
N_RUNS=3. "spread" records max-min over the SAME middle 3 runs, i.e.
the dispersion that actually enters the reported value. Before EVERY
run the Spark cache is cleared, persisted RDD blocks are freed, and
the JVM is asked to GC, so (a) one query's residual storage cannot
bleed into the next query's timing (VERDICT r5 item 4 — this alone
was the r5 cosine_near_dup "regression"), and (b) operators that
persist() an intermediate are measured cold on every run instead of
serving runs 2..N from run 1's cache. All human-readable chatter
goes to stderr.

Usage: python bench.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_cs416_spark.plans.registry import ALL_QUERIES, headline_queries
from mapreduce_cs416_spark.session import get_spark


def _materialize(df) -> None:
    """Force full evaluation of every output row on the executors."""
    df.write.format("noop").mode("overwrite").save()


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.removeprefix("sf"))
    except ValueError:
        return 0.0


N_RUNS = 7
N_TRIM = 2  # keep the middle 3 of 7: scheduling/GC jitter on
# sub-second queries makes the 2nd-fastest/2nd-slowest runs outliers too

# The trivial query whose trimmed-mean time IS the reported floor —
# one parquet footer read + a one-row count, no data-dependent work.
# Measured composition on this container (r9 probe, warm local[32]):
# ~0.07s noop-sink job round trip (scheduler + py4j), ~0.14s building
# the DataFrame itself (spark.read.parquet schema/footer IO inside the
# timed region), remainder the one-partition count. That footer job
# now runs only on a file's first read: sources/tables memoizes the
# inferred schema per file version, so the warmup pays it and every
# timed run plans from the memo with no job. The floor also
# FALLS ~25% as the JVM JITs (0.29s in a fresh session → 0.22s after
# heavy queries), so it is position-dependent; measuring it first,
# with the same discipline, makes it the honest comparator for the
# cold-measured queries that follow. The r7→r8 uniform ~1.5× bench
# shift lived entirely in this number (VERDICT r8 item 2) —
# environment, not plans; now it is printed instead of inferred.
FLOOR_QUERY = "file_count"


def _isolate(spark) -> None:
    """Reset cross-query state: unpersist cached/checkpointed blocks,
    drop the Spark SQL cache, and nudge the JVM collector so a heavy
    query's garbage isn't collected inside the next query's timing."""
    spark.catalog.clearCache()
    jvm_sc = spark.sparkContext._jsc.sc()
    for rdd_id in list(spark.sparkContext._jsc.getPersistentRDDs().keySet()):
        try:
            jvm_sc.unpersistRDD(rdd_id, True)
        except Exception:  # noqa: BLE001 — already freed by its owner
            pass
    spark.sparkContext._jvm.System.gc()


def _steal_counters() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from /proc/stat — the hypervisor
    noise indicator. r14: this container sees multi-minute noise
    windows that inflate whole stretches of a pass 2-4x (same code,
    same data — r12's 'bench pollution'); recording per-query steal%
    makes a polluted row SEPARABLE from a plan regression in the
    artifact instead of a forensic exercise. Diagnostics only — the
    timing methodology and the stdout contract are unchanged."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = list(map(int, parts[1:9]))
        return vals[7], sum(vals)
    except Exception:  # noqa: BLE001 — non-Linux: no steal column
        return 0, 1


def time_queries(
    spark, sf_dir: str, names: list[str], echo_suffix: str = ""
) -> tuple[dict[str, float], dict[str, float], dict[str, float]]:
    """The ONE measurement loop (warmup, N_RUNS per-run-isolated cold
    runs, trimmed mean of the middle 3, 3-dp rounding) shared by the
    bench and tools/scaling_report.py — so 'bench.py discipline'
    cannot drift between the two artifacts. Returns (timings,
    spreads)."""
    t0 = time.time()
    _materialize(ALL_QUERIES["file_count"].fn(spark, sf_dir))
    print(f"warmup {time.time() - t0:.2f}s  sf_dir={sf_dir}", file=sys.stderr)
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    steals: dict[str, float] = {}
    for name in names:
        s0, c0 = _steal_counters()
        runs: list[float] = []
        for _ in range(N_RUNS):
            # isolate each RUN, not just each query: operators that
            # persist() an intermediate (minhash shingles, triangle
            # edges) would otherwise compute it in run 1 and serve
            # runs 2..N from cache — bimodal timings (the r5 spread
            # problem) and a number that measures the warm path
            _isolate(spark)
            t0 = time.time()
            _materialize(ALL_QUERIES[name].fn(spark, sf_dir))
            runs.append(time.time() - t0)
        s1, c1 = _steal_counters()
        runs.sort()
        kept = runs[N_TRIM : len(runs) - N_TRIM]
        timings[name] = round(sum(kept) / len(kept), 3)
        spreads[name] = round(kept[-1] - kept[0], 3)
        steals[name] = round(100.0 * (s1 - s0) / max(c1 - c0, 1), 2)
        print(
            f"  {name:32s} trimmed-mean {timings[name]:8.3f}s  "
            f"spread {spreads[name]:.3f}s  steal {steals[name]:.1f}%{echo_suffix}",
            file=sys.stderr,
        )
    return timings, spreads, steals


def main() -> int:
    args = sys.argv[1:]
    # Argv contract: an arg is either an existing sf directory or a
    # registered query name — anything else (a mistyped path, an
    # unknown query) must fail loudly, not surface as a KeyError.
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    for a in args:
        if os.path.isdir(a):
            sf_dir = a
        elif a in ALL_QUERIES:
            names.append(a)
        else:
            looks_like_path = os.sep in a or a.startswith("sf")
            kind = "sf_dir does not exist" if looks_like_path else "unknown query"
            print(
                f"bench.py: {kind}: {a!r}\n"
                f"  registered queries: {', '.join(sorted(ALL_QUERIES))}",
                file=sys.stderr,
            )
            return 2
    names = names or sorted(headline_queries())
    if not os.path.isdir(sf_dir):
        print(f"bench.py: sf_dir does not exist: {sf_dir!r}", file=sys.stderr)
        return 2
    spark = get_spark("bench")
    # The per-run fixed overhead ("floor": plan analysis + codegen +
    # noop-job scheduling on a trivial single-file count), measured
    # with the SAME trimmed-mean discipline as every other number.
    # VERDICT r8 item 2: the r7→r8 bench shifted ~1.5× uniformly
    # because this floor drifted (0.13→0.24s) with nothing reporting
    # it — printing it beside the totals makes environment drift
    # separable from plan regressions round-over-round.
    floor_t, _, _ = time_queries(spark, sf_dir, [FLOOR_QUERY], echo_suffix=" (floor)")
    floor = floor_t[FLOOR_QUERY]
    timings, spreads, steals = time_queries(spark, sf_dir, names)
    minus_floor = {n: round(max(0.0, t - floor), 3) for n, t in timings.items()}

    full = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "steal_pct": steals,
        "floor": floor,
        # r15 (VERDICT r14 item 8): make floor drift separable by
        # artifact inspection alone — the r13→r14 floor rise
        # (0.378→0.443 s, +17% environment overhead) alone explained
        # most sub-second "regressions" in PERF_r14. Read a
        # round-over-round per-query comparison AFTER normalizing by
        # floor (queries_minus_floor), and treat any row whose
        # steal_pct exceeds ~1.5 as polluted before calling it a
        # plan regression.
        "floor_note": (
            "per-query fixed overhead; compare rounds via "
            "queries_minus_floor and gate rows on steal_pct > 1.5"
        ),
        "queries_minus_floor": minus_floor,
        "value_minus_floor": round(sum(minus_floor.values()), 3),
        "stat": "trimmed_mean",
        "n_runs": N_RUNS,
        "n_trim": N_TRIM,
        "sf": _sf_of(sf_dir),
    }
    # The round driver records only the TAIL of stdout (~2000 chars),
    # which truncated the head of the full dict in r8/r9 (VERDICT r9
    # item 6) — so the complete artifact goes to BENCH.json in the
    # repo, and stdout's one line is a LEAN minified dict (no spread /
    # per-query minus-floor: both derivable or in BENCH.json) that
    # fits the tail whole even at 50+ queries.
    bench_json = os.environ.get(
        "SPARK_GRAFT_BENCH_JSON",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json"),
    )
    with open(bench_json, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    lean = {
        k: full[k]
        for k in ("metric", "value", "unit", "floor", "value_minus_floor", "sf", "queries")
    }
    print(json.dumps(lean, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
