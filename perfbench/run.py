"""The repository benchmark: seeded closed-loop workloads over the
package's public surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, ``local[min(nproc, 4)]``. Set-up generates the seeded
inputs (not timed), starts the session and runs the warm-up: every item
once, all items side by side, keeping what the output check needs.
Then one closed-loop client runs passes, items in a seeded order and
each isolated by ``bench._isolate`` (cache cleared, RDD blocks
unpersisted, JVM GC): the first pass whole, then item by item until
``--seconds`` have elapsed, so each item runs two to four times.
``pass_s`` sums each item's median execution time. Outputs are
checked outside every timed region: each query against its DuckDB
oracle through ``testing.compare_query``, the streamed table against
its batch twin.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs pairs
of passes, one untraced and one traced, alternating which comes first,
and reports per-layer metrics, including the tracing overhead (the
median of the paired differences). Human-readable detail goes to
stderr and to ``.perfbench/out/``; the last stdout line is one JSON
object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

T_IMPORT = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_cs416_spark"
CPUS = min(os.cpu_count() or 1, 4)

import counters  # noqa: E402  (sibling module; stdlib only)

AGE_AT_IMPORT = counters.process_age_s()

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "spark_jobs": "count", "peak_rss_mb": "MB"}
OPERATORS = ("graph", "dedup", "vocab", "similarity", "mapreduce", "sketches", "textstats", "cdc", "ivm")
SOURCES = ("tables", "manifest", "manifest_sink", "manifest_source")
SPARK_SUMS = (
    "jobs", "stages", "single_task_stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)
WRAPPER_MARK = "_perfbench_span"  # spans.MARK, without importing spans


def layer_units() -> dict[str, str]:
    u = {"session.get_spark_s": "s", "plans.build_s": "s", "plans.sink_s": "s"}
    for layer, mods in (("operators", OPERATORS), ("sources", SOURCES)):
        for m in mods:
            u[f"{layer}.{m}.calls"] = "count"
            u[f"{layer}.{m}.self_s"] = "s"
    u |= {"sources.bytes_written": "B", "sources.files_written": "count", "sources.write_amp": "ratio"}
    u |= {"streaming.batches": "count", "streaming.batch_p50_s": "s", "streaming.batch_tail_s": "s",
          "streaming.add_batch_s": "s", "streaming.planning_s": "s", "streaming.wal_commit_s": "s",
          "streaming.rows_per_batch": "rows"}
    for k in SPARK_SUMS:
        u[f"spark.{k}"] = "s" if k.endswith("_s") else ("B" if k.endswith("_bytes") else "count")
    u |= {"spark.job_busy_s": "s", "spark.gap_s": "s", "spark.residual_cached_bytes": "B"}
    u |= {"proc.jvm_cpu_s": "s", "proc.pyworker_cpu_s": "s", "proc.driver_cpu_s": "s", "host.steal_pct": "%"}
    u |= {"trace.pass_s": "s", "trace.overhead_s": "s"}
    return u


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest nearest-rank percentile with at
    least ten samples beyond it; the maximum when there are too few."""
    if not xs:
        return 0.0, 0.0
    s, n = sorted(xs), len(xs)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def fs_snapshot(dirs: list[str]) -> dict[str, tuple[int, int]]:
    snap = {}
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                p = os.path.join(base, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


def progress_dicts(progress) -> list[dict]:
    """Micro-batches that consumed input (availableNow runs end with an
    empty commit batch)."""
    out = []
    for p in progress:
        d = json.loads(p) if isinstance(p, str) else p
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def wrappers_loaded() -> list[str]:
    """Tracing wrappers bound anywhere in the package, or the tracing
    module itself — both must be absent from an untraced run."""
    found = ["spans module"] if "spans" in sys.modules else []
    for name, mod in list(sys.modules.items()):
        if name == PACKAGE or name.startswith(PACKAGE + "."):
            found += [f"{name}.{a}" for a, v in list(vars(mod).items()) if getattr(v, WRAPPER_MARK, None)]
    return found


def setup_env(work: str) -> None:
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["TMPDIR"] = tmp
    # C1-only JIT: a run lives about a minute, too short for C2 to pay
    # back, and C2's compiler threads compete with the workload for the
    # four cores (measured: warm-up 33 -> 23 s, same pass time)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    # executor Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — do not leave it behind
                proc.kill()
                proc.wait(timeout=10)


class Runner:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.execs: list[dict] = []  # timed executions of the measured passes
        self.passes: list[dict] = []
        self.tracer = None
        self.lock = threading.Lock()

    def fail(self, msg: str) -> None:
        with self.lock:  # warm-up items fail from their own threads
            self.failed += 1
            self.errors.append(msg)
        log(msg)

    # -- one execution -----------------------------------------------------

    def run_item(self, item, out_dir: str, warm: bool, tracer=None) -> dict:
        from bench import _isolate  # the isolation bench.py uses, unchanged

        rec = {"item": item.name}
        if not warm:  # the warm-up runs its items side by side, isolated as a whole
            rec["residual_cached_bytes"] = self.status.cached_bytes()
            _isolate(self.spark)
            self.attempted += 1
        t0 = time.time()
        try:
            if warm:
                rec["progress"] = item.warm(self.spark, self.sf_dir, out_dir)
            elif tracer is None:
                rec["progress"] = item.execute(self.spark, self.sf_dir, out_dir)
            else:
                tracer.exec_id = len(self.execs)
                with tracer.span(f"exec.{item.kind}") as sid:
                    tracer.exec_span = sid
                    try:
                        rec["progress"] = item.execute(self.spark, self.sf_dir, out_dir, tracer)
                    finally:
                        tracer.exec_span = None
            rec["ok"] = True
        except Exception:  # noqa: BLE001 — a failed execution is counted; the run goes on
            rec["ok"] = False
            self.fail(f"{item.name}: {traceback.format_exc(limit=4)}")
        rec["t0"], rec["t1"] = t0, time.time()
        rec["s"] = rec["t1"] - t0
        return rec

    def attribute(self, recs: list[dict], full: bool) -> dict:
        """Attach each execution's jobs and stages (jobs matched by
        submission time) and return the totals over ``recs``."""
        jobs = self.status.new_jobs()
        tot = dict.fromkeys(SPARK_SUMS, 0)
        intervals = []
        for rec in recs:
            lo, hi = rec["t0"] * 1000 - 5, rec["t1"] * 1000 + 5
            mine = [j for j in jobs if j["sub"] is not None and lo <= j["sub"] <= hi]
            data = [d for d in (self.status.stage(s, full) for s in sorted({s for j in mine for s in j["stage_ids"]})) if d]
            rec["jobs"], rec["stages"] = len(mine), len(data)
            rec["shuffle_bytes"] = sum(d["shuffle_read_bytes"] + d["shuffle_write_bytes"] for d in data)
            tot["jobs"] += len(mine)
            tot["stages"] += len(data)
            tot["single_task_stages"] += sum(1 for d in data if d["tasks"] == 1)
            for key in (SPARK_SUMS[3:] if full else ("tasks", "shuffle_read_bytes", "shuffle_write_bytes")):
                tot[key] += sum(d[key] for d in data)
            intervals += [(j["sub"] / 1e3, j["end"] / 1e3) for j in mine if j["end"] is not None]
        tot["job_busy_s"] = counters.busy_union(intervals)
        return tot

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        import inputs
        from workloads import WORKLOADS, items

        a = self.args
        imports_s = AGE_AT_IMPORT + time.perf_counter() - T_IMPORT
        base = WORKLOADS[a.workload][0]
        if a.scale == "smoke":
            base = "sf0.001"
        data = os.path.join(self.work, "data")
        self.sf_dir = os.path.join(data, "tables")
        t = time.perf_counter()
        info = inputs.make_tables(base, self.sf_dir, self.rng)
        work_items = items(a.workload)
        for it in work_items:
            info |= it.prepare(self.sf_dir, data, self.rng)
        self.input_bytes = sum(v[0] for v in fs_snapshot([data]).values())
        log(f"inputs: {base}, {self.input_bytes / 1e6:.1f} MB in {time.perf_counter() - t:.2f}s; {info}")

        from mapreduce_cs416_spark.session import get_spark

        t = time.perf_counter()
        self.spark = spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t
        try:
            self.status = counters.SparkStatus(spark)
            self.jvm = counters.find_jvm(spark.sparkContext._gateway.proc.pid)
            self.setup(work_items, imports_s)
            self.measure()
            peak = counters.hwm_mb(os.getpid()) + counters.hwm_mb(self.jvm)
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            log(f"session stopped in {time.perf_counter() - t:.2f}s")
        return self.report(peak)

    @staticmethod
    def side_by_side(items: list, fn) -> list:
        """``fn(item)`` for every item at once, one thread per item;
        streams run on the main thread, because a stream started from
        another thread does not find the session's registered formats."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(items)) as pool:
            futures = {it.name: pool.submit(fn, it) for it in items if it.kind != "stream"}
            out = {it.name: fn(it) for it in items if it.kind == "stream"}
            out |= {name: f.result() for name, f in futures.items()}
        return [out[it.name] for it in items]

    def check(self, item) -> dict:
        try:
            ok, msg = item.check(self.spark, self.sf_dir)
        except Exception:  # noqa: BLE001 — a check that raises is a wrong result
            ok, msg = False, traceback.format_exc(limit=4)
        if not ok:
            self.fail(f"{item.name}: wrong result: {msg}")
        return {"ok": ok, "msg": msg}

    def setup(self, work_items: list, imports_s: float) -> None:
        """The warm-up (timed, part of set-up), then the output checks
        (not timed). The warm-up runs every item once, all items side by
        side: the first executions in a JVM are mostly class loading and
        compilation, and overlapping them halves set-up, which leaves a
        run time to measure each item more than once. Items read their
        inputs through ``sources.tables.load_table``, so no view is
        registered."""
        from bench import _isolate

        warm_dir = os.path.join(self.work, "scratch", "warm")
        order = self.rng.sample(work_items, len(work_items))
        _isolate(self.spark)
        t = time.perf_counter()
        warm = self.side_by_side(order, lambda it: self.run_item(it, os.path.join(warm_dir, it.name), warm=True))
        warm_s = time.perf_counter() - t
        self.attempted += len(warm)
        self.setup_s = imports_s + self.get_spark_s + warm_s
        self.attribute(warm, full=False)
        t = time.perf_counter()
        done = [it for it, rec in zip(order, warm) if rec["ok"]]
        self.checks = dict(zip((it.name for it in done), self.side_by_side(done, self.check))) if done else {}
        shutil.rmtree(warm_dir, ignore_errors=True)
        self.work_items = work_items
        log(f"setup {self.setup_s:.2f}s (imports {imports_s:.2f}, get_spark {self.get_spark_s:.2f}, warm-up {warm_s:.2f}: "
            + " ".join(f"{r['item']}={r['s']:.2f}" for r in warm) + f"); checks in {time.perf_counter() - t:.2f}s: "
            + ", ".join(f"{k}={'ok' if v['ok'] else 'FAIL'}" for k, v in self.checks.items()))

    def measure(self) -> None:
        a = self.args
        if a.trace:
            import spans

            self.tracer = spans.Tracer(PACKAGE)
            layers = {f"operators.{m}": f"{PACKAGE}.operators.{m}" for m in OPERATORS}
            layers |= {f"sources.{m}": f"{PACKAGE}.sources.{m}" for m in SOURCES}
        from bench import _steal_counters

        smoke = a.scale == "smoke"
        # traced runs measure whole pairs, at least two: untraced then
        # traced, then traced then untraced, so warm-up drift cancels
        step, min_passes = (2, 4) if a.trace else (1, 1)
        tmp = os.environ["TMPDIR"]
        t_measure = time.time()

        def due() -> bool:
            return smoke or time.time() - t_measure >= a.seconds

        k = 0
        while k < min_passes or k % step or not due():
            traced = bool(a.trace) and k % 2 != (k // 2) % 2
            pass_dir = os.path.join(self.work, "scratch", f"pass{k}")
            rec = {"k": k, "traced": traced}
            if traced:
                rec["bindings"] = self.tracer.install(layers)
                before = fs_snapshot([tmp])
            s0, c0 = _steal_counters()
            cpu0 = (counters.cpu_s(self.jvm), counters.pyworker_cpu_s(self.jvm), sum(os.times()[:2]))
            order = self.rng.sample(self.work_items, len(self.work_items))
            p0 = time.time()
            recs = []
            for it in order:
                # untraced runs stop between items once the window is
                # over; the first pass always completes
                if k >= min_passes and not a.trace and due():
                    break
                recs.append(self.run_item(it, pass_dir, warm=False, tracer=self.tracer if traced else None))
            rec["wall"] = time.time() - p0
            s1, c1 = _steal_counters()
            cpu1 = (counters.cpu_s(self.jvm), counters.pyworker_cpu_s(self.jvm), sum(os.times()[:2]))
            rec["steal_pct"] = 100.0 * (s1 - s0) / max(c1 - c0, 1)
            rec["cpu_s"] = [y - x for x, y in zip(cpu0, cpu1)]
            if traced:
                self.tracer.uninstall()
                written = {p: v for p, v in fs_snapshot([tmp, pass_dir]).items() if before.get(p) != v}
                rec["bytes_written"] = sum(v[0] for v in written.values())
                rec["files_written"] = len(written)
            rec["spark"] = self.attribute(recs, full=traced)
            rec["spark"]["gap_s"] = max(0.0, rec["wall"] - rec["spark"]["job_busy_s"])
            for r in recs:
                r["traced"] = traced
            self.execs += recs
            self.passes.append(rec)
            log(f"pass {k}{' traced' if traced else ''}: {rec['wall']:.2f}s, {rec['spark']['jobs']} jobs, "
                f"steal {rec['steal_pct']:.1f}%: " + " ".join(f"{r['item']}={r['s']:.2f}" for r in recs))
            shutil.rmtree(pass_dir, ignore_errors=True)
            k += 1

    # -- results -----------------------------------------------------------

    def counter_report(self) -> dict:
        """Per item: [jobs, stages, shuffle bytes] of every cold
        execution, and whether the counts varied."""
        per: dict[str, list] = {}
        for r in self.execs:
            per.setdefault(r["item"], []).append([r["jobs"], r["stages"], r["shuffle_bytes"]])
        return {
            name: {"runs": runs, "jobs_vary": len({x[0] for x in runs}) > 1, "stages_vary": len({x[1] for x in runs}) > 1}
            for name, runs in per.items()
        }

    def report(self, peak: float) -> dict:
        a = self.args
        times = [r["s"] for r in self.execs if r["ok"] and not r["traced"]]
        if not a.trace:
            leaked = wrappers_loaded()
            if leaked:
                self.fail(f"untraced run loaded tracing wrappers: {leaked}")
        per_item: dict[str, list[dict]] = {}
        for r in self.execs:
            if r["ok"] and not r["traced"]:
                per_item.setdefault(r["item"], []).append(r)
        e2e = {
            "setup_s": self.setup_s,
            "pass_s": sum(median([r["s"] for r in rs]) for rs in per_item.values()),
            "spark_jobs": sum(median([r["jobs"] for r in rs]) for rs in per_item.values()),
            "peak_rss_mb": peak,
        }
        metrics, units = (self.layer_metrics(), layer_units()) if a.trace else (e2e, E2E_UNITS)
        tail_s, pct = tail(times)
        counter_report = self.counter_report()
        detail = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "cpus": CPUS,
            "attempted": self.attempted, "failed": self.failed, "error_rate": self.failed / max(self.attempted, 1),
            # per-execution latency: a run measures a few executions per
            # item, too few for a steady pooled median or a ten-beyond tail
            "query": {"p50_s": median(times), "tail_s": tail_s, "tail_percentile": pct, "samples": len(times)},
            "checks": self.checks, "errors": self.errors, "counter_report": counter_report,
            "passes": self.passes, "e2e": e2e, "metrics": metrics,
        }
        varying = [n for n, c in counter_report.items() if c["jobs_vary"] or c["stages_vary"]]
        log(f"{a.workload} seed={a.seed}: {len(self.passes)} passes, {len(times)} timed executions, "
            f"error_rate={detail['error_rate']:.3f} ({self.failed}/{self.attempted}), "
            f"query p50={median(times):.3f}s tail p{pct:.0f}={tail_s:.3f}s, counts vary: {varying or 'none'}")
        for n, v in metrics.items():
            log(f"  {n:34s} {v:14.4f} {units[n]}")
        out_dir = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        for r in self.execs:
            r.pop("progress", None)
        with open(out + ".json", "w") as fh:
            json.dump(detail | {"executions": self.execs}, fh, indent=1, default=str)
        if self.tracer is not None:
            self.tracer.dump(out + ".spans.jsonl")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
        }

    def layer_metrics(self) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        n = max(len(traced), 1)
        spans = self.tracer.spans
        m = {"session.get_spark_s": self.get_spark_s}
        for part in ("build", "sink"):
            m[f"plans.{part}_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == f"plans.{part}") / n
        st = self.tracer.self_times()
        for layer, mods in (("operators", OPERATORS), ("sources", SOURCES)):
            for mod in mods:
                hits = [v for name, v in st.items() if name.startswith(f"{layer}.{mod}.")]
                m[f"{layer}.{mod}.calls"] = sum(c for c, _ in hits) / n
                m[f"{layer}.{mod}.self_s"] = sum(t for _, t in hits) / n
        m["sources.bytes_written"] = sum(p["bytes_written"] for p in traced) / n
        m["sources.files_written"] = sum(p["files_written"] for p in traced) / n
        m["sources.write_amp"] = m["sources.bytes_written"] / self.input_bytes
        batches = [d for r in self.execs if r["traced"] and r.get("progress") for d in progress_dicts(r["progress"])]
        trig = [d["durationMs"]["triggerExecution"] / 1e3 for d in batches]
        m["streaming.batches"] = len(batches) / n
        m["streaming.batch_p50_s"] = median(trig)
        m["streaming.batch_tail_s"] = tail(trig)[0]
        for key, dur in (("add_batch_s", "addBatch"), ("planning_s", "queryPlanning"), ("wal_commit_s", "walCommit")):
            m[f"streaming.{key}"] = median([d["durationMs"].get(dur, 0) / 1e3 for d in batches])
        m["streaming.rows_per_batch"] = median([d["numInputRows"] for d in batches])
        for key in SPARK_SUMS + ("job_busy_s", "gap_s"):
            m[f"spark.{key}"] = sum(p["spark"][key] for p in traced) / n
        m["spark.residual_cached_bytes"] = max((r["residual_cached_bytes"] for r in self.execs), default=0)
        for i, key in enumerate(("jvm_cpu_s", "pyworker_cpu_s", "driver_cpu_s")):
            m[f"proc.{key}"] = sum(p["cpu_s"][i] for p in traced) / n
        m["host.steal_pct"] = median([p["steal_pct"] for p in self.passes])
        m["trace.pass_s"] = median([p["wall"] for p in traced])
        pairs = zip(self.passes[0::2], self.passes[1::2])
        m["trace.overhead_s"] = median([sum(p["wall"] * (1 if p["traced"] else -1) for p in pair) for pair in pairs])
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: sf0.001 inputs and the fewest passes (the benchmark's own test)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"perfbench: package {PACKAGE!r} not found under {ROOT}; run from a full checkout")
        return 2
    if args.seconds < 1:
        log("perfbench: --seconds must be at least 1")
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    setup_env(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; known: {', '.join(WORKLOADS)}")
        return 2
    try:
        result = Runner(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
