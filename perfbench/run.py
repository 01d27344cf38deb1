"""Replication benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload cdc_mor --seed 3 --seconds 16 --trace 0

Run from the root of a checkout. The run generates (or reuses) the inputs for
``--seed`` in a separate process, starts the engine, builds the workload's
starting state, then runs commits and reader queries back to back for
``--seconds``. Every reader result and the final destination are checked
against references computed from the inputs alone. The last line on stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
The exit code is 0 only when every operation succeeded and matched.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["cdc_mor", "incremental_curate"]
CACHE_KEEP = 3  # input sets kept per workload and scale
RUN_LIMIT_S = 170  # hard stop, under the 180 s a run may take

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "commit_p50_s": ("s", "lower"),
    "read_p50_s": ("s", "lower"),
    "live_heap_mb": ("MB", "lower"),
    "write_amp": ("ratio", "lower"),
}

PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "sources.spread_shuffle_bytes": ("bytes", "lower"),
    "sources.rows_read": ("count", "higher"),
    "functions.stamp_s": ("s", "lower"),
    "sinks.write_s": ("s", "lower"),
    "sinks.files_written": ("count", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.properties_s": ("s", "lower"),
    "sinks.manifest_versions": ("count", "lower"),
    "sinks.read_plan_s": ("s", "lower"),
    "sinks.read_exec_s": ("s", "lower"),
    "sinks.delta_groups": ("count", "lower"),
    "sinks.compact_s": ("s", "lower"),
    "operators.merge.latest_state_s": ("s", "lower"),
    "operators.merge.shuffle_bytes": ("bytes", "lower"),
    "operators.merge.merge_upsert_s": ("s", "lower"),
    "streaming.replay.batch_s": ("s", "lower"),
    "streaming.replay.jobs_per_batch": ("count", "lower"),
    "streaming.replay.driver_gap_s": ("s", "lower"),
    "streaming.replay.rows_applied_frac": ("ratio", "lower"),
    "sync.sync_stream_s": ("s", "lower"),
    "sync.jobs_per_sync": ("count", "lower"),
    "sync.driver_gap_s": ("s", "lower"),
    "sync.full_refresh_rows_per_s": ("rows/s", "higher"),
    "plans.state_save_s": ("s", "lower"),
    "typesys.evolve_round_s": ("s", "lower"),
    "operators.dedup.minhash_signatures_s": ("s", "lower"),
    "operators.dedup.shingles_per_s": ("1/s", "higher"),
    "streaming.curation.curate_batch_s": ("s", "lower"),
    "operators.dedup.incremental_minhash_s": ("s", "lower"),
    "operators.dedup.candidate_pairs": ("count", "lower"),
    "operators.dedup.candidate_hit_frac": ("ratio", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def machine() -> dict:
    """Size the engine from the box: all usable cores, a quarter of RAM
    (1-4 GiB) for the driver heap."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    return {
        "cpus": cpus,
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "driver_mem": f"{heap_gb}g",
        "load1_at_start": os.getloadavg()[0],
    }


def inputs_for(workload: str, seed: int, scale: str) -> tuple[str, dict]:
    """Generate the inputs in a child process unless cached; keep the
    newest few input sets per workload and scale."""
    base = os.path.join(ROOT, ".perfbench", "inputs")
    out = os.path.join(base, f"{workload}-{scale}-s{seed}")
    expect_path = os.path.join(out, "expect.json")
    if not os.path.exists(expect_path):
        shutil.rmtree(out, ignore_errors=True)
        env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--scale", scale, "--out", out],
            check=True, env=env, timeout=120,
        )
    os.utime(out)
    prefix = f"{workload}-{scale}-s"
    sets = sorted(
        (d for d in os.listdir(base) if d.startswith(prefix)),
        key=lambda d: os.path.getmtime(os.path.join(base, d)),
    )
    for old in sets[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    with open(expect_path) as fh:
        return out, json.load(fh)


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def install_wrappers(tracer) -> None:
    """Time the engine's public functions where other engine code calls
    them. Lazy functions get a probe action over their output."""
    from olake_spark import sync
    from olake_spark.operators import dedup, merge
    from olake_spark.sinks import table

    tracer.wrap_lazy(sync, "spread", "sources.spread")
    tracer.wrap_lazy(sync, "stamp_olake_columns", "functions.stamp")
    tracer.wrap_lazy(merge, "latest_state", "operators.merge.latest_state")
    tracer.wrap_lazy(table, "merge_upsert", "operators.merge.merge_upsert")
    tracer.wrap_lazy(dedup, "minhash_signatures", "operators.dedup.minhash_signatures")
    tracer.wrap_eager(table.ManagedTable, "overwrite", "sinks.write")
    tracer.wrap_eager(table.ManagedTable, "append", "sinks.write")
    tracer.wrap_eager(table.ManagedTable, "properties", "sinks.properties")


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full GC: what the engine retains.

    Python drops its references to JVM objects first, and the JVM collects
    twice around a pause, so blocks that Spark's cleaner releases once their
    owners are collected are gone too."""
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()
    mem.gc()
    time.sleep(1)
    mem.gc()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Walker:
    """Bytes and parquet files that appear under the destination."""

    def __init__(self, path: str):
        self.path = path
        self.seen: set = set()
        self.scan()

    def scan(self) -> tuple[int, int]:
        nbytes = nfiles = 0
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                key = (p, st.st_ino, st.st_mtime_ns)
                if key not in self.seen:
                    self.seen.add(key)
                    nbytes += st.st_size
                    nfiles += f.endswith(".parquet")
        return nbytes, nfiles


class Loop:
    """The single client: commit, then read, then maintenance when due."""

    def __init__(self, w, tracer):
        self.w = w
        self.tracer = tracer
        self.commit_s: list[float] = []
        self.read_s: list[float] = []
        self.maint_s: list[float] = []
        self.spans: list = []
        self.written = [0, 0]  # bytes, parquet files
        self.rows = self.attempted = self.failed = 0
        self.stopped = False

    def _op(self, name: str, fn, times: list, record: bool):
        a = time.perf_counter()
        with self.tracer.span(name) as s:
            out = fn()
        if record and out is not None and out is not False:
            times.append(time.perf_counter() - a)
            self.spans.append(s)
        return out

    def cycle(self, record: bool, walker: Walker | None = None, settle: bool = False) -> None:
        """One commit, its readers and any due maintenance; ``settle`` also
        runs maintenance that is not yet due."""
        try:
            self.attempted += 1
            n = self._op("op.commit", self.w.commit, self.commit_s, record)
            if n is None:
                self.attempted -= 1
                self.stopped = True
                log("inputs used up before the window ended")
                return
            self.rows += n if record else 0
            if walker is not None:
                b, f = walker.scan()
                self.written[0] += b
                self.written[1] += f
            self.attempted += 1
            a = time.perf_counter()
            with self.tracer.span("op.read") as s:
                ok = self.w.read()
            if record:
                self.read_s.append(time.perf_counter() - a)
                self.spans.append(s)
            if not ok:
                self.failed += 1
                log(f"reader result mismatch after commit {self.w.commits}")
            if self._op("op.maintain", lambda: self.w.maintain(force=settle),
                        self.maint_s, record):
                self.attempted += 1
                if walker is not None:
                    self.written[0] += walker.scan()[0]
        except Exception:  # an engine error fails the op and ends the loop
            self.failed += 1
            self.stopped = True
            traceback.print_exc()


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "olake_spark")):
        log(f"no olake_spark package under {ROOT}; run from the root of a checkout")
        return 2
    t_start = time.perf_counter()
    sizing = machine()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(sizing["cpus"]),
        OLAKE_DRIVER_MEM=sizing["driver_mem"],
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    try:
        return measure(args, sizing, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, sizing: dict, work: str, t_start: float) -> int:
    inputs, expect = inputs_for(args.workload, args.seed, args.scale)
    log(f"inputs ready in {time.perf_counter() - t_start:.1f}s: {inputs}")

    # -- set-up: engine start, warm-up, the workload's starting state --------
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from olake_spark.session import get_spark
    from tracing import Attribution, Tracer, read_event_log
    from workloads import WORKLOADS as CLASSES
    from workloads import corrupt_table

    tracer = Tracer(enabled=bool(args.trace))
    if tracer.enabled:
        install_wrappers(tracer)
    t_spark = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work, tracer.enabled))
    get_spark_s = time.perf_counter() - t_spark
    tracer.attach(spark)
    try:
        w = CLASSES[args.workload](spark, tracer, inputs, expect, work)
        with tracer.span("setup"):
            w.setup()
        loop = Loop(w, tracer)
        # whole cycles before the window: class loading, code generation and
        # JIT compilation of the workload's plans happen here, not in the
        # first timed commits
        with tracer.span("warmup"):
            # the last warm-up cycle compacts whatever is left, so every
            # timed window starts from a compacted table
            for i in range(w.warmup_cycles):
                loop.cycle(record=False, settle=i == w.warmup_cycles - 1)
        setup_s = time.perf_counter() - t0

        # -- the closed loop ---------------------------------------------------
        w.start_window()
        walker = Walker(w.dest)
        deadline = time.perf_counter() + args.seconds
        # the window closes between cycles, and never with maintenance owed
        while not loop.stopped and (time.perf_counter() < deadline or w.pending()):
            loop.cycle(record=True, walker=walker)
        commit_s, read_s, maint_s = loop.commit_s, loop.read_s, loop.maint_s
        attempted, failed, rows, written = loop.attempted, loop.failed, loop.rows, loop.written
        attempted += len(w.setup_checks)
        failed += w.setup_checks.count(False)
        loop_spans = loop.spans
        busy_s = sum(commit_s) + sum(read_s) + sum(maint_s)
        heap_mb = live_heap_mb(spark)

        # -- final check, outside the window -----------------------------------
        if args.corrupt:
            corrupt_table(w.table_path())
        attempted += 1
        try:
            bad = w.verify()
        except Exception:
            traceback.print_exc()
            bad = 1
        if bad:
            failed += 1
            log(f"final destination check: {bad} mismatches")
        versions = len(os.listdir(os.path.join(w.table_path(), "_commits")))
    finally:
        stop_engine(spark)

    log(
        f"{args.workload}: {len(commit_s)} commits, {len(read_s)} reads, {len(maint_s)} "
        f"maintenance ops in {busy_s:.2f}s busy; failed {failed}/{attempted} "
        f"(failed_frac {failed / max(attempted, 1):.4f}); setup {setup_s:.2f}s"
    )
    log("commit s: " + " ".join(f"{x:.2f}" for x in commit_s))
    log("read s: " + " ".join(f"{x:.2f}" for x in read_s))
    print(json.dumps({"sizing": sizing, "workload": args.workload, "seed": args.seed,
                      "commits": len(commit_s), "reads": len(read_s),
                      "maintenance": len(maint_s), "why": expect["why"]}))
    if not commit_s:
        metrics = {}
    elif tracer.enabled:
        jobs, stages = read_event_log(os.path.join(work, "eventlog"))
        attr = Attribution(tracer, jobs, stages)
        values = per_layer(w, tracer, attr, loop_spans, len(commit_s), written, versions,
                           get_spark_s)
        metrics = {k: {"value": values[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "rows_per_s": rows / busy_s,
            "commit_p50_s": statistics.median(commit_s),
            "read_p50_s": statistics.median(read_s),
            "live_heap_mb": heap_mb,
            "write_amp": written[0] / w.input_bytes,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, (u, _) in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0 and bool(commit_s), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 and commit_s else 1


def per_layer(w, tracer, attr, loop_spans, n, written, versions, get_spark_s) -> dict:
    from tracing import covered

    in_loop = [sp for s in loop_spans for sp in attr.subtree(s.sid)]
    ids = {s.sid for s in in_loop}

    def spans(name: str, where=None) -> list:
        where = ids if where is None else where
        return [s for s in tracer.named(name) if s.sid in where]

    def med(xs) -> float:
        return statistics.median(xs) if xs else 0.0

    def mean(xs) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    def under(name: str) -> set:
        return {d.sid for s in tracer.named(name) for d in attr.subtree(s.sid)}

    compacting = under("sinks.compact")
    merge_probes = spans("operators.merge.latest_state") + spans("operators.merge.merge_upsert")
    everywhere = set(attr.spans)
    spread = spans("sources.spread", everywhere)
    full = tracer.named("sync.full_refresh")
    program = attr.program_jobs(in_loop)
    eng = attr.stage_totals(in_loop, probe=False)
    probe_s = attr.probe_time(in_loop)
    busy = sum(s.dur for s in loop_spans)
    covered_s = sum(
        covered([(j.t0, j.t1) for j in program], s.t0, s.t1)
        for s in loop_spans
    )
    index_probe = spans("operators.dedup.minhash_signatures", under("curate.index"))
    days = w.days_done
    replay = spans("streaming.replay.batch")
    syncs = spans("sync.sync_stream")
    cand = sum(d["candidate_pairs"] for d in days)
    return {
        "session.get_spark_s": get_spark_s,
        "sources.scan_s": med([s.dur for s in spans("sources.scan")]),
        "sources.spread_shuffle_bytes": (
            attr.stage_totals(spread, probe=True).shuffle_write / len(spread) if spread else 0
        ),
        "sources.rows_read": w.rows_read,
        "functions.stamp_s": med([s.dur for s in spans("functions.stamp", everywhere)]),
        "sinks.write_s": med([s.dur for s in spans("sinks.write") if s.sid not in compacting]),
        "sinks.files_written": written[1] / n,
        "sinks.bytes_written": written[0] / n,
        "sinks.properties_s": sum(s.dur for s in spans("sinks.properties")) / n,
        "sinks.manifest_versions": versions,
        "sinks.read_plan_s": med([s.dur for s in spans("sinks.read_plan")]),
        "sinks.read_exec_s": med([s.dur for s in spans("sinks.read_exec")]),
        "sinks.delta_groups": mean(w.delta_groups),
        "sinks.compact_s": med([s.dur for s in spans("sinks.compact")]),
        "operators.merge.latest_state_s": med(
            [s.dur for s in spans("operators.merge.latest_state")]
        ),
        "operators.merge.shuffle_bytes": attr.stage_totals(merge_probes, probe=True).shuffle_write / n,
        "operators.merge.merge_upsert_s": med(
            [s.dur for s in spans("operators.merge.merge_upsert")]
        ),
        "streaming.replay.batch_s": med([attr.own_time(s.sid) for s in replay]),
        "streaming.replay.jobs_per_batch": mean(
            [len(attr.program_jobs(attr.subtree(s.sid))) for s in replay]
        ),
        "streaming.replay.driver_gap_s": mean([attr.driver_gap(s.sid) for s in replay]),
        "streaming.replay.rows_applied_frac": (
            w.rows_applied / w.rows_read if replay else 0
        ),
        "sync.sync_stream_s": med([attr.own_time(s.sid) for s in syncs]),
        "sync.jobs_per_sync": mean([len(attr.program_jobs(attr.subtree(s.sid))) for s in syncs]),
        "sync.driver_gap_s": mean([attr.driver_gap(s.sid) for s in syncs]),
        "sync.full_refresh_rows_per_s": (
            w.expect["base"]["rows"] / attr.own_time(full[0].sid) if full else 0
        ),
        "plans.state_save_s": med([s.dur for s in spans("plans.state_save")]),
        "typesys.evolve_round_s": attr.own_time(w.evolve_sid) if w.evolve_sid else 0,
        "operators.dedup.minhash_signatures_s": index_probe[0].dur if index_probe else 0,
        "operators.dedup.shingles_per_s": (
            w.expect["base"]["shingles"] / index_probe[0].dur if index_probe else 0
        ),
        "streaming.curation.curate_batch_s": med(
            [s.dur for s in spans("streaming.curation.curate_batch")]
        ),
        "operators.dedup.incremental_minhash_s": med(
            [s.dur for s in spans("operators.dedup.incremental_minhash")]
        ),
        "operators.dedup.candidate_pairs": cand / len(days) if days else 0,
        "operators.dedup.candidate_hit_frac": (
            sum(d["confirmed"] for d in days) / cand if cand else 0
        ),
        "spark.jobs": len(program) / n,
        "spark.tasks": eng.tasks / n,
        "spark.executor_run_s": eng.run_s / n,
        "spark.gc_s": eng.gc_s / n,
        "spark.shuffle_write_bytes": eng.shuffle_write / n,
        "spark.spill_bytes": eng.spill / n,
        "spark.driver_gap_s": (busy - probe_s - covered_s) / n,
        "trace.overhead_frac": probe_s / busy,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="replication benchmark (one workload per run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="delete a live data file before the final check (self-test)")
    args = ap.parse_args()

    def timeout(_sig, _frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")

    signal.signal(signal.SIGALRM, timeout)
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    signal.alarm(RUN_LIMIT_S)
    sys.exit(run(args))


if __name__ == "__main__":
    main()
