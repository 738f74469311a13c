"""Benchmark of the monitoring engine: one command, three workloads.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The command generates the workload's
inputs from `--seed` under `.perfbench_work/`, starts a `local[nproc]`
session sized for the host, runs a cold first pass whose outputs are
checked against the DuckDB oracles and the generator's ground truth
(outside the timed region), and drives the workload in a closed loop
for `--seconds` seconds and until each client has run the workload's
minimum number of units (two dashboard refreshes, one curation or feed
pass). The timed units are the first warm ones, so JIT compilation is
still settling in them: a cold set-up plus more warm units per run
would not fit the benchmark's time budget on a 4-core host.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics`. The line before it is a report
under the workload's own names (`refresh_s.p50`, `curation_docs_per_s`,
`microbatch_s.tail`, ...), with tail percentiles and their sample
counts, `failed_frac`, the input sizes and digests, and the phase
times of the run.

End-to-end metrics (`--trace 0`), one meaning per workload:

- `setup_s`: session start plus the cold first pass.
- `pass_s.p50`: median unit latency: a dashboard refresh, a curation
  pass, a feed replay pass.
- `items_per_s`: refreshes/s over all clients' wall clock, curation
  docs/s, feed events/s. The single-client workloads time one pass a
  run, so there it is the pass's size divided by `pass_s.p50`: the same
  measurement under the unit a user reads.
- `peak_rss_mb`: peak RSS (VmHWM) of the Spark driver JVM plus the
  Python process over the timed loop: both peaks are reset through
  /proc/<pid>/clear_refs after the cold pass and its checks, and read
  after the loop. The JVM's heap is fixed and resident from the start,
  so its part is the heap size plus the native memory the engine uses.

`--trace 1` discards one warm unit per client, then runs untraced and
traced units in ABBA order for the window (at least four rounds) and
reports the per-layer metrics of the traced units (`layer_metrics`),
`trace.overhead_frac`, tails, failure share and `bench.spark_canary`
readings (`host.*`). Spans go to
`.perfbench_work/spans-<workload>-<seed>.jsonl`. Layer times are shares
of unit latency (`*_frac`); a layer the workload does not call reads 0,
so every workload prints the same metric names.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = [
    "__spark_entry__.py",
    "bench.py",
    "real_time_database_monitoring_system_spark/__init__.py",
    "tests/oracle_harness.py",
]
LAYERS = [
    "operators.dashboard",
    "operators.monitoring",
    "functions.pg_dialect",
    "functions.sql_udfs",
    "operators.text",
    "operators.dedup",
    "operators.curation",
    "operators.pipeline",
    "operators.clustering",
    "operators.similarity",
    "streaming.rollup",
    "sources.txn",
]
# streaming calls run their query to completion, so they have no
# separate build phase
NO_BUILD = {"streaming.rollup"}
STREAM_PHASES = {
    "add_batch": "addBatch",
    "query_planning": "queryPlanning",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}


def _host() -> tuple[int, int]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return cpus, mem_kb // 1024


def _configure_env(work: str, cpus: int, mem_mb: int) -> None:
    """Session sizing and scratch locations; must precede the JVM start."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # well below physical RAM. The heap is fixed in size and touched at
    # start, so the JVM's resident set is the heap plus native memory:
    # otherwise it follows G1's resizing and which regions it happens to
    # touch, which made it vary by a fifth between runs
    heap_mb = min(3072, mem_mb // 4)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in args) + " pyspark-shell",
        }
    )


def _tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); the maximum when n <= 10."""
    v, n = sorted(values), len(values)
    if n <= 10:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def _reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's peak resident set (VmHWM) to its current one."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def _peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of the processes since their
    last reset."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:"))
    return total / 1024


class Loop:
    """Closed loop: each client starts its next unit when the previous
    one completes, until the window closes and it has run `min_rounds`
    units. `traced(i)` says whether a client's i-th unit runs under the
    tracer; clients move in step, so traced and untraced units see the
    same concurrency. A workload whose steps are micro-batches has one
    client, and each unit takes the streaming progress reports its
    queries sent."""

    def __init__(self, wl, tracer, progress_log, traced=lambda i: False, min_rounds: int = 1) -> None:
        from spans import Tracer

        self.wl, self.traced, self.min_rounds = wl, traced, min_rounds
        self.progress_log = progress_log
        self._tracers = {True: tracer, False: Tracer(wl.spark, enabled=False)}
        self.units: list = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def _client(self, client: int, deadline: float) -> None:
        from workloads import noop_sink

        i = 0
        while True:
            i += 1
            traced = self.traced(i)
            uid = f"{'t' if traced else 'u'}{client}.{i}"
            try:
                u = self.wl.unit(self._tracers[traced], uid, noop_sink)
                u.traced = traced
                checks, problems = self.wl.verify_pass()
            except Exception as e:  # noqa: BLE001 - a failed unit counts, the loop goes on
                u, checks, problems = None, 0, [f"{uid}: {type(e).__name__}: {str(e)[:300]}"]
            finally:
                self.wl.cleanup_pass()
            if self.wl.steps_from_progress:
                progress = self.progress_log.drain()
                if u is not None:
                    u.progress = progress
            with self._lock:
                self.attempted += 1 + checks
                self.failed += len(problems)
                self.errors += problems
                if u is not None:
                    self.units.append(u)
            if time.perf_counter() >= deadline and i >= self.min_rounds:
                return

    def run(self, seconds: float) -> float:
        from pyspark import InheritableThread

        t0 = time.perf_counter()
        deadline = t0 + seconds
        threads = [InheritableThread(target=self._client, args=(c, deadline))
                   for c in range(self.wl.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0


def _summary(wl, units: list, wall: float) -> dict:
    secs = [u.seconds for u in units]
    items = sum(u.items for u in units)
    # one client: throughput over time spent in units (the per-pass
    # checks between units are not the workload); several: wall clock
    busy = wall if wl.clients > 1 else sum(secs)
    if wl.steps_from_progress:
        steps = [r["duration_ms"].get("triggerExecution", 0) / 1000
                 for u in units for r in u.progress if r["rows"] > 0]
    else:
        steps = [s for u in units for s in u.steps]
    return {"secs": secs, "items_per_s": items / busy if busy else 0.0, "steps": steps}


def layer_metrics(tracer, wl, traced_units: list, cpus: int) -> dict:
    """Per-layer metrics of the traced units. Times are shares of the
    summed unit latency; counts are per unit. A streaming query runs its
    jobs under its own run id as job group, so those groups count for
    `streaming.rollup`."""
    spans = tracer.spans
    progress = [r for u in traced_units for r in u.progress]
    n_units = max(1, len(traced_units))
    unit_time = sum(u.seconds for u in traced_units) or 1.0
    self_t = tracer.self_times()
    run_ids = sorted({r["run_id"] for r in progress})
    by_group, waits = wl.rest.by_group(sorted({s.group for s in spans}) + run_ids)
    out: dict[str, float] = {}

    def share(pred) -> float:
        return sum(self_t[s.span_id] for s in spans if pred(s)) / unit_time

    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        c = [by_group[s.group] for s in mine]
        if layer == "streaming.rollup":
            c += [by_group[g] for g in run_ids]
        if layer not in NO_BUILD:
            out[f"{layer}.build_frac"] = share(lambda s, L=layer: s.layer == L and s.phase == "build")
        out[f"{layer}.run_frac"] = share(lambda s, L=layer: s.layer == L and s.phase != "build")
        out[f"{layer}.jobs"] = sum(x["jobs"] for x in c) / n_units
        out[f"{layer}.tasks"] = sum(x["tasks"] for x in c) / n_units
        out[f"{layer}.shuffle_mb"] = sum(x["shuffle_bytes"] for x in c) / 2**20 / n_units
        out[f"{layer}.spill_mb"] = sum(x["spill_bytes"] for x in c) / 2**20 / n_units
        busy_s = sum(self_t[s.span_id] for s in mine)
        out[f"{layer}.busy_frac"] = (
            sum(x["run_ms"] for x in c) / 1000 / (busy_s * cpus) if busy_s else 0.0
        )
    out["registry.load_frac"] = share(lambda s: s.layer == "registry")
    out["dashboard.cache_fill_frac"] = share(lambda s: s.phase == "cache_fill")
    out["dashboard.cache_mb"] = statistics.median(wl.samples["cache_mb"]) if wl.samples["cache_mb"] else 0.0
    out["sched.job_wait_s"] = statistics.fmean(waits) if waits else 0.0
    batches = [r for r in progress if r["rows"] > 0]
    trig = sum(r["duration_ms"].get("triggerExecution", 0) for r in batches)
    out["stream.batches"] = len(batches) / n_units
    for name, key in STREAM_PHASES.items():
        out[f"stream.{name}_frac"] = (
            sum(r["duration_ms"].get(key, 0) for r in batches) / trig if trig else 0.0
        )
    out["stream.state_rows"] = float(max((r["state_rows"] for r in progress), default=0))
    out["stream.state_mb"] = max((r["state_bytes"] for r in progress), default=0) / 2**20
    out["txn.commit_frac"] = share(lambda s: s.phase == "commit")
    out["txn.vacuum_frac"] = share(lambda s: s.phase == "vacuum")
    feed_bytes = getattr(wl.inputs, "feed_bytes", 0)
    written = wl.samples["written_bytes"]
    out["txn.write_amp"] = sum(written) / (feed_bytes * len(written)) if written and feed_bytes else 0.0
    out["txn.conflicts"] = float(wl.counters.get("conflicts", 0))
    return out


def run(args, work: str, cpus: int, mem_mb: int) -> tuple[dict, dict]:
    sys.path[:0] = [ROOT, HERE]
    import gen

    inputs = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))

    t_start = time.perf_counter()
    from real_time_database_monitoring_system_spark.session import get_local_spark

    spark = get_local_spark(cpus)
    session_s = time.perf_counter() - t_start
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(work, "checkpoints"))
    try:
        return _drive(args, spark, inputs, work, cpus, mem_mb, t_start, session_s)
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _drive(args, spark, inputs, work, cpus, mem_mb, t_start, session_s) -> tuple[dict, dict]:
    import bench
    import workloads
    from __spark_entry__ import oracle_sql
    from spans import ProgressLog, SparkCounters, Tracer

    progress_log = ProgressLog()
    spark.streams.addListener(progress_log)
    wl = workloads.WORKLOADS[args.workload](spark, inputs, work)
    tracer = Tracer(spark, enabled=bool(args.trace))
    attempted = failed = 0
    errors: list[str] = []

    # cold first pass: part of set-up (never traced); outputs are
    # collected for the checks
    sink = workloads.CollectSink()
    try:
        wl.unit(Tracer(spark, enabled=False), "setup", sink)
        cold_ok = True
    except Exception as e:  # noqa: BLE001 - reported as a failure, not a crash
        cold_ok = False
        failed += 1
        errors.append(f"cold pass: {type(e).__name__}: {str(e)[:300]}")
    setup_s = time.perf_counter() - t_start
    phases = {"session": session_s, "cold_pass": setup_s - session_s}
    progress_log.drain()
    attempted += 1

    t = time.perf_counter()
    if cold_ok:
        checks, problems = wl.check(sink.out, oracle_sql())
        attempted += checks
        failed += len(problems)
        errors += problems
    wl.cleanup_pass()
    sink.out.clear()
    phases["checks"] = time.perf_counter() - t

    # the peak resident sets cover the timed loop only, not the input
    # generation, the collected cold outputs or the DuckDB checks
    from pyspark import SparkContext

    pids = {"python": os.getpid(), "jvm": SparkContext._gateway.proc.pid}
    gc.collect()
    _reset_peak_rss(list(pids.values()))
    t_loop = time.perf_counter()
    layer: dict[str, float] = {}
    loops = []
    if args.trace:
        # one discarded warm unit per client (JIT compilation is still
        # settling after the cold pass), then untraced and traced units
        # in ABBA order, so a linear trend left in the warm-up cancels
        # out of the overhead; more warm units would push a traced
        # curation run towards the per-run time limit
        warm = Loop(wl, tracer, progress_log)
        warm.run(0)
        loops.append(warm)
        wl.rest = SparkCounters(spark)
        restore = _trace_registry(tracer)
        try:
            loop = Loop(wl, tracer, progress_log, traced=lambda i: i % 4 in (2, 3), min_rounds=4)
            wall = loop.run(args.seconds)
        finally:
            restore()
        plain = [u for u in loop.units if not u.traced]
        traced = [u for u in loop.units if u.traced]
        layer = layer_metrics(tracer, wl, traced, cpus)
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
        plain_p50 = statistics.median(u.seconds for u in plain) if plain else 0.0
        traced_p50 = statistics.median(u.seconds for u in traced) if traced else 0.0
        layer["trace.overhead_frac"] = traced_p50 / plain_p50 - 1 if plain_p50 else 0.0
        traced_s = [u.seconds for u in traced]
    else:
        loop = Loop(wl, tracer, progress_log, min_rounds=wl.min_rounds)
        wall = loop.run(args.seconds)
        plain = loop.units
    loops.append(loop)
    for lp in loops:
        attempted += lp.attempted
        failed += lp.failed
        errors += lp.errors

    rss_split = {k: _peak_rss_mb([pid]) for k, pid in pids.items()}
    peak_rss = sum(rss_split.values())
    phases["loop"] = time.perf_counter() - t_loop
    t = time.perf_counter()
    canary = bench.spark_canary(spark) if args.trace else {}
    phases["canary"] = time.perf_counter() - t
    if args.trace and wl.counters.get("matches"):
        layer["dedup.candidates_per_match"] = wl.candidates() / wl.counters["matches"]
    s = _summary(wl, plain, wall)
    failed_frac = failed / attempted
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s.p50": (statistics.median(s["secs"]) if s["secs"] else 0.0, "s"),
        "items_per_s": (s["items_per_s"], "1/s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    step_p50 = statistics.median(s["steps"]) if s["steps"] else 0.0
    pass_tail = _tail(s["secs"]) if s["secs"] else (0.0, 0.0, 0)
    step_tail = _tail(s["steps"]) if s["steps"] else (0.0, 0.0, 0)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "clients": wl.clients,
        "loop": "closed",
        "sizes": inputs.sizes,
        "digests": inputs.digests,
        "host": {"cpus": cpus, "mem_mb": mem_mb, "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"]},
        "spark_canary": canary,
        "named": _named(args.workload, e2e, step_p50, pass_tail, step_tail, failed_frac),
        "phases_s": phases,
        "peak_rss_mb": rss_split,
        "units_s": s["secs"],
        "errors": errors[:20],
    }
    if args.trace:
        report["traced_units_s"] = traced_s
        layer.update(
            {
                "session.start_s": session_s,
                "session.warmup_s": setup_s - session_s,
                "dedup.planted_recall": wl.counters.get("planted_recall", 0.0),
                "failed_frac": failed_frac,
                "pass_s.tail": pass_tail[0],
                "pass_s.tail_pct": pass_tail[1],
                "pass_s.samples": float(pass_tail[2]),
                "step_s.p50": step_p50,
                "step_s.tail": step_tail[0],
                "step_s.tail_pct": step_tail[1],
                "step_s.samples": float(step_tail[2]),
                "host.spark_agg_s": canary["spark_agg_10m_sec"],
                "host.spark_join_s": canary["spark_join_3m_sec"],
            }
        )
        layer.setdefault("dedup.candidates_per_match", 0.0)
        metrics = {k: {"value": v, "unit": UNITS.get(k, _unit(k))} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, result


def _named(workload: str, e2e: dict, step_p50: float, pass_tail, step_tail, failed_frac: float) -> dict:
    """The workload's metrics under their user-facing names."""
    out = {"setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
           "failed_frac": (failed_frac, "frac")}
    tail = lambda t: {"value": t[0], "percentile": t[1], "samples": t[2]}  # noqa: E731
    if workload == "dashboard":
        out["refresh_s.p50"] = e2e["pass_s.p50"]
        out["refresh_s.tail"] = tail(pass_tail)
        out["refreshes_per_s"] = e2e["items_per_s"]
        out["panel_s.p50"] = (step_p50, "s")
    elif workload == "curation":
        out["curation_docs_per_s"] = e2e["items_per_s"]
        out["curation_pass_s.p50"] = e2e["pass_s.p50"]
        out["operator_s.p50"] = (step_p50, "s")
    else:
        out["ingest_events_per_s"] = e2e["items_per_s"]
        out["feed_pass_s.p50"] = e2e["pass_s.p50"]
        out["microbatch_s.p50"] = (step_p50, "s")
        out["microbatch_s.tail"] = tail(step_tail)
    return out


UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sched.job_wait_s": "s",
    "pass_s.tail": "s",
    "step_s.p50": "s",
    "step_s.tail": "s",
    "host.spark_agg_s": "s",
    "host.spark_join_s": "s",
    "pass_s.tail_pct": "%",
    "step_s.tail_pct": "%",
    "dashboard.cache_mb": "MB",
    "dedup.candidates_per_match": "ratio",
    "txn.write_amp": "ratio",
    "stream.state_mb": "MB",
}


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "planted_recall")):
        return "frac"
    return "count"


def _trace_registry(tracer):
    """Wrap `sources.registry.load_table` (as bound in the modules that
    call it) in a span, so registry load time is measured at the call
    boundary. Returns a function that restores the originals."""
    import __spark_entry__ as entry_mod
    from real_time_database_monitoring_system_spark.operators import dashboard as dash_mod
    from real_time_database_monitoring_system_spark.sources import registry

    original = registry.load_table

    def load_table(spark, sf_dir, name):
        if not tracer.active():  # an untraced unit
            return original(spark, sf_dir, name)
        with tracer.span(f"load_table:{name}", "registry", "load"):
            return original(spark, sf_dir, name)

    mods = [registry, entry_mod, dash_mod]
    for m in mods:
        m.load_table = load_table

    def restore() -> None:
        for m in mods:
            m.load_table = original

    return restore


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["dashboard", "curation", "feed_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: the engine is not in {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    cpus, mem_mb = _host()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work, cpus, mem_mb)
    try:
        report, result = run(args, work, cpus, mem_mb)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
