"""Benchmark runner: one workload, one closed-loop client, one seed.

    python3 perfbench/run.py --workload window_query --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints human-readable lines, then as the
last line one JSON object {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUP_REPEATS = 3
WARMUP_STABLE_CYCLES = 3    # warm-up ends once this many cycles in a row ...
WARMUP_STABLE_RATIO = 1.15  # ... lie within this max/min ratio,
WARMUP_CAP_FACTOR = 1.75    # or after 1.75 x --seconds of warm-up
RUN_LIMIT_S = 150           # start no new cycle past this point of a run


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """Times the ops of the closed loop; in traced cycles also tags their
    Spark jobs and records spans."""

    def __init__(self, spark, trace: bool):
        from perfbench import harness

        self.spark = spark
        self.counters = harness.OpCounters(spark) if trace else None
        self.tracer = harness.Tracer(self.counters)
        if trace:
            harness.install_public_api_spans(self.tracer)
        self.traced = False
        self.cycle_no = 0
        self.ops: list[dict] = []
        self.group_prefix = f"perfbench-{id(self):x}"  # unique per run

    def timed(self, kind: str, fn):
        rec = {"cycle": self.cycle_no, "kind": kind, "traced": self.traced}
        if self.traced:
            self.counters.begin(f"{self.group_prefix}-{self.cycle_no}-{kind}")
            self.tracer.op = (self.cycle_no, kind)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.traced:
                self.tracer.op = None
                rec.update(self.counters.end())
            self.ops.append(rec)
            self.spark.catalog.clearCache()  # no op reads another's cache


def _parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")]


def run_workload(spark, name, seed, seconds, trace, work, size="full",
                 setup_repeats=SETUP_REPEATS, warmup=True, t_begin=None):
    """Set up and drive one workload; returns a result dict."""
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    t_begin = t_begin if t_begin is not None else time.perf_counter()
    wl = WORKLOADS[name](spark, seed, size)

    setup_times = []
    for k in range(setup_repeats):
        t0 = time.perf_counter()
        wl.setup(os.path.join(work, f"setup-{k}"))
        setup_times.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(os.path.join(work, f"setup-{k - 1}"), ignore_errors=True)
        spark.catalog.clearCache()

    run = Run(spark, trace)
    cycles = []

    def one_cycle(i, traced):
        run.cycle_no, run.traced = i, traced
        first_op = len(run.ops)
        files0 = len(_parquet_files(wl.history)) if traced else 0
        try:
            c, error = wl.cycle(i, run), None
        except Exception as e:  # counted as a failed cycle; the loop goes on
            c, error = None, f"{type(e).__name__}: {e}"
        ops = run.ops[first_op:]
        if traced:
            for op in ops:
                if op["kind"] == "ingest":
                    op["files"] = len(_parquet_files(wl.history)) - files0
        cycles.append({"i": i, "cycle": c, "error": error, "ops": ops})
        return sum(op["s"] for op in ops)

    # Warm-up: until cycle times stop drifting, or the warm-up budget ends.
    i = 0
    warm_times = []
    t_warm = time.perf_counter()
    while warmup:
        warm_times.append(one_cycle(i, False))
        i += 1
        last = warm_times[-WARMUP_STABLE_CYCLES:]
        if (len(last) == WARMUP_STABLE_CYCLES
                and max(last) <= WARMUP_STABLE_RATIO * min(last)):
            break
        if time.perf_counter() - t_warm >= WARMUP_CAP_FACTOR * seconds:
            break
        if time.perf_counter() - t_begin >= RUN_LIMIT_S / 2:
            break
    n_warm = i

    # Measured phase: the closed loop for `seconds`. A traced run traces
    # every second cycle, so traced and untraced cycles share any drift.
    host0 = harness.host_reading()
    t_meas = time.perf_counter()
    traced_cycles = 0
    while True:
        elapsed = time.perf_counter() - t_meas
        done = i > n_warm and (not trace or traced_cycles > 0)
        if done and (elapsed >= seconds
                     or time.perf_counter() - t_begin >= RUN_LIMIT_S):
            break
        traced = trace and (i - n_warm) % 2 == 1
        one_cycle(i, traced)
        traced_cycles += traced
        i += 1
    meas_s = time.perf_counter() - t_meas
    host1 = harness.host_reading()
    run.tracer.unpatch()

    # Deferred correctness checks, warm-up cycles included.
    attempted = failed = 0
    failures = []
    for c in cycles:
        n_ops = max(1, len(c["ops"]))
        attempted += n_ops
        reason = c["error"]
        if reason is None:
            try:
                reason = c["cycle"].check()
            except Exception as e:
                reason = f"check raised {type(e).__name__}: {e}"
        if reason:
            failed += n_ops
            failures.append(f"cycle {c['i']}: {reason}")
    # the history on disk must hold every row the run wrote
    stored_rows = spark.read.parquet(wl.history).count()
    if stored_rows != wl.history_rows:
        failures.append(f"history holds {stored_rows} rows, expected {wl.history_rows}")
        failed = attempted
    for f in failures[:10]:
        print(f"# FAILED {f}")

    measured = cycles[n_warm:]
    return {
        "workload": name, "attempted": attempted, "failed": failed,
        "setup_repeats_s": setup_times,
        "stored_bytes_per_finding":
            sum(map(os.path.getsize, _parquet_files(wl.history))) / max(stored_rows, 1),
        "warmup_s": warm_times, "measured_s": meas_s,
        "ops": [op for c in measured for op in c["ops"]],
        "cycles": measured, "spans": run.tracer.spans,
        "host_steal_jiffies": host1["steal_jiffies"] - host0["steal_jiffies"],
        "host_loadavg_1m": host1["loadavg_1m"],
    }


def end_to_end(res, session_s, peak_rss_mb):
    ops = res["ops"]
    q = [op["s"] for op in ops if op["kind"] == "query"]
    ing = [op["s"] for op in ops if op["kind"] == "ingest"]
    rows = sum(c["cycle"].rows_added for c in res["cycles"] if c["cycle"])
    m = {
        "setup_s": (session_s + _median(res["setup_repeats_s"]), "s"),
        "query_p50_s": (_median(q), "s"),
    }
    if ing:  # read-only workloads have no ingest ops
        m["ingest_p50_s"] = (_median(ing), "s")
        m["ingest_findings_per_s"] = (rows / sum(ing), "1/s")
    m["stored_bytes_per_finding"] = (res["stored_bytes_per_finding"], "B")
    m["peak_rss_mb"] = (peak_rss_mb, "MB")
    m["error_rate"] = (res["failed"] / res["attempted"], "ratio")
    return m


# Spans whose per-cycle time is reported as "<name>_s".
SPAN_METRICS = (
    "ingest.read_findings", "snapshot.get_snapshot", "snapshot.collect",
    "traverse.reachable_nodes", "graphml.write", "findings.findings_to_df",
    "ingest.write_findings", "incremental.update_latest_state",
    "rpl.parse_contiki_logs", "cli.snapshot",
)


def per_layer(res):
    """Per-layer metrics from the traced cycles (0 where a workload leaves
    a layer idle)."""
    ops = res["ops"]
    traced_q = [op for op in ops if op["kind"] == "query" and op["traced"]]
    plain_q = [op["s"] for op in ops if op["kind"] == "query" and not op["traced"]]
    traced_i = [op for op in ops if op["kind"] == "ingest" and op["traced"]]
    rows_of = {c["i"]: c["cycle"].result_rows for c in res["cycles"] if c["cycle"]}

    def med(ops_, key):
        return _median([op[key] for op in ops_])

    m = {
        "spark.jobs_per_query": (med(traced_q, "jobs"), "count"),
        "spark.stages_per_query": (med(traced_q, "stages"), "count"),
        "spark.tasks_per_query": (med(traced_q, "tasks"), "count"),
        "spark.shuffle_bytes_per_query": (med(traced_q, "shuffle_bytes"), "B"),
        "spark.spill_bytes_per_query": (med(traced_q, "spill_bytes"), "B"),
        "spark.input_records_per_query": (med(traced_q, "input_records"), "count"),
        "ingest.scan_rows_per_result_row": (_median(
            [op["input_records"] / max(rows_of.get(op["cycle"], 0), 1)
             for op in traced_q]), "ratio"),
        "spark.gc_ms_per_op": (med(traced_q + traced_i, "gc_ms"), "ms"),
        "spark.jobs_per_ingest": (med(traced_i, "jobs"), "count"),
        "ingest.files_per_batch": (med(traced_i, "files"), "count"),
    }
    traced_cycles = sorted({op["cycle"] for op in traced_q + traced_i})
    per_cycle = {c: {} for c in traced_cycles}
    graphml_jobs = dict.fromkeys(traced_cycles, 0)
    local_calls = []
    for s in res["spans"]:
        cyc = s["op"][0]
        if cyc not in per_cycle:
            continue
        per_cycle[cyc][s["name"]] = per_cycle[cyc].get(s["name"], 0.0) + s["end"] - s["start"]
        if s["name"] == "graphml.write":
            graphml_jobs[cyc] += s["jobs"]
        if "local" in s:
            local_calls.append(s["local"])
    for name in SPAN_METRICS:
        m[f"{name}_s"] = (_median([per_cycle[c].get(name, 0.0)
                                   for c in traced_cycles]), "s")
    m["traverse.local_path_share"] = (
        sum(local_calls) / len(local_calls) if local_calls else 0.0, "ratio")
    m["graphml.jobs"] = (_median(list(graphml_jobs.values())), "count")
    m["trace.overhead_query_p50_s"] = (
        _median([op["s"] for op in traced_q]) - _median(plain_q), "s")
    m["host.steal_jiffies"] = (res["host_steal_jiffies"], "count")
    m["host.loadavg_1m"] = (res["host_loadavg_1m"], "tasks")
    return m


def _listed_metrics(kind: str):
    """Names of the ``kind`` metrics in BENCHMARK.json (the result line
    carries exactly these), or None without the file."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return {m["name"] for m in json.load(f)[kind]}
    except FileNotFoundError:
        return None


def prepare_environment(work: str) -> None:
    """Keep Spark's scratch space inside ``work`` and put the checkout's
    package on the import path of this process and of Spark's Python
    workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_begin = time.perf_counter()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_environment(work)
    try:
        # fails (and the run exits non-zero) without the package to measure
        from perfbench import harness, workloads

        if args.workload not in workloads.WORKLOADS:
            p.error(f"unknown workload {args.workload!r}; choose from "
                    f"{', '.join(workloads.WORKLOADS)}")
        t0 = time.perf_counter()
        spark = harness.start_session(work, trace=bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            res = run_workload(spark, args.workload, args.seed, args.seconds,
                               bool(args.trace), work, t_begin=t_begin)
            peak_rss_mb = (harness.vm_hwm_kb(harness.jvm_pid())
                           + harness.vm_hwm_kb(os.getpid())) / 1024
        finally:
            harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # removed only when empty

    k = harness.local_cores()
    e2e = end_to_end(res, session_s, peak_rss_mb)
    n_q = sum(op["kind"] == "query" for op in res["ops"])
    n_i = sum(op["kind"] == "ingest" for op in res["ops"])
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"clients=1 (closed loop) master=local[{k}] shuffle.partitions={k} "
          f"driver.memory={harness.DRIVER_MEMORY}")
    print(f"# session_start_s={session_s:.3f} setup_repeats_s="
          f"{[round(x, 3) for x in res['setup_repeats_s']]} warmup_s="
          f"{[round(x, 3) for x in res['warmup_s']]}")
    for kind in ("query", "ingest"):
        xs = [round(op["s"], 3) for op in res["ops"] if op["kind"] == kind]
        if xs:
            print(f"# {kind}_s={xs}")
    if n_q >= 40:  # only with 10 samples beyond it
        q = [op["s"] for op in res["ops"] if op["kind"] == "query"]
        print(f"# query_p75_s {statistics.quantiles(q, n=4)[2]:.6g} s")
    print(f"# measured: {len(res['cycles'])} cycles in {res['measured_s']:.1f} s, "
          f"{n_q} query ops, {n_i} ingest ops; host_steal_jiffies="
          f"{res['host_steal_jiffies']} loadavg_1m={res['host_loadavg_1m']:.2f} "
          f"run_s={time.perf_counter() - t_begin:.1f}")
    metrics = dict(e2e)
    if args.trace:
        for name, (value, unit) in e2e.items():
            print(f"# traced run, not comparable: {name} {value:.6g} {unit}")
        metrics = per_layer(res)
        spans = os.path.join(os.path.dirname(work),
                             f"trace-{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        with open(spans, "w") as f:
            json.dump({"spans": res["spans"], "ops": res["ops"]}, f)
        print(f"# spans and per-op counters written to {os.path.relpath(spans, ROOT)}")
    else:
        # error_rate is always printed; it is 0 on correct code, so the JSON
        # carries it as "failed" / "attempted" instead
        print(f"error_rate {e2e['error_rate'][0]:.6g} ratio")
        del metrics["error_rate"]
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    listed = _listed_metrics("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()
                    if listed is None or n in listed},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
