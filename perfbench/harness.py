"""Spark session lifecycle, per-op Spark counters, host readings and the
span tracer used by the traced run.

All state lives in objects the runner creates; importing this module
starts nothing.
"""

from __future__ import annotations

import functools
import os
import subprocess
import time
from contextlib import contextmanager

from net_spider_spark import metrics

# Driver settings recorded beside every result.
DRIVER_MEMORY = "1g"
MAX_CORES = 4


def local_cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def start_session(work: str, trace: bool):
    """One in-process SparkSession on ``local[k]`` whose scratch space
    stays inside ``work``. The traced run keeps every job and stage in
    the status store, so per-op counter reads never see evicted stages."""
    from pyspark.sql import SparkSession

    k = local_cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed-size heap (initial = max) keeps the JVM's resident
        # high-water mark from following each run's heap-resizing history
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    )
    if trace:
        b = (b.config("spark.ui.retainedJobs", "1000000")
             .config("spark.ui.retainedStages", "1000000")
             .config("spark.sql.ui.retainedExecutions", "1000000"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def vm_hwm_kb(pid) -> int:
    """Kernel high-water mark of resident memory (VmHWM) of ``pid``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def host_reading() -> dict:
    return {"steal_jiffies": metrics.host_steal_jiffies(),
            "loadavg_1m": os.getloadavg()[0]}


# ---------------------------------------------------------------------------
# Per-op Spark counters (status store; follows metrics.executor_counters)
# ---------------------------------------------------------------------------

COUNTERS = ("jobs", "stages", "tasks", "input_records", "shuffle_bytes",
            "spill_bytes", "gc_ms")


class OpCounters:
    """Tags each op's Spark jobs with a job group and sums its stages'
    counters from the status store afterwards."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.group = None

    def begin(self, group: str) -> None:
        self.group = group
        self._gc0 = metrics.gc_time_ms(self.spark)
        self.sc.setJobGroup(group, group)

    def jobs_so_far(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def end(self) -> dict:
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        for job in tracker.getJobIdsForGroup(self.group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info is not None else ():
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["input_records"] += sd.inputRecords()
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["gc_ms"] = metrics.gc_time_ms(self.spark) - self._gc0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.group = None
        return out


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """Records a span around each patched public function while an op is
    active. Patches are installed where each function is looked up at
    call time (modules import by name), and removed by :meth:`unpatch`."""

    def __init__(self, counters: OpCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        if self.op is None:
            yield None
            return
        rec = {"id": len(self.spans), "op": self.op, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        jobs0 = self.counters.jobs_so_far()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["jobs"] = self.counters.jobs_so_far() - jobs0

    def patch(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
                if rec is not None and name == "traverse.count_and_fits":
                    rec["local"] = bool(result[1])
                return result

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()


def install_public_api_spans(tracer: Tracer) -> None:
    """Spans around the public functions the workloads drive, patched in
    every module that looks them up."""
    import net_spider_spark as ns
    from net_spider_spark import cli, graphml, snapshot, traverse
    from net_spider_spark.rpl import contiki

    for module in (ns, cli):
        tracer.patch(module, "read_findings", "ingest.read_findings")
        tracer.patch(module, "write_findings", "ingest.write_findings")
        tracer.patch(module, "get_snapshot", "snapshot.get_snapshot")
    tracer.patch(ns, "findings_to_df", "findings.findings_to_df")
    tracer.patch(ns, "update_latest_state", "incremental.update_latest_state")
    tracer.patch(ns, "write_graphml", "graphml.write")
    tracer.patch(graphml, "write_graphml_file", "graphml.write")
    tracer.patch(snapshot, "reachable_nodes", "traverse.reachable_nodes")
    tracer.patch(traverse, "count_and_fits", "traverse.count_and_fits")
    tracer.patch(contiki, "parse_contiki_logs", "rpl.parse_contiki_logs")
