"""The benchmark's workloads. Each drives only the public API of
``net_spider_spark`` on inputs from :mod:`perfbench.gen`.

A workload has a repeatable :meth:`setup` (input generation plus the
initial history load, into a fresh directory) and a :meth:`cycle` that
runs one closed-loop step through ``run.timed`` — one or two timed ops,
``"ingest"`` and/or ``"query"`` — and returns the data its deferred
correctness check needs.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import re
from dataclasses import dataclass
from typing import Callable, Optional

import net_spider_spark as ns
from net_spider_spark import cli

from perfbench import gen, oracle


@dataclass
class Cycle:
    """What one cycle leaves behind: rows appended to the history, rows
    in the query result, and a check returning None or a failure reason."""

    rows_added: int = 0
    result_rows: int = 0
    check: Callable[[], Optional[str]] = lambda: None


class Workload:
    name = ""
    # sizes: "full" for measurement, "tiny" for the self-test
    sizes: dict = {}

    def __init__(self, spark, seed: int, size: str = "full"):
        self.spark = spark
        self.seed = seed
        self.size = self.sizes[size]
        self.ops_rng = random.Random(seed * 1_009 + 17)
        self.history = None
        self.history_rows = 0

    def _load_history(self, net: gen.Network, rounds, path: str) -> None:
        """Initial history: generated rounds, written through
        ``write_findings``."""
        ns.write_findings(self.spark.createDataFrame(net.arrow_table(rounds)), path,
                          mode="overwrite")
        self.history_rows = len(rounds) * net.shape.nodes

    def setup(self, directory: str) -> None:
        raise NotImplementedError

    def cycle(self, i: int, run) -> Cycle:
        raise NotImplementedError


class WindowQuery(Workload):
    """Overwrite-policy whole-graph snapshots of random two-round
    intervals over a day-partitioned history (partition pruning on)."""

    name = "window_query"
    sizes = {
        "full": gen.NetworkShape(nodes=2000, sites=20, rounds=40, rounds_per_day=2),
        "tiny": gen.NetworkShape(nodes=40, sites=4, rounds=4, rounds_per_day=2),
    }

    def setup(self, directory):
        self.net = gen.Network(self.seed, self.size)
        self.history = os.path.join(directory, "history")
        self._load_history(self.net, range(self.size.rounds), self.history)

    def cycle(self, i, run):
        net = self.net
        r = self.ops_rng.randrange(self.size.rounds - 1)
        iv = ns.Interval(net.round_start(r), net.round_start(r + 2), True, False)

        def query():
            f = ns.read_findings(self.spark, self.history, interval=iv)
            nodes, links = ns.get_snapshot(f, ns.Query(time_interval=iv))
            with run.tracer.span("snapshot.collect"):
                return nodes.collect(), links.collect()

        node_rows, link_rows = run.timed("query", query)
        got = oracle.rows_graph(node_rows, link_rows)

        def check():
            want = oracle.expected_snapshot(
                net.py_findings(r) + net.py_findings(r + 1),
                policy="overwrite", interval=iv)
            return oracle.diff(got, want)

        return Cycle(result_rows=len(node_rows) + len(link_rows), check=check)


class HistoryTraverse(Workload):
    """Append-policy BFS (two hops) from a random node over the whole,
    unpruned history, exported with ``write_graphml``."""

    name = "history_traverse"
    sizes = {
        "full": gen.NetworkShape(nodes=1000, sites=10, rounds=20, rounds_per_day=1),
        "tiny": gen.NetworkShape(nodes=40, sites=4, rounds=3, rounds_per_day=1),
    }

    def setup(self, directory):
        self.net = gen.Network(self.seed, self.size)
        self.history = os.path.join(directory, "history")
        self._load_history(self.net, range(self.size.rounds), self.history)
        self._all = None

    def cycle(self, i, run):
        start = self.net.names[self.ops_rng.randrange(self.size.nodes)]
        q = ns.Query(starts_from=[start], max_hops=2, found_node_policy="append")

        def query():
            f = ns.read_findings(self.spark, self.history)
            nodes, links = ns.get_snapshot(f, q)
            return ns.write_graphml(nodes, links)

        text = run.timed("query", query)

        def check():
            if self._all is None:
                self._all = [p for r in range(self.size.rounds)
                             for p in self.net.py_findings(r)]
            got = oracle.graphml_graph(text)
            want = oracle.expected_snapshot(
                self._all, policy="append", starts_from=[start], max_hops=2)
            return oracle.diff(got, want)

        return Cycle(result_rows=text.count("<node ") + text.count("<edge "),
                     check=check)


class IngestRefresh(Workload):
    """Collector path: each cycle appends one round of findings and folds
    it into the latest-per-node state (the ingest op), then reads that
    state back and snapshots it (the query op)."""

    name = "ingest_refresh"
    sizes = {
        "full": gen.NetworkShape(nodes=2000, sites=20, rounds=4, rounds_per_day=10),
        "tiny": gen.NetworkShape(nodes=40, sites=4, rounds=2, rounds_per_day=10),
    }

    def setup(self, directory):
        self.net = gen.Network(self.seed, self.size)
        self.history = os.path.join(directory, "history")
        self.state = os.path.join(directory, "state")
        preload = range(self.size.rounds)
        self._load_history(self.net, preload, self.history)
        ns.update_latest_state(self.spark, self.state,
                               ns.read_findings(self.spark, self.history))

    def cycle(self, i, run):
        net, n = self.net, self.size.nodes
        r = self.size.rounds + i
        batch = net.found_nodes(r)

        def ingest():
            df = ns.findings_to_df(self.spark, batch, start_finding_id=r * n)
            ns.write_findings(df, self.history)
            ns.update_latest_state(self.spark, self.state, df)

        run.timed("ingest", ingest)
        self.history_rows += len(batch)

        def query():
            state = ns.read_findings(self.spark, self.state)
            nodes, links = ns.get_snapshot(state, ns.Query())
            with run.tracer.span("snapshot.collect"):
                return nodes.collect(), links.collect()

        node_rows, link_rows = run.timed("query", query)
        got = oracle.rows_graph(node_rows, link_rows)

        def check():
            latest = {}
            for rr in range(r + 1):
                for f in net.py_findings(rr):
                    latest[f.subject] = f  # rounds are in time order
            want = oracle.expected_snapshot(list(latest.values()), policy="overwrite")
            return oracle.diff(got, want)

        return Cycle(rows_added=len(batch),
                     result_rows=len(node_rows) + len(link_rows), check=check)


class RplCli(Workload):
    """The reference application through ``cli.main``: ingest one day's
    Contiki-NG syslog, then export that day's DIO+DAO snapshot from the
    DODAG root to a GraphML file."""

    name = "rpl_cli"
    sizes = {"full": (100, 5), "tiny": (8, 1)}

    def setup(self, directory):
        nodes, rounds = self.size
        self.dodag = gen.Dodag(self.seed, nodes, rounds)
        self.history = os.path.join(directory, "history")
        self.logs = os.path.join(directory, "logs")
        os.makedirs(self.logs, exist_ok=True)
        self._write_log(0)

    def _write_log(self, day: int) -> str:
        path = os.path.join(self.logs, f"day-{day:03d}.log")
        if not os.path.exists(path):
            with open(path, "w", encoding="utf-8") as f:
                f.write(self.dodag.log_text(day))
        return path

    def cycle(self, i, run):
        import datetime as dt

        dodag = self.dodag
        log = self._write_log(i)
        out = os.path.join(self.logs, f"snapshot-{i:03d}.graphml")

        def ingest():
            err = io.StringIO()
            with contextlib.redirect_stderr(err), run.tracer.span("cli.input"):
                rc = cli.main(["--db", self.history, "input", log,
                               "--format", "syslog", "--year", str(gen.RPL_YEAR)],
                              self.spark)
            m = re.search(r"ingested (\d+) findings", err.getvalue())
            return rc, int(m.group(1)) if m else -1

        rc_in, added = run.timed("ingest", ingest)
        self.history_rows += max(added, 0)

        def iso(ms):
            return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime(
                "%Y-%m-%dT%H:%M:%SZ")

        lo = dodag.day_start_ms(i)
        argv = ["--db", self.history, "snapshot", "-s", dodag.addr(dodag.root),
                "-f", iso(lo), "-t", "x" + iso(lo + gen.DAY_MS), "-o", out]
        def query():
            with run.tracer.span("cli.snapshot"):
                return cli.main(argv, self.spark)

        rc_snap = run.timed("query", query)
        with open(out, encoding="utf-8") as f:
            text = f.read()
        os.unlink(out)

        def check():
            parents = dodag.parents(i)
            want_rows = dodag.rounds_per_file * (dodag.nodes + len(set(parents.values())))
            if (rc_in, rc_snap) != (0, 0):
                return f"cli exit codes input={rc_in} snapshot={rc_snap}"
            if added != want_rows:
                return f"ingested {added} findings, expected {want_rows}"
            return oracle.check_rpl_graphml(
                text, {dodag.addr(n) for n in dodag.ids},
                {dodag.addr(c): dodag.addr(p) for c, p in parents.items()})

        return Cycle(rows_added=max(added, 0),
                     result_rows=text.count("<node ") + text.count("<edge "),
                     check=check)


WORKLOADS = {w.name: w for w in (WindowQuery, HistoryTraverse, IngestRefresh, RplCli)}
