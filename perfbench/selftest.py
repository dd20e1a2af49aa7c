"""Benchmark self-test: a tiny traced run of every workload, plus proof
that the oracle rejects a wrong result.

    python3 perfbench/selftest.py

Exits 0 when every tiny run is correct and every deliberately wrong
expectation is caught; prints one line per check.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import ROOT, per_layer, prepare_environment, run_workload  # noqa: E402


def _oracle_catches_wrong_results(spark, work) -> list[str]:
    """Run real engine queries, then compare them with expectations that
    are wrong in one place; every comparison must report a difference."""
    import net_spider_spark as ns

    from perfbench import gen, oracle

    problems = []
    net = gen.Network(7, gen.NetworkShape(nodes=30, sites=3, rounds=2, rounds_per_day=2))
    path = os.path.join(work, "oracle-history")
    ns.write_findings(spark.createDataFrame(net.arrow_table(range(2))), path,
                      mode="overwrite")
    findings = net.py_findings(0) + net.py_findings(1)
    nodes, links = ns.get_snapshot(ns.read_findings(spark, path), ns.Query())
    got = oracle.rows_graph(nodes.collect(), links.collect())
    want_nodes, want_links = oracle.expected_snapshot(findings, policy="overwrite")
    if oracle.diff(got, (want_nodes, want_links)) is not None:
        problems.append("engine and specification disagree on the control query")
    some_link = sorted(want_links)[0]
    some_node = sorted(want_nodes)[0]
    b, ts = want_nodes[some_node]
    wrong = {
        "missing link": (want_nodes, want_links - {some_link}),
        "shifted link timestamp": (
            want_nodes, (want_links - {some_link})
            | {some_link[:3] + (some_link[3] + 1,)}),
        "wrong node timestamp": ({**want_nodes, some_node: (b, (ts or 0) + 1)},
                                 want_links),
    }
    for label, expected in wrong.items():
        caught = oracle.diff(got, expected) is not None
        print(f"oracle rejects {label}: {'ok' if caught else 'NOT CAUGHT'}")
        if not caught:
            problems.append(f"oracle missed: {label}")

    # GraphML round trip: the same snapshot exported and parsed back
    text = ns.write_graphml(nodes, links)
    if oracle.diff(oracle.graphml_graph(text), (want_nodes, want_links)) is not None:
        problems.append("GraphML export does not parse back to the snapshot")
    caught = oracle.diff(oracle.graphml_graph(text),
                         (want_nodes, want_links - {some_link})) is not None
    print(f"oracle rejects a GraphML export with a missing edge: "
          f"{'ok' if caught else 'NOT CAUGHT'}")
    if not caught:
        problems.append("oracle missed: GraphML missing edge")

    # RPL: a DODAG whose expected parent of one node is wrong
    dodag = gen.Dodag(7, 6, 1)
    parents = dodag.parents(0)
    child = max(parents)
    graphml = _rpl_graphml(dodag, parents)
    ok = oracle.check_rpl_graphml(graphml, {dodag.addr(n) for n in dodag.ids},
                                  {dodag.addr(c): dodag.addr(p)
                                   for c, p in parents.items()}) is None
    bad = {**parents, child: child}  # a node as its own parent: never right
    caught = oracle.check_rpl_graphml(graphml, {dodag.addr(n) for n in dodag.ids},
                                      {dodag.addr(c): dodag.addr(p)
                                       for c, p in bad.items()}) is not None
    print(f"oracle rejects a wrong DAO parent: {'ok' if caught and ok else 'NOT CAUGHT'}")
    if not (caught and ok):
        problems.append("oracle missed: wrong DAO parent")
    return problems


def _rpl_graphml(dodag, parents) -> str:
    """A minimal GraphML document with the DODAG's nodes and DAO edges, as
    the RPL CLI writes them."""
    keys = '<key id="d0" for="edge" attr.name="link_type" attr.type="string"/>'
    nodes = "".join(f'<node id="{dodag.addr(n)}"/>' for n in dodag.ids)
    edges = "".join(
        f'<edge source="{dodag.addr(p)}" target="{dodag.addr(c)}" directed="true">'
        f'<data key="d0">dao</data></edge>' for c, p in parents.items())
    return ('<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'
            f'{keys}<graph edgedefault="directed">{nodes}{edges}</graph></graphml>')


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    prepare_environment(work)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    problems = []
    spark = harness.start_session(work, trace=True)
    try:
        for name in WORKLOADS:
            res = run_workload(spark, name, seed=1, seconds=0, trace=True,
                               work=os.path.join(work, name), size="tiny",
                               setup_repeats=1, warmup=False)
            layers = per_layer(res)
            ok = res["failed"] == 0 and res["attempted"] >= 1
            print(f"{name}: {res['attempted']} ops, {res['failed']} failed, "
                  f"{layers['spark.jobs_per_query'][0]:.0f} jobs per query: "
                  f"{'ok' if ok else 'FAILED'}")
            if not ok:
                problems.append(f"{name} tiny run failed")
        problems += _oracle_catches_wrong_results(spark, work)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    for p in problems:
        print(f"PROBLEM: {p}")
    print("selftest passed" if not problems else "selftest FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
