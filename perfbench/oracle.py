"""Correctness checks, run outside the timed region.

Snapshot results are compared with ``net_spider_spark.pyweaver``, the
repository's pure-Python specification, applied to the generator's own
copy of the findings. RPL CLI output is compared with the generator's
DODAG. Each check returns ``None`` when the result is right and a short
reason when it is not.
"""

from __future__ import annotations

import ipaddress
import xml.etree.ElementTree as ET

from net_spider_spark import pyweaver

_G = "{http://graphml.graphdrawing.org/xmlns}"


def expected_snapshot(findings, **query):
    """The specification's (nodes, links) in the engine's row shape:
    nodes {node_id: (is_on_boundary, node_ts)}, links {(source, dest,
    is_directed, link_ts)}."""
    nodes, links = pyweaver.snapshot(findings, **query)
    return {n: (b, ts) for n, (b, ts, _) in nodes.items()}, links


def rows_graph(node_rows, link_rows):
    """Collected snapshot rows in the same shape as :func:`expected_snapshot`."""
    nodes = {r["node_id"]: (r["is_on_boundary"], r["node_ts"]) for r in node_rows}
    links = {
        (r["source_node"], r["dest_node"], r["is_directed"], r["link_ts"])
        for r in link_rows
    }
    return nodes, links


def _graphml_elements(text: str):
    root = ET.fromstring(text)
    keys = {k.get("id"): k.get("attr.name") for k in root.iter(f"{_G}key")}
    graph = root.find(f"{_G}graph")

    def data(el):
        return {keys[d.get("key")]: d.text or "" for d in el.findall(f"{_G}data")}

    return graph.findall(f"{_G}node"), graph.findall(f"{_G}edge"), data


def graphml_graph(text: str):
    """A GraphML document from ``write_graphml`` in the same shape as
    :func:`expected_snapshot`."""
    node_els, edge_els, data = _graphml_elements(text)
    nodes = {}
    for el in node_els:
        d = data(el)
        ts = d.get("@timestamp")
        nodes[el.get("id")] = (d["@is_on_boundary"] == "true",
                               int(ts) if ts is not None else None)
    links = {
        (el.get("source"), el.get("target"), el.get("directed") == "true",
         int(data(el)["@timestamp"]))
        for el in edge_els
    }
    return nodes, links


def diff(got, want) -> str | None:
    """None when equal, else a reason naming the first few differences."""
    got_nodes, got_links = got
    want_nodes, want_links = want
    if got_nodes != want_nodes:
        extra = sorted(set(got_nodes.items()) - set(want_nodes.items()))[:3]
        missing = sorted(set(want_nodes.items()) - set(got_nodes.items()))[:3]
        return f"nodes differ: unexpected {extra}, missing {missing}"
    if got_links != want_links:
        extra = sorted(got_links - want_links)[:3]
        missing = sorted(want_links - got_links)[:3]
        return f"links differ: unexpected {extra}, missing {missing}"
    return None


def _canon(addr: str) -> str:
    return ipaddress.IPv6Address(addr).compressed


def check_rpl_graphml(text: str, addrs: set[str], parents: dict[str, str]):
    """RPL CLI export vs the generator's DODAG: the node set is every
    node's address, and the DAO edges are exactly the parent -> child
    routes of that day."""
    node_els, edge_els, data = _graphml_elements(text)
    got_nodes = {_canon(el.get("id")) for el in node_els}
    want_nodes = {_canon(a) for a in addrs}
    if got_nodes != want_nodes:
        return (f"rpl nodes differ: unexpected {sorted(got_nodes - want_nodes)[:3]}"
                f", missing {sorted(want_nodes - got_nodes)[:3]}")
    got_dao = {
        (_canon(el.get("source")), _canon(el.get("target")))
        for el in edge_els
        if data(el).get("link_type") == "dao"
    }
    want_dao = {(_canon(p), _canon(c)) for c, p in parents.items()}
    if got_dao != want_dao:
        return (f"rpl dao edges differ: unexpected {sorted(got_dao - want_dao)[:3]}"
                f", missing {sorted(want_dao - got_dao)[:3]}")
    return None
