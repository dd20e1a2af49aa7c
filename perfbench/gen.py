"""Seeded input generators: a monitored network's findings and Contiki-NG
RPL syslog files.

Everything is a pure function of the seed, so the same seed gives the
same inputs, and the oracle can rebuild the findings of any round
without keeping the whole history in memory.
"""

from __future__ import annotations

import ipaddress
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from net_spider_spark import FoundLink, FoundNode
from net_spider_spark.pyweaver import PyFinding, PyLink

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000

# Link states as a collector reports them, weighted towards live links.
_STATES = ("to_target", "to_target", "bidirectional", "bidirectional",
           "to_subject", "unused")


@dataclass(frozen=True)
class NetworkShape:
    """Size of a generated network history."""

    nodes: int
    sites: int
    rounds: int
    rounds_per_day: int
    links_per_node: int = 4

    @property
    def round_ms(self) -> int:
        return DAY_MS // self.rounds_per_day


class Network:
    """A network of ``nodes`` switches in ``sites`` sites, each reporting
    its neighbors once per round.

    Each node has a fixed set of neighbors, mostly in its own site. Every
    round a node reports each neighbor with a random link state; one
    report in twenty names a transient neighbor instead, so link sets
    churn a little from round to round. A round is generated with numpy
    from (seed, round) alone.
    """

    def __init__(self, seed: int, shape: NetworkShape):
        self.seed = seed
        self.shape = shape
        rng = random.Random(seed)
        n, sites = shape.nodes, shape.sites
        self.names = np.array([f"n{i:05d}" for i in range(n)], dtype=object)
        self.site_of = np.array([f"s{i % sites:02d}" for i in range(n)], dtype=object)
        per_site = [list(range(s, n, sites)) for s in range(sites)]
        neighbors = []
        for i in range(n):
            site = per_site[i % sites]
            picks = []
            while len(picks) < shape.links_per_node:
                t = rng.randrange(n) if rng.random() < 0.1 else rng.choice(site)
                if t != i and t not in picks:
                    picks.append(t)
            neighbors.append(picks)
        self.neighbors = np.array(neighbors, dtype=np.int64)

    def round_arrays(self, r: int):
        """Round ``r`` as (finding_id[n], found_at[n], target[n, L],
        state[n, L]) arrays; row i is node i's finding."""
        shape = self.shape
        rng = np.random.default_rng([self.seed, r])
        n = shape.nodes
        found_at = self.round_start(r) + rng.integers(0, shape.round_ms // 2, n)
        swap = rng.random(self.neighbors.shape) < 0.05
        target = np.where(swap, rng.integers(0, n, self.neighbors.shape),
                          self.neighbors)
        state = rng.integers(0, len(_STATES), self.neighbors.shape)
        return r * n + np.arange(n), found_at, target, state

    def found_nodes(self, r: int) -> list[FoundNode]:
        """Round ``r`` as the public ingest type."""
        fid, found_at, target, state = self.round_arrays(r)
        names, site_of = self.names, self.site_of
        return [
            FoundNode(
                names[i], int(found_at[i]),
                [FoundLink(names[t], _STATES[s], {"ifindex": str(k)})
                 for k, (t, s) in enumerate(zip(target[i], state[i]))],
                {"site": site_of[i]},
            )
            for i in range(len(fid))
        ]

    def py_findings(self, r: int) -> list[PyFinding]:
        """Round ``r`` for the pure-Python snapshot specification."""
        fid, found_at, target, state = self.round_arrays(r)
        names = self.names
        return [
            PyFinding(int(fid[i]), names[i], int(found_at[i]),
                      tuple(PyLink(names[t], _STATES[s])
                            for t, s in zip(target[i], state[i])))
            for i in range(len(fid))
        ]

    def arrow_table(self, rounds) -> pa.Table:
        """Rounds as a findings-schema Arrow table (the rows
        ``findings_to_df`` would build from :meth:`found_nodes`), for
        bulk history loads."""
        from pyspark.sql.pandas.types import to_arrow_schema

        from net_spider_spark import FINDINGS_SCHEMA

        parts = [self.round_arrays(r) for r in rounds]
        fid = np.concatenate([p[0] for p in parts])
        found_at = np.concatenate([p[1] for p in parts])
        target = np.concatenate([p[2] for p in parts]).ravel()
        state = np.concatenate([p[3] for p in parts]).ravel()
        m, per = len(fid), self.shape.links_per_node
        node = fid % self.shape.nodes
        # Spark's Arrow import rejects non-nullable nested fields, so the
        # table carries the findings schema with every field nullable.
        schema = pa.schema([f.with_nullable(True)
                            for f in to_arrow_schema(FINDINGS_SCHEMA)])
        link_type = pa.struct([f.with_nullable(True) for f in
                               schema.field("neighbor_links").type.value_type])
        list_type = pa.list_(link_type)
        schema = schema.set(schema.get_field_index("neighbor_links"),
                            pa.field("neighbor_links", list_type))

        def one_entry_maps(count, key, values):
            return pa.MapArray.from_arrays(
                pa.array(np.arange(count + 1, dtype=np.int32)),
                pa.array(np.full(count, key, dtype=object), pa.string()),
                pa.array(values, pa.string()))

        ifindex = np.tile(np.array([str(k) for k in range(per)], dtype=object), m)
        links = pa.StructArray.from_arrays(
            [pa.array(self.names[target], pa.string()),
             pa.array(np.array(_STATES, dtype=object)[state], pa.string()),
             one_entry_maps(m * per, "ifindex", ifindex)],
            fields=list(link_type))
        columns = [
            pa.array(fid, pa.int64()),
            pa.array(self.names[node], pa.string()),
            pa.array(found_at, pa.int64()),
            pa.nulls(m, pa.int32()), pa.nulls(m, pa.bool_()), pa.nulls(m, pa.string()),
            one_entry_maps(m, "site", self.site_of[node]),
            pa.ListArray.from_arrays(
                pa.array(np.arange(0, m * per + 1, per, dtype=np.int32)), links,
                type=list_type),
        ]
        return pa.Table.from_arrays(columns, schema=schema)

    def round_start(self, r: int) -> int:
        return T0_MS + r * self.shape.round_ms


# ---------------------------------------------------------------------------
# RPL: a DODAG reported through Contiki-NG syslog lines
# ---------------------------------------------------------------------------

RPL_YEAR = 2024
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def _addr(i: int) -> str:
    return str(ipaddress.IPv6Address(f"fd00::212:4b00:{i >> 16:x}:{i & 0xffff:x}"))


def _link_local(i: int) -> str:
    return str(ipaddress.IPv6Address(f"fe80::212:4b00:{i >> 16:x}:{i & 0xffff:x}"))


class Dodag:
    """A ``nodes``-node RPL DODAG rooted at node 1, with a log file per
    day. Each day about one node in twenty picks a new parent, so every
    day's snapshot differs from the one before."""

    def __init__(self, seed: int, nodes: int, rounds_per_file: int):
        self.seed = seed
        self.nodes = nodes
        self.rounds_per_file = rounds_per_file
        self.ids = list(range(1, nodes + 1))
        self.root = 1

    def parents(self, day: int) -> dict[int, int]:
        """child -> parent for ``day``; a node's parent always has a
        smaller id, so the graph is a tree rooted at node 1."""
        rng = random.Random(self.seed)
        par = {i: rng.randrange(1, i) for i in self.ids[1:]}
        for d in range(1, day + 1):
            rng = random.Random(self.seed * 7_919 + d)
            for i in self.ids[1:]:
                if rng.random() < 0.05:
                    par[i] = rng.randrange(1, i)
        return par

    def addr(self, i: int) -> str:
        return _addr(i)

    def day_start_ms(self, day: int) -> int:
        return T0_MS + 59 * DAY_MS + day * DAY_MS  # days count from 2024-02-29

    def log_text(self, day: int) -> str:
        """The day's syslog: ``rounds_per_file`` report rounds, each a DIO
        block per node (parent preferred, children listed as other
        neighbors) and one DAO route table printed by the root."""
        import datetime as dt

        par = self.parents(day)
        children: dict[int, list[int]] = {i: [] for i in self.ids}
        for c, p in par.items():
            children[p].append(c)
        depth = {self.root: 0}
        for i in self.ids[1:]:
            depth[i] = depth[par[i]] + 1
        rank = {i: 128 + 256 * depth[i] for i in self.ids}
        rng = random.Random(self.seed * 31 + day)
        lines = []
        period_s = 86_400 // (self.rounds_per_file + 1)
        for k in range(self.rounds_per_file):
            t_s = (self.day_start_ms(day) // 1000) + (k + 1) * period_s
            for i in self.ids:
                stamp = dt.datetime.fromtimestamp(t_s, dt.timezone.utc)
                head = (f"{_MONTHS[stamp.month - 1]} {stamp.day:2d} "
                        f"{stamp:%H:%M:%S} gw rpl-node[{i}]: [INFO: RPL       ] ")
                nbrs = ([(par[i], " bafp")] if i in par else []) + [
                    (c, "     ") for c in children[i]
                ]
                lines.append(
                    head + f"nbr: own state, addr {_addr(i)}, DAG state: reachable, "
                    f"MOP 1 OCP 1 rank {rank[i]} max-rank 65535, dioint 12, "
                    f"nbr count {len(nbrs)} (Periodic)"
                )
                for j, flags in nbrs:
                    metric = 128 + rng.randrange(256)
                    lines.append(
                        head + f"nbr: {_link_local(j):<26} {rank[j]:5d}, "
                        f"{metric:5d} => {rank[j] + metric:5d} -- "
                        f"{rng.randrange(1, 16):2d} {flags}  (last tx 1 min ago)"
                    )
                lines.append(head + "nbr: end of list")
                t_s += 1
            stamp = dt.datetime.fromtimestamp(t_s, dt.timezone.utc)
            head = (f"{_MONTHS[stamp.month - 1]} {stamp.day:2d} "
                    f"{stamp:%H:%M:%S} gw rpl-node[1]: [INFO: RPL       ] ")
            lines.append(head + f"links: {len(self.ids)} routing links in total "
                         "(Periodic)")
            lines.append(head + f"links: {_addr(self.root)}  (DODAG root) "
                         "(lifetime: infinite)")
            for c in self.ids[1:]:
                lines.append(head + f"links: {_addr(c)}  to {_addr(par[c])} "
                             "(lifetime: 1080 seconds)")
            lines.append(head + "links: end of list")
        return "\n".join(lines) + "\n"
