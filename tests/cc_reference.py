"""Pure-Python references for the connected-components tests: exact
union-find labels, and the converged engine's round-by-round schedule."""

from __future__ import annotations


def union_find_labels(edges, nodes=None) -> dict[int, int]:
    """node -> min node id of its connected component."""
    if nodes is None:
        nodes = {x for e in edges for x in e}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def reference_stop(edges, probe_every: int) -> tuple[int, int]:
    """(rounds_done, edge probes run) of ``connected_components_converged``
    on ``edges``, simulated round by round: min-label propagation over
    {self} ∪ neighbors, then pointer doubling. A block stops when its
    last round changed no label (observed, no probe) or when the edge
    probe finds no disagreeing edge. Asserts on the way that this stops
    at the same block as probing every block would."""
    nodes = sorted({x for e in edges for x in e})
    adj = {n: {n} for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)

    def stationary(lab):
        return all(lab[a] == lab[b] for a, b in edges)

    labels = {n: n for n in nodes}
    rounds = probes = 0
    while True:
        for _ in range(probe_every):
            prev = labels
            p = {x: min(prev[y] for y in adj[x]) for x in nodes}
            labels = {x: min(p[x], p[p[x]]) for x in nodes}
            rounds += 1
        observed_stop = labels == prev
        assert not observed_stop or stationary(labels)
        if observed_stop:
            return rounds, probes
        probes += 1
        if stationary(labels):
            return rounds, probes
