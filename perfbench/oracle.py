"""Output oracles: cluster membership against a Python union-find over the
run's own edges, and pair recall against planted truth."""

from __future__ import annotations

import hashlib
from collections.abc import Iterable


class UnionFind:
    def __init__(self, items: Iterable[str]):
        self.parent = {i: i for i in items}

    def find(self, x: str) -> str:
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def canonical(labels: dict[str, object]) -> dict[str, str]:
    """Relabel a membership map so each group is named by its minimum
    member; two maps are equal iff they describe the same partition."""
    least: dict[object, str] = {}
    for item, label in labels.items():
        if label not in least or item < least[label]:
            least[label] = item
    return {item: least[label] for item, label in labels.items()}


def union_find_groups(ids: Iterable[str], edges: Iterable[tuple[str, str]]) -> dict[str, str]:
    uf = UnionFind(ids)
    for a, b in edges:
        uf.union(a, b)
    return canonical({i: uf.find(i) for i in uf.parent})


def exact_dup_edges(rows, key_cols: list[str], id_col: str = "image_id") -> list[tuple[str, str]]:
    """Edges joining rows whose key columns are identical (the pipeline's
    exact-duplicate collapse, recomputed from the input)."""
    first: dict[tuple, str] = {}
    edges = []
    for rec in rows[[id_col, *key_cols]].itertuples(index=False):
        key = tuple(rec[1:])
        if key in first:
            edges.append((first[key], rec[0]))
        else:
            first[key] = rec[0]
    return edges


def cluster_mismatch(clusters: dict[str, object], expected: dict[str, str]) -> int:
    """Rows whose group differs from the expected partition, or that are
    missing from / extra to it."""
    got = canonical(clusters)
    return sum(1 for i in expected.keys() | got.keys() if got.get(i) != expected.get(i))


def membership_hash(clusters: dict[str, object]) -> str:
    return pairs_hash(canonical(clusters).items())


def pairs_hash(pairs: Iterable[tuple[str, str]]) -> str:
    digest = hashlib.sha256()
    for a, b in sorted(pairs):
        digest.update(f"{a}\t{b}\n".encode())
    return digest.hexdigest()[:16]


def pair_recall(truth: set[tuple[str, str]], linked) -> float:
    """Share of ``truth`` pairs for which ``linked(a, b)`` holds."""
    if not truth:
        return 1.0
    return sum(1 for a, b in truth if linked(a, b)) / len(truth)
