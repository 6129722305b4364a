"""Independent recomputation of the workloads' outputs in pure Python.

Nothing here calls the package's Spark code: the expected graphs come
from the generated inputs through Python's ``re`` and a union-find, and
are compared with what the timed run wrote.
"""

from __future__ import annotations

import re

from ontoea_spark.functions.text import TRIPLE_PATTERN

_BODY = re.compile(rb"<p>(.*?)</p>", re.DOTALL)
_TRIPLE = re.compile(TRIPLE_PATTERN)


def page_kg(lang: str) -> str:
    return "kg1" if lang == "en" else "kg2"


def expected_edges(pages: list[tuple]) -> set[tuple[str, str, str, int]]:
    """(s, p, o, kg) for every leftmost non-overlapping trigram of every
    page body, entities namespaced by the page's KG (``en`` -> kg1)."""
    out = set()
    for _url, _ts, html, _text, lang in pages:
        m = _BODY.search(html)
        body = m.group(1).decode("utf-8") if m else ""
        kg = page_kg(lang)
        for t in _TRIPLE.finditer(body):
            s, p, o = t.group(0).split(" ")
            out.add((f"{kg}:{s}", p, f"{kg}:{o}", int(kg[-1])))
    return out


def gold_links(edges: set[tuple]) -> set[tuple[str, str]]:
    """kg1:w <-> kg2:w for every word w that is an entity in both KGs."""
    ents = {1: set(), 2: set()}
    for s, _p, o, kg in edges:
        ents[kg].update((s.split(":", 1)[1], o.split(":", 1)[1]))
    return {(f"kg1:{w}", f"kg2:{w}") for w in ents[1] & ents[2]}


class UnionFind:
    """Components whose representative is the minimum member."""

    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        root = x
        while self.parent.get(root, root) != root:
            root = self.parent[root]
        while x != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            self.parent[hi] = lo


def canonical_graph(
    triples: set[tuple[str, str, str]], links: set[tuple[str, str]]
) -> tuple[set[tuple[str, str, str]], dict[str, str]]:
    """Canonical (s, p, o) set and {canonical uri: srcs}, where srcs is
    the sorted comma-joined KG prefixes of every entity merged into it."""
    uf = UnionFind()
    for a, b in links:
        uf.union(a, b)
    canon = {(uf.find(s), p, uf.find(o)) for s, p, o in triples}
    srcs: dict[str, set[str]] = {}
    for s, _p, o in triples:
        for e in (s, o):
            srcs.setdefault(uf.find(e), set()).add(e.split(":", 1)[0])
    return canon, {u: ",".join(sorted(v)) for u, v in srcs.items()}


def compare(name: str, got: set, want: set) -> str | None:
    """None when equal, else a one-line description of the difference."""
    if got == want:
        return None
    missing, extra = want - got, got - want
    return (
        f"{name}: {len(got)} rows, expected {len(want)}; "
        f"missing {sorted(missing)[:3]} extra {sorted(extra)[:3]}"
    )
