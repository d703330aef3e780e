"""Pure-Python closure model: the reference every dimension op is checked
against.

It shares no code with the program. A closure row is keyed by
(ancestor id, descendant id) and carries what the checks compare:
net_level, both level numbers, both is_leaf flags and both node names.
"""

from __future__ import annotations

# adjacency rows are (node_id, natural_key, name, level_name, parent_id)
CHECKED = (
    "ancestor_node_id",
    "descendant_node_id",
    "net_level",
    "ancestor_level_number",
    "descendant_level_number",
    "ancestor_is_leaf",
    "descendant_is_leaf",
    "ancestor_node_name",
    "descendant_node_name",
)


def closure(rows: list[tuple]) -> dict[tuple, tuple]:
    """(ancestor, descendant) -> (net_level, anc level, desc level,
    anc is_leaf, desc is_leaf, anc name, desc name) for every pair,
    self-pairs included. Nodes that do not reach a root are left out,
    like the reference's start-at-roots walk."""
    parent = {r[0]: r[4] for r in rows}
    name = {r[0]: r[2] for r in rows}
    has_child = {r[4] for r in rows if r[4] is not None}
    paths: dict[str, tuple | None] = {}

    def path(n: str):
        # walk up to a node whose path is known, a root, a missing parent
        # (orphan) or a node already on this walk (cycle)
        chain: list[str] = []
        on_chain: set[str] = set()
        cur = n
        while cur not in paths:
            p = parent.get(cur, n)
            if p is None:
                paths[cur] = (cur,)
                break
            if p not in parent or cur in on_chain:
                paths[cur] = None
                break
            chain.append(cur)
            on_chain.add(cur)
            cur = p
        for c in reversed(chain):
            up = paths[parent[c]]
            paths[c] = None if up is None else up + (c,)
        return paths[n]

    out = {}
    for n in parent:
        p = path(n)
        if p is None:
            continue
        d = len(p)
        for i, a in enumerate(p):
            out[(a, n)] = (
                d - 1 - i,
                i + 1,
                d,
                a not in has_child,
                n not in has_child,
                name[a],
                name[n],
            )
    return out


def renamed(rows: list[tuple], updates: list[tuple]) -> list[tuple]:
    names = dict(updates)
    return [(r[0], r[1], names.get(r[0], r[2]), r[3], r[4]) for r in rows]


def moved(rows: list[tuple], node: str, new_parent: str) -> list[tuple]:
    return [(r[0], r[1], r[2], r[3], new_parent if r[0] == node else r[4]) for r in rows]


def removed(rows: list[tuple], node: str) -> list[tuple]:
    gone = {p[1] for p in closure(rows) if p[0] == node}
    return [r for r in rows if r[0] not in gone]


def rows_of(table) -> list[tuple]:
    """The rows of an Arrow table as tuples."""
    return list(zip(*(c.to_pylist() for c in table.columns)))


def diff(expected: dict[tuple, tuple], got_rows: list[tuple]) -> str | None:
    """None when ``got_rows`` (tuples in ``CHECKED`` order) is exactly the
    expected closure, duplicates included; else a short description."""
    got = {}
    for r in got_rows:
        key = (r[0], r[1])
        if key in got:
            return f"duplicate closure row {key}"
        got[key] = tuple(r[2:])
    if got.keys() != expected.keys():
        extra = sorted(got.keys() - expected.keys())[:3]
        missing = sorted(expected.keys() - got.keys())[:3]
        return f"pair sets differ: extra {extra}, missing {missing}"
    for key, want in expected.items():
        if got[key] != want:
            return f"row {key}: got {got[key]}, want {want}"
    return None
