"""Independent reference answers and the checkers that compare results
against them.

Every checker takes plain Python values (rows already collected to the
driver) and returns an error string, or ``None`` when the result is
correct.  None of them imports ``cqs_spark``: the references are
computed from the generator's ground truth or from DuckDB, and curation
results are compared in the canonical form of ``tools/oracle_sweep.py``.
"""

from __future__ import annotations

from collections import deque


def _diff(name: str, got, want) -> str | None:
    if got == want:
        return None
    got_s, want_s = set(got), set(want)
    return (
        f"{name}: {len(got)} rows vs {len(want)} expected; "
        f"unexpected {sorted(got_s - want_s)[:3]} missing {sorted(want_s - got_s)[:3]}"
    )


# ------------------------------------------------------------- index build
def check_index(func_names: list[str], edges: list[tuple[str, str]], truth_names: set[str], truth_edges: set[tuple[str, str]]) -> str | None:
    """Function chunk names and call edges equal the generator's truth
    (as multisets: a duplicated row is an error too)."""
    return _diff("function chunks", sorted(func_names), sorted(truth_names)) or _diff(
        "call edges", sorted(edges), sorted(truth_edges)
    )


def check_embeddings_kept(before: dict[str, bytes], after: dict[str, bytes]) -> str | None:
    """Every chunk of an untouched file keeps a bit-identical embedding."""
    missing = sorted(set(before) - set(after))
    if missing:
        return f"untouched chunks lost by refresh: {missing[:3]}"
    changed = sorted(i for i, v in before.items() if after[i] != v)
    if changed:
        return f"embeddings of untouched chunks changed: {changed[:3]}"
    return None


# ------------------------------------------------------------ graph queries
def callers_ref(edges: set[tuple[str, str]], name: str) -> list[str]:
    return sorted(s for s, d in edges if d == name)


def impact_ref(edges: set[tuple[str, str]], seed: str, max_depth: int = 3) -> list[tuple[str, int]]:
    """Reverse BFS: (node, min depth) of every ancestor within
    ``max_depth`` hops, plus the seed at depth 0."""
    rev: dict[str, list[str]] = {}
    for s, d in edges:
        rev.setdefault(d, []).append(s)
    depth = {seed: 0}
    todo = deque([seed])
    while todo:
        n = todo.popleft()
        if depth[n] == max_depth:
            continue
        for p in rev.get(n, ()):
            if p not in depth:
                depth[p] = depth[n] + 1
                todo.append(p)
    return sorted(depth.items(), key=lambda t: (t[1], t[0]))


def dead_code_ref(edges: set[tuple[str, str]]) -> list[str]:
    """Nodes of the edge table with no incoming edge."""
    dsts = {d for _, d in edges}
    return sorted({s for s, _ in edges} - dsts)


def check_callers(got: list[str], edges: set[tuple[str, str]], name: str) -> str | None:
    return _diff(f"callers({name})", got, callers_ref(edges, name))


def check_impact(got: list[tuple[str, int]], edges: set[tuple[str, str]], seed: str) -> str | None:
    return _diff(f"impact({seed})", got, impact_ref(edges, seed))


def check_dead_code(got: list[str], edges: set[tuple[str, str]]) -> str | None:
    return _diff("dead_code", got, dead_code_ref(edges))


# ------------------------------------------------------------------ search
def check_search_name(got: list[str], name: str) -> str | None:
    """A name-like query returns the named function at rank 1."""
    if not got or got[0] != name:
        return f"search({name!r}) rank 1 is {got[:1]}"
    return None


def check_search_hybrid(got: list[tuple[str, float]], k: int, chunk_ids: set[str]) -> str | None:
    """At most k rows, ordered by (score desc, id asc), ids all in chunks."""
    if len(got) > k:
        return f"hybrid search returned {len(got)} rows > k={k}"
    keys = [(-s, i) for i, s in got]
    if keys != sorted(keys):
        return f"hybrid search not ordered by (score desc, id): {got[:3]}"
    unknown = [i for i, _ in got if i not in chunk_ids]
    if unknown:
        return f"hybrid search returned unknown ids {unknown[:3]}"
    return None


def check_gather(got: list[tuple[str, int, str, float]], chunk_at: dict[str, set[tuple[str, int]]]) -> str | None:
    """Rows are (origin, line_start, node, score) in reading order and
    each node sits at one of the locations of a chunk with that name."""
    if got != sorted(got, key=lambda r: (r[0], r[1], r[2])):
        return "gather rows not in (origin, line_start, node) order"
    for origin, line, node, _ in got:
        if (origin, line) not in chunk_at.get(node, ()):
            return f"gather row for {node} at {(origin, line)}, not a location of that chunk"
    return None


# ---------------------------------------------------------------- curation
def check_oracle(name: str, got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """``got`` and ``want`` are ``tools.oracle_sweep.canon`` forms: columns
    compare case-insensitively, rows as sorted canonical tuples."""
    if [c.lower() for c in got[0]] != [c.lower() for c in want[0]]:
        return f"{name}: columns {got[0]} vs oracle {want[0]}"
    return _diff(name, got[1], want[1])
