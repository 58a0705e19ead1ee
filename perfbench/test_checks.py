"""Self-tests of the checkers and the generator.

Each checker must accept the reference answer and reject a deliberately
corrupted one, so a checker that always passes cannot ship.  Runs under
pytest (``python3 -m pytest perfbench/test_checks.py``) and at the start
of every benchmark run (``run_all``); needs no Spark.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import corpus  # noqa: E402

EDGES = {("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("x", "c")}


def _accepts_and_rejects(check, good, bad):
    assert check(good) is None, check(good)
    assert check(bad) is not None, "corrupted result was accepted"


def test_index_check():
    names, edges = ["a", "b"], [("a", "b")]
    truth = ({"a", "b"}, {("a", "b")})
    _accepts_and_rejects(lambda e: checks.check_index(names, e, *truth), edges, [])
    _accepts_and_rejects(lambda n: checks.check_index(n, edges, *truth), names, ["a", "b", "b"])


def test_embeddings_check():
    before = {"c1": b"\x00\x01", "c2": b"\x02\x03"}
    _accepts_and_rejects(
        lambda after: checks.check_embeddings_kept(before, after),
        {**before, "c3": b"\x09"},
        {"c1": b"\x00\x01", "c2": b"\x02\x04"},
    )
    assert checks.check_embeddings_kept(before, {"c1": b"\x00\x01"}) is not None


def test_callers_check():
    good = checks.callers_ref(EDGES, "c")
    assert good == ["b", "x"]
    _accepts_and_rejects(lambda g: checks.check_callers(g, EDGES, "c"), good, good[:1])


def test_impact_check():
    good = checks.impact_ref(EDGES, "e")
    assert good == [("e", 0), ("d", 1), ("c", 2), ("b", 3), ("x", 3)]
    _accepts_and_rejects(lambda g: checks.check_impact(g, EDGES, "e"), good, good + [("a", 4)])
    _accepts_and_rejects(
        lambda g: checks.check_impact(g, EDGES, "e"), good, [("d", 1), ("c", 2), ("b", 3), ("x", 3)]
    )


def test_dead_code_check():
    good = checks.dead_code_ref(EDGES)
    assert good == ["a", "x"]
    _accepts_and_rejects(lambda g: checks.check_dead_code(g, EDGES), good, ["a"])


def test_search_checks():
    _accepts_and_rejects(lambda g: checks.check_search_name(g, "f"), ["f", "g"], ["g", "f"])
    ids = {"i1", "i2", "i3"}
    good = [("i2", 0.9), ("i1", 0.5), ("i3", 0.5)]
    hybrid = lambda g: checks.check_search_hybrid(g, 3, ids)  # noqa: E731
    _accepts_and_rejects(hybrid, good, [good[1], good[0], good[2]])  # swapped rank
    _accepts_and_rejects(hybrid, good, [good[0], good[2], good[1]])  # tie not by id
    _accepts_and_rejects(hybrid, good, good[:2] + [("zz", 0.1)])  # unknown id
    _accepts_and_rejects(hybrid, good, good + [("i3", 0.1)])  # more than k


def test_gather_check():
    at = {"f": {("m.py", 3)}, "g": {("m.py", 9)}}
    good = [("m.py", 3, "f", 1.0), ("m.py", 9, "g", 0.5)]
    _accepts_and_rejects(lambda g: checks.check_gather(g, at), good, good[::-1])
    _accepts_and_rejects(lambda g: checks.check_gather(g, at), good, [("m.py", 4, "f", 1.0)])


def test_oracle_check():
    import pandas as pd

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.oracle_sweep import canon

    oracle = canon(pd.DataFrame({"doc_id": [1, 2], "score": [0.5, -0.0]}))
    same = canon(pd.DataFrame({"DOC_ID": [2, 1], "score": [0.0, 0.50001]}))
    altered = canon(pd.DataFrame({"doc_id": [1, 2], "score": [0.5, 0.25]}))
    _accepts_and_rejects(lambda g: checks.check_oracle("q", g, oracle), same, altered)
    renamed = canon(pd.DataFrame({"id": [1, 2], "score": [0.5, 0.0]}))
    assert checks.check_oracle("q", renamed, oracle) is not None


def test_generator_deterministic():
    a, b = corpus.make_repo(7, 12), corpus.make_repo(7, 12)
    assert a.checksum() == b.checksum()
    assert corpus.make_repo(8, 12).checksum() != a.checksum()
    assert corpus.make_ops(a, 7, 50) == corpus.make_ops(b, 7, 50)
    before = a.checksum()
    for s in range(5):
        ea, _ = corpus.apply_edits(a, s)
        eb, _ = corpus.apply_edits(b, s)
        assert ea.checksum() == eb.checksum() != before
    assert a.checksum() == before  # editing returns a copy


def test_op_mix():
    from collections import Counter

    assert Counter(corpus.BLOCK) == {
        "search_nl": 8, "search_name": 4, "callers": 3, "impact": 2, "gather": 2, "dead_code": 1,
    }
    assert set(corpus.BLOCK[:8]) == set(corpus.KINDS)


def test_nl_queries_are_not_name_like():
    """The generated natural-language queries must take the hybrid path
    under the engine's identifier heuristic (<= 2 words, or an
    identifier character, reads as a name)."""
    repo = corpus.make_repo(3, 8)
    for kind, arg in corpus.make_ops(repo, 3, 200):
        if kind == "search_nl":
            words = arg.split()
            assert len(words) > 2 and arg == arg.lower()
            assert not any(c.isdigit() or c == "_" for c in arg)
            assert words[2] in corpus.term_owner(repo)


def test_metric_lists_match_benchmark_json():
    """run.py prints exactly the metrics BENCHMARK.json declares."""
    import json

    import run

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOAD_NAMES)


def run_all() -> str | None:
    """Run every test above; the first failure's description, or None."""
    if not __debug__:
        return "assertions are disabled (python -O); the self-tests cannot run"
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
            except AssertionError as e:
                return f"{name}: {e}"
    return None


if __name__ == "__main__":
    err = run_all()
    print(err or "all checker self-tests passed")
    sys.exit(1 if err else 0)
