"""Seeded inputs for the benchmark: a Python repo with known ground truth,
its edit set, the op sequence for the query loop, and the curation tables.

Everything here is a pure function of the seed (``random.Random(seed)``,
sorted iteration only), so the same seed renders byte-identical files.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

COMMON = (
    "value record buffer cursor offset window batch payload header frame "
    "entry token segment layer state handle signal result summary detail "
    "measure sample range bucket index marker anchor channel stream"
).split()
VERBS = "load store merge split parse render check build apply fetch scan rank".split()
NOUNS = "widget ledger packet matrix bundle report schema target vertex shard".split()
TYPES = "Widget Ledger Packet Matrix Bundle Report Schema Target".split()
DOC_HEADS = "Overview Usage Design Notes Layout Tuning".split()
LETTERS = "abcdefghijklmnopqrstuvwxyz"


@dataclass
class Func:
    name: str
    term: str  # planted letters-only term, unique to this function
    callees: list[str]
    const: int
    params: str = "x"
    returns: str = ""
    comment: str = ""  # comment line inside the body (comment-only edits)
    pad: str = ""  # trailing whitespace on the first body line


@dataclass
class Repo:
    """In-memory model of the generated repo: ``files`` maps each Python
    module's relative path to its function names, ``docs`` each Markdown
    file's path to its text."""

    funcs: dict[str, Func]
    files: dict[str, list[str]]
    types_file: str
    docs: dict[str, str] = field(default_factory=dict)

    def copy(self) -> "Repo":
        return Repo(
            {n: Func(**{**vars(f), "callees": list(f.callees)}) for n, f in self.funcs.items()},
            {p: list(ns) for p, ns in self.files.items()},
            self.types_file,
            dict(self.docs),
        )

    # ----------------------------------------------------------- rendering
    def render_py(self, path: str) -> str:
        if path == self.types_file:
            out = ['"""Record types used in annotations."""', ""]
            for t in TYPES:
                out += ["", f"class {t}:", f'    """A {t.lower()} record."""', "", "    size: int = 0", ""]
            return "\n".join(out) + "\n"
        out = [f'"""Module {os.path.basename(path)[:-3]}."""', ""]
        for name in self.files[path]:
            f = self.funcs[name]
            sig = f"def {name}({f.params})" + (f" -> {f.returns}" if f.returns else "") + ":"
            out += ["", sig]
            words = " ".join(
                [COMMON[(f.const + i * 7) % len(COMMON)] for i in range(3)]
            )
            out.append(f'    """Combine the {words} using {f.term} semantics."""')
            out.append(f"    y = {f.const}{f.pad}")
            if f.comment:
                out.append(f"    # {f.comment}")
            for c in f.callees:
                out.append(f"    y = y + {c}(y)")
            out.append("    return y")
            out.append("")
        return "\n".join(out) + "\n"

    def write(self, root: str) -> None:
        for path in sorted(self.files):
            self._write(root, path, self.render_py(path))
        for path in sorted(self.docs):
            self._write(root, path, self.docs[path])

    @staticmethod
    def _write(root: str, rel: str, text: str) -> None:
        full = os.path.join(root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "w") as fh:
            fh.write(text)

    def checksum(self) -> str:
        h = hashlib.sha256()
        for path in sorted(self.files):
            h.update(path.encode() + b"\0" + self.render_py(path).encode())
        for path in sorted(self.docs):
            h.update(path.encode() + b"\0" + self.docs[path].encode())
        return h.hexdigest()[:16]

    def source_bytes(self) -> int:
        return sum(len(self.render_py(p).encode()) for p in self.files) + sum(
            len(t.encode()) for t in self.docs.values()
        )

    # -------------------------------------------------------- ground truth
    def func_names(self) -> set[str]:
        return set(self.funcs)

    def edges(self) -> set[tuple[str, str]]:
        live = self.funcs
        return {(n, c) for n, f in live.items() for c in f.callees if c in live}


def _term(rng: random.Random, used: set[str]) -> str:
    while True:
        t = "".join(rng.choice(LETTERS) for _ in range(9))
        if t not in used:
            used.add(t)
            return t


def make_repo(seed: int, n_files: int, funcs_per_file: int = 8, n_docs: int = 4) -> Repo:
    """A seeded repo: ``n_files`` modules over a call DAG, one types
    module (typed signatures for typegraph) and a few Markdown files."""
    rng = random.Random(seed)
    used: set[str] = set(COMMON)
    order: list[str] = []
    files: dict[str, list[str]] = {}
    for i in range(n_files):
        path = f"pkg/sub{i % 4}/mod{i:04d}.py"
        files[path] = []
        for _ in range(funcs_per_file):
            name = f"{rng.choice(VERBS)}_{rng.choice(NOUNS)}_{len(order)}"
            files[path].append(name)
            order.append(name)
    funcs: dict[str, Func] = {}
    for i, name in enumerate(order):
        later = order[i + 1 :]
        callees = sorted(rng.sample(later, min(len(later), rng.randint(0, 3))))
        f = Func(name=name, term=_term(rng, used), callees=callees, const=rng.randint(1, 999))
        if rng.random() < 0.1:
            f.params = f"x: {rng.choice(TYPES)}"
            f.returns = rng.choice(TYPES)
        funcs[name] = f
    docs = {}
    for d in range(n_docs):
        parts = []
        for h in rng.sample(DOC_HEADS, 3):
            body = " ".join(rng.choice(COMMON) for _ in range(40))
            parts.append(f"## {h}\n\n{body}\n")
        docs[f"docs/guide{d}.md"] = f"# Guide {d}\n\n" + "\n".join(parts)
    files["pkg/types.py"] = []
    return Repo(funcs, files, "pkg/types.py", docs)


@dataclass
class EditSet:
    content: list[str]  # files whose code changed
    cosmetic: list[str]  # files with comment/whitespace-only changes
    added: list[str]
    deleted: list[str]

    def touched(self) -> set[str]:
        return set(self.content) | set(self.cosmetic) | set(self.added) | set(self.deleted)


def apply_edits(repo: Repo, seed: int, share: float = 0.05, n_add: int = 2, n_del: int = 2) -> tuple[Repo, EditSet]:
    """Return an edited copy of ``repo`` and what was edited: code
    edits to ``share`` of the modules, comment/whitespace-only edits to
    another ``share``, ``n_add`` new modules and ``n_del`` deleted ones."""
    rng = random.Random(seed * 7919 + 1)
    new = repo.copy()
    paths = sorted(p for p in new.files if p != new.types_file)
    k = max(1, int(len(paths) * share))
    picked = rng.sample(paths, 2 * k + n_del)
    content, cosmetic, deleted = picked[:k], picked[k : 2 * k], picked[2 * k :]
    names = sorted(new.funcs)
    for p in content:
        f = new.funcs[rng.choice(new.files[p])]
        f.const += 1
        others = [n for n in names if n != f.name and n not in f.callees]
        if f.callees and rng.random() < 0.5:
            f.callees.pop(rng.randrange(len(f.callees)))
        else:
            f.callees = sorted(f.callees + [rng.choice(others)])
    for p in cosmetic:
        for n in new.files[p][:2]:
            new.funcs[n].comment = "reviewed: no behaviour change"
            new.funcs[n].pad = "   "
    for p in deleted:
        for n in new.files.pop(p):
            del new.funcs[n]
    used = {f.term for f in new.funcs.values()} | {f.term for f in repo.funcs.values()} | set(COMMON)
    live = sorted(new.funcs)
    added = []
    for a in range(n_add):
        path = f"pkg/added/e{seed}_{a}.py"
        new.files[path] = []
        for j in range(4):
            name = f"fresh_{rng.choice(NOUNS)}_{seed}_{a}_{j}"
            new.files[path].append(name)
            new.funcs[name] = Func(
                name=name, term=_term(rng, used),
                callees=sorted(rng.sample(live, 2)), const=rng.randint(1, 999),
            )
        added.append(path)
    return new, EditSet(sorted(content), sorted(cosmetic), added, sorted(deleted))


# ------------------------------------------------------------- query ops
KINDS = ("search_nl", "search_name", "callers", "impact", "gather", "dead_code")
# One 20-op block of kinds in the shares 40/20/15/10/10/5%.  Its first
# 8 ops already hold every kind, so an 8-op run times and checks them
# all, and the kind mix of a run does not depend on the seed.
BLOCK = (
    "search_nl", "search_name", "callers", "search_nl", "impact",
    "gather", "search_nl", "dead_code", "search_nl", "search_name",
    "search_nl", "search_name", "callers", "search_nl", "impact",
    "gather", "search_nl", "callers", "search_nl", "search_name",
)


def make_ops(repo: Repo, seed: int, n: int) -> list[tuple[str, str]]:
    """(kind, argument) sequence: kinds by repeating ``BLOCK``, arguments
    drawn from the repo with the seed.

    Natural-language queries are the planted term among lowercase common
    words with a question word, so the name-like heuristic (<= 2 words,
    or any digit/underscore/uppercase) never routes them to the
    name-only short-circuit."""
    rng = random.Random(seed * 31 + 5)
    names = sorted(repo.funcs)
    called = sorted({c for _, c in repo.edges()})
    ops = []
    for i in range(n):
        kind = BLOCK[i % len(BLOCK)]
        if kind in ("search_nl", "gather"):
            f = repo.funcs[rng.choice(names)]
            arg = f"how does {f.term} combine the {rng.choice(COMMON)} {rng.choice(COMMON)}"
        elif kind == "search_name":
            arg = rng.choice(names)
        elif kind in ("callers", "impact"):
            arg = rng.choice(called)
        else:
            arg = ""
        ops.append((kind, arg))
    return ops


def term_owner(repo: Repo) -> dict[str, str]:
    return {f.term: n for n, f in repo.funcs.items()}


# ---------------------------------------------------------- curation data
CURATION_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de")


def write_curation_tables(out_dir: str, seed: int, n_docs: int = 5000, n_vecs: int = 2000, dim: int = 64) -> None:
    """``documents`` and ``embeddings`` parquet tables shaped like the
    engine's test data: 10-100 word documents from a 31-word vocabulary,
    5% near-duplicates (a copy of another document plus " dup"), and
    unit-norm random embeddings with a 10-way label."""
    import numpy as np
    import pandas as pd

    rng = random.Random(seed)
    texts = [" ".join(rng.choice(CURATION_VOCAB) for _ in range(rng.randint(10, 100))) for _ in range(n_docs)]
    for i in sorted(rng.sample(range(n_docs), n_docs // 20)):
        texts[i] = texts[rng.randrange(n_docs)] + " dup"
    os.makedirs(out_dir, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    ).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)
    g = np.random.default_rng(seed)
    emb = g.standard_normal((n_vecs, dim)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(emb),
            "label": g.integers(0, 10, n_vecs).astype(np.int32),
        }
    ).to_parquet(os.path.join(out_dir, "embeddings.parquet"), index=False)
