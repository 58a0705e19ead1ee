"""The three workloads.  Each one prepares its inputs from the seed,
times calls into the public API from outside, and checks every timed
result afterwards against an independent reference (``checks``).

``prepare(rep)`` is the set-up step (timed and repeated by ``run.py``),
``warm_up()`` an untimed pass over inputs of their own, ``measure(seconds)``
the timed region, ``check()`` the untimed checks;
``start_reference`` / ``wait_reference`` bracket reference work that
needs no Spark and overlaps the session start.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
from array import array

import checks
import corpus
from harness import ROOT

sys.path.insert(0, ROOT)
from tools.oracle_sweep import canon  # noqa: E402

K = 10  # search depth of every search op
WARMUP_SEED = 7919  # offset from --seed for the warm-up's own inputs


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _tree_checksum(root: str) -> str:
    import hashlib

    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(dirpath, f)
            h.update(os.path.relpath(full, root).encode() + b"\0")
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _local(origin: str) -> str:
    return origin[len("file:"):] if origin.startswith("file:") else origin


INDEX_TABLES = ("chunks", "postings", "edges", "type_edges", "embed_cache")


def _index_bytes(workdir: str) -> dict[str, int]:
    return {t: _dir_bytes(os.path.join(workdir, f"{t}.parquet")) for t in INDEX_TABLES}


def _bytes_metrics(table_bytes: dict[str, int], source_bytes: int) -> dict[str, float]:
    """Per-table on-disk bytes and index_bytes_per_source_byte."""
    out = {f"engine.write_bytes.{t}": float(v) for t, v in table_bytes.items()}
    out["engine.write_bytes.per_source_byte"] = sum(table_bytes.values()) / source_bytes
    return out


class Workload:
    name = ""
    prep_reps = 3  # set-up repetitions; setup_s reports their median

    def __init__(self, tmp: str, seed: int):
        self.tmp = tmp
        self.seed = seed
        self.spark = None  # set by run.py once the session is up
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def start_reference(self) -> None:
        """Start computing reference answers that need no Spark; called
        before the session starts so the two overlap."""

    def wait_reference(self) -> None:
        """Block until ``start_reference``'s work is done; called before
        the timed region so it never overlaps the measurement."""

    def warm_up(self) -> None:
        """Untimed work before the timed region that pays the JVM's
        one-off costs (class loading, JIT, code generation, Python worker
        start).  It runs on inputs of its own, so nothing it leaves in a
        cache can answer a timed op."""

    def _fail(self, err: str | None) -> bool:
        if err:
            self.errors.append(err)
        return err is not None


# ------------------------------------------------------------ index_refresh
class IndexRefresh(Workload):
    """Write path: full ``Engine.index`` of a seeded repo from an empty
    workdir and cache, then rounds of seeded edits, each followed by
    ``Engine.refresh``."""

    name = "index_refresh"
    n_files = 16
    # Refreshes per cycle, each after its own edit set on the tree the
    # previous one left: refresh_s is their median.
    n_refresh = 1

    def prepare(self, rep: int) -> None:
        self.repo = corpus.make_repo(self.seed, self.n_files)
        self.base = os.path.join(self.tmp, f"setup{rep}", "repo")
        self.repo.write(self.base)
        self.checksum = _tree_checksum(self.base)

    def warm_up(self) -> None:
        """A full build of a repo of another seed, so the timed build
        measures the index layers rather than the JVM's first use of
        them."""
        from cqs_spark.engine import Engine

        tree = os.path.join(self.tmp, "warmup", "repo")
        corpus.make_repo(self.seed + WARMUP_SEED, self.n_files).write(tree)
        Engine(self.spark, os.path.join(self.tmp, "warmup", "wd")).index(tree)

    def _snapshot(self, eng):
        rows = eng.chunks().select("origin", "chunk_type", "name", "id", "embedding").collect()
        edges = [(r.src, r.dst) for r in eng.edges().select("src", "dst").collect()]
        return rows, edges

    def measure(self, seconds: float) -> None:
        self.cycles = []
        start = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - start < seconds:
            try:
                self.cycles.append(self._cycle(k))
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                self.cycles.append({"error": f"cycle {k} raised {e!r}"[:500]})
                break
            k += 1

    def _cycle(self, k: int) -> dict:
        from cqs_spark.engine import Engine

        cyc = os.path.join(self.tmp, f"cycle{k}")
        tree, wd = os.path.join(cyc, "repo"), os.path.join(cyc, "wd")
        shutil.copytree(self.base, tree)  # never mutate the set-up copy
        eng = Engine(self.spark, wd)
        with self.tracer.span("engine.index", op=f"index{k}"):
            t0 = time.perf_counter()
            eng.index(tree)
            t_index = time.perf_counter() - t0
        n_chunks = eng.n_chunks()
        table_bytes = _index_bytes(wd)
        before = self._snapshot(eng)
        state, snap, refreshes = self.repo, before, []
        for r in range(self.n_refresh):
            new, edits = corpus.apply_edits(state, self.seed * 1000 + 10 * k + r)
            for p in edits.deleted:
                os.remove(os.path.join(tree, p))
            for p in edits.content + edits.cosmetic + edits.added:
                corpus.Repo._write(tree, p, new.render_py(p))
            with self.tracer.span("engine.refresh", op=f"refresh{k}.{r}"):
                t0 = time.perf_counter()
                eng.refresh()
                t_refresh = time.perf_counter() - t0
            after = self._snapshot(eng)
            refreshes.append(dict(t=t_refresh, new=new, edits=edits, before=snap, after=after))
            state, snap = new, after
        return dict(
            t_index=t_index, n_chunks=n_chunks, table_bytes=table_bytes,
            tree=tree, before=before, refreshes=refreshes,
        )

    def check(self) -> None:
        for c in self.cycles:
            if "error" in c:
                self.attempted += 1 + self.n_refresh
                self.failed += 1 + self.n_refresh
                self.errors.append(c["error"])
                continue
            self.attempted += 1
            rows, edges = c["before"]
            funcs = [r.name for r in rows if r.chunk_type == "function"]
            err = checks.check_index(funcs, edges, self.repo.func_names(), self.repo.edges())
            self.failed += self._fail(err and f"after index: {err}")
            for i, r in enumerate(c["refreshes"]):
                self.attempted += 1
                rows, _ = r["before"]
                untouched = {
                    x.id: array("f", x.embedding).tobytes()
                    for x in rows
                    if os.path.relpath(_local(x.origin), c["tree"]) not in r["edits"].touched()
                }
                rows2, edges2 = r["after"]
                funcs2 = [x.name for x in rows2 if x.chunk_type == "function"]
                err = checks.check_index(funcs2, edges2, r["new"].func_names(), r["new"].edges())
                err = err or checks.check_embeddings_kept(
                    untouched, {x.id: array("f", x.embedding).tobytes() for x in rows2}
                )
                self.failed += self._fail(err and f"after refresh {i + 1}: {err}")

    def _ok(self) -> list[dict]:
        return [c for c in self.cycles if "error" not in c]

    def end_to_end(self) -> dict[str, float]:
        return {
            "op_p50_s": _median([r["t"] for c in self._ok() for r in c["refreshes"]]),
            "work_per_s": _median([c["n_chunks"] / c["t_index"] for c in self._ok()]),
        }

    def _bytes(self) -> dict[str, float]:
        ok = self._ok()
        return _bytes_metrics(ok[0]["table_bytes"], self.repo.source_bytes()) if ok else {}

    def summary(self) -> dict[str, tuple[float, str]]:
        e2e = self.end_to_end()
        return {
            "index_chunks_per_s": (e2e["work_per_s"], "chunks/s"),
            "refresh_s": (e2e["op_p50_s"], "s"),
            "index_bytes_per_source_byte": (self._bytes().get("engine.write_bytes.per_source_byte", 0.0), "ratio"),
            "cycles": (len(self.cycles), "count"),
        }

    def per_layer(self, spans: list[dict]) -> dict[str, float]:
        out = self._bytes()
        phase = {s["id"]: s["op"] for s in spans}
        layers = {
            "index.ingest.list": "index.ingest.list_s",
            "index.chunker.parse": "index.chunker.parse_s",
            "index.reuse.embed": "index.reuse.embed_s",
            "index.postings.build": "index.postings.build_s",
            "engine.call_edges": "engine.call_edges_s",
            "index.typegraph.build": "index.typegraph.build_s",
            "engine.index": "engine.index_s",
            "engine.refresh": "engine.refresh_s",
        }
        n_cycles = len(self._ok())
        for s in spans:
            refresh = (phase.get(s["id"]) or "").startswith("refresh")
            n = n_cycles * (self.n_refresh if refresh else 1)  # per build / per refresh
            dur = (s["end"] - s["start"]) / n
            if s["name"] in layers:
                key = layers[s["name"]] + (".refresh" if refresh and s["name"] != "engine.refresh" else "")
                out[key] = out.get(key, 0.0) + dur
            if s["name"] == "index.chunker.parse":
                key = "index.chunker.chunks" + (".refresh" if refresh else "")
                out[key] = out.get(key, 0.0) + s.get("rows", 0) / n
            if s["name"] == "index.reuse.embed" and refresh and s.get("chunks"):
                out["index.reuse.cache_hit_ratio"] = s["hits"] / s["chunks"]
            if s["name"] == "index.incremental.plan":
                out["index.incremental.plan_s"] = out.get("index.incremental.plan_s", 0.0) + dur
                out["index.incremental.reparsed"] = out.get("index.incremental.reparsed", 0.0) + s["reparsed"] / n
                out["index.incremental.deleted"] = out.get("index.incremental.deleted", 0.0) + s["deleted"] / n
        return out


# ---------------------------------------------------------------- query_mix
class QueryMix(Workload):
    """Read path: one client in a closed loop over an index built in
    set-up; every op is collected to the driver."""

    name = "query_mix"
    n_files = 20
    # The set-up is a full, cold index build (~20 s); repeating it does
    # not fit the run budget, so setup_s rests on one build per run.
    prep_reps = 1
    min_ops = 8  # a corpus.BLOCK prefix holding every kind: the same mix per run

    def prepare(self, rep: int) -> None:
        from cqs_spark.engine import Engine

        self.repo = corpus.make_repo(self.seed, self.n_files)
        base = os.path.join(self.tmp, f"setup{rep}")
        self.tree = os.path.join(base, "repo")
        self.repo.write(self.tree)
        self.checksum = _tree_checksum(self.tree)
        self.eng = Engine(self.spark, os.path.join(base, "wd"))
        self.eng.index(self.tree)

    def warm_up(self) -> None:
        """One op of every kind, with arguments of another seed, except
        dead_code: it takes no argument, so its one answer is what the
        timed ops ask for."""
        first: dict[str, str] = {}
        for kind, arg in corpus.make_ops(self.repo, self.seed + WARMUP_SEED, len(corpus.BLOCK)):
            first.setdefault(kind, arg)
        for kind, arg in first.items():
            if kind != "dead_code":
                self._run_op(kind, arg)

    def _run_op(self, kind: str, arg: str):
        eng = self.eng
        if kind in ("search_nl", "search_name"):
            with self.tracer.span("engine.search.plan"):
                df = eng.search(arg, k=K)
            with self.tracer.span("engine.search.exec"):
                return df.collect()
        if kind == "callers":
            return eng.callers(arg).collect()
        if kind == "impact":
            return eng.impact(arg).collect()
        if kind == "gather":
            return eng.gather(arg).collect()
        return eng.dead_code().collect()

    def measure(self, seconds: float) -> None:
        self.table_bytes = _index_bytes(self.eng.workdir)
        chunk_rows = self.eng.chunks().select("id", "origin", "name", "line_start").collect()
        self.chunk_ids = {r.id for r in chunk_rows}
        self.chunk_at: dict[str, set] = {}
        for r in chunk_rows:
            self.chunk_at.setdefault(r.name, set()).add((r.origin, r.line_start))
        ops = corpus.make_ops(self.repo, self.seed, 10_000)
        self.done = []
        start = time.perf_counter()
        for i, (kind, arg) in enumerate(ops):
            if i >= self.min_ops and time.perf_counter() - start >= seconds:
                break
            with self.tracer.span(f"engine.{kind}", op=f"op{i}"):
                t0 = time.perf_counter()
                try:
                    rows = self._run_op(kind, arg)
                except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                    rows = e
                lat = time.perf_counter() - t0
            self.done.append((kind, arg, lat, rows))
        self.elapsed = time.perf_counter() - start

    def check(self) -> None:
        edges = self.repo.edges()
        owner = corpus.term_owner(self.repo)
        self.hits = []
        for kind, arg, _, rows in self.done:
            self.attempted += 1
            if isinstance(rows, Exception):
                err = f"{kind}({arg!r}) raised {rows!r}"[:500]
            elif kind == "search_nl":
                err = checks.check_search_hybrid([(r.id, r.score) for r in rows], K, self.chunk_ids)
                term = arg.split()[2]
                self.hits.append(owner[term] in [r.name for r in rows])
            elif kind == "search_name":
                err = checks.check_search_name([r.name for r in rows], arg)
            elif kind == "callers":
                err = checks.check_callers([r.caller for r in rows], edges, arg)
            elif kind == "impact":
                err = checks.check_impact([(r.node, r.depth) for r in rows], edges, arg)
            elif kind == "gather":
                err = checks.check_gather([tuple(r) for r in rows], self.chunk_at)
            else:
                err = checks.check_dead_code([r.node for r in rows], edges)
            self.failed += self._fail(err)

    def end_to_end(self) -> dict[str, float]:
        return {
            "op_p50_s": _median([d[2] for d in self.done]),
            "work_per_s": len(self.done) / self.elapsed,
        }

    def _bytes(self) -> dict[str, float]:
        return _bytes_metrics(self.table_bytes, self.repo.source_bytes())

    def summary(self) -> dict[str, tuple[float, str]]:
        e2e = self.end_to_end()
        lats = sorted(d[2] for d in self.done)
        return {
            "query_p50_s": (e2e["op_p50_s"], "s"),
            "query_max_s": (lats[-1], "s"),
            "queries_per_s": (e2e["work_per_s"], "1/s"),
            "samples": (len(lats), "count"),
            "hit_at_10": (sum(self.hits) / max(1, len(self.hits)), "ratio"),
            "index_bytes_per_source_byte": (self._bytes()["engine.write_bytes.per_source_byte"], "ratio"),
        }

    def per_layer(self, spans: list[dict]) -> dict[str, float]:
        out = self._bytes()
        for kind in corpus.KINDS:
            out[f"engine.{kind}.p50_s"] = _median([d[2] for d in self.done if d[0] == kind])
        by_name: dict[str, list[float]] = {}
        kids: dict[str, set[str]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
            if s["parent"]:
                kids.setdefault(s["parent"], set()).add(s["name"])
        out["engine.search.plan_s"] = _median(by_name.get("engine.search.plan", []))
        out["engine.search.exec_s"] = _median(by_name.get("engine.search.exec", []))
        out["index.postings.keyword_search_s"] = _median(by_name.get("index.postings.keyword_search", []))
        out["operators.router.classify_s"] = _median(by_name.get("operators.router.classify", []))
        plans = [s for s in spans if s["name"] == "engine.search.plan"]
        short = [
            s for s in plans
            if "engine.search_by_name" in kids.get(s["id"], set())
            and "operators.router.classify" not in kids.get(s["id"], set())
        ]
        out["engine.search.fts_first_ratio"] = len(short) / max(1, len(plans))
        out["engine.search.hit_at_10"] = sum(self.hits) / max(1, len(self.hits))
        return out


# ----------------------------------------------------------------- curation
# q30, q72, q65, q90 and q138 are left out to fit the run budget (see
# README.md).
CURATION_OPS = {
    "dedup": ("q27", "q28", "q29", "q68", "q99"),
    "textops": ("q31", "q32", "q62", "q79", "q137"),
    "vectorops": ("q35",),
    "curate": ("q151",),
}
GROUP_OF = {q: g for g, qs in CURATION_OPS.items() for q in qs}


class Curation(Workload):
    """LLM-data path: the declared dedup / text-gate / vector / curation
    operators over seeded ``documents`` and ``embeddings`` tables, each
    compared with its DuckDB oracle answer."""

    name = "curation"
    n_docs, n_vecs = 1000, 800

    def prepare(self, rep: int) -> None:
        self.data = os.path.join(self.tmp, f"setup{rep}", "data")
        corpus.write_curation_tables(self.data, self.seed, self.n_docs, self.n_vecs)
        self.checksum = _tree_checksum(self.data)

    def warm_up(self) -> None:
        """Every operator, in parallel, on tables of another seed and a
        tenth the size; twice, since the second round still speeds the
        first timed pass up by a fifth.  A cold call costs several times
        a warm one, and the cold cost varies far more between runs than
        the operators' own work."""
        from concurrent.futures import ThreadPoolExecutor

        import __spark_entry__ as entry
        from harness import nproc

        data = os.path.join(self.tmp, "warmup", "data")
        corpus.write_curation_tables(data, self.seed + WARMUP_SEED, self.n_docs // 10, self.n_vecs // 10)
        queries = entry.queries()
        with ThreadPoolExecutor(nproc()) as ex:
            for _ in range(2):
                list(ex.map(lambda q: queries[q](self.spark, data).toPandas(), sorted(GROUP_OF)))

    def measure(self, seconds: float) -> None:
        import __spark_entry__ as entry

        queries = entry.queries()
        order = sorted(GROUP_OF)
        random.Random(self.seed).shuffle(order)
        self.calls = []  # (pass, query, seconds, canonical result)
        start = time.perf_counter()
        p = 0
        while p == 0 or time.perf_counter() - start < seconds:
            for q in order:
                with self.tracer.span(f"operators.{GROUP_OF[q]}", op=f"{q}#{p}", query=q):
                    t0 = time.perf_counter()
                    try:
                        got = queries[q](self.spark, self.data).toPandas()
                    except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                        got = e
                    lat = time.perf_counter() - t0
                self.calls.append((p, q, lat, got if isinstance(got, Exception) else canon(got)))
            p += 1
        self.passes = p

    def start_reference(self) -> None:
        """DuckDB oracle answers over an identical copy of the tables."""
        import threading

        import __spark_entry__ as entry

        sql = {q: entry.oracle_sql()[q] for q in GROUP_OF}
        self._oracle_data = os.path.join(self.tmp, "oracle", "data")
        corpus.write_curation_tables(self._oracle_data, self.seed, self.n_docs, self.n_vecs)
        self._want: dict = {}
        self._oracle_err: list[BaseException] = []

        def work() -> None:
            import duckdb

            try:
                con = duckdb.connect(config={"threads": 2})
                try:
                    for t in ("documents", "embeddings"):
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._oracle_data}/{t}.parquet')"
                        )
                    for q, text in sql.items():
                        self._want[q] = canon(con.execute(text).fetchdf())
                finally:
                    con.close()
            except Exception as e:  # noqa: BLE001 - re-raised by wait_reference
                self._oracle_err.append(e)

        self._oracle = threading.Thread(target=work, daemon=True)
        self._oracle.start()

    def wait_reference(self) -> None:
        self._oracle.join()
        if self._oracle_err:
            raise self._oracle_err[0]
        if _tree_checksum(self._oracle_data) != self.checksum:
            raise RuntimeError("oracle tables differ from the measured tables")

    def check(self) -> None:
        for _, q, _, got in self.calls:
            self.attempted += 1
            if isinstance(got, Exception):
                self.failed += self._fail(f"{q} raised {got!r}"[:500])
            else:
                self.failed += self._fail(checks.check_oracle(q, got, self._want[q]))

    def pass_s(self) -> float:
        sums: dict[int, float] = {}
        for p, _, lat, _ in self.calls:
            sums[p] = sums.get(p, 0.0) + lat
        return _median(list(sums.values()))

    def end_to_end(self) -> dict[str, float]:
        # The op a user waits for is the whole pass: the median operator
        # call jumps between neighbouring operators as the seed moves the
        # cold first call around, the pass total does not.
        lats = [c[2] for c in self.calls]
        return {"op_p50_s": self.pass_s(), "work_per_s": len(lats) / sum(lats)}

    def summary(self) -> dict[str, tuple[float, str]]:
        return {
            "curation_s": (self.pass_s(), "s"),
            "operator_p50_s": (_median([c[2] for c in self.calls]), "s"),
            "passes": (self.passes, "count"),
        }

    def per_layer(self, spans: list[dict]) -> dict[str, float]:
        out: dict[str, float] = {}
        for _, q, lat, _ in self.calls:
            out[f"operators.{GROUP_OF[q]}.s"] = out.get(f"operators.{GROUP_OF[q]}.s", 0.0) + lat / self.passes
            out[f"operators.{q}_s"] = out.get(f"operators.{q}_s", 0.0) + lat / self.passes
        return out


WORKLOADS = {w.name: w for w in (IndexRefresh, QueryMix, Curation)}
