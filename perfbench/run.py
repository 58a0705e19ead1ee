#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {index_refresh,query_mix,curation} \\
        --seed N --seconds S --trace {0,1}

Prints human-readable ``summary`` lines, then as its last line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.
Scratch files live under ``.perfbench_tmp/`` in the checkout and are
removed at exit; the traced run keeps its spans under ``.perfbench_out/``.
See perfbench/README.md for what each metric means on each workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOAD_NAMES = ("index_refresh", "query_mix", "curation")
# (name, unit) — every workload prints every one of them.
END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("work_per_s", "1/s"),
)
PER_LAYER = (
    [(f"index.{m}", "s") for m in (
        "ingest.list_s", "ingest.list_s.refresh", "chunker.parse_s", "chunker.parse_s.refresh",
        "reuse.embed_s", "reuse.embed_s.refresh", "postings.build_s", "postings.build_s.refresh",
        "typegraph.build_s", "typegraph.build_s.refresh", "incremental.plan_s",
    )]
    + [("index.chunker.chunks", "count"), ("index.chunker.chunks.refresh", "count"),
       ("index.reuse.cache_hit_ratio", "ratio"),
       ("index.incremental.reparsed", "count"), ("index.incremental.deleted", "count"),
       ("engine.call_edges_s", "s"), ("engine.call_edges_s.refresh", "s"),
       ("engine.index_s", "s"), ("engine.refresh_s", "s")]
    + [(f"engine.write_bytes.{t}", "bytes") for t in ("chunks", "postings", "edges", "type_edges", "embed_cache")]
    + [("engine.write_bytes.per_source_byte", "ratio")]
    + [(f"engine.{k}.p50_s", "s") for k in ("search_nl", "search_name", "callers", "impact", "gather", "dead_code")]
    + [("engine.search.plan_s", "s"), ("engine.search.exec_s", "s"),
       ("index.postings.keyword_search_s", "s"), ("operators.router.classify_s", "s"),
       ("engine.search.fts_first_ratio", "ratio"), ("engine.search.hit_at_10", "ratio")]
    + [(f"operators.{g}.s", "s") for g in ("dedup", "textops", "vectorops", "curate")]
    + [(f"operators.{q}_s", "s") for q in (
        "q27", "q28", "q29", "q68", "q99", "q31", "q32", "q62",
        "q79", "q137", "q35", "q151",
    )]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.failed_tasks", "count"), ("spark.input_bytes", "bytes"),
       ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.executor_run_s", "s")]
    + [("peak_rss_mb", "MB"), ("traced.op_p50_s", "s"), ("traced.work_per_s", "1/s")]
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, "cqs_spark")):
        print(f"perfbench: no cqs_spark package under {harness.ROOT}", file=sys.stderr)
        return 2
    import test_checks

    selftest = test_checks.run_all()
    if selftest:
        print(f"perfbench: checker self-test failed: {selftest}", file=sys.stderr)
        return 3

    tmp = os.path.join(harness.ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(tmp)
    harness.prepare_env(tmp)
    events = os.path.join(tmp, "events") if args.trace else None
    try:
        return run(args, tmp, events)
    finally:
        harness.remove_tree(tmp)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run(args: argparse.Namespace, tmp: str, events: str | None) -> int:
    from tracing import COUNTERS, Tracer, spark_counters
    from workloads import WORKLOADS

    phases: dict[str, float] = {}
    wl = WORKLOADS[args.workload](tmp, args.seed)
    with harness.RssSampler() as rss:
        wl.start_reference()
        t0 = time.perf_counter()
        spark = harness.start_spark(tmp, events)
        session_s = phases["session"] = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, enabled=bool(args.trace))
            # Set-up and warm-up leave no spans: only the timed region does.
            wl.spark, wl.tracer = spark, Tracer(spark, enabled=False)
            prep = []
            for rep in range(wl.prep_reps):
                t0 = time.perf_counter()
                wl.prepare(rep)
                prep.append(time.perf_counter() - t0)
            phases["prepare"] = sum(prep)
            t0 = time.perf_counter()
            wl.wait_reference()
            phases["reference_wait"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.warm_up()
            harness.quiesce(spark)
            phases["warmup"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.tracer = tracer
            tracer.install()
            try:
                wl.measure(args.seconds)
            finally:
                tracer.uninstall()
            phases["measure"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.check()
            phases["check"] = time.perf_counter() - t0
        finally:
            t0 = time.perf_counter()
            harness.stop_spark(spark)
            phases["stop"] = time.perf_counter() - t0
    e2e = {
        "setup_s": session_s + statistics.median(prep),
        **wl.end_to_end(),
        "peak_rss_mb": rss.peak_mb,
    }
    summary = dict(wl.summary())
    summary["fail_share"] = (wl.failed / max(1, wl.attempted), "ratio")
    summary["setup_s"] = (e2e["setup_s"], "s")
    summary["peak_rss_mb"] = (e2e["peak_rss_mb"], "MB")
    print(
        f"summary {args.workload} seed={args.seed} corpus_sha256={wl.checksum} "
        + " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in summary.items()),
        flush=True,
    )
    print("phases " + " ".join(f"{k}_s={v:.3f}" for k, v in phases.items()), flush=True)
    for err in wl.errors[:20]:
        print(f"check failed: {err}", flush=True)

    if args.trace:
        os.makedirs(harness.OUT_DIR, exist_ok=True)
        spans_path = os.path.join(harness.OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl")
        counters = spark_counters(events, tracer.spans)
        for s in tracer.spans:
            s["spark"] = counters.get(s["id"], {})
        tracer.write(spans_path)
        layer = wl.per_layer(tracer.spans)
        roots = [s for s in tracer.spans if s["parent"] is None]
        for c in COUNTERS:
            layer[f"spark.{c}"] = sum(s["spark"].get(c, 0.0) for s in roots)
        layer["peak_rss_mb"] = e2e["peak_rss_mb"]
        layer["traced.op_p50_s"] = e2e["op_p50_s"]
        layer["traced.work_per_s"] = e2e["work_per_s"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        _print_overhead(args.workload, e2e)
        print(f"spans written to {os.path.relpath(spans_path, harness.ROOT)}", flush=True)
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
        os.makedirs(harness.OUT_DIR, exist_ok=True)
        with open(os.path.join(harness.OUT_DIR, f"last-{args.workload}.json"), "w") as fh:
            json.dump(e2e, fh)
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


def _print_overhead(workload: str, traced: dict[str, float]) -> None:
    """Tracing overhead: this traced run's end-to-end numbers minus those
    of the last untraced run of the same workload in this checkout."""
    path = os.path.join(harness.OUT_DIR, f"last-{workload}.json")
    if not os.path.exists(path):
        print("trace overhead: no untraced run of this workload to compare with", flush=True)
        return
    with open(path) as fh:
        plain = json.load(fh)
    print(
        "trace overhead (traced - untraced): "
        + " ".join(f"{k}={traced[k] - plain[k]:+.6g}" for k in ("op_p50_s", "work_per_s", "peak_rss_mb")),
        flush=True,
    )


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
