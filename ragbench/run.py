"""Lakehouse-to-RAG benchmark: one command per workload.

    python3 ragbench/run.py --workload ingest_full --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates its inputs from the seed
under ``.ragbench_work/`` (deleted at exit), drives the package's public
entry points, checks their outputs, and prints one JSON object as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` is a separate run that wraps the package's public
functions (``spans.py``) and reports per-layer counters instead; it
also writes every span to ``.ragbench_out/``. The exit code is 0 only
when every output check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "write_p50_s": "s",
    "write_bytes_per_raw_byte": "B/B",
    "query_p50_s": "s",
}

# spans reported per layer; every one is printed for every workload, a
# layer the workload leaves idle reads 0
LAYER_SPANS = [
    "session.get_spark",
    "etl.bronze",
    "etl.silver",
    "etl.gold",
    "retrieval.build_rag_indexes",
    "retrieval.write_bm25_index",
    "similarity.write_ivf_index",
    "serve.request",
    "retrieval.bm25_topk_from_index",
    "similarity.ivf_topk_from_index",
    "serve.collect",
    "pipeline.run_medallion_incremental",
    "lakehouse.upsert_by_key.bronze",
    "lakehouse.upsert_by_key.silver",
    "lakehouse.upsert_by_key.gold",
    "retrieval.append_to_bm25_index",
    "similarity.append_to_ivf_index",
]
LAYER_FIELDS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "cpu_s": "s",
    "shuffle_bytes": "bytes",
    "out_bytes": "bytes",
}
LAYOUT = {"layout.bm25.files": "count", "layout.ivf.files": "count"}
OVERHEAD = {"trace.overhead_s": "s", "trace.overhead_share": "ratio"}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{span}.{f}": u for span in LAYER_SPANS for f, u in LAYER_FIELDS.items()
    }
    units.update(LAYOUT)
    units.update(OVERHEAD)
    return units


def _isolate(work: str) -> None:
    """Keep Spark, its JVM and its Python workers inside ``work``, and
    let the workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _stop_spark() -> None:
    """Stop the session, then the JVM the gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer, ctx, window_s: float) -> dict[str, float]:
    """Median over the measured phase's spans of each name, with
    counters including child spans; 0 for a layer the run left idle.
    ``session.get_spark`` comes from the set-up phase."""
    inc = tracer.inclusive()
    out: dict[str, float] = {}
    for name in LAYER_SPANS:
        phase = "setup" if name == "session.get_spark" else "measure"
        spans = [s for s in tracer.spans if s.name == name and s.phase == phase]
        for f in LAYER_FIELDS:
            vals = [s.wall_s if f == "wall_s" else inc[s.sid][f] for s in spans]
            out[f"{name}.{f}"] = statistics.median(vals) if vals else 0
    out["layout.bm25.files"] = ctx.layout.get("bm25", 0)
    out["layout.ivf.files"] = ctx.layout.get("ivf", 0)
    out["trace.overhead_s"] = tracer.overhead_s
    out["trace.overhead_share"] = tracer.overhead_s / window_s
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import lakehouse_to_rag_spark  # noqa: F401
    except ImportError:
        print("ragbench: lakehouse_to_rag_spark is not importable from "
              f"{ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"ragbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".ragbench_work", run_id)
    _isolate(work)
    tracer = spans.Tracer(run_id) if args.trace else spans.NullTracer()
    ctx = workloads.Ctx(args.seed, args.seconds, work, tracer, bool(args.trace))
    t0 = time.perf_counter()
    try:
        if args.trace:
            with spans.instrument(tracer):
                workloads.WORKLOADS[args.workload](ctx)
        else:
            workloads.WORKLOADS[args.workload](ctx)
        window_s = time.perf_counter() - t0
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    if args.trace:
        metrics = layer_metrics(tracer, ctx, window_s)
        units = per_layer_units()
        out_dir = os.path.join(ROOT, ".ragbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"run_id": run_id, "per_layer": metrics,
                       "end_to_end_traced": ctx.metrics,
                       "spans": tracer.records()}, fh, indent=1)
    else:
        metrics, units = ctx.metrics, END_TO_END
    ends = [t for _, t in ctx.phases[1:]] + [t0 + window_s]
    print("ragbench: " + ", ".join(
        f"{p} {end - t:.1f} s" for (p, t), end in zip(ctx.phases, ends)), file=sys.stderr)
    for name, vals in ctx.samples.items():
        print(f"ragbench: {name} " + " ".join(f"{v:.3f}" for v in vals), file=sys.stderr)
    for err in ctx.errors:
        print(f"ragbench: check failed: {err}", file=sys.stderr)
    correct = ctx.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
