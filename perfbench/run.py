"""voz-spark benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload {frontier_batch,crawl_rounds,queries}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``;
every scratch file lives under ``.perfbench_work/`` and is removed at
exit; the full result record (host fingerprint, samples, census) is
written to ``.perfbench_results/``. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md for what each metric means on each workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from tracing import STAGES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "round_s": "s",
    "query_s_total": "s",
    "peak_rss_mb": "MB",
}
STAGE_LAYERS = tuple(layer for _, layer in STAGES)
TABLES = ("seen", "seen_bloom", "results", "lineage", "frontier", "checkpoints", "fetch_failures")


def per_layer_units(queries: list[str]) -> dict[str, str]:
    u = {f"{layer}.s": "s" for layer in STAGE_LAYERS}
    u.update({
        "frontier.canonicalize.rows_out": "count",
        "frontier.dedup_in_batch.rows_out": "count",
        "bloom.prefilter.maybe_seen_frac": "ratio",
        "bloom.prefilter.precision": "ratio",
        "frontier.anti_join.rows_out": "count",
        "frontier.anti_join.shuffle_mb": "MB",
        "frontier.robots.blocked": "count",
        "frontier.schedule.scheduled": "count",
        "frontier.schedule.shuffle_mb": "MB",
        "frontier.outputs.s": "s",
        "frontier.pipeline.s": "s",
        "fetch.validated": "count",
        "fetch.ok_frac": "ratio",
    })
    u.update({f"tables.write.{t}.s": "s" for t in TABLES})
    u.update({
        "bloom.load.s": "s",
        "bloom.update.s": "s",
        "rounds.counts.s": "s",
        "tables.commit.s": "s",
        "tables.bytes_written": "B",
        "tables.files_written": "count",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.failed_tasks": "count",
    })
    for q in queries:
        u.update({f"{q}.s": "s", f"{q}.exchanges": "count", f"{q}.broadcasts": "count",
                  f"{q}.python_nodes": "count", f"{q}.shuffle_mb": "MB"})
    u.update({"trace.overhead_s": "s", "trace.span_coverage": "ratio", "failed_frac": "ratio"})
    return u


def _per_op_layers(tr, ev, root: int, queries: list[str]) -> tuple[dict, dict]:
    """Per-layer values and the exact-count census of one traced op."""
    from tracing import DIAG, stage_seconds

    label = tr.spans[root]["label"]
    sums = tr.layer_sums(root)
    count = lambda name, key: tr.counts(root, name, key)  # noqa: E731
    m: dict[str, float] = {}
    census: dict[str, int] = {}
    for layer, secs in stage_seconds(sums).items():
        m[f"{layer}.s"] = secs
    for layer in STAGE_LAYERS:
        census[f"{layer}.rows_out"] = count(layer, "rows_out")
        jt = ev.job_totals(lambda d, layer=layer: d.startswith(label + ":") and d.endswith(":" + layer))
        census[f"{layer}.jobs"], census[f"{layer}.tasks"] = jt["jobs"], jt["tasks"]
        if layer in ("frontier.anti_join", "frontier.schedule"):
            m[f"{layer}.shuffle_mb"] = jt["shuffle_bytes"] / 1e6
    n_maybe = count("frontier.anti_join", "maybe_seen")
    cand = census["bloom.prefilter.rows_out"]
    m["frontier.canonicalize.rows_out"] = census["frontier.canonicalize.rows_out"]
    m["frontier.dedup_in_batch.rows_out"] = census["frontier.dedup_in_batch.rows_out"]
    m["bloom.prefilter.maybe_seen_frac"] = count("bloom.prefilter", "maybe_seen") / cand if cand else 0.0
    m["bloom.prefilter.precision"] = count("frontier.anti_join", "truly_seen") / n_maybe if n_maybe else 1.0
    m["frontier.anti_join.rows_out"] = census["frontier.anti_join.rows_out"]
    m["frontier.robots.blocked"] = count("frontier.robots", "blocked")
    m["frontier.schedule.scheduled"] = count("frontier.schedule", "scheduled")
    pipe = [i for i in tr.descendants(root) if tr.spans[i]["name"] == "frontier.pipeline"]
    m["frontier.pipeline.s"] = sums.get("frontier.pipeline", 0.0)
    m["frontier.outputs.s"] = sum(tr.self_time(i) for i in pipe) + sums.get("frontier.materialize", 0.0)
    validated = tr.spans[root]["counts"].get("fetch_validated", 0)
    m["fetch.validated"] = validated
    m["fetch.ok_frac"] = tr.spans[root]["counts"].get("fetch_ok", 0) / validated if validated else 0.0
    files = bytes_ = 0
    for t in TABLES:
        m[f"tables.write.{t}.s"] = sums.get(f"tables.write.{t}", 0.0)
        files += count(f"tables.write.{t}", "files")
        bytes_ += count(f"tables.write.{t}", "bytes")
    for layer in ("tables.commit", "bloom.load", "bloom.update", "rounds.counts"):
        m[f"{layer}.s"] = sums.get(layer, 0.0)
    m["tables.bytes_written"] = bytes_
    m["tables.files_written"] = files
    jt = ev.job_totals(lambda d: (d == label or d.startswith(label + ":")) and DIAG not in d)
    m["spark.jobs"], m["spark.tasks"], m["spark.failed_tasks"] = jt["jobs"], jt["tasks"], jt["failed_tasks"]
    census["spark.jobs"], census["spark.tasks"] = jt["jobs"], jt["tasks"]
    for q in queries:
        kids = [i for i in tr.children(root) if tr.spans[i]["name"] == q]
        qlabel = f"{label}:{q}"
        plan = ev.plan_census(qlabel)
        qjobs = ev.job_totals(lambda d, qlabel=qlabel: d == qlabel)
        m[f"{q}.s"] = sum(tr.dur(tr.spans[i]) for i in kids)
        m[f"{q}.exchanges"] = plan["exchanges"]
        m[f"{q}.broadcasts"] = plan["broadcasts"]
        m[f"{q}.python_nodes"] = plan["python_nodes"]
        m[f"{q}.shuffle_mb"] = qjobs["shuffle_bytes"] / 1e6
        census.update({f"{q}.{k}": v for k, v in plan.items()})
        census[f"{q}.jobs"], census[f"{q}.tasks"] = qjobs["jobs"], qjobs["tasks"]
    # share of the op's wall (diagnostics excluded) that its layer spans cover
    covered = sum(
        tr.dur(tr.spans[i]) - tr.diag_time(i)
        for i in tr.children(root)
        if tr.spans[i]["name"] != DIAG
    )
    m["trace.span_coverage"] = covered / (tr.dur(tr.spans[root]) - tr.diag_time(root))
    return m, census


def per_layer(run, ev, queries: list[str]) -> dict[str, float]:
    from tracing import median

    tr = run.tracer
    roots = [i for i, s in enumerate(tr.spans) if s["parent"] is None]
    qnames = queries if run.workload == "queries" else []
    ops = [_per_op_layers(tr, ev, r, qnames) for r in roots]
    run.census = [c for _, c in ops]
    out = {}
    for name in per_layer_units(queries):
        vals = [m[name] for m, _ in ops if name in m]
        out[name] = median(vals) if vals else 0.0
    out["trace.overhead_s"] = median(run.samples.get("traced_s", [])) - median(run.samples["round_s"])
    return out


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["frontier_batch", "crawl_rounds", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "toy"], default="full",
                    help="toy: the self-test's size")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: tamper with one output before its check")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "voz_spark", "frontier.py")):
        print(f"perfbench: no voz_spark/ engine under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    import host
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    host.size_session(work, workloads.SIZES[args.size][args.workload]["heap_mb"])
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, t_start: float) -> int:
    import host
    import tracing
    import workloads
    from voz_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap (see workloads.SIZES)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(tracing.event_log_conf(log_dir))
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    try:
        spark.range(1000).count()
        run = workloads.Run(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                            args.size, work, args.corrupt, t_start)
        workloads.RUNNERS[args.workload](run)
        pid = host.jvm_pid(spark)
        run.metrics["peak_rss_mb"] = host.peak_rss_mb(pid)
        run.metrics["setup_s"] = run.setup_s
        fp = host.fingerprint(spark, ROOT)
    finally:
        stop_jvm(spark)

    if args.trace:
        metrics = per_layer(run, tracing.EventLog(log_dir), workloads.QUERIES)
        metrics["failed_frac"] = run.failed / run.attempted
        units = per_layer_units(workloads.QUERIES)
    else:
        metrics, units = run.metrics, END_TO_END
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "fingerprint": fp,
        "result": result, "end_to_end": run.metrics, "samples": run.samples,
        "census": run.census, "failures": run.failures,
        "spans": [
            {"label": sp["label"], "s": sp["end"] - sp["start"], **sp["counts"]}
            for sp in (run.tracer.spans if run.tracer else [])
        ],
    }
    out_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"fingerprint": fp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
