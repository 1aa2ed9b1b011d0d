"""Per-layer tracing from outside the engine.

Spans are recorded around calls into the engine's own modules; nothing
inside ``voz_spark/`` is instrumented. ``instrumented()`` swaps the
stage functions of ``voz_spark.frontier``, the pipeline entry that
``voz_spark.rounds`` imported, and the catalog and bloom-state methods
for wrappers, then restores them:

- each frontier stage gets a barrier that materializes its output, so
  its span holds the stage's work and its row count is exact (see
  ``CACHED`` for which barriers cache);
- every span sets ``sc.setJobDescription(<label>)``, so the Spark event
  log attributes jobs, tasks, shuffle bytes and SQL plans to a layer.

Diagnostic counts the benchmark takes for its own ratios run under a
``trace.diag`` span and are excluded from layer times.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

DIAG = "trace.diag"

# frontier module function -> layer name (order is the round's order)
STAGES = (
    ("_canonicalize", "frontier.canonicalize"),
    ("_dedup_in_batch", "frontier.dedup_in_batch"),
    ("_bloom_split", "bloom.prefilter"),
    ("_dedup_against_seen", "frontier.anti_join"),
    ("_robots_flag", "frontier.robots"),
    ("_schedule", "frontier.schedule"),
)

# physical operators that cross the JVM <-> Python boundary
PYTHON_NODES = frozenset(
    {
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
        "PythonMapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInPandas",
        "FlatMapCoGroupsInArrow",
        "AggregateInPandas",
        "ArrowAggregatePython",
        "WindowInPandas",
        "ArrowWindowPython",
        "ArrowEvalPythonUDTF",
        "BatchEvalPythonUDTF",
    }
)


class Tracer:
    """In-memory span recorder. A span is a dict with name, label (the
    job description: the parent's label + ':' + name), parent index,
    start/end (perf_counter seconds) and counts."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        label = name if parent is None else f"{self.spans[parent]['label']}:{name}"
        rec = {"name": name, "label": label, "parent": parent, "counts": {}}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobDescription(label)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(None if parent is None else self.spans[parent]["label"])

    def at_root(self) -> bool:
        """True while the innermost open span is a top-level op."""
        return bool(self._stack) and self.spans[self._stack[-1]]["parent"] is None

    # -- span arithmetic --------------------------------------------------

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["parent"] == idx]

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    @staticmethod
    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def diag_time(self, idx: int) -> float:
        return sum(self.dur(self.spans[i]) for i in self.descendants(idx) if self.spans[i]["name"] == DIAG)

    def self_time(self, idx: int) -> float:
        """Duration minus the part covered by child spans (children are
        sequential, so their durations do not overlap)."""
        return self.dur(self.spans[idx]) - sum(self.dur(self.spans[i]) for i in self.children(idx))

    def layer_sums(self, root: int) -> dict[str, float]:
        """Seconds per span name under ``root``, diagnostics excluded
        from every enclosing span."""
        out: dict[str, float] = {}
        for i in self.descendants(root):
            s = self.spans[i]
            if s["name"] == DIAG:
                continue
            out[s["name"]] = out.get(s["name"], 0.0) + self.dur(s) - self.diag_time(i)
        return out

    def counts(self, root: int, name: str, key: str) -> int:
        return sum(
            self.spans[i]["counts"].get(key, 0)
            for i in self.descendants(root)
            if self.spans[i]["name"] == name
        )


# -- instrumentation ------------------------------------------------------


# Stage outputs that run_round_pipeline persists itself: the barrier
# persists them early, so the round keeps exactly its own cache entries.
# The other stages are evaluated but not cached. Caching them as well
# nests caches inside the round's plans and measured the whole rest of a
# crawl round ~2x slower (12.5 s untraced vs 26 s traced), so those
# barriers instead recompute the stages since the last cached one and
# the layer's time is taken by difference (see stage_seconds).
CACHED = ("bloom.prefilter", "frontier.robots", "frontier.schedule")


def stage_seconds(sums: dict[str, float]) -> dict[str, float]:
    """Per-stage seconds from the barrier spans: an uncached stage's
    successor recomputes it, so its time is subtracted."""
    out, prev = {}, None
    for _, layer in STAGES:
        t = sums.get(layer, 0.0)
        out[layer] = max(0.0, t - sums.get(prev, 0.0)) if prev and prev not in CACHED else t
        prev = layer
    return out


def _evaluate(df) -> int:
    """Row count that computes every column: a plain count() lets the
    optimizer prune a projection stage (and its Python UDF) away."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*df.columns).alias("_h")
    return df.select(h).agg(F.count(F.lit(1)).alias("n"), F.max("_h")).first()["n"]


def _barrier(tracer: Tracer, layer: str, fn):
    def wrapped(*args, **kwargs):
        with tracer.span(layer) as rec:
            df = fn(*args, **kwargs)
            if layer in CACHED:
                df = df.persist()
                rec["counts"]["rows_out"] = df.count()
            else:
                rec["counts"]["rows_out"] = _evaluate(df)
        with tracer.span(DIAG):
            _diagnose(layer, rec, df, args)
        return df

    return wrapped


def _diagnose(layer: str, rec: dict, df, args) -> None:
    from pyspark.sql import functions as F

    if layer == "bloom.prefilter":
        rec["counts"]["maybe_seen"] = df.where(F.col("maybe_seen")).count()
    elif layer == "frontier.anti_join":
        # rows in = the prefilter's output; its definitely-new rows pass
        # straight through, so every maybe-seen row the anti-join drops
        # was truly in `seen`
        cand = args[0]
        n_in = cand.count()
        n_maybe = cand.where(F.col("maybe_seen")).count()
        survivors = rec["counts"]["rows_out"] - (n_in - n_maybe)
        rec["counts"]["maybe_seen"] = n_maybe
        rec["counts"]["truly_seen"] = n_maybe - survivors
    elif layer == "frontier.robots":
        rec["counts"]["blocked"] = df.where(F.col("robots_blocked")).count()
    elif layer == "frontier.schedule":
        rec["counts"]["scheduled"] = df.where(F.col("scheduled")).count()


def _spanned(tracer: Tracer, layer: str, fn):
    def wrapped(*args, **kwargs):
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return wrapped


@contextmanager
def instrumented(tracer: Tracer):
    """Route the frontier stages, the round pipeline entry that
    ``voz_spark.rounds`` imported, the snapshot catalog, the bloom state
    methods and the round's own counts through span wrappers."""
    from pyspark.sql import SparkSession
    from voz_spark import frontier, rounds, tables

    saved = []

    def patch(owner, attr, new):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    try:
        for fn_name, layer in STAGES:
            patch(frontier, fn_name, _barrier(tracer, layer, getattr(frontier, fn_name)))
        patch(rounds, "run_round_pipeline",
              _spanned(tracer, "frontier.pipeline", rounds.run_round_pipeline))
        cat = tables.SnapshotCatalog
        write = cat.write_files

        def write_files(self, df, table):
            with tracer.span(f"tables.write.{table}") as rec:
                paths = write(self, df, table)
                rec["counts"]["files"] = len(paths)
                rec["counts"]["bytes"] = sum(os.path.getsize(p) for p in paths)
            return paths

        patch(cat, "write_files", write_files)
        patch(cat, "commit", _spanned(tracer, "tables.commit", cat.commit))
        eng = rounds.CrawlEngine
        for attr in ("_validated_bloom_table", "_bloom_blobs_from"):
            patch(eng, attr, _spanned(tracer, "bloom.load", getattr(eng, attr)))
        for attr in ("_updated_bloom", "_updated_bloom_cogroup"):
            patch(eng, attr, _spanned(tracer, "bloom.update", getattr(eng, attr)))
        # the round's own bookkeeping counts (next-frontier size, seen
        # total for the checkpoint row) are actions run directly by
        # run_round, outside every layer above
        df_cls = type(SparkSession.getActiveSession().range(1))
        count = df_cls.count

        def counted(self):
            if tracer.at_root():
                with tracer.span("rounds.counts"):
                    return count(self)
            return count(self)

        patch(df_cls, "count", counted)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


# -- Spark event log ------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Jobs, tasks, shuffle bytes and final (post-AQE) SQL plans from a
    finished application's event log, keyed by job description."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: list[dict] = []
        files = [os.path.join(d, fn) for d, _, fns in os.walk(log_dir) for fn in fns]
        if not files:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        for path in sorted(files):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        props = ev.get("Properties") or {}
                        self.jobs[jid] = {
                            "desc": props.get("spark.job.description"),
                            "tasks": 0,
                            "failed_tasks": 0,
                            "shuffle_bytes": 0,
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append(ev)
                    elif kind == _SQL_START:
                        self.sql[ev["executionId"]] = {
                            "desc": ev.get("description"),
                            "plan": ev.get("sparkPlanInfo"),
                        }
                    elif kind == _SQL_AQE and ev["executionId"] in self.sql:
                        self.sql[ev["executionId"]]["plan"] = ev.get("sparkPlanInfo")
        for ev in tasks:
            job = self.jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            job["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                job["failed_tasks"] += 1
            sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
            job["shuffle_bytes"] += int(sw.get("Shuffle Bytes Written", 0))

    def job_totals(self, match) -> dict[str, int]:
        sel = [j for j in self.jobs.values() if j["desc"] and match(j["desc"])]
        return {
            "jobs": len(sel),
            "tasks": sum(j["tasks"] for j in sel),
            "failed_tasks": sum(j["failed_tasks"] for j in sel),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in sel),
        }

    def plan_census(self, label: str) -> dict[str, int]:
        """Operator counts over the final plans of every SQL execution
        run under job description ``label``."""
        out = {"exchanges": 0, "broadcasts": 0, "python_nodes": 0}
        for ex in self.sql.values():
            if ex["desc"] != label or not ex["plan"]:
                continue
            todo = [ex["plan"]]
            while todo:
                node = todo.pop()
                name = node.get("nodeName", "")
                if name == "Exchange":
                    out["exchanges"] += 1
                elif name == "BroadcastExchange":
                    out["broadcasts"] += 1
                elif name in PYTHON_NODES:
                    out["python_nodes"] += 1
                todo.extend(node.get("children", []))
        return out


def median(xs):
    return statistics.median(xs) if xs else 0.0
