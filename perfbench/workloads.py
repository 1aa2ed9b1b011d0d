"""The three closed-loop workloads: one driver process, operations run
one after another, no concurrent clients.

Each workload builds its state in set-up (counted in ``setup_s``),
repeats its timed operation, checks every operation's output outside
the timed window, and in a traced run repeats the operation
``TRACED_OPS`` more times under ``tracing.instrumented`` for the
per-layer numbers.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import tracing
from tracing import DIAG, Tracer, median

# Sizes per workload. "full" is what the benchmark measures; "toy" is
# the self-test's size (sf0.001, ~50k URLs, 2 crawl rounds). heap_mb is
# the driver heap the workload's working set needs, fixed (-Xms) so the
# JVM's peak RSS is heap plus native memory rather than however far GC
# timing let the heap grow (the queries workload swung 1.8-2.8 GB under
# a 4 GiB ceiling). 2 GiB holds the crawl and the queries; frontier_batch
# keeps the 4 GiB its 400k-candidate round was first measured with.
SIZES = {
    "full": {
        "frontier_batch": {"n_urls": 400_000, "min_rounds": 3, "heap_mb": 4096},
        "crawl_rounds": {"n_seeds": 30, "n_images": 1000, "min_rounds": 1, "heap_mb": 2048},
        "queries": {"sf": 0.01, "min_passes": 1, "heap_mb": 2048},
    },
    "toy": {
        "frontier_batch": {"n_urls": 50_000, "min_rounds": 2, "heap_mb": 2048},
        "crawl_rounds": {"n_seeds": 6, "n_images": 200, "min_rounds": 1, "heap_mb": 2048},
        "queries": {"sf": 0.001, "min_passes": 1, "heap_mb": 2048},
    },
}
# traced operations per traced run. One keeps a traced run near the
# length of an untraced one; the census repeat is checked across runs of
# one seed (compare.census_mismatches).
TRACED_OPS = 1
# repetitions of the read-back queries whose median is a crawl
# workload's query_s_total. Single sub-second queries jitter by 10-20%
# within a run, so the median takes many reps; a rep costs about 0.3 s.
READBACK_REPS = 15

Q41 = "q41_voz_thread_analysis"
HEADLINE = [
    "q01_pricing_summary",
    "q03_orders_by_nation",
    "q09_brand_cooccurrence",
    "q13_sessionize_events",
    "q21_doc_quality",
    "q25_lsh_candidate_pairs",
    "q27_simhash",
    "q29_embedding_topk",
]
QUERIES = HEADLINE + [Q41]
QUERY_TABLES = {
    "q01_pricing_summary": ("lineitem",),
    "q03_orders_by_nation": ("orders", "customer", "nation"),
    "q09_brand_cooccurrence": ("lineitem", "part"),
    "q13_sessionize_events": ("events",),
    "q21_doc_quality": ("documents",),
    "q25_lsh_candidate_pairs": ("documents",),
    "q27_simhash": ("documents",),
    "q29_embedding_topk": ("embeddings",),
}
# q41 builds its posts from the fixed synthetic forum, so its result
# does not depend on the seed: this digest pins it across runs.
Q41_DIGEST = "198057ce7a14ff0d"


class Run:
    """State shared by one benchmark invocation."""

    def __init__(self, spark, workload, seed, seconds, trace, size, work, corrupt, t_start):
        self.spark = spark
        self.t_start = t_start
        self.setup_s = None
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = SIZES[size][workload]
        self.work = work
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = Tracer(spark.sparkContext) if trace else None
        self.metrics: dict[str, float] = {}
        self.samples: dict[str, list] = {}
        self.census: list[dict] = []

    def op(self, what: str, fn):
        """Run one checked operation. ``fn`` returns a list of problems
        (empty when its output is correct); raising counts as a failure."""
        self.attempted += 1
        try:
            problems = fn()
        except Exception:  # a failed operation is a result, not a crash
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.failures.append(f"{what}: {problems[0]}")
            print(f"perfbench: FAILED {what}: {problems[0]}", file=sys.stderr)
        return not problems

    def setup_done(self) -> None:
        """Set-up ends here: session start, state build and warm-up."""
        self.setup_s = time.perf_counter() - self.t_start

    def timed_loop(self, min_ops: int, body) -> None:
        """Closed loop: ``body(i)`` one after another until ``seconds``
        have passed and at least ``min_ops`` have run."""
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < min_ops or time.perf_counter() < t_end:
            body(i)
            i += 1

    def sample(self, key: str, value) -> None:
        self.samples.setdefault(key, []).append(value)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- frontier_batch -------------------------------------------------------


def frontier_batch(run: Run) -> None:
    """One large scheduling round through the engine's own
    ``run_round_pipeline``: candidates in the ``bench_frontier._url_expr``
    shape (~25% in-batch duplicates, ~70% on one host), half the
    distinct URLs already in ``seen``, bloom state built in set-up."""
    from pyspark.sql import functions as F
    from voz_spark import frontier, schemas, synth
    from voz_spark.bench_frontier import _url_expr
    from voz_spark.config import DEFAULT
    from voz_spark.rounds import CrawlEngine

    spark, work = run.spark, run.work
    n_urls = run.size["n_urls"]
    distinct = int(n_urls * 0.75)
    parts = 2 * spark.sparkContext.defaultParallelism
    pri = F.pmod(F.xxhash64("id", F.lit(run.seed + 1)), F.lit(1 << 30))
    (
        spark.range(n_urls, numPartitions=parts)
        .select(F.pmod(F.xxhash64("id", F.lit(run.seed)), F.lit(distinct)).alias("uid"), pri.alias("p"))
        .select(
            _url_expr().alias("url"),
            F.lit(None).cast("string").alias("base_url"),
            (F.col("p") % 1000).cast("int").alias("seed_rank"),
            (F.col("p") / 1000 % 11).cast("int").alias("page_no"),
            (F.col("p") / 11000 % 3).cast("int").alias("post_no"),
            F.lit(0).alias("attempt"),
        )
        .write.parquet(os.path.join(work, "frontier"))
    )
    (
        spark.range(distinct // 2, numPartitions=parts)
        .select(F.col("id").alias("uid"))
        .select(_url_expr().alias("canon_url"))
        .select(F.xxhash64("canon_url").alias("url_hash"), "canon_url", F.lit(0).alias("first_round"))
        .write.parquet(os.path.join(work, "seen"))
    )
    cands = spark.read.schema(schemas.FRONTIER).parquet(os.path.join(work, "frontier"))
    seen = spark.read.schema(schemas.SEEN).parquet(os.path.join(work, "seen"))

    # the engine's own budgets and its distributed bloom build path
    eng = CrawlEngine(spark, os.path.join(work, "engine"))
    empty_bloom = spark.createDataFrame([], schemas.SEEN_BLOOM)
    blobs = eng._bloom_blobs_from(eng._updated_bloom_cogroup(seen.select("url_hash"), empty_bloom))
    images = spark.createDataFrame([], schemas.IMAGES)
    rules = synth.robots_rules()

    def recount() -> int:
        """JVM-only recount of a round's n_new: distinct candidate URLs
        (the generator emits canonical URLs) left-anti `seen`, no
        prefilter."""
        return (
            cands.select("url").distinct()
            .join(seen.select(F.col("canon_url").alias("url")), "url", "left_anti")
            .count()
        )

    expected_new = recount()

    def round_once():
        return frontier.run_round_pipeline(
            spark, cands, seen, blobs, images, rules, eng.budgets, DEFAULT, 1, eng.img_space
        )

    def materialize(rr):
        for df in (rr.scheduled_df, rr.results_df, rr.new_seen_df, rr.next_frontier_df,
                   rr.lineage_df, rr.permanent_failures_df):
            _noop(df)

    def check(rr) -> list[str]:
        problems = []
        if rr.n_candidates != n_urls:
            problems.append(f"n_candidates={rr.n_candidates} != {n_urls}")
        if rr.n_new != expected_new:
            problems.append(f"n_new={rr.n_new} != JVM recount {expected_new}")
        sched = rr.scheduled_df.select("url_hash", "canon_url", "host").collect()
        per_host: dict[str, int] = {}
        for r in sched:
            per_host[r.host] = per_host.get(r.host, 0) + 1
        if not sched:
            problems.append("nothing scheduled")
        for h, k in per_host.items():
            cap = eng.budgets.get(h, DEFAULT.default_host_budget)
            if k > cap:
                problems.append(f"host {h} scheduled {k} > budget {cap}")
        rows = [(r.url_hash, r.canon_url) for r in sched]
        if run.corrupt:
            first = seen.select("url_hash", "canon_url").first()
            rows.append((first.url_hash, first.canon_url))
        hit = (
            spark.createDataFrame(rows, "url_hash long, canon_url string")
            .join(seen, ["url_hash", "canon_url"], "left_semi")
            .count()
        )
        if hit:
            problems.append(f"{hit} scheduled URLs already in seen")
        return problems

    def one_round(timed: bool):
        def body():
            t0 = time.perf_counter()
            rr = round_once()
            materialize(rr)
            if timed:
                run.sample("round_s", time.perf_counter() - t0)
            problems = check(rr)
            rr.unpersist()
            return problems

        return body

    run.op("frontier_batch cold round", one_round(False))
    run.setup_done()
    run.timed_loop(run.size["min_rounds"], lambda i: run.op(f"frontier_batch round {i}", one_round(True)))

    def readback():
        t0 = time.perf_counter()
        n = recount()
        run.sample("readback.recount_s", time.perf_counter() - t0)
        return [] if n == expected_new else [f"recount {n} != {expected_new}"]

    for i in range(READBACK_REPS):
        run.op(f"recount {i}", readback)
    round_s = median(run.samples["round_s"])
    run.metrics.update({
        "round_s": round_s,
        "urls_per_s": n_urls / round_s,
        "query_s_total": median(run.samples["readback.recount_s"]),
    })

    if not run.trace:
        return
    tr = run.tracer
    with tracing.instrumented(tr):
        for i in range(TRACED_OPS):
            def body(i=i):
                with tr.span(f"fb.t{i}") as root:
                    with tr.span("frontier.pipeline"):
                        rr = round_once()
                    with tr.span("frontier.materialize"):
                        materialize(rr)
                    with tr.span(DIAG):
                        _fetch_counts(root, rr.results_df)
                run.sample("traced_s", tr.dur(root))
                problems = check(rr)
                rr.unpersist()
                return problems

            run.op(f"frontier_batch traced round {i}", body)


def _fetch_counts(rec: dict, results) -> None:
    from pyspark.sql import functions as F

    img = results.where((F.col("kind") == "image") & (F.col("status") != "robots"))
    rec["counts"]["fetch_validated"] = img.count()
    rec["counts"]["fetch_ok"] = img.where(F.col("status") == "ok").count()


# -- crawl_rounds ---------------------------------------------------------


def crawl_rounds(run: Run) -> None:
    """A fresh CrawlEngine catalog run round by round with real
    fetch-join, decode/PSNR validation, filter update and atomic commit.
    After the set-up round the engine object is discarded and reopened
    on the same workdir (resume), and the rounds after it are timed. The
    seed picks the size of the images table (which images exist, so
    which fetches fail and retry) within a narrow band; the seed list is
    fixed, so every seed crawls about the same number of candidates per
    round."""
    from pyspark.sql import functions as F
    from voz_spark.oracle_sim import simulate
    from voz_spark.rounds import CrawlEngine

    spark = run.spark
    n_seeds = run.size["n_seeds"]
    n_images = run.size["n_images"] + (run.seed % 8) * (run.size["n_images"] // 16)
    wd = os.path.join(run.work, "crawl")

    def engine():
        return CrawlEngine(spark, wd, n_seeds=n_seeds, n_images=n_images)

    sims: dict[int, object] = {}

    def sim(r: int):
        """The reference simulator's state after ``r`` rounds."""
        if r not in sims:
            sims[r] = simulate(n_seeds=n_seeds, n_images=n_images, max_rounds=r)
        return sims[r]

    state = {"eng": engine()}

    def check(r: int) -> list[str]:
        """Round r's committed crawl order and its new seen rows against
        the sequential reference simulator."""
        eng = state["eng"]
        got = [x for x in eng.schedule_order() if x[0] == r]
        got_seen = {
            x.canon_url
            for x in eng.seen().where(F.col("first_round") == r).select("canon_url").collect()
        }
        if run.corrupt:
            got = got[:-1]
        problems = []
        want = [x for x in sim(r).schedule if x[0] == r]
        if got != want:
            problems.append(f"round {r} order differs from oracle_sim ({len(got)} vs {len(want)} URLs)")
        want_seen = sim(r).seen - sim(r - 1).seen
        if got_seen != want_seen:
            problems.append(f"round {r} seen differs from oracle_sim ({len(got_seen)} vs {len(want_seen)})")
        return problems

    def one_round(timed: bool):
        def body():
            t0 = time.perf_counter()
            st = state["eng"].run_round()
            if timed:
                run.sample("round_s", time.perf_counter() - t0)
                run.sample("candidates", st["n_candidates"])
            return check(st["round_id"])

        return body

    state["eng"].bootstrap()
    run.op("crawl round 1 (set-up)", one_round(False))
    run.setup_done()

    # discard the engine and resume from the catalog, as
    # jobs/crawl_rounds.py does, then time the rounds that follow
    state["eng"] = engine()
    run.timed_loop(run.size["min_rounds"], lambda i: run.op(f"crawl round {2 + i}", one_round(True)))

    def readback():
        """The whole crawl, across the resume: committed order and seen
        set against the simulator."""
        eng = state["eng"]
        k = eng.last_round()
        t0 = time.perf_counter()
        order = eng.schedule_order()
        run.sample("readback.order_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        seen_set = {x.canon_url for x in eng.seen().select("canon_url").collect()}
        run.sample("readback.seen_s", time.perf_counter() - t0)
        problems = []
        if order != sim(k).schedule:
            problems.append(f"schedule_order differs from oracle_sim after {k} rounds")
        if seen_set != sim(k).seen:
            problems.append(f"seen set differs from oracle_sim after {k} rounds")
        return problems

    for i in range(READBACK_REPS):
        run.op(f"crawl readback {i}", readback)
    walls = run.samples["round_s"]
    run.metrics.update({
        "round_s": median(walls),
        "urls_per_s": sum(run.samples["candidates"]) / sum(walls),
        "query_s_total": median(run.samples["readback.order_s"]) + median(run.samples["readback.seen_s"]),
    })

    if not run.trace:
        return
    tr = run.tracer
    with tracing.instrumented(tr):
        for i in range(TRACED_OPS):
            def body(i=i):
                with tr.span(f"cr.t{i}") as root:
                    st = state["eng"].run_round()
                    with tr.span(DIAG):
                        res = state["eng"].results().where(F.col("round_id") == st["round_id"])
                        _fetch_counts(root, res)
                run.sample("traced_s", tr.dur(root))
                return check(st["round_id"])

            run.op(f"crawl traced round {i}", body)


# -- queries --------------------------------------------------------------


def _digest(rows) -> str:
    return hashlib.sha256("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()[:16]


def _observed(df):
    """``df`` with an Observation of its row count and an order-free
    digest (sum of 31-bit row hashes), gathered by whichever action runs
    it: the parity collect or a timed noop write, which it leaves a
    single execution."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    h = F.pmod(F.xxhash64(*df.columns), F.lit(1 << 31))
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(h).alias("digest")), obs


def _observed_noop(df):
    df, obs = _observed(df)
    _noop(df)
    return obs


@contextmanager
def _forum_recorded(made: list):
    """Collect into ``made`` the DataFrames that q41's own generator calls
    return while it is built, so its input rows are counted, not assumed."""
    from voz_spark import synth_posts

    orig = synth_posts.gen_posts_df, synth_posts.gen_threads_df

    def recorded(fn):
        def wrapper(*args, **kwargs):
            made.append(fn(*args, **kwargs))
            return made[-1]

        return wrapper

    synth_posts.gen_posts_df, synth_posts.gen_threads_df = map(recorded, orig)
    try:
        yield
    finally:
        synth_posts.gen_posts_df, synth_posts.gen_threads_df = orig


def queries(run: Run) -> None:
    """The eight bench.py headline queries plus q41 on seeded tables in
    the test-data shape, each written to the noop sink. The parity pass
    checks every result against its oracle and records its row count and
    digest; every later pass must reproduce both."""
    import querydata
    from pyspark.sql import functions as F
    from voz_spark.oracle_compare import compare
    from voz_spark.registry import REGISTRY, all_queries, release_caches

    spark = run.spark
    sf_dir = os.path.join(run.work, "sf")
    rows = querydata.write(sf_dir, run.size["sf"], run.seed)
    qs = all_queries()
    forum: list = []
    bad: set[str] = set()
    ref: dict[str, dict] = {}

    def one_pass(tag: str, tracer: Tracer | None):
        walls = {}
        for name in QUERIES:
            def body(name=name):
                t0 = time.perf_counter()
                if tracer is None:
                    obs = _observed_noop(qs[name](spark, sf_dir))
                else:
                    with tracer.span(name):
                        obs = _observed_noop(qs[name](spark, sf_dir))
                walls[name] = time.perf_counter() - t0
                got = obs.get
                release_caches(spark)
                if name in bad:
                    return [f"{name} failed its parity check"]
                if got != ref[name]:
                    return [f"{name} output {got} != parity pass {ref[name]}"]
                return []

            run.op(f"{tag} {name}", body)
        return walls

    # parity pass (also the cold pass): every oracled query against its
    # DuckDB oracle, q41 against its pinned digest
    for name in QUERIES:
        def parity(name=name):
            with _forum_recorded(forum) if name == Q41 else nullcontext():
                df = qs[name](spark, sf_dir)
            oracle = REGISTRY[name].oracle
            if run.corrupt and name == QUERIES[0]:
                df = df.where(F.col(df.columns[0]) != df.first()[0])
            df, obs = _observed(df)
            if oracle is None:
                d = _digest(df.collect())
                ok, msg = d == Q41_DIGEST, f"digest {d} != pinned {Q41_DIGEST}"
            else:
                ok, msg = compare(df, oracle, sf_dir)
            ref[name] = obs.get
            release_caches(spark)
            return [] if ok else [msg]

        if not run.op(f"parity {name}", parity):
            bad.add(name)
    input_rows = sum(rows[t] for q in HEADLINE for t in QUERY_TABLES[q])
    input_rows += sum(df.count() for df in forum)
    run.setup_done()

    # the parity pass warms the collect path, not the noop path, so the
    # first timed pass runs 12-15% slower than the rest: the same in
    # every run, so it biases round_s without widening its spread
    def timed(i):
        walls = one_pass(f"pass {i}", None)
        run.sample("round_s", sum(walls.values()))
        for name, w in walls.items():
            run.sample(f"{name}.s", w)

    run.timed_loop(run.size["min_passes"], timed)
    round_s = median(run.samples["round_s"])
    run.metrics.update({
        "round_s": round_s,
        "urls_per_s": input_rows / round_s,
        "query_s_total": sum(median(run.samples.get(f"{n}.s", [])) for n in QUERIES),
    })

    if not run.trace:
        return
    tr = run.tracer
    for i in range(TRACED_OPS):
        with tr.span(f"q.t{i}") as root:
            one_pass(f"traced pass {i}", tr)
        run.sample("traced_s", tr.dur(root))


RUNNERS = {"frontier_batch": frontier_batch, "crawl_rounds": crawl_rounds, "queries": queries}
