"""One crawl round as a declarative DataFrame pipeline (the core graft).

Reference semantics being reproduced (see SURVEY §3.1): the sequential
thread walker of src/main.py:175-278 + src/thread_crawler.py:74-187 +
src/image_processor.py:44-142, generalized to a distributed frontier:

    frontier ──canonicalize+hash──▶ in-batch dedup ──bloom prefilter──▶
    exact anti-join vs seen ──robots filter──▶ salted per-host priority
    scheduling ──▶ fetch (expand pages / join+decode images) ──▶
    atomic commit (seen, results, lineage, frontier', bloom', checkpoint)

Scale design (10^10 frontier, 1000 executors):
- every shuffle is on an explicit key: canon_url for dedup/anti-join,
  (host, salt) then host for scheduling, image_id for the fetch join;
- the dominant host cannot hot-spot the scheduling window because the
  first window partitions on (host, salt) — the per-host exact top-k
  window only ever sees ≤ budget×n_salts pre-filtered rows per host
  (SURVEY §2.B B5);
- bloom membership skips the anti-join shuffle for definitely-new
  URLs (the overwhelming majority in an expanding crawl);
- the exact anti-join joins on (url_hash, canon_url), so a 64-bit
  hash collision can never drop a URL;
- Python runs only inside Arrow-batched pandas UDFs / mapInPandas
  (canonicalization, bloom bit tests, image decode) — zero per-row
  Python UDFs, zero RDD usage (BASELINE.json input_hint).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from voz_spark import bloom as B
from voz_spark import schemas, synth
from voz_spark.canon import canonicalize_one
from voz_spark.codec import decode_image, psnr
from voz_spark.config import ATTEMPT_BITS, CrawlConfig

PRIORITY = ["seed_rank", "page_no", "post_no", "canon_url"]

# Failure statuses that re-enter the frontier with attempt+1 (B8); the
# reference retries EVERY failed download up to MAX_RETRIES, including
# hard 404s (src/image_processor.py:56,138-142). "gated" is not a
# failure (deterministic size skip) and "robots" is never retried.
RETRYABLE_STATUSES = ("fetch_error", "missing", "decode_error", "psnr_fail", "caption_mismatch")


@dataclass
class RoundResult:
    round_id: int
    n_candidates: int
    n_deduped: int
    n_new: int
    n_robots_blocked: int
    n_scheduled: int
    n_fetched_ok: int
    n_failed: int
    n_next_frontier: int
    scheduled_df: DataFrame | None = None
    results_df: DataFrame | None = None
    new_seen_df: DataFrame | None = None
    next_frontier_df: DataFrame | None = None
    lineage_df: DataFrame | None = None
    permanent_failures_df: DataFrame | None = None
    persisted: list[DataFrame] = field(default_factory=list)

    def unpersist(self):
        for df in self.persisted:
            df.unpersist()


# Fast-path detector: URLs this shape are PROVABLY fixed points of
# canonicalize_one (lowercase host, rooted single-slash path, no
# fragment/port/escapes) — the overwhelming majority of a steady-state
# frontier, since pending rows re-enter already canonical. Everything
# else takes the exact Python path. Property-tested in
# tests/test_codec_canon.py::test_canon_fast_path_is_fixed_point.
_CANON_FASTPATH_TAIL = r"^[a-z0-9][a-z0-9.-]*/[A-Za-z0-9._~/&=+,%-]*(\?[A-Za-z0-9._~/&=+,%-]*)?$"


def _canonicalize(frontier: DataFrame) -> DataFrame:
    """B1/B2: canonicalization (JVM fast path + vectorized Python slow
    path) + JVM-side 64-bit keying.

    Single-pass design: the source is evaluated ONCE. The pandas UDF is
    in the plan unconditionally (Spark extracts Python UDFs into their
    own projection anyway), but its *inputs* are null-gated with
    CASE WHEN, so fast-path rows cross Arrow as nulls and cost the
    Python side one `is None` check. The previous split-union design
    evaluated the whole source twice (once per branch) — at 10^10 with
    a storage-backed frontier that is two full scans.

    Emits the packed priority `_pri` (seed_rank«28 | page_no«14 |
    post_no) + `attempt` instead of four ints: one primitive-long
    min-comparator in the dedup aggregate and the scheduling sorts,
    and ~25% less shuffle per row. Bounds — seed_rank < 2^31,
    page_no/post_no < 2^14 — are enforced by real asserts in the
    generators (synth.seed_rows / synth.expand_children): an
    out-of-range value would silently carry into the neighboring
    packed field, so the generators fail loudly instead.
    """

    @pandas_udf("string")
    def canon_udf(urls: pd.Series, bases: pd.Series) -> pd.Series:
        return pd.Series(
            [
                "" if u is None else canonicalize_one(u, b if b else None)
                for u, b in zip(urls, bases)
            ],
            dtype="object",
        )

    tail = F.substring("url", 9, 2_000_000)
    fast = (
        F.col("base_url").isNull()
        & F.col("url").startswith("https://")
        & tail.rlike(_CANON_FASTPATH_TAIL)
        & ~tail.contains("//")
    )
    with_flag = frontier.withColumn("_fast", fast)
    canon = F.when(F.col("_fast"), F.col("url")).otherwise(
        canon_udf(
            F.when(~F.col("_fast"), F.col("url")),
            F.when(~F.col("_fast"), F.col("base_url")),
        )
    )
    return with_flag.select(
        canon.alias("canon_url"),
        (
            (F.col("seed_rank").cast("long") * F.lit(1 << 28))
            + (F.col("page_no").cast("long") * F.lit(1 << 14))
            + F.col("post_no")
        ).alias("_pri"),
        "attempt",
    ).withColumn("url_hash", F.xxhash64("canon_url"))


def _host_expr() -> F.Column:
    """`host` from a canonical URL as pure string arithmetic (locate +
    substr — no parse_url: its per-row URI regex parsing was the
    single largest CPU item in the profiled round). Valid for
    canonical URLs, which always carry scheme:// and a rooted path.
    Canonical hosts are already lowercase; :port is stripped for
    host-keyed scheduling/robots (non-default ports survive
    canonicalization)."""
    host = F.expr(
        "substr(canon_url, locate('://', canon_url) + 3,"
        " locate('/', canon_url, locate('://', canon_url) + 3)"
        " - locate('://', canon_url) - 3)"
    )
    return F.substring_index(host, ":", 1)


def _host_path(df: DataFrame) -> DataFrame:
    """Add `host` and `path` columns (see _host_expr). Runs AFTER
    in-batch dedup so the work is per-distinct-URL, not per-candidate."""
    path_start = F.expr("locate('/', canon_url, locate('://', canon_url) + 3)")
    host = _host_expr()
    path = F.when(path_start == 0, F.lit("/")).otherwise(
        F.expr("substr(canon_url, locate('/', canon_url, locate('://', canon_url) + 3))")
    )
    return df.withColumn("host", host).withColumn("path", path)


# attempt packs into the low ATTEMPT_BITS of the dedup key, so the
# attempt domain is hard-capped at 2^ATTEMPT_BITS; cfg.max_retries
# bounds attempt (retry re-entry stops at max_retries-1) and
# CrawlConfig.__post_init__ enforces max_retries <= 2^ATTEMPT_BITS.
_ATTEMPT_BITS = ATTEMPT_BITS


def _dedup_in_batch(df: DataFrame) -> DataFrame:
    """Keep the best-priority occurrence of each canonical URL in this
    round's candidate batch (duplicates across pages are common —
    FIXTURES.md §3).

    TRUE hash aggregate with a packed-long min, NOT a row_number
    window and NOT min(struct(...)): the struct version is
    lexicographically identical but Spark cannot hash-aggregate a
    struct buffer, so it silently plans a SortAggregate — two full
    sorts of the frontier (map side before the exchange, reduce side
    after), the single largest CPU item in the round-3 stage profile.
    Packing (_pri, attempt) into one long — min(_pri·2^4 + attempt),
    identical ordering for the non-negative bounded fields — keeps the
    aggregate a primitive-buffer HashAggregate: map-side combine
    collapses duplicates before the shuffle with zero sorts. The pack
    exists only across this aggregate; it is unpacked in the same
    select, so sort orders elsewhere (which use (_pri, canon_url),
    never attempt) are untouched."""
    packed = (F.col("_pri") * F.lit(1 << _ATTEMPT_BITS)) + F.col("attempt")
    return (
        df.groupBy("url_hash", "canon_url")
        .agg(F.min(packed).alias("_pk"))
        .select(
            "url_hash",
            "canon_url",
            F.expr(f"_pk div {1 << _ATTEMPT_BITS}").alias("_pri"),
            F.expr(f"CAST(_pk % {1 << _ATTEMPT_BITS} AS INT)").alias("attempt"),
        )
    )


def _bloom_split_cogroup(
    df: DataFrame,
    bloom_df: DataFrame,
    cfg: CrawlConfig,
) -> DataFrame:
    """B3a at the 10^10 design point: shard-ALIGNED membership with no
    broadcast of the bloom state. Candidates shuffle once on
    pmod(url_hash, n_shards); each cogroup task sees exactly one shard's
    candidates plus that shard's blob row (config comment in
    config.py: 2^27 bits x 4096 shards ≈ 64 GiB total — far beyond any
    broadcast). Bit tests are the same numpy kernel as the broadcast
    path; equivalence is pinned by tests/test_bloom.py."""
    n_shards = cfg.n_bloom_shards
    cand = df.withColumn("_shard", F.pmod("url_hash", F.lit(n_shards)).cast("int"))
    out_schema = StructType(
        list(df.schema.fields) + [StructField("maybe_seen", BooleanType(), False)]
    )
    in_cols = [f.name for f in df.schema.fields]

    def test_shard(cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf[in_cols].copy()
        if len(blob_pdf) == 0:
            out["maybe_seen"] = False
            return out
        bits = np.frombuffer(blob_pdf["bits"].iloc[0], dtype=np.uint8)
        h = cand_pdf["url_hash"].to_numpy().astype(np.uint64)
        out["maybe_seen"] = B.maybe_contains(
            bits, h, int(blob_pdf["nbits"].iloc[0]), int(blob_pdf["k"].iloc[0])
        )
        return out

    return (
        cand.groupBy("_shard")
        .cogroup(bloom_df.groupBy("shard_id"))
        .applyInPandas(test_shard, out_schema)
    )


def _bloom_split(
    spark: SparkSession,
    df: DataFrame,
    shard_blobs: dict[int, bytes],
    cfg: CrawlConfig,
    bloom_df: DataFrame | None = None,
) -> DataFrame:
    """B3a: add `maybe_seen`. False → definitely unseen (skips the
    anti-join). Two physical strategies, same semantics:

    - small state (sandbox / early crawl): shard blobs broadcast once,
      membership tested in a scalar pandas UDF — no extra shuffle;
    - state beyond cfg.bloom_broadcast_max_bytes (the 10^10 path):
      shard-aligned cogroup against the bloom table, no broadcast
      (`_bloom_split_cogroup`). Callers can also force it by passing
      `bloom_df` with shard_blobs=None.
    """
    if bloom_df is not None and (
        not shard_blobs
        or sum(len(b) for b in shard_blobs.values()) > cfg.bloom_broadcast_max_bytes
    ):
        return _bloom_split_cogroup(df, bloom_df, cfg)
    if not shard_blobs:
        return df.withColumn("maybe_seen", F.lit(False))
    bc = spark.sparkContext.broadcast(shard_blobs)
    nbits, k, n_shards = cfg.bloom_bits_per_shard, cfg.bloom_k, cfg.n_bloom_shards

    @pandas_udf("boolean")
    def bloom_udf(hashes: pd.Series) -> pd.Series:
        h = hashes.to_numpy().astype(np.uint64)
        shards = B.shard_of(h, n_shards)
        out = np.zeros(len(h), dtype=bool)
        blobs = bc.value
        for sid in np.unique(shards):
            blob = blobs.get(int(sid))
            if blob is None:
                continue
            mask = shards == sid
            bits = np.frombuffer(blob, dtype=np.uint8)
            out[mask] = B.maybe_contains(bits, h[mask], nbits, k)
        return pd.Series(out)

    return df.withColumn("maybe_seen", bloom_udf("url_hash"))


def _dedup_against_seen(df: DataFrame, seen: DataFrame) -> DataFrame:
    """B3b: exact left-anti join for bloom 'maybe seen' survivors.
    Joining on (url_hash, canon_url) makes hash collisions harmless.

    SHUFFLE_HASH hint on the seen side: the default SortMergeJoin
    sorts BOTH sides (maybe-rows and the seen slice) just to anti-join
    on an md5-uniform key — two full sorts the hash join skips
    (round-3 stage profile: the SMJ stage's task CPU inflated 2.4x at
    4x cores, sorts being pure memory traffic). Per-task build memory
    is seen/shuffle_partitions — bounded by sizing partitions to the
    seen table (the 10^10 design point runs seen_store="bucketed"
    anyway, where the seen side has NO exchange and this join reads
    the bucket layout in place)."""
    maybe = df.where(F.col("maybe_seen"))
    fresh = df.where(~F.col("maybe_seen"))
    anti = maybe.join(
        seen.select("url_hash", "canon_url").hint("SHUFFLE_HASH"),
        ["url_hash", "canon_url"],
        "left_anti",
    )
    return fresh.unionByName(anti).drop("maybe_seen")


def _robots_flag(df: DataFrame, rules: list[dict]) -> DataFrame:
    """B9: robots compliance (new capability per north_rule). The rule
    set compiles to a pure Catalyst boolean (JVM-side, codegen'd — no
    Python crossing) over the precomputed `path` column; with millions
    of per-host rules this becomes a broadcast join on host + prefix
    filter instead."""
    disallowed = [(r["host"], r["path_prefix"]) for r in rules if not r["allowed"]]
    path = F.col("path")
    blocked = F.lit(False)
    for rh, prefix in disallowed:
        blocked = blocked | ((F.col("host") == rh) & path.startswith(prefix))
    return df.withColumn("robots_blocked", blocked)


def _robots_flag_table(df: DataFrame, robots_df: DataFrame) -> DataFrame:
    """B9 at scale: robots rules as a TABLE instead of a compiled
    boolean — required when the rule set is millions of (host, prefix)
    rows (one robots.txt per crawled host at 10^10). Disallow rules are
    pre-aggregated to one array row per host, joined 1:1 on host (no
    row multiplication; AQE picks broadcast vs shuffle join by size),
    and the prefix test is a JVM-side `exists` over the array.
    Equivalence with the compiled-boolean path is pinned in
    tests/test_frontier_order.py."""
    rules_by_host = (
        robots_df.where(~F.col("allowed"))
        .groupBy("host")
        .agg(F.collect_list("path_prefix").alias("_prefixes"))
    )
    joined = df.join(rules_by_host, "host", "left")
    blocked = F.when(
        F.col("_prefixes").isNull(), F.lit(False)
    ).otherwise(F.exists("_prefixes", lambda p: F.col("path").startswith(p)))
    return joined.withColumn("robots_blocked", blocked).drop("_prefixes")


def _unpack_pri(df: DataFrame) -> DataFrame:
    """Restore (seed_rank, page_no, post_no) from the packed `_pri`
    long (bit-exact inverse of the pack in _canonicalize)."""
    return (
        df.withColumn("seed_rank", F.shiftright("_pri", 28).cast("int"))
        .withColumn("page_no", (F.shiftright("_pri", 14).bitwiseAND(F.lit(16383))).cast("int"))
        .withColumn("post_no", (F.col("_pri").bitwiseAND(F.lit(16383))).cast("int"))
    )


def _schedule(
    df: DataFrame,
    budgets: dict[str, int],
    default_budget: int,
    n_salts: int,
    persisted: list[DataFrame] | None = None,
    do_persist: bool = True,
) -> DataFrame:
    """B4/B5/B6: salted per-host priority scheduling.

    Stage 1 window partitions by (host_id, salt) and keeps the
    per-salt top-`budget` — bounds any one partition even when one
    host owns 90% of the frontier. Stage 2 keeps the exact per-host
    top-`budget` of the ≤ budget×n_salts survivors. The kept set
    equals the sequential reference's "next budget URLs in
    seed/page/post order" (src/main.py:207,
    src/thread_crawler.py:161-172).

    Byte discipline through the scheduling exchanges + stage-1 cache
    (round-4): `url_hash` (8B/row) is shed before the window exchange
    and re-derived post-schedule as xxhash64(canon_url) — its exact
    definition (_canonicalize) — and `salt` narrows to int (4B,
    domain ≤ n_salts). Measured at 16M URLs / local[24]: +5-10%
    throughput at both parallelism levels.

    Rejected alternative, measured not guessed: dictionary-encoding
    `host` to an int via a broadcast dim (distinct-hosts job +
    row_number ids + dim join before the window, restore after) sheds
    ~20 more bytes/row but its two broadcast barriers and the extra
    distinct job cost ~10-15% of 4N throughput (A/B at 16M URLs,
    local[24]: 1.51M vs 1.72M URLs/s in the same session) — serial
    setup hurts the short 4N wall far more than the byte diet helps
    while the shuffle codec (zstd) already compresses the highly
    repetitive host strings. host stays a string through the window
    exchange. (A host-dim variant would take a persisted host-superset
    parameter here; it was removed with the rejected variant.)
    """
    budget_map = F.create_map(
        *[x for h, b in sorted(budgets.items()) for x in (F.lit(h), F.lit(b))]
    )
    out_cols = [c for c in df.columns] + ["scheduled"]
    df = (
        df.drop("url_hash")
        .withColumn(
            "budget", F.coalesce(budget_map[F.col("host")], F.lit(default_budget))
        )
        .withColumn(
            "salt", F.pmod(F.xxhash64("canon_url"), F.lit(n_salts)).cast("int")
        )
    )
    # `_pri` (the packed priority long from _canonicalize) is already on
    # the rows: one comparator word instead of three in the window
    # sorts, with canon_url as the total-order tie-break

    # Exact distributed top-B per host via the threshold algorithm:
    #   phase A: per-(host,salt) rank; keep per-salt top-⌈B/S⌉
    #            (balanced small sorts — no group ever exceeds ~B/S)
    #   phase B: per-host sort of the ≤B+S phase-A rows; the B-th row's
    #            priority is a threshold t — the true global B-th best
    #            is ≤ t, so {rows ≤ t} ⊇ the exact top-B
    #   phase C: parallel filter of all rows against broadcast t
    #   phase D: one bounded sort (≈B rows in expectation; ≤ full host
    #            only under adversarial salt/priority correlation,
    #            impossible for salt = pmod(xxhash64)) → exact top-B.
    # Stage-D work is O(B log B) REGARDLESS of frontier size — the
    # property that lets one dominant host not serialize the round.
    w1 = Window.partitionBy("host", "salt").orderBy("_pri", "canon_url")
    stage1 = df.withColumn("_r1", F.row_number().over(w1))
    if do_persist:
        stage1 = stage1.persist()
        if persisted is not None:
            persisted.append(stage1)

    per_salt = F.ceil(F.col("budget") / F.lit(n_salts)).cast("int")
    wh = Window.partitionBy("host").orderBy("_pri", "canon_url")
    phase_a = stage1.where(F.col("_r1") <= per_salt)
    thr = (
        phase_a.withColumn("_ra", F.row_number().over(wh))
        .where(F.col("_ra") == F.col("budget"))
        .select(F.col("host").alias("_th"), F.col("_pri").alias("_tpri"), F.col("canon_url").alias("_tcanon"))
    )
    joined = stage1.join(F.broadcast(thr), stage1.host == F.col("_th"), "left")
    below_thr = F.col("_tpri").isNull() | (
        (F.col("_pri") < F.col("_tpri"))
        | ((F.col("_pri") == F.col("_tpri")) & (F.col("canon_url") <= F.col("_tcanon")))
    )
    cand = joined.where(below_thr)
    above = joined.where(~below_thr).withColumn("scheduled", F.lit(False))
    final = cand.withColumn("_r2", F.row_number().over(wh)).withColumn(
        "scheduled", F.col("_r2") <= F.col("budget")
    ).drop("_r2")
    keep = [c for c in out_cols if c not in ("url_hash", "salt", "budget")]
    out = final.select(*keep).unionByName(above.select(*keep))
    # restore the shed url_hash IN-ROW by its definition — no join, no
    # broadcast barrier
    out = out.withColumn("url_hash", F.xxhash64("canon_url")).select(*out_cols)
    return _unpack_pri(out).drop("_pri")


_CHILD_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("base_url", StringType(), True),
        StructField("seed_rank", IntegerType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("post_no", IntegerType(), False),
        StructField("attempt", IntegerType(), False),
        StructField("parent_canon", StringType(), False),
    ]
)


def _expand_pages(pages: DataFrame, img_space: int) -> DataFrame:
    """A2/A3: frontier expansion for thread/page URLs. The synthetic
    link graph replaces live HTML parsing (FIXTURES.md §3); the Spark
    shape — mapInPandas producing child rows — is exactly what a real
    HTML-parsing expansion uses."""

    def expand(batches):
        for pdf in batches:
            out = {c.name: [] for c in _CHILD_SCHEMA.fields}
            for canon, rank in zip(pdf["canon_url"], pdf["seed_rank"]):
                for child, page_no, post_no in synth.expand_children(canon, img_space):
                    out["url"].append(child)
                    out["base_url"].append(canon)
                    out["seed_rank"].append(rank)
                    out["page_no"].append(page_no)
                    out["post_no"].append(post_no)
                    out["attempt"].append(0)
                    out["parent_canon"].append(canon)
            yield pd.DataFrame(out)

    return pages.select("canon_url", "seed_rank").mapInPandas(expand, _CHILD_SCHEMA)


_VALIDATE_SCHEMA = StructType(
    [
        StructField("canon_url", StringType(), False),
        StructField("image_id", StringType(), True),
        StructField("status", StringType(), False),
        StructField("psnr_db", DoubleType(), True),
        StructField("caption_ok", BooleanType(), True),
    ]
)


def _validate_images(joined: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """A5/B12: per-image decode + validation inside one Arrow batch
    loop (reference: PIL decode + size gate at src/image_processor.py:
    84-99). Checks, in order: min-size gate → real decode → decoded-
    pixel allclose (lossless) / PSNR ≥ 40 dB (lossy) → exact caption
    equality vs the deterministic expectation (input_hint invariant).
    """
    min_dim, psnr_min = cfg.min_image_dim, cfg.psnr_min_db

    def validate(batches):
        for pdf in batches:
            n = len(pdf)
            status = np.empty(n, dtype=object)
            psnr_db = np.empty(n, dtype=object)
            caption_ok = np.empty(n, dtype=object)
            for i in range(n):
                data, fmt = pdf["bytes"].iat[i], pdf["fmt"].iat[i]
                w, h = pdf["w"].iat[i], pdf["h"].iat[i]
                img_id, caption = pdf["image_id"].iat[i], pdf["caption"].iat[i]
                psnr_db[i] = None
                caption_ok[i] = None
                # kind classification labels every non-thread/page URL
                # "image", so a URL without the 10-digit id yields
                # img_id == "img" — a malformed row, never a crashed job
                try:
                    idx = int(img_id[3:])
                except (TypeError, ValueError):
                    status[i] = "bad_url"
                    continue
                if data is None:
                    status[i] = "missing"
                    continue
                if w < min_dim or h < min_dim:
                    status[i] = "gated"
                    continue
                try:
                    decoded = decode_image(bytes(data), fmt)
                except Exception:
                    status[i] = "decode_error"
                    continue
                expected = synth.image_pixels(idx)
                p = psnr(expected, decoded)
                psnr_db[i] = float(p)
                if fmt == "png":
                    ok_px = np.array_equal(expected, decoded)
                else:
                    ok_px = p >= psnr_min
                if not ok_px:
                    status[i] = "psnr_fail"
                    continue
                cap_ok = caption == synth.image_caption(idx)
                caption_ok[i] = bool(cap_ok)
                status[i] = "ok" if cap_ok else "caption_mismatch"
            yield pd.DataFrame(
                {
                    "canon_url": pdf["canon_url"],
                    "image_id": pdf["image_id"],
                    "status": status,
                    "psnr_db": psnr_db,
                    "caption_ok": caption_ok,
                }
            )

    return joined.mapInPandas(validate, _VALIDATE_SCHEMA)


def dedup_and_schedule(
    spark: SparkSession,
    frontier: DataFrame,
    seen: DataFrame,
    shard_blobs: dict[int, bytes],
    robots_rules: list[dict],
    budgets: dict[str, int],
    cfg: CrawlConfig,
    persisted: list[DataFrame],
    bloom_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The round's front half: canonicalize → in-batch dedup → bloom
    prefilter → exact anti-join vs `seen` → robots flag → salted
    per-host schedule. Shared by run_round_pipeline and the frontier
    benchmarks (bench_frontier.py), so the benchmark times this code.

    Returns ``(new, sched_all)``: `new` holds every never-seen
    candidate with its `robots_blocked` flag; `sched_all` holds the
    robots-allowed ones with the `scheduled` flag. Both are persisted;
    every cached frame is appended to `persisted`. The stages are
    called through this module's globals, so tracing can wrap them."""
    cand = _host_path(_dedup_in_batch(_canonicalize(frontier)))
    # persist before the membership fork: both the definitely-new branch
    # and the anti-join branch read this, and without a persist each
    # branch would re-run the canonicalization + dedup + membership UDF
    cand = _bloom_split(spark, cand, shard_blobs, cfg, bloom_df=bloom_df).persist()
    persisted.append(cand)
    new = _robots_flag(_dedup_against_seen(cand, seen), robots_rules).persist()
    persisted.append(new)
    # `path` and the spent robots flag have no consumer past this
    # point — dropping them here keeps ~25% of the string bytes out of
    # the scheduling window exchange and the stage-1 cache
    allowed = new.where(~F.col("robots_blocked")).drop("robots_blocked", "path")
    sched_all = _schedule(allowed, budgets, cfg.default_host_budget, cfg.n_salts, persisted)
    sched_all = sched_all.persist()
    persisted.append(sched_all)
    return new, sched_all


def run_round_pipeline(
    spark: SparkSession,
    frontier: DataFrame,
    seen: DataFrame,
    shard_blobs: dict[int, bytes],
    images: DataFrame,
    robots_rules: list[dict],
    budgets: dict[str, int],
    cfg: CrawlConfig,
    round_id: int,
    img_space: int,
    bloom_df: DataFrame | None = None,
) -> RoundResult:
    """Execute one crawl round; returns the new state DataFrames
    (nothing committed here — rounds.CrawlEngine.run_round commits
    them atomically)."""
    persisted: list[DataFrame] = []
    new, sched_all = dedup_and_schedule(
        spark, frontier, seen, shard_blobs, robots_rules, budgets, cfg, persisted, bloom_df
    )
    n_candidates = frontier.count()
    n_deduped = n_new = new.count()
    blocked = _unpack_pri(new.where(F.col("robots_blocked")))
    scheduled = sched_all.where(F.col("scheduled"))
    pending = sched_all.where(~F.col("scheduled"))

    # classify scheduled URLs
    scheduled = scheduled.withColumn(
        "kind",
        F.when(F.col("canon_url").rlike(r"^https://voz\.test/t/[^/]+\.\d+/$"), "thread")
        .when(F.col("canon_url").rlike(r"^https://voz\.test/t/[^/]+\.\d+/page-\d+$"), "page")
        .otherwise("image"),
    ).persist()
    persisted.append(scheduled)

    # fetch: pages/threads expand into children
    pages = scheduled.where(F.col("kind") != "image")
    children = _expand_pages(pages, img_space).persist()
    persisted.append(children)
    child_counts = children.groupBy("parent_canon").agg(F.count(F.lit(1)).alias("n_children"))
    page_results = (
        pages.join(child_counts, pages.canon_url == child_counts.parent_canon, "left")
        .select(
            F.lit(round_id).alias("round_id"),
            "canon_url",
            "host",
            "seed_rank",
            "page_no",
            "post_no",
            "kind",
            F.lit(None).cast("string").alias("image_id"),
            F.lit("ok").alias("status"),
            F.lit(None).cast("double").alias("psnr_db"),
            F.lit(None).cast("boolean").alias("caption_ok"),
            F.coalesce("n_children", F.lit(0)).cast("int").alias("n_children"),
        )
    )

    # fetch: images resolve against the images table (A4/A5 — the Iceberg
    # fetch-join; the sandbox has no network, exactly like the reference's
    # 403-blocked image fetches, so the table IS the fetch source)
    sched_imgs = scheduled.where(F.col("kind") == "image").withColumn(
        "image_id",
        F.concat(F.lit("img"), F.regexp_extract("canon_url", r"(\d{10})\.(?:png|vqz)$", 1)),
    )
    joined = sched_imgs.join(
        images.withColumnRenamed("image_id", "img_image_id"),
        sched_imgs.image_id == F.col("img_image_id"),
        "left",
    )
    validated = _validate_images(
        joined.select("canon_url", "image_id", "bytes", "fmt", "w", "h", "caption"), cfg
    )
    # B8: transient-failure injection (deterministic 'network flake',
    # same integer predicate as synth.is_transient_fail, evaluated
    # JVM-side) — a flaked fetch never reaches decode, so its
    # psnr/caption fields are nulled.
    transient = (F.col("attempt") == 0) & (
        F.pmod(
            F.regexp_extract("image_id", r"(\d+)$", 1).cast("long") * F.lit(1_000_003)
            + F.lit(17),
            F.lit(20),
        )
        == 0
    )
    image_eval = (
        sched_imgs.select(
            "canon_url", "host", "seed_rank", "page_no", "post_no", "kind",
            "url_hash", "attempt",
        )
        .join(validated, "canon_url")
        .withColumn("_transient", transient)
        .withColumn(
            "status", F.when(F.col("_transient"), F.lit("fetch_error")).otherwise(F.col("status"))
        )
        .withColumn(
            "psnr_db", F.when(F.col("_transient"), F.lit(None).cast("double")).otherwise(F.col("psnr_db"))
        )
        .withColumn(
            "caption_ok", F.when(F.col("_transient"), F.lit(None).cast("boolean")).otherwise(F.col("caption_ok"))
        )
        .persist()
    )
    persisted.append(image_eval)
    image_results = image_eval.select(
        F.lit(round_id).alias("round_id"),
        "canon_url",
        "host",
        "seed_rank",
        "page_no",
        "post_no",
        "kind",
        "image_id",
        "status",
        "psnr_db",
        "caption_ok",
        F.lit(0).alias("n_children"),
    )

    # A12/B8: the retry loop. Failed fetches re-enter the next round's
    # frontier with attempt+1 (reference src/main.py:271-276,323-325 —
    # failed_threads.json IS the next work list — and the image retry
    # loop at src/image_processor.py:56,138-142). Only when attempt+1
    # reaches cfg.max_retries does the URL become a permanent failure
    # (fetch_failures sink) and enter the seen set.
    failed = image_eval.where(F.col("status").isin(list(RETRYABLE_STATUSES)))
    will_retry = failed.where(F.col("attempt") + 1 < cfg.max_retries)
    permanent = failed.where(F.col("attempt") + 1 >= cfg.max_retries)
    retry_frontier = will_retry.select(
        F.col("canon_url").alias("url"),
        F.lit(None).cast("string").alias("base_url"),
        "seed_rank",
        "page_no",
        "post_no",
        (F.col("attempt") + 1).alias("attempt"),
    )
    permanent_failures = permanent.select(
        F.lit(round_id).alias("round_id"),
        "canon_url",
        "status",
        (F.col("attempt") + 1).alias("attempt"),
    )

    robots_results = blocked.select(
        F.lit(round_id).alias("round_id"),
        "canon_url",
        "host",
        "seed_rank",
        "page_no",
        "post_no",
        F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("image_id"),
        F.lit("robots").alias("status"),
        F.lit(None).cast("double").alias("psnr_db"),
        F.lit(None).cast("boolean").alias("caption_ok"),
        F.lit(0).alias("n_children"),
    )

    results = page_results.unionByName(image_results).unionByName(robots_results).persist()
    persisted.append(results)

    # seen: everything scheduled this round + robots-blocked (negative
    # cache — reference caches errors too, src/image_processor.py:127-136)
    # EXCEPT URLs that will be retried: those must pass the next
    # round's bloom + anti-join, so they only enter seen on success or
    # permanent failure.
    new_seen = (
        scheduled.select("url_hash", "canon_url")
        .join(
            will_retry.select("url_hash", "canon_url"),
            ["url_hash", "canon_url"],
            "left_anti",
        )
        .unionByName(blocked.select("url_hash", "canon_url"))
        .withColumn("first_round", F.lit(round_id))
    )

    next_frontier = (
        pending.select(
            F.col("canon_url").alias("url"),
            F.lit(None).cast("string").alias("base_url"),
            "seed_rank",
            "page_no",
            "post_no",
            "attempt",
        )
        .unionByName(children.select("url", "base_url", "seed_rank", "page_no", "post_no", "attempt"))
        .unionByName(retry_frontier)
    )

    # lineage (B13): funnel counters per host + per-partition rows from
    # each stage's OWN aggregation (every counter column is filled by
    # the stage that produced it; per-partition rows sum to the funnel
    # totals — pinned in tests/test_frontier_order.py)
    n_robots_blocked = blocked.count()
    n_scheduled = scheduled.count()
    n_fetched_ok = results.where(F.col("status") == "ok").count()
    n_failed = results.where(~F.col("status").isin("ok", "gated")).count()

    _zeros = {
        c: F.lit(0).cast("long").alias(c)
        for c in (
            "n_candidates",
            "n_bloom_new",
            "n_deduped",
            "n_robots_blocked",
            "n_scheduled",
            "n_fetched",
            "n_failed",
        )
    }

    def _stage_rows(df: DataFrame, counters, host_col: bool = True) -> DataFrame:
        """Per-(partition, host) rows with the given counter columns
        aggregated from `df` and the rest zero. `counters` maps
        lineage column → aggregate expression."""
        key = [F.spark_partition_id().alias("partition_id")] + (
            [F.col("host")] if host_col else [F.lit(None).cast("string").alias("host")]
        )
        agg = df.groupBy(*key).agg(
            *[expr.cast("long").alias(name) for name, expr in counters.items()]
        )
        cols = [F.lit(round_id).alias("round_id"), "partition_id", "host"] + [
            F.col(c) if c in counters else _zeros[c] for c in _zeros
        ]
        return agg.select(*cols)

    per_part = (
        _stage_rows(frontier, {"n_candidates": F.count(F.lit(1))}, host_col=False)
        .unionByName(
            _stage_rows(
                new,
                {"n_bloom_new": F.count(F.lit(1)), "n_deduped": F.count(F.lit(1))},
            )
        )
        .unionByName(_stage_rows(blocked, {"n_robots_blocked": F.count(F.lit(1))}))
        .unionByName(_stage_rows(scheduled, {"n_scheduled": F.count(F.lit(1))}))
        .unionByName(
            _stage_rows(
                results,
                {
                    "n_fetched": F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)),
                    "n_failed": F.sum(
                        F.when(~F.col("status").isin("ok", "gated"), 1).otherwise(0)
                    ),
                },
            )
        )
    )
    funnel = spark.createDataFrame(
        [
            (
                round_id,
                -1,
                None,
                n_candidates,
                n_new,
                n_deduped,
                n_robots_blocked,
                n_scheduled,
                n_fetched_ok,
                n_failed,
            )
        ],
        schemas.LINEAGE,
    )
    lineage = per_part.unionByName(funnel)

    return RoundResult(
        round_id=round_id,
        n_candidates=n_candidates,
        n_deduped=n_deduped,
        n_new=n_new,
        n_robots_blocked=n_robots_blocked,
        n_scheduled=n_scheduled,
        n_fetched_ok=n_fetched_ok,
        n_failed=n_failed,
        n_next_frontier=0,  # filled by commit
        scheduled_df=scheduled,
        results_df=results,
        new_seen_df=new_seen,
        next_frontier_df=next_frontier,
        lineage_df=lineage,
        permanent_failures_df=permanent_failures,
        persisted=persisted,
    )
