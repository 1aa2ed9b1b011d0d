"""Crawl-round orchestration: bootstrap, atomic commit, exact resume
(SURVEY §2.A A11/A12/B13; reference: save_checkpoint/load_checkpoint at
src/main.py:94-128 and the every-5-threads cadence at :215-216).

Each round is one deterministic batch job. Its outputs (seen/results/
lineage/fetch_failures appends; frontier/bloom replaces; checkpoint row)
become visible in a single atomic catalog commit, so a kill at ANY
point leaves the previous round's state intact and a restart resumes
exactly (test: tests/test_resume.py).

Commit ordering note (SURVEY §7.4 item 2): bloom shards are committed
in the same manifest as `seen`, and the bloom is derived FROM the
committed seen rows — a crash can therefore never produce a bloom
that claims URLs the seen table lacks (no false "maybe seen" without
an anti-join backstop, and false negatives are impossible because the
blobs are rebuilt from the very hashes being committed).
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from voz_spark import bloom as B
from voz_spark import schemas, synth
from voz_spark.config import DEFAULT, CrawlConfig
from voz_spark.frontier import run_round_pipeline
from voz_spark.seen_index import BucketedSeenIndex
from voz_spark.tables import SnapshotCatalog


def img_space_for(n_images: int) -> int:
    """~5% of link-graph image indexes miss the table (failure path)."""
    return int(n_images * 1.05) + 1


def generate_images(spark: SparkSession, path: str, n_images: int) -> None:
    """Materialize the images input table (BASELINE.json input_hint
    shape) with REAL encoded bytes, distributed via mapInPandas."""

    def gen(batches):
        for pdf in batches:
            rows = [synth.image_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    (
        spark.range(n_images)
        .repartition(max(2, min(64, n_images // 256 + 1)))
        .mapInPandas(gen, schemas.IMAGES)
        .write.mode("overwrite")
        .parquet(path)
    )


class CrawlEngine:
    """Drives crawl rounds over a SnapshotCatalog at `workdir`."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        n_seeds: int = 30,
        n_images: int = 2000,
        thread_limit: int | None = None,
        include_sticky: bool = False,
        cfg: CrawlConfig = DEFAULT,
    ):
        self.spark = spark
        self.cfg = cfg
        self.n_seeds = n_seeds
        self.n_images = n_images
        self.img_space = img_space_for(n_images)
        self.thread_limit = thread_limit
        self.include_sticky = include_sticky
        self.cat = SnapshotCatalog(workdir)
        self.images_path = f"{workdir}/images_input"
        # derived bucketed index of seen for a shuffle-free exact
        # anti-join (cfg.seen_store; see voz_spark/seen_index.py)
        self.seen_idx = (
            BucketedSeenIndex(spark, workdir, cfg.seen_buckets)
            if cfg.seen_store == "bucketed"
            else None
        )
        self.robots = synth.robots_rules()
        self.budgets = {
            r["host"]: r["max_fetches_per_round"]
            for r in synth.host_budgets(cfg.default_host_budget, cfg.round_window_ms)
        }

    # -- state ----------------------------------------------------------------

    def _read(self, table: str, schema) -> DataFrame:
        return self.cat.read(self.spark, table, schema)

    def last_round(self) -> int:
        return int(self.cat.manifest()["meta"].get("round_id", 0))

    def seen(self) -> DataFrame:
        return self._read("seen", schemas.SEEN)

    def results(self) -> DataFrame:
        return self._read("results", schemas.RESULTS)

    def frontier(self) -> DataFrame:
        return self._read("frontier", schemas.FRONTIER)

    def lineage(self) -> DataFrame:
        return self._read("lineage", schemas.LINEAGE)

    def checkpoints(self) -> DataFrame:
        return self._read("checkpoints", schemas.CHECKPOINTS)

    def fetch_failures(self) -> DataFrame:
        return self._read("fetch_failures", schemas.FETCH_FAILURES)

    def schedule_order(self) -> list[tuple]:
        """The committed crawl order: the invariant the ordering test
        pins against the sequential simulator (SURVEY §4.3)."""
        return [
            (r.round_id, r.canon_url)
            for r in self.results()
            .where(F.col("status") != "robots")  # blocked URLs are never fetched
            .select("round_id", "seed_rank", "page_no", "post_no", "canon_url")
            .orderBy("round_id", "seed_rank", "page_no", "post_no", "canon_url")
            .collect()
        ]

    # -- bootstrap ---------------------------------------------------------------

    def bootstrap(self) -> None:
        """Round 0: seeds → initial frontier (A1: thread_limit is a real
        LIMIT; B7: sticky filter — reference src/box_crawler.py:64-87)."""
        if self.cat.latest_version() > 0:
            return
        import os

        if not os.path.exists(self.images_path):
            generate_images(self.spark, self.images_path, self.n_images)
        seeds = self.spark.createDataFrame(
            pd.DataFrame(synth.seed_rows(self.n_seeds)), schemas.SEEDS
        )
        if not self.include_sticky:
            seeds = seeds.where(~F.col("is_sticky"))
        seeds = seeds.orderBy("seed_rank")
        if self.thread_limit is not None:
            seeds = seeds.limit(self.thread_limit)
        frontier = seeds.select(
            F.col("url"),
            F.lit(None).cast("string").alias("base_url"),
            "seed_rank",
            F.lit(0).alias("page_no"),
            F.lit(0).alias("post_no"),
            F.lit(0).alias("attempt"),
        )
        files = {"frontier": self.cat.write_files(frontier, "frontier")}
        self.cat.commit(replaces=files, meta={"round_id": 0, **self._bloom_params_meta()})

    # -- bloom state ---------------------------------------------------------------

    def _bloom_params_meta(self) -> dict:
        """Bloom layout parameters persisted with every commit — stored
        blobs are only meaningful under the (n_shards, nbits, k) they
        were built with; resuming under different cfg values would
        route pmod(hash, n_shards) against blobs built with another
        shard count and silently re-crawl seen URLs."""
        cfg = self.cfg
        return {
            "bloom_n_shards": cfg.n_bloom_shards,
            "bloom_bits_per_shard": cfg.bloom_bits_per_shard,
            "bloom_k": cfg.bloom_k,
        }

    def _validated_bloom_table(self) -> DataFrame:
        """The committed bloom state, REBUILT from `seen` if the stored
        layout parameters disagree with (or predate) the current
        config. The rebuild is the distributed cogroup path over the
        authoritative seen table — never an interpretation of stored
        blobs under mismatched shard routing."""
        man = self.cat.manifest()
        bloom_table = self._read("seen_bloom", schemas.SEEN_BLOOM)
        if not man["tables"].get("seen_bloom") and not man["tables"].get("seen"):
            return bloom_table  # empty state: nothing to validate
        meta = man["meta"]
        stored = (
            meta.get("bloom_n_shards"),
            meta.get("bloom_bits_per_shard"),
            meta.get("bloom_k"),
        )
        cfg = self.cfg
        current = (cfg.n_bloom_shards, cfg.bloom_bits_per_shard, cfg.bloom_k)
        # seen without bloom state (a catalog written by an engine
        # version with another seen filter) is rebuilt too: the
        # lit(False) fast path would skip the anti-join backstop
        if stored == current and man["tables"].get("seen_bloom"):
            return bloom_table
        empty = self.spark.createDataFrame([], schemas.SEEN_BLOOM)
        return self._updated_bloom_cogroup(self.seen().select("url_hash"), empty)

    def _bloom_blobs_from(self, bloom_df: DataFrame) -> dict[int, bytes]:
        rows = bloom_df.collect()
        return {int(r.shard_id): bytes(r.bits) for r in rows}

    def _updated_bloom(self, new_seen: DataFrame, old_blobs: dict[int, bytes]) -> DataFrame:
        """Distributed incremental shard rebuild: only shards receiving
        new hashes are rewritten (applyInPandas per shard); untouched
        shards keep their existing rows."""
        cfg = self.cfg
        nbits, k, n_shards = cfg.bloom_bits_per_shard, cfg.bloom_k, cfg.n_bloom_shards
        bc = self.spark.sparkContext.broadcast(old_blobs)

        def update(pdf: pd.DataFrame) -> pd.DataFrame:
            sid = int(pdf["shard_id"].iloc[0])
            old = bc.value.get(sid)
            bits = (
                np.frombuffer(old, dtype=np.uint8).copy()
                if old is not None
                else B.empty_shard(nbits)
            )
            B.add_hashes(bits, pdf["url_hash"].to_numpy().astype(np.uint64), nbits, k)
            return pd.DataFrame(
                [{"shard_id": sid, "nbits": nbits, "k": k, "bits": bits.tobytes()}]
            )

        touched = (
            new_seen.select(
                F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int").alias("shard_id"),
                "url_hash",
            )
            .groupBy("shard_id")
            .applyInPandas(update, schemas.SEEN_BLOOM)
        )
        # derive touched ids from the CHEAP hash projection, not from the
        # applyInPandas plan — collecting `touched` here would run the
        # whole shard-rebuild pass twice (once now, once at write time)
        touched_ids = {
            int(r.shard_id)
            for r in new_seen.select(
                F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int").alias("shard_id")
            )
            .distinct()
            .collect()
        }
        old_rows = [
            {"shard_id": sid, "nbits": nbits, "k": k, "bits": blob}
            for sid, blob in old_blobs.items()
            if sid not in touched_ids
        ]
        if old_rows:
            keep = self.spark.createDataFrame(pd.DataFrame(old_rows), schemas.SEEN_BLOOM)
            return touched.unionByName(keep)
        return touched

    def _updated_bloom_cogroup(self, new_seen: DataFrame, bloom_df: DataFrame) -> DataFrame:
        """Incremental shard rebuild with NO driver collect and NO
        broadcast — the 10^10 path (state is ~64 GiB there; neither
        `_bloom_blobs()` nor a broadcast is possible). New hashes and
        existing blob rows cogroup per shard; Spark's cogroup has
        full-outer semantics, so shards that received no new hashes
        appear as blob-only groups and pass through unchanged, and
        brand-new shards appear as hash-only groups and build from
        empty. Bit-equivalence with the broadcast path is pinned in
        tests/test_bloom.py."""
        cfg = self.cfg
        nbits, k, n_shards = cfg.bloom_bits_per_shard, cfg.bloom_k, cfg.n_bloom_shards

        def update(hashes_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(hashes_pdf) == 0:
                return blob_pdf[["shard_id", "nbits", "k", "bits"]]
            sid = int(hashes_pdf["shard_id"].iloc[0])
            bits = (
                np.frombuffer(blob_pdf["bits"].iloc[0], dtype=np.uint8).copy()
                if len(blob_pdf)
                else B.empty_shard(nbits)
            )
            B.add_hashes(bits, hashes_pdf["url_hash"].to_numpy().astype(np.uint64), nbits, k)
            return pd.DataFrame(
                [{"shard_id": sid, "nbits": nbits, "k": k, "bits": bits.tobytes()}]
            )

        new = new_seen.select(
            F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int").alias("shard_id"),
            "url_hash",
        )
        return (
            new.groupBy("shard_id")
            .cogroup(bloom_df.groupBy("shard_id"))
            .applyInPandas(update, schemas.SEEN_BLOOM)
        )

    def _bloom_state_is_broadcastable(self) -> bool:
        """Static criterion (no collect needed): full-capacity state
        size vs the broadcast ceiling."""
        cfg = self.cfg
        return cfg.n_bloom_shards * cfg.bloom_bits_per_shard // 8 <= cfg.bloom_broadcast_max_bytes

    # -- the round -------------------------------------------------------------------

    def run_round(self) -> dict:
        round_id = self.last_round() + 1
        frontier = self.frontier()
        seen = self.seen()
        images = self.spark.read.schema(schemas.IMAGES).parquet(self.images_path)
        tables = self.cat.manifest()["tables"]
        has_bloom_state = bool(tables.get("seen_bloom")) or bool(tables.get("seen"))
        bloom_table = self._validated_bloom_table()
        broadcastable = self._bloom_state_is_broadcastable()
        blobs = (
            self._bloom_blobs_from(bloom_table)
            if (broadcastable and has_bloom_state)
            else {}
        )
        # empty state (round 1 of every crawl) takes the free
        # lit(False) membership path — never a cogroup shuffle
        # against an empty bloom table
        bloom_table = bloom_table if has_bloom_state else None
        # the exact-anti-join side of seen: the bucketed index (no
        # seen-side exchange) when configured, else the catalog files
        seen_for_anti = self.seen_idx.sync(self.cat) if self.seen_idx else seen
        rr = run_round_pipeline(
            self.spark,
            frontier,
            seen_for_anti,
            blobs,
            images,
            self.robots,
            self.budgets,
            self.cfg,
            round_id,
            self.img_space,
            bloom_df=bloom_table,
        )
        bloom_df = (
            self._updated_bloom(rr.new_seen_df, blobs)
            if broadcastable
            else self._updated_bloom_cogroup(rr.new_seen_df, bloom_table
                                             if bloom_table is not None
                                             else self._read("seen_bloom", schemas.SEEN_BLOOM))
        )
        # A12: permanent failures only — retried URLs went back into
        # rr.next_frontier_df with attempt+1 (the union-back lives in
        # run_round_pipeline so the simulator semantics stay in one place)
        failures = rr.permanent_failures_df

        n_next = rr.next_frontier_df.count()
        n_seen_total = seen.count() + rr.new_seen_df.count()
        checkpoint = self.spark.createDataFrame(
            [
                (
                    round_id,
                    _dt.datetime.now(_dt.timezone.utc).isoformat(),
                    n_next,
                    n_seen_total,
                )
            ],
            schemas.CHECKPOINTS,
        )

        appends = {
            "seen": self.cat.write_files(rr.new_seen_df, "seen"),
            "results": self.cat.write_files(rr.results_df, "results"),
            "lineage": self.cat.write_files(rr.lineage_df, "lineage"),
            "checkpoints": self.cat.write_files(checkpoint, "checkpoints"),
        }
        fail_files = self.cat.write_files(failures, "fetch_failures")
        if fail_files:
            appends["fetch_failures"] = fail_files
        replaces = {
            "frontier": self.cat.write_files(rr.next_frontier_df, "frontier"),
            "seen_bloom": self.cat.write_files(bloom_df, "seen_bloom"),
        }
        self.cat.commit(
            appends=appends,
            replaces=replaces,
            meta={"round_id": round_id, **self._bloom_params_meta()},
        )
        rr.unpersist()
        return {
            "round_id": round_id,
            "n_candidates": rr.n_candidates,
            "n_new": rr.n_new,
            "n_robots_blocked": rr.n_robots_blocked,
            "n_scheduled": rr.n_scheduled,
            "n_fetched_ok": rr.n_fetched_ok,
            "n_failed": rr.n_failed,
            "n_next_frontier": n_next,
        }

    def reopen(self, urls: DataFrame) -> dict:
        """Make already-crawled URLs crawlable again (recrawl of a
        stale host, cache expiry, deletion requests): remove them from
        `seen`, rebuild the seen filter without them, and re-enter
        them into the frontier with their ORIGINAL priority fields so
        the next round fetches them in the right order.

        Reference analogue: deleting a thread's cache file makes the
        thread crawlable again on the next run
        (src/thread_crawler.py:46-59).

        A bloom filter cannot unset bits, so the filter is rebuilt
        from the remaining seen rows (the distributed cogroup build).

        ``urls``: a DataFrame with a ``canon_url`` column. Returns the
        number of URLs actually reopened.
        """
        from pyspark.sql.window import Window

        urls = urls.select("canon_url").distinct().persist()
        seen = self.seen()
        n_removed = seen.join(urls, "canon_url", "left_semi").count()
        remaining = seen.join(urls, "canon_url", "left_anti")
        # original priority fields from the results log (first crawl wins)
        w = Window.partitionBy("canon_url").orderBy(
            "round_id", "seed_rank", "page_no", "post_no"
        )
        refetch = (
            self.results()
            .join(urls, "canon_url", "left_semi")
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select(
                F.col("canon_url").alias("url"),
                F.lit(None).cast("string").alias("base_url"),
                "seed_rank",
                "page_no",
                "post_no",
                F.lit(0).alias("attempt"),
            )
        )
        next_frontier = self.frontier().unionByName(refetch)
        empty = self.spark.createDataFrame([], schemas.SEEN_BLOOM)
        bloom_df = self._updated_bloom_cogroup(remaining.select("url_hash"), empty)
        self.cat.commit(
            replaces={
                "seen": self.cat.write_files(remaining, "seen"),
                "frontier": self.cat.write_files(next_frontier, "frontier"),
                "seen_bloom": self.cat.write_files(bloom_df, "seen_bloom"),
            },
            meta={"round_id": self.last_round(), **self._bloom_params_meta()},
        )
        urls.unpersist()
        return {"n_reopened": n_removed}

    def run(self, max_rounds: int | None = None, verbose: bool = False) -> list[dict]:
        self.bootstrap()
        stats = []
        r = 0
        while max_rounds is None or r < max_rounds:
            if self.frontier().limit(1).count() == 0:
                break
            st = self.run_round()
            stats.append(st)
            if verbose:
                print(st)
            r += 1
        return stats
