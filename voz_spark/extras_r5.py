"""Round-5 operator wave: training-data curation operators the task
brief names as first-class for a 100 TB corpus pipeline — benchmark
decontamination, tokenizer vocabulary sizing, leakage-safe dataset
splitting, a rare-token junk gate, RAG chunk manifests, the
source-similarity matrix behind corpus-mixture design,
association-rule mining, and greedy max-coverage selection.

Exactness discipline as extras_r4 (SURVEY.md §5.2): integer
arithmetic end-to-end, md5-derived hash folds, identical aliases both
engines, a unique tie-break under every top-k, GREATEST guards on
data-dependent denominators.

The reference has no evaluation hygiene at all (it trains nothing);
these extend its corpus toward the LLM-pipeline usage the brief
describes, the way q224 (BPE) and q225 (DSIR) did in earlier rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from voz_spark.registry import register
from voz_spark.session import load_table as T

# ---------------------------------------------------------------------------
# q261: benchmark decontamination — the GPT-3-style n-gram overlap
# check every serious pretraining run performs: any training document
# sharing an n-gram with a held-out benchmark document is flagged so
# eval numbers aren't inflated by memorization. The benchmark set here
# is the deterministic doc_id % 97 == 0 slice; the n-gram is the word
# trigram (the corpus' ~30-word synthetic vocabulary makes 3 the width
# where overlap is informative — real deployments use 8-13-gram
# windows, same plan shape).
#
# Scale shape: the benchmark side is TINY by construction (an eval set
# is thousands of docs, not billions), so its distinct trigram table
# broadcasts; the 100 TB train side is one scan + in-row distinct
# shingling + a broadcast LEFT SEMI join — no shuffle of the train
# corpus at all, then a per-source count. The naive alternative (join
# train x train shingles) never appears.
# ---------------------------------------------------------------------------


@register(
    "q261_benchmark_decontamination",
    oracle="""
WITH tok AS (
  SELECT doc_id, source, doc_id % 97 = 0 AS is_eval,
         string_split(text, ' ') AS tk
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id, source, is_eval,
         UNNEST(list_transform(range(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
           AS g
  FROM tok WHERE len(tk) >= 3
),
eval_tri AS (SELECT DISTINCT g FROM tri WHERE is_eval),
contam AS (
  SELECT DISTINCT t.source, t.doc_id
  FROM tri t JOIN eval_tri USING (g)
  WHERE NOT t.is_eval
),
train AS (
  SELECT source, COUNT(*) AS n_train_docs
  FROM documents WHERE doc_id % 97 <> 0 GROUP BY source
)
SELECT train.source,
       CAST(n_train_docs AS BIGINT) AS n_train_docs,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_contaminated,
       CAST(1000 * COALESCE(c.n, 0) // GREATEST(n_train_docs, 1) AS BIGINT)
         AS contam_milli
FROM train
LEFT JOIN (SELECT source, COUNT(*) AS n FROM contam GROUP BY source) c
  USING (source)
ORDER BY source
""",
)
def q261_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram overlap between the train slice and the held-out
    doc_id%97 benchmark slice: per-source contaminated-doc counts via
    a broadcast semi-join on the benchmark's distinct trigrams."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("tk")
    )
    tri = d.where(F.size("tk") >= 3).select(
        "doc_id",
        "source",
        (F.col("doc_id") % 97 == 0).alias("is_eval"),
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(tk) - 2),"
                    " i -> concat_ws(' ', tk[i - 1], tk[i], tk[i + 1]))"
                )
            )
        ).alias("g"),
    )
    eval_tri = tri.where("is_eval").select("g").distinct()
    contam = (
        tri.where(~F.col("is_eval"))
        .join(F.broadcast(eval_tri), "g", "left_semi")
        .select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    train = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 97 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_train_docs"))
    )
    return (
        train.join(contam, "source", "left")
        .select(
            "source",
            F.col("n_train_docs").cast("long").alias("n_train_docs"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_contaminated"),
            F.expr("1000 * COALESCE(n, 0) div GREATEST(n_train_docs, 1)")
            .cast("long")
            .alias("contam_milli"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q262: tokenizer vocabulary coverage curve — "how big must the vocab
# be before OOV is negligible?" is the first sizing decision of any
# tokenizer; the answer is the cumulative frequency of the top-V token
# types at candidate sizes V. Complements q224 (BPE merges) with the
# sizing analysis that precedes training it.
#
# Scale shape: one scan + one (token)-keyed count (partial-combined),
# then orderBy(cnt).limit(MAX_V) — Spark's distributed TakeOrdered,
# NOT a global sort: only the top-256 rows ever reach one machine, so
# the curve costs the same at 10^10 docs. The running sum then runs
# over that bounded 256-row table. Total token mass is a separate
# 1-row aggregate (the OOV denominator must count ALL tokens, not
# just the top slice).
# ---------------------------------------------------------------------------

_Q262_CUTS = (4, 16, 64, 256)


@register(
    "q262_vocab_coverage_curve",
    oracle=f"""
WITH tok AS (
  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
),
counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
ranked AS (
  SELECT token, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk
  FROM counts
),
top AS (SELECT * FROM ranked WHERE rk <= {max(_Q262_CUTS)}),
total AS (SELECT SUM(cnt) AS total_tokens FROM counts),
cuts(vocab_size) AS (VALUES {", ".join(f"({v})" for v in _Q262_CUTS)})
SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
       CAST(COUNT(*) AS BIGINT) AS n_types_used,
       CAST(SUM(cnt) AS BIGINT) AS covered_tokens,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(1000 * SUM(cnt) // GREATEST(total_tokens, 1) AS BIGINT)
         AS coverage_milli,
       CAST(1000 * (total_tokens - SUM(cnt)) // GREATEST(total_tokens, 1)
            AS BIGINT) AS oov_milli
FROM cuts, top, total
WHERE top.rk <= cuts.vocab_size
GROUP BY vocab_size, total_tokens
ORDER BY vocab_size
""",
)
def q262_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token-mass coverage of the top-V token types at
    V in {4,16,64,256}: bounded TakeOrdered top slice + 1-row total."""
    tok = T(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), "token").limit(max(_Q262_CUTS))
    top = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("cnt"), "token"))
    )
    total = counts.agg(F.sum("cnt").alias("total_tokens"))
    cuts = spark.createDataFrame(
        [(v,) for v in _Q262_CUTS], "vocab_size int"
    )
    return (
        F.broadcast(cuts)
        .join(top, F.col("rk") <= F.col("vocab_size"))
        .crossJoin(F.broadcast(total))
        .groupBy("vocab_size", "total_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types_used"),
            F.sum("cnt").cast("long").alias("covered_tokens"),
        )
        .select(
            F.col("vocab_size").cast("long").alias("vocab_size"),
            "n_types_used",
            "covered_tokens",
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.expr("1000 * covered_tokens div GREATEST(total_tokens, 1)")
            .cast("long")
            .alias("coverage_milli"),
            F.expr(
                "1000 * (total_tokens - covered_tokens)"
                " div GREATEST(total_tokens, 1)"
            )
            .cast("long")
            .alias("oov_milli"),
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# q263: leakage-safe split audit — train/val/test folds must keep
# correlated documents TOGETHER (same site, same dedup cluster), or
# eval leaks: the C4/RefinedWeb rule is to split at the DOMAIN level,
# never the document level. This audit quantifies the difference:
# fold-by-doc-hash (naive) vs fold-by-source-hash (group-aware), and
# counts same-source pairs separated by each. The group-aware column
# being identically 0 is the verified guarantee, not an assumption —
# it is computed by the same formula as the naive one.
#
# Leaked pairs per source under a fold assignment with per-fold counts
# c_f: C(n,2) - sum_f C(c_f,2) — pure integer math (c*(c-1) is even),
# no pair enumeration: the audit costs two keyed counts even when a
# source has 10^8 documents.
#
# Scale shape: two hash aggregates ((source, fold) then (source)) and
# a broadcast-sized per-source result. Nothing pairwise materializes.
# ---------------------------------------------------------------------------

_Q263_FOLDS = 5

_Q263_HDOC_S = "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
_Q263_HDOC_D = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
_Q263_HSRC_S = "CAST(conv(substr(md5(source), 1, 15), 16, 10) AS BIGINT)"
_Q263_HSRC_D = "('0x' || substr(md5(source), 1, 15))::BIGINT"


@register(
    "q263_split_leakage_audit",
    oracle=f"""
WITH f AS (
  SELECT source,
         {_Q263_HDOC_D} % {_Q263_FOLDS} AS naive_fold,
         {_Q263_HSRC_D} % {_Q263_FOLDS} AS group_fold
  FROM documents
),
naive_cells AS (
  SELECT source, naive_fold, COUNT(*) AS c FROM f GROUP BY source, naive_fold
),
group_cells AS (
  SELECT source, group_fold, COUNT(*) AS c FROM f GROUP BY source, group_fold
),
per_source AS (
  SELECT source, SUM(c) AS n_docs, SUM(c * (c - 1) // 2) AS naive_same
  FROM naive_cells GROUP BY source
),
per_source_g AS (
  SELECT source, SUM(c * (c - 1) // 2) AS group_same,
         MIN(group_fold) AS group_fold
  FROM group_cells GROUP BY source
)
SELECT p.source,
       CAST(g.group_fold AS BIGINT) AS group_fold,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS total_pairs,
       CAST(n_docs * (n_docs - 1) // 2 - naive_same AS BIGINT)
         AS naive_leaked_pairs,
       CAST(n_docs * (n_docs - 1) // 2 - group_same AS BIGINT)
         AS group_leaked_pairs
FROM per_source p JOIN per_source_g g USING (source)
ORDER BY p.source
""",
)
def q263_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-source pairs separated by a doc-hash fold vs a
    source-hash (group-aware) fold — counted from per-fold cell
    counts, never by pair enumeration."""
    f = T(spark, sf_dir, "documents").select(
        "source",
        (F.expr(_Q263_HDOC_S) % _Q263_FOLDS).alias("naive_fold"),
        (F.expr(_Q263_HSRC_S) % _Q263_FOLDS).alias("group_fold"),
    )
    naive = (
        f.groupBy("source", "naive_fold")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_docs"),
            F.sum(F.expr("c * (c - 1) div 2")).alias("naive_same"),
        )
    )
    grp = (
        f.groupBy("source", "group_fold")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(
            F.sum(F.expr("c * (c - 1) div 2")).alias("group_same"),
            F.min("group_fold").alias("group_fold"),
        )
    )
    return (
        naive.join(grp, "source")
        .select(
            "source",
            F.col("group_fold").cast("long").alias("group_fold"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr("n_docs * (n_docs - 1) div 2").cast("long").alias("total_pairs"),
            F.expr("n_docs * (n_docs - 1) div 2 - naive_same")
            .cast("long")
            .alias("naive_leaked_pairs"),
            F.expr("n_docs * (n_docs - 1) div 2 - group_same")
            .cast("long")
            .alias("group_leaked_pairs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q264: rare-token junk gate — the OCR-garbage / boilerplate detector
# that pairs with q262's vocab sizing: a document whose tokens mostly
# fall OUTSIDE the corpus' top-K vocabulary is noise (broken encoding,
# boilerplate soup, wrong language), and every production corpus
# filters on exactly this ratio. Integer-milli rate, keep verdict at
# a named threshold.
#
# Scale shape: the top-K vocab is the same bounded TakeOrdered slice
# as q262 (K rows reach one machine regardless of corpus size) and
# BROADCASTS back; the per-doc rate is then one scan + in-row
# membership against the broadcast set via an exploded semi-join
# keyed on the token — the corpus shuffles nothing. Per-source
# rollup of rejects is a bounded aggregate.
# ---------------------------------------------------------------------------

_Q264_VOCAB = 24
# reject when >25% of tokens fall outside the top-24 vocab — the
# fixture's per-doc OOV-milli spans 0-411 (median ~190, p90 ~272), so
# this threshold rejects a real ~15% tail while keeping the bulk
_Q264_REJECT_MILLI = 250


@register(
    "q264_rare_token_gate",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS token
  FROM documents
),
counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
vocab AS (
  SELECT token FROM counts ORDER BY cnt DESC, token LIMIT {_Q264_VOCAB}
),
per_doc AS (
  SELECT t.doc_id, t.source,
         COUNT(*) AS n_tokens,
         SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tok t LEFT JOIN vocab v USING (token)
  GROUP BY t.doc_id, t.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN 1000 * n_oov // n_tokens > {_Q264_REJECT_MILLI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
       CAST(SUM(n_oov) AS BIGINT) AS oov_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(1000 * SUM(n_oov) // GREATEST(SUM(n_tokens), 1) AS BIGINT)
         AS oov_milli
FROM per_doc GROUP BY source ORDER BY source
""",
)
def q264_rare_token_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source junk audit: docs whose out-of-top-K-vocab token
    share exceeds 25% are rejected; vocab is the broadcast TakeOrdered
    top-K."""
    tok = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = counts.orderBy(F.desc("cnt"), "token").limit(_Q264_VOCAB).select("token")
    per_doc = (
        tok.join(
            F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "token", "left"
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    F.expr(f"1000 * n_oov div n_tokens > {_Q264_REJECT_MILLI}"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_rejected"),
            F.sum("n_oov").cast("long").alias("oov_tokens"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "oov_milli",
            F.expr("1000 * oov_tokens div GREATEST(total_tokens, 1)").cast("long"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q265: RAG chunk manifest — fixed-size token-window chunking with
# overlap (window 8, stride 6), the first transform of every
# retrieval pipeline: each document becomes ceil((n-W)/S)+1 chunks
# (one chunk when n <= W), each chunk carrying its exact token span
# so retrieval hits map back to byte offsets.
#
# Scale shape: chunk boundaries are PURE in-row arithmetic (sequence
# over the stride count + transform), one explode, no shuffle until
# the display sort — a 100 TB corpus chunks embarrassingly parallel.
# The chunk-count closed form is asserted against the generated rows
# in tests (boundary invariants), and the oracle derives the same
# spans from range() independently.
# ---------------------------------------------------------------------------

_Q265_W = 8  # tokens per chunk
_Q265_S = 6  # stride (W - S = 2 tokens of overlap)


@register(
    "q265_rag_chunk_manifest",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok FROM documents
),
chunks AS (
  SELECT doc_id, source, n_tok, UNNEST(range(0,
           CASE WHEN n_tok <= {_Q265_W} THEN 1
                ELSE (n_tok - {_Q265_W} + {_Q265_S} - 1) // {_Q265_S} + 1 END))
           AS chunk_no
  FROM d
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       source,
       CAST(chunk_no AS BIGINT) AS chunk_no,
       CAST(chunk_no * {_Q265_S} AS BIGINT) AS start_tok,
       CAST(LEAST(chunk_no * {_Q265_S} + {_Q265_W}, n_tok)
            - chunk_no * {_Q265_S} AS BIGINT) AS n_toks
FROM chunks
ORDER BY doc_id, chunk_no
""",
)
def q265_rag_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunk spans (W=8, S=6) per document —
    in-row boundary arithmetic + one explode, shuffle-free."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    n_chunks = F.expr(
        f"CASE WHEN n_tok <= {_Q265_W} THEN 1"
        f" ELSE (n_tok - {_Q265_W} + {_Q265_S} - 1) div {_Q265_S} + 1 END"
    )
    return (
        d.withColumn("nc", n_chunks)
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.explode(F.expr("sequence(0, nc - 1)")).alias("chunk_no"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.col("chunk_no").cast("long").alias("chunk_no"),
            (F.col("chunk_no") * _Q265_S).cast("long").alias("start_tok"),
            F.expr(
                f"LEAST(chunk_no * {_Q265_S} + {_Q265_W}, n_tok)"
                f" - chunk_no * {_Q265_S}"
            )
            .cast("long")
            .alias("n_toks"),
        )
        .orderBy("doc_id", "chunk_no")
    )


# ---------------------------------------------------------------------------
# q266: source-similarity matrix — exact token-set Jaccard between
# every pair of sources (the corpus-mixture design view: which
# sources are near-redundant, which add genuinely new vocabulary).
# The source domain is small and bounded, so the full matrix is a
# bounded output even when each source holds 10^9 documents.
#
# Scale shape: distinct (source, token) is one partial-combining
# aggregate over the scan; the pair join is keyed on the TOKEN
# (bounded fan-out: a token appears in at most |sources| rows), and
# the final matrix aggregate lives on the |sources|^2 domain. Set
# sizes come from one bounded per-source rollup broadcast back. At a
# larger source domain the same plan degrades gracefully (token-keyed
# join stays the only big exchange); KMV sketches (q59/q196) are the
# documented approximation when exactness is not required.
# ---------------------------------------------------------------------------


@register(
    "q266_source_similarity_matrix",
    oracle="""
WITH st AS (SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS token
            FROM documents),
sz AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
  FROM st a JOIN st b USING (token)
  WHERE a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(1000 * n_inter // (sa.n + sb.n - n_inter) AS BIGINT)
         AS jaccard_milli
FROM inter
JOIN sz sa ON sa.source = src_a
JOIN sz sb ON sb.source = src_b
ORDER BY src_a, src_b
""",
)
def q266_source_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise token-set Jaccard over the bounded source
    domain: token-keyed pair join + |sources|^2 rollup."""
    st = (
        T(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    st = st.persist()
    sz = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = st.select(F.col("source").alias("src_a"), "token")
    b = st.select(F.col("source").alias("src_b"), "token")
    inter = (
        a.join(b, "token")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sza = F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a")))
    szb = F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b")))
    return (
        inter.join(sza, "src_a")
        .join(szb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
            F.expr("1000 * n_inter div (n_a + n_b - n_inter)")
            .cast("long")
            .alias("jaccard_milli"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# q267: association-rule mining — support / confidence / lift over
# order baskets (the market-basket classic; q09 counts co-occurrence,
# this turns counts into directed RULES a→b with the three standard
# strengths, all integer-exact: confidence and support in milli, lift
# in micro via cross-multiplication — no per-rule float division).
# Items are the bounded l_partkey % 50 bucket domain, so the pair
# space is ≤ C(50,2) regardless of corpus size.
#
# Scale shape: one distinct (order, item) pre-aggregate (partial-
# combined), per-order item sets via collect_set, pair expansion
# IN-ROW from each set (q09's shape — never a basket self-join), a
# bounded ≤1225-cell pair rollup, item counts broadcast back, and a
# top-k under a total order. The 100 TB fact table crosses the wire
# once, as (order, item) distincts.
# ---------------------------------------------------------------------------

_Q267_TOPK = 20


@register(
    "q267_association_rules",
    oracle=f"""
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey % 50 AS item FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM d),
ic AS (SELECT item, COUNT(*) AS n_item FROM d GROUP BY item),
pc AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
  FROM d a JOIN d b USING (l_orderkey)
  WHERE a.item < b.item
  GROUP BY a.item, b.item
),
rules AS (
  SELECT item_a AS antecedent, item_b AS consequent, n_ab,
         ia.n_item AS n_ant, ib.n_item AS n_con, n.n_orders
  FROM pc JOIN ic ia ON ia.item = pc.item_a
          JOIN ic ib ON ib.item = pc.item_b
          CROSS JOIN n
  UNION ALL
  SELECT item_b, item_a, n_ab, ib.n_item, ia.n_item, n.n_orders
  FROM pc JOIN ic ia ON ia.item = pc.item_a
          JOIN ic ib ON ib.item = pc.item_b
          CROSS JOIN n
),
scored AS (
  SELECT CAST(antecedent AS BIGINT) AS antecedent,
         CAST(consequent AS BIGINT) AS consequent,
         CAST(n_ab AS BIGINT) AS n_ab,
         CAST(1000 * n_ab // n_orders AS BIGINT) AS support_milli,
         CAST(1000 * n_ab // n_ant AS BIGINT) AS confidence_milli,
         CAST(1000000 * n_ab * n_orders // (n_ant * n_con) AS BIGINT)
           AS lift_micro
  FROM rules
)
SELECT * FROM scored
ORDER BY lift_micro DESC, confidence_milli DESC, n_ab DESC, antecedent, consequent
LIMIT {_Q267_TOPK}
""",
)
def q267_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} directed rules a→b over bucketed order baskets by
    integer lift/confidence; in-row pair expansion, bounded rollup."""
    d = (
        T(spark, sf_dir, "lineitem")
        .select("l_orderkey", (F.col("l_partkey") % 50).alias("item"))
        .distinct()
    )
    d = d.persist()
    n = d.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    ic = d.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    sets = d.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("item")).alias("items")
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)), y ->"
                " struct(x AS item_a, y AS item_b))))"
            )
        ).alias("p")
    ).select("p.item_a", "p.item_b")
    pc = pairs.groupBy("item_a", "item_b").agg(F.count(F.lit(1)).alias("n_ab"))
    ia = F.broadcast(ic.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_ant_a")))
    ib = F.broadcast(ic.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_con_b")))
    base = pc.join(ia, "item_a").join(ib, "item_b").crossJoin(F.broadcast(n))
    fwd = base.select(
        F.col("item_a").alias("antecedent"), F.col("item_b").alias("consequent"),
        "n_ab", F.col("n_ant_a").alias("n_ant"), F.col("n_con_b").alias("n_con"),
        "n_orders",
    )
    rev = base.select(
        F.col("item_b").alias("antecedent"), F.col("item_a").alias("consequent"),
        "n_ab", F.col("n_con_b").alias("n_ant"), F.col("n_ant_a").alias("n_con"),
        "n_orders",
    )
    rules = fwd.unionByName(rev)
    return (
        rules.select(
            F.col("antecedent").cast("long").alias("antecedent"),
            F.col("consequent").cast("long").alias("consequent"),
            F.col("n_ab").cast("long").alias("n_ab"),
            F.expr("1000 * n_ab div n_orders").cast("long").alias("support_milli"),
            F.expr("1000 * n_ab div n_ant").cast("long").alias("confidence_milli"),
            F.expr("1000000 * n_ab * n_orders div (n_ant * n_con)")
            .cast("long")
            .alias("lift_micro"),
        )
        .orderBy(
            F.desc("lift_micro"), F.desc("confidence_milli"), F.desc("n_ab"),
            "antecedent", "consequent",
        )
        .limit(_Q267_TOPK)
    )


q267_association_rules.__doc__ = (q267_association_rules.__doc__ or "").format(
    k=_Q267_TOPK
)


# ---------------------------------------------------------------------------
# q268: greedy max-coverage selection — pick K documents that together
# cover the most distinct word trigrams (the facility-location /
# submodular-selection shape behind diverse-subset curation: "which K
# docs teach the most?"). Greedy is the 1-1/e-approximation classic
# and is inherently iterative: K bounded rounds, each adding the doc
# with the most not-yet-covered shingles (tie-break smallest doc_id).
#
# Scale shape: the per-doc trigram table is built once and persisted;
# each round is one broadcast anti-join against the covered set (the
# covered set is K docs' shingles — bounded and broadcastable by
# design), one per-doc count, and a 1-row argmax collect (the q224
# BPE-round precedent: driver state is O(K), never corpus-sized). The
# DuckDB oracle unrolls the same K rounds as chained CTEs (the q101
# unrolled-PageRank precedent) — two engines, one greedy trajectory.
# ---------------------------------------------------------------------------

_Q268_K = 5


def _q268_oracle() -> str:
    base = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
tri AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
           AS g
  FROM tok WHERE len(tk) >= 3
)"""
    parts = [base]
    prev_cov = None
    selects = []
    for r in range(1, _Q268_K + 1):
        novel = (
            f"nov{r} AS (SELECT doc_id, g FROM tri)"
            if prev_cov is None
            else f"nov{r} AS (SELECT t.doc_id, t.g FROM tri t ANTI JOIN {prev_cov} c USING (g))"
        )
        win = (
            f"win{r} AS (SELECT doc_id, COUNT(*) AS n_new FROM nov{r}"
            f" GROUP BY doc_id ORDER BY n_new DESC, doc_id LIMIT 1)"
        )
        cov = (
            f"cov{r} AS (SELECT DISTINCT g FROM tri WHERE doc_id IN (SELECT doc_id FROM win{r})"
            + (f" UNION SELECT g FROM {prev_cov}" if prev_cov else "")
            + ")"
        )
        parts += [novel, win, cov]
        selects.append(
            f"SELECT {r} AS round, doc_id, n_new,"
            f" (SELECT COUNT(*) FROM cov{r}) AS covered_total FROM win{r}"
        )
        prev_cov = f"cov{r}"
    body = ",\n".join(parts[1:])
    union = "\nUNION ALL\n".join(selects)
    return (
        parts[0]
        + ",\n"
        + body
        + "\nSELECT CAST(round AS BIGINT) AS round, CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(n_new AS BIGINT) AS n_new_shingles,"
        " CAST(covered_total AS BIGINT) AS covered_total FROM ("
        + union
        + ") ORDER BY round"
    )


@register("q268_greedy_coverage_selection", oracle=_q268_oracle())
def q268_greedy_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K greedy rounds of max-new-trigram document selection; each
    round is a broadcast anti-join vs the bounded covered set + a
    1-row argmax."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    tri = (
        d.where(F.size("tk") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(tk) - 2),"
                        " i -> concat_ws(' ', tk[i - 1], tk[i], tk[i + 1]))"
                    )
                )
            ).alias("g"),
        )
        .persist()
    )
    covered = None  # DataFrame of distinct covered trigrams (bounded: K docs' worth)
    out = []
    for r in range(1, _Q268_K + 1):
        nov = tri if covered is None else tri.join(
            F.broadcast(covered), "g", "left_anti"
        )
        best = (
            nov.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_new"))
            .orderBy(F.desc("n_new"), "doc_id")
            .limit(1)
            .collect()
        )
        if not best:
            # every trigram is covered: no later round selects a
            # document either, and the oracle returns fewer rows
            break
        win = best[0]
        win_tris = tri.where(F.col("doc_id") == win.doc_id).select("g")
        covered = (
            win_tris if covered is None else covered.unionByName(win_tris)
        ).distinct().persist()
        out.append((r, int(win.doc_id), int(win.n_new), covered.count()))
    return spark.createDataFrame(
        out, "round long, doc_id long, n_new_shingles long, covered_total long"
    ).orderBy("round")
