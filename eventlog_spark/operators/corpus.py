"""Corpus-preparation operators a large-scale training pipeline runs
between raw crawl and tokenized shards: vocabulary statistics, TF-IDF /
BM25 relevance, token-budget packing, percentile-based quality gates,
and embedding post-processing (centroid assignment, int8 quantization).

All pure JVM-side column expressions — no Python in any data path.

Cross-engine determinism rules (the driver hash-compares against
DuckDB):

* Every float is derived from integers by the SAME expression tree on
  both sides (ln / division of integer-valued doubles is bit-exact).
* Distributed float SUMs are avoided: centroid accumulation uses
  fixed-point BIGINT sums (order-free); per-term BM25 contributions are
  pivoted to singleton aggregates before a fixed-order addition.
* Per-vector folds (dot products, checksums) are sequential
  left-to-right in both engines (F.aggregate ≍ list_reduce).
* No ROUND on doubles (half-up vs half-even); FLOOR(x + 0.5) instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries import register
from ..tables import load_table, spread

# -- vocabulary ---------------------------------------------------------------

VOCAB_K = 100


@register(
    "vocab_topk",
    oracle=f"""
SELECT word, n_occurrences, n_docs, rk FROM (
    SELECT word,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS rk
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
)
WHERE rk <= {VOCAB_K}
""",
    doc=f"Corpus vocabulary: top-{VOCAB_K} words by occurrence with doc frequency.",
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training precursor (the count step of BPE/WordPiece):
    global word counts, then the top-K slice. The count is one
    partial+final aggregate; the top-K is `orderBy().limit(K)` which
    Spark compiles to TakeOrderedAndProject — every task keeps only its
    local K rows, so there is NO single-task global sort even with a
    10^8-term vocabulary. The rank window then runs over K rows only."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    topk = counts.orderBy(F.desc("n_occurrences"), "word").limit(VOCAB_K)
    w = Window.orderBy(F.desc("n_occurrences"), "word")  # K rows post-limit
    return topk.withColumn("rk", F.row_number().over(w))


# -- TF-IDF -------------------------------------------------------------------

TFIDF_TOP = 3


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, word, tf, score, rk FROM (
    SELECT tf.doc_id, tf.word, CAST(tf.tf AS BIGINT) AS tf,
           CAST(tf.tf AS DOUBLE) * ((n.n_docs + 1.0) / (dfreq.df + 1.0)) AS score,
           ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf AS DOUBLE)
                        * ((n.n_docs + 1.0) / (dfreq.df + 1.0)) DESC,
                        tf.word
           ) AS rk
    FROM tf JOIN dfreq ON tf.word = dfreq.word CROSS JOIN n
)
WHERE rk <= {TFIDF_TOP}
""",
    doc=f"Top-{TFIDF_TOP} TF-IDF terms per document (smoothed idf).",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction / topic signal per document. Term frequency
    and document frequency are both partial-aggregated before their
    word-keyed join (the joined sides carry one row per (doc,word) and
    per word — never the raw token stream). The corpus size joins in as
    a broadcast scalar. The idf is the RATIONAL form (N+1)/(df+1) —
    transcendental-free on purpose: +,−,×,÷ are IEEE-correctly-rounded
    and therefore bit-equal across engines, while ln differs in the
    last ULP between the JVM (fdlibm) and DuckDB (glibc), which flips
    value-hashes. The ratio is monotone in the classic ln·idf for fixed
    tf, so the per-document ranking criterion is the familiar one."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    # ROUND 13 (guide §1.2, the round-12 bm25 `dl` shape): pin tf — it
    # feeds BOTH the broadcast dfreq build and the scored join probe,
    # and without the pin each consumer re-embeds the full tokenize +
    # explode + first aggregation (6 document scans in the plan; 2
    # after). (doc, word, tf) rows are the small side of the ranking.
    from .artifacts import lazy_checkpoint

    tf = lazy_checkpoint(
        words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf").cast("double") * (
        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "word")
    # dfreq is VOCABULARY-sized (Heaps-law sublinear in the corpus):
    # broadcasting it spares the (doc, word) tf rows — the corpus-sized
    # side — a word-keyed shuffle; tf then flows straight from its own
    # aggregate into the doc_id window (sf1: 3.7 -> 1.9 s warm). Beyond
    # ~10M distinct terms (multi-TB web crawls) drop the hint and let
    # AQE choose; the plan is otherwise unchanged.
    return (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP)
        .select("doc_id", "word", "tf", "score", "rk")
    )


# -- BM25 ---------------------------------------------------------------------

BM25_TERMS = ("spark", "join", "window")
BM25_K1 = 1.5
BM25_B = 0.75  # 1 - b = 0.25, kept literal below for fixed float ops
BM25_TOP = 20


def _bm25_contrib_sql(term: str) -> str:
    # singleton per (doc, term): MAX over ≤1 row is order-free
    return (
        f"COALESCE(MAX(CASE WHEN word = '{term}' THEN idf * (CAST(tf AS DOUBLE) * 2.5)"
        f" / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))"
        f" END), 0.0)"
    )


# The full lexical-ranking CTE chain (raw docs -> BM25 top-K with rank),
# shared by the bm25_search and hybrid_rrf_fusion oracles.
_BM25_CTES_SQL = f"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
dl AS (SELECT doc_id, len(w) AS dl FROM d),
stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, word, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(w) AS word FROM d)
    WHERE word IN {BM25_TERMS}
    GROUP BY doc_id, word
),
idf AS (
    SELECT word, (n_docs - df + 0.5) / (df + 0.5) AS idf
    FROM (SELECT word, COUNT(*) AS df FROM tf GROUP BY word) CROSS JOIN stats
),
scored AS (
    SELECT tf.doc_id,
           {_bm25_contrib_sql("spark")} AS c_spark,
           {_bm25_contrib_sql("join")} AS c_join,
           {_bm25_contrib_sql("window")} AS c_window
    FROM tf JOIN idf USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
),
lex AS (
    SELECT doc_id, score, rk FROM (
        SELECT doc_id, c_spark + c_join + c_window AS score,
               ROW_NUMBER() OVER (ORDER BY c_spark + c_join + c_window DESC, doc_id) AS rk
        FROM scored
    )
    WHERE rk <= {BM25_TOP}
)"""


@register(
    "bm25_search",
    oracle=f"""
WITH {_BM25_CTES_SQL}
SELECT doc_id, score, rk FROM lex
""",
    doc=f"BM25 relevance: top-{BM25_TOP} documents for the query {BM25_TERMS}.",
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text relevance ranking (Okapi BM25 tf saturation, k1=1.5
    b=0.75) for a fixed query — the retrieval scorer behind corpus
    search and RAG-style training-data selection. Only rows whose word
    is IN the query survive the explode (the filter sits under the
    aggregate, so the shuffle carries ≤ |terms| rows per doc). Per-term
    contributions are pivoted to singleton MAX aggregates and added in
    FIXED order — a float SUM over a group would be partition-order-
    dependent and could diverge between engines. The idf keeps the
    Robertson–Spärck-Jones RATIO without the ln wrapper (ln is the one
    op that differs in the last ULP between JVM fdlibm and DuckDB
    glibc); ÷ and + are correctly rounded, so scores are bit-equal.
    Top-K via TakeOrderedAndProject."""
    return _bm25_ranked(spark, sf_dir)


def _bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, rk) — the BM25 top-``BM25_TOP`` ranking, shared
    by ``bm25_search`` and the lexical branch of ``hybrid_rrf_fusion``.
    Mirrors ``_BM25_CTES_SQL``'s d/dl/stats/tf/idf/scored/lex chain."""
    from .artifacts import lazy_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("w"))
    # ROUND-12 OPTIMIZATION (guide §1.2): dl feeds the corpus-stats
    # aggregate AND the scored join — as a lazy frame each consumer
    # re-ran the full text scan + split, so the corpus was tokenized
    # three times per ranking (tf's explode pass + two dl passes). The
    # checkpoint pins dl to two ints per doc, leaving exactly one
    # tokenizing pass (tf) plus one cheap length pass; plan-shape tests
    # flip artifacts.ENABLED off and still see the full tree.
    dl = lazy_checkpoint(d.select("doc_id", F.size("w").alias("dl")))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode("w").alias("word"))
        .where(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "word",
            (
                (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    contrib = F.col("idf") * (F.col("tf").cast("double") * F.lit(2.5)) / (
        F.col("tf").cast("double")
        + F.lit(1.5) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl")))
    )

    def pivot(term: str) -> Column:
        return F.coalesce(
            F.max(F.when(F.col("word") == term, contrib)), F.lit(0.0)
        ).alias(f"c_{term}")

    scored = (
        tf.join(F.broadcast(idf), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy("doc_id")
        .agg(*[pivot(t) for t in BM25_TERMS])
    )
    score = F.col("c_spark") + F.col("c_join") + F.col("c_window")
    top = scored.select("doc_id", score.alias("score")).orderBy(
        F.desc("score"), "doc_id"
    ).limit(BM25_TOP)
    w = Window.orderBy(F.desc("score"), "doc_id")  # BM25_TOP rows post-limit
    return top.withColumn("rk", F.row_number().over(w))


# -- hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine ----------

from .dedup import _COSINE_SQL  # noqa: E402  (shared exact-cosine SQL)

HYBRID_QUERY_VEC = 0  # the dense query: embeddings.vec_id == 0
HYBRID_SEM_TOP = 20  # dense-branch candidate depth (matches BM25_TOP)
HYBRID_TOP = 15  # fused result size
RRF_K = 60  # the standard Cormack et al. dampening constant
RRF_FXP = 1_000_000_000  # fixed-point scale for exact 1/(k+rank)


@register(
    "hybrid_rrf_fusion",
    oracle=f"""
WITH {_BM25_CTES_SQL},
sem AS (
    SELECT doc_id, rk FROM (
        SELECT b.vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY {_COSINE_SQL} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
        WHERE a.vec_id = {HYBRID_QUERY_VEC}
    )
    WHERE rk <= {HYBRID_SEM_TOP}
),
u AS (
    SELECT doc_id, rk AS lex_rk, 0 AS sem_rk, {RRF_FXP} // ({RRF_K} + rk) AS c
    FROM lex
    UNION ALL
    SELECT doc_id, 0, rk, {RRF_FXP} // ({RRF_K} + rk)
    FROM sem
),
fused AS (
    SELECT doc_id,
           CAST(MAX(lex_rk) AS BIGINT) AS lex_rk,
           CAST(MAX(sem_rk) AS BIGINT) AS sem_rk,
           CAST(SUM(c) AS BIGINT) AS rrf_fp
    FROM u GROUP BY doc_id
)
SELECT doc_id, lex_rk, sem_rk, rrf_fp, fused_rk FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_fp DESC, doc_id) AS fused_rk
    FROM fused
)
WHERE fused_rk <= {HYBRID_TOP}
""",
    doc=f"Hybrid retrieval: RRF(k={RRF_K}) fusion of the BM25 top-{BM25_TOP} "
    f"and the exact-cosine top-{HYBRID_SEM_TOP} for query vector "
    f"{HYBRID_QUERY_VEC}; top-{HYBRID_TOP} fused.",
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval, the canonical RAG-serving
    composition: the BM25 branch ranks documents for the fixed term
    query, the dense branch ranks embeddings by exact cosine against a
    fixed query vector (doc_id == vec_id in the corpus), and the two
    rankings merge by reciprocal-rank fusion — score(d) = Σ 1/(k+rank)
    over the systems that retrieved d, k=60 (Cormack et al., SIGIR'09).

    The 1/(k+rank) terms are exact integers (``RRF_FXP div (k+rk)`` —
    truncating integer division matches DuckDB's ``//`` including
    negatives, though all operands here are positive), so fusion is
    bit-exact with no float-order caveats; a doc missing from a branch
    contributes nothing and reports rank 0 for that branch.

    Scale shape: each branch is already top-K-bounded before fusion —
    BM25's shuffle carries only query-term postings, the dense branch
    is one corpus scan against a broadcast single-row query with
    TakeOrderedAndProject (at 100 TB you'd swap in the served ANN index
    — ``ann_ivf_pq``'s artifact tables — for the same (doc_id, rk)
    contract). The union is 2·K rows, the fusion groupBy and final
    rank are driver-trivial, so hybrid costs branch-max, not
    branch-sum, of shuffle volume."""
    from .dedup import _COSINE_SQL, cosine_expr  # local: avoids import cycle

    lex = _bm25_ranked(spark, sf_dir).select("doc_id", F.col("rk").alias("rk"))
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("q_emb")
    )
    cos = cosine_expr(F.col("embedding"), F.col("q_emb"))
    sem_top = (
        emb.where(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .orderBy(F.desc("cos"), "doc_id")
        .limit(HYBRID_SEM_TOP)
    )
    sem_w = Window.orderBy(F.desc("cos"), "doc_id")  # HYBRID_SEM_TOP rows
    sem = sem_top.withColumn("rk", F.row_number().over(sem_w)).select("doc_id", "rk")

    contrib = F.expr(f"{RRF_FXP} div ({RRF_K} + rk)")
    u = lex.select(
        "doc_id",
        F.col("rk").alias("lex_rk"),
        F.lit(0).alias("sem_rk"),
        contrib.alias("c"),
    ).unionByName(
        sem.select(
            "doc_id",
            F.lit(0).alias("lex_rk"),
            F.col("rk").alias("sem_rk"),
            contrib.alias("c"),
        )
    )
    fused = u.groupBy("doc_id").agg(
        F.max("lex_rk").cast("long").alias("lex_rk"),
        F.max("sem_rk").cast("long").alias("sem_rk"),
        F.sum("c").cast("long").alias("rrf_fp"),
    )
    top = fused.orderBy(F.desc("rrf_fp"), "doc_id").limit(HYBRID_TOP)
    fw = Window.orderBy(F.desc("rrf_fp"), "doc_id")  # HYBRID_TOP rows
    return top.withColumn("fused_rk", F.row_number().over(fw))


# -- token-budget packing -----------------------------------------------------

PACK_BUDGET = 2048
PACK_BUCKETS = 8


@register(
    "pack_token_budget",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           doc_id % {PACK_BUCKETS} AS bucket,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, bucket, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM t
)
SELECT bucket,
       CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c
GROUP BY bucket, cum_before // {PACK_BUDGET}
""",
    doc=f"Token-budget sequence packing: {PACK_BUCKETS} shards, "
    f"{PACK_BUDGET}-token packs, per-pack manifests.",
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training shards: documents are first
    sharded (doc_id mod B — in production a hash), then packed
    greedily in doc_id order inside each shard: a doc joins pack
    floor(tokens_before / budget). The cumulative window is PARTITIONED
    by shard, so B-way parallel with no global sort — the scale-correct
    shape (a single global packing order would serialize the corpus
    through one task, and no training pipeline needs it: shards are
    independent by design). All arithmetic is integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        c.groupBy("bucket", F.expr(f"cum_before div {PACK_BUDGET}").alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


# -- relative (percentile) quality gate --------------------------------------

DROP_FRACTION = 0.4


@register(
    "quality_relative_filter",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, len(string_split(text, ' ')) AS n_words FROM documents
),
r AS (
    SELECT doc_id, lang, n_words,
           PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_words, doc_id) AS pr
    FROM t
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN pr >= {DROP_FRACTION} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(MIN(CASE WHEN pr >= {DROP_FRACTION} THEN n_words END) AS BIGINT) AS min_kept_words,
       CAST(MAX(CASE WHEN pr < {DROP_FRACTION} THEN n_words END) AS BIGINT) AS max_dropped_words
FROM r
GROUP BY lang
""",
    doc="Relative quality gate: drop the bottom 40% of docs by word "
    "count within each language; per-language keep/drop accounting.",
)
def quality_relative_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based (relative) filtering — used when absolute
    thresholds don't transfer across languages/sources: each language
    keeps its own top 60% by length. percent_rank is integer-derived
    ((rank-1)/(n-1)) so the cut is bit-deterministic; the doc_id
    tiebreak makes ranks unique under equal lengths. The window is
    partitioned by language — parallel across partitions; within one
    language the rank is a sort, which at 100 TB would use the same
    range-partitioned two-pass rank as functions/ordered.py."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.size(F.split("text", " ")).alias("n_words"))
    w = Window.partitionBy("lang").orderBy("n_words", "doc_id")
    r = t.withColumn("pr", F.percent_rank().over(w))
    kept = F.col("pr") >= DROP_FRACTION
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.min(F.when(kept, F.col("n_words"))).cast("long").alias("min_kept_words"),
        F.max(F.when(~kept, F.col("n_words"))).cast("long").alias("max_dropped_words"),
    )


# -- embedding post-processing ------------------------------------------------

DIM = 64
FXP = 1 << 20  # fixed-point scale for order-free centroid accumulation


# The ex→cen→sims→best CTE chain: one label-seeded Lloyd step (fixed-
# point centroid means) + per-vector cosine argmax. Shared verbatim by
# the embedding_centroid_assign and embedding_cluster_resample oracles.
_CENTROID_BEST_SQL = f"""ex AS (
    SELECT label, i AS pos,
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {FXP}) AS BIGINT) AS iv
    FROM embeddings, range(1, {DIM + 1}) t(i)
),
cen AS (
    SELECT label AS c_label, list(cd ORDER BY pos) AS cvec FROM (
        SELECT label, pos, CAST(SUM(iv) AS DOUBLE) / (COUNT(*) * {FXP}.0) AS cd
        FROM ex GROUP BY label, pos
    ) GROUP BY label
),
sims AS (
    SELECT e.vec_id, e.label, c.c_label,
           list_sum(list_transform(range(1, {DIM + 1}),
                i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]))
           / (sqrt(list_sum(list_transform(range(1, {DIM + 1}),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, {DIM + 1}),
                i -> c.cvec[i] * c.cvec[i])))) AS sim
    FROM embeddings e CROSS JOIN cen c
),
best AS (
    SELECT vec_id, label, c_label, sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rk
    FROM sims
)"""


@register(
    "embedding_centroid_assign",
    oracle=f"""
WITH {_CENTROID_BEST_SQL}
SELECT label, c_label AS assigned_label,
       CAST(COUNT(*) AS BIGINT) AS n, MIN(sim) AS min_sim, MAX(sim) AS max_sim
FROM best WHERE rk = 1
GROUP BY label, c_label
""",
    doc="Nearest-centroid assignment: per-label mean embeddings, cosine "
    "argmax per vector, confusion-matrix counts.",
)
def embedding_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd step of k-means seeded by the existing labels — the
    building block of embedding-space clustering/diagnostics (are the
    labels cosine-separable?). Centroids accumulate in FIXED-POINT
    BIGINT (floor(v·2^20)): integer sums are exact and order-free where
    a distributed float mean would depend on partition order. The
    centroid table is k×dim — tiny at any corpus scale — so assignment
    is a broadcast nested-loop over k candidates per vector; per-pair
    cosine is a sequential fold identical to the oracle's list_sum. The
    only shuffles are the (label,pos) centroid aggregate and the final
    confusion-matrix aggregate."""
    best = _centroid_best(spark, sf_dir)
    return best.groupBy("label", F.col("c_label").alias("assigned_label")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("sim").alias("min_sim"),
        F.max("sim").alias("max_sim"),
    )


def _centroid_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assignment stage shared by ``embedding_centroid_assign`` and
    ``embedding_cluster_resample``: one label-seeded Lloyd step, cosine
    argmax per vector. Returns (vec_id, label, c_label, sim) — the
    winning centroid per vector — mirroring ``_CENTROID_BEST_SQL``'s
    ``best WHERE rk = 1``."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos0", "v"
        ),
    ).select("label", (F.col("pos0") + 1).alias("pos"), F.floor(F.col("v") * FXP).alias("iv"))
    comp = ex.groupBy("label", "pos").agg(
        (F.sum("iv").cast("double") / (F.count(F.lit(1)) * float(FXP))).alias("cd")
    )
    cen = comp.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cd"))), lambda s: s["cd"]
        ).alias("cvec")
    )
    # norms HOIST out of the pair loop: sqrt(Σx²) computes once per
    # vector / per centroid, the per-pair work is one dot fold + a
    # division — same doubles, same order as the oracle's inline form.
    e = F.transform("embedding", lambda x: x.cast("double"))
    ne = F.aggregate(F.transform(e, lambda x: x * x), F.lit(0.0), lambda a, v: a + v)
    nc = F.aggregate(
        F.transform("cvec", lambda x: x * x), F.lit(0.0), lambda a, v: a + v
    )
    emb2 = emb.select(
        "vec_id", "label", e.alias("ev"), F.sqrt(ne).alias("sne")
    ).repartition(spark.sparkContext.defaultParallelism)
    cen2 = cen.withColumn("snc", F.sqrt(nc))
    dot = F.aggregate(
        F.zip_with("ev", "cvec", lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
    )
    sims = emb2.crossJoin(F.broadcast(cen2)).select(
        "vec_id", "label", "c_label", (dot / (F.col("sne") * F.col("snc"))).alias("sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "c_label")
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )


CHK_B = 31
CHK_M = 1_000_003


@register(
    "embedding_quantize_int8",
    oracle=f"""
WITH q AS (
    SELECT vec_id, scale,
           list_transform(dvec, x -> CAST(FLOOR(x * scale + 0.5) AS BIGINT)) AS qvec
    FROM (
        SELECT vec_id, dvec,
               CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale
        FROM (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
            FROM embeddings
        )
    )
)
SELECT vec_id, scale,
       CAST(list_min(qvec) AS BIGINT) AS q_min,
       CAST(list_max(qvec) AS BIGINT) AS q_max,
       CAST(list_sum(qvec) AS BIGINT) AS q_sum,
       list_reduce(list_prepend(CAST(0 AS BIGINT), qvec),
                   (a, c) -> (a * {CHK_B} + c + 128) % {CHK_M}) AS q_checksum
FROM q
""",
    doc="Symmetric int8 quantization of embeddings with integer "
    "integrity checksum (range, sum, polynomial fold).",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding compression for serving/storage: symmetric per-vector
    int8 (scale = 127/max|v|, q = floor(v·scale + 0.5) — floor+0.5, not
    ROUND, because Spark rounds half-up and DuckDB half-even). 4× size
    reduction before an ANN index build. Everything is one codegen'd
    projection — no shuffle at all; at 100 TB this is a pure map stage
    that pipelines into the writer. The polynomial checksum gives each
    quantized vector a join-friendly integrity key."""
    emb = load_table(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    m = F.array_max(F.transform(dvec, lambda x: F.abs(x)))
    t = emb.select(
        "vec_id",
        dvec.alias("dvec"),
        F.when(m > 0, F.lit(127.0) / m).otherwise(F.lit(0.0)).alias("scale"),
    )
    qvec = F.transform(
        "dvec", lambda x: F.floor(x * F.col("scale") + F.lit(0.5))
    )
    q = t.select("vec_id", "scale", qvec.alias("qvec"))
    return q.select(
        "vec_id",
        "scale",
        F.array_min("qvec").cast("long").alias("q_min"),
        F.array_max("qvec").cast("long").alias("q_max"),
        F.aggregate("qvec", F.lit(0).cast("long"), lambda a, v: a + v).alias("q_sum"),
        F.aggregate(
            "qvec",
            F.lit(0).cast("long"),
            lambda a, c: (a * CHK_B + c + 128) % CHK_M,
        ).alias("q_checksum"),
    )


# -- winnowing fingerprints ---------------------------------------------------

WIN_NGRAM = 3   # words per shingle
WIN_W = 4       # winnowing window (shingles per window)
WIN_MIN_SHARED = 2
# Stop-fingerprint cap (bound by the sf1z Zipf rehearsal): a fingerprint
# shared by df docs contributes df(df-1)/2 pairs, so one boilerplate
# block across 25% of a corpus goes quadratic (measured 3.5 → 20 s at
# 50k docs). Fingerprints with df above the cap are dropped — ubiquitous
# fingerprints carry no dedup signal (the MOSS/stop-shingle rationale);
# non-binding on uniform corpora; the oracle replays the filter.
WIN_MAX_DF = 5_000

from .dedup import md5_int_col, md5_int_sql  # noqa: E402  (shared hash helpers)

_WIN_GRAM_SQL = md5_int_sql(f"array_to_string(list_slice(w, i, i + {WIN_NGRAM - 1}), ' ')")


@register(
    "dedup_winnowing",
    oracle=f"""
WITH g AS (
    SELECT doc_id,
           list_transform(range(1, len(w) - {WIN_NGRAM - 2}),
                          i -> {_WIN_GRAM_SQL}) AS gh
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    WHERE len(w) >= {WIN_NGRAM + WIN_W - 1}
),
fp AS (
    SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(gh) - {WIN_W - 2}),
                              j -> list_min(list_slice(gh, j, j + {WIN_W - 1}))))) AS fp
    FROM g
),
fpk AS (
    SELECT doc_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fp
    ) WHERE df <= {WIN_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {WIN_MIN_SHARED}
""",
    doc="Winnowing (MOSS) local fingerprints: min-hash per sliding "
    "shingle window, doc pairs sharing >= 2 fingerprints.",
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing [Schleimer/Wilkerson/Aiken, SIGMOD'03]: every sliding
    window of W consecutive shingle hashes contributes its minimum, so
    two docs sharing any run of ~W+NGRAM words share a fingerprint —
    position-robust local dedup where whole-doc hashing misses partial
    overlap. Per-doc fingerprinting is one codegen'd projection (array
    higher-order functions, no explode until the distinct fingerprint
    set is formed — the exploded stream carries ~len/W rows per doc,
    the winnowing guarantee). Candidate pairs come from an
    inverted-index equi-join on the fingerprint (never all-pairs), with
    hot fingerprints dropped above WIN_MAX_DF (the stop-fingerprint
    cull — ubiquitous boilerplate carries no dedup signal and its
    df²/2 pairs are the one input shape that goes quadratic; measured
    binding on the sf1z boilerplate corpus, non-binding on uniform
    data; the occupancy window rides the self-join's own fp exchange).

    Round-6 perf: the projection is spread() across cores (the
    single-row-group source otherwise pins the per-shingle md5 work to
    2 partitions) and the fingerprint table is lazily checkpointed so
    the self-join's two legs don't each recompute it — 20.3 s → 4.3 s
    at sf1, identical rows."""
    from .artifacts import lazy_checkpoint

    docs = spread(load_table(spark, sf_dir, "documents"))
    d = docs.withColumn("w", F.split("text", " ")).where(
        F.size("w") >= WIN_NGRAM + WIN_W - 1
    )
    gh = F.transform(
        F.sequence(F.lit(1), F.size("w") - (WIN_NGRAM - 1)),
        lambda i: md5_int_col(F.concat_ws(" ", F.slice("w", i, WIN_NGRAM))),
    )
    g = d.select("doc_id", gh.alias("gh"))
    wins = F.transform(
        F.sequence(F.lit(1), F.size("gh") - (WIN_W - 1)),
        lambda j: F.array_min(F.slice("gh", j, WIN_W)),
    )
    from pyspark.sql.window import Window

    fp = lazy_checkpoint(
        g.select("doc_id", F.explode(F.array_distinct(wins)).alias("fp"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .where(F.col("df") <= WIN_MAX_DF)
        .drop("df")
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= WIN_MIN_SHARED)
    )


# -- cross-source overlap matrix ----------------------------------------------

OVL_NGRAM = 4

_OVL_GRAM_SQL = md5_int_sql(f"array_to_string(list_slice(w, i, i + {OVL_NGRAM - 1}), ' ')")


@register(
    "source_overlap_matrix",
    oracle=f"""
WITH sg AS (
    SELECT DISTINCT source, gram FROM (
        SELECT source,
               unnest(list_transform(range(1, len(w) - {OVL_NGRAM - 2}),
                                     i -> {_OVL_GRAM_SQL})) AS gram
        FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
        WHERE len(w) >= {OVL_NGRAM}
    )
),
tot AS (SELECT source, COUNT(*) AS n_grams FROM sg GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS shared_grams,
       CAST(ta.n_grams AS BIGINT) AS grams_a,
       CAST(tb.n_grams AS BIGINT) AS grams_b
FROM sg a
JOIN sg b ON a.gram = b.gram AND a.source < b.source
JOIN tot ta ON ta.source = a.source
JOIN tot tb ON tb.source = b.source
GROUP BY a.source, b.source, ta.n_grams, tb.n_grams
""",
    doc="Pairwise source contamination matrix: shared distinct word "
    "4-grams between every source pair, with per-source totals.",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance hygiene for corpus mixing: how much content do two
    ingest sources share? ONE wide shuffle total: grams group into
    per-gram sorted source-sets (map-side partial collect_set, so the
    exchange carries partial sets, not raw gram rows), then source
    pairs expand map-side from each set — at most (|sources| choose 2)
    rows per gram, never a gram-keyed self-join of the corpus. The
    quadratic stays in source-space; per-source totals come off the
    same grouped relation (exchange reuse) and ride a broadcast join.
    ~40% faster than the sg⋈sg formulation it replaced, identical
    output."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    d = docs.withColumn("w", F.split("text", " ")).where(F.size("w") >= OVL_NGRAM)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - (OVL_NGRAM - 1)),
        lambda i: md5_int_col(F.concat_ws(" ", F.slice("w", i, OVL_NGRAM))),
    )
    gs = (
        d.select("source", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    )
    pairs = F.expr(
        """flatten(transform(srcs, (x, i) ->
        transform(slice(srcs, i + 2, size(srcs)), y -> struct(x AS sa, y AS sb))))"""
    )
    shared = (
        gs.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.sa").alias("source_a"), F.col("p.sb").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    tot = (
        gs.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    ta = tot.select(F.col("source").alias("sa"), F.col("n_grams").alias("grams_a"))
    tb = tot.select(F.col("source").alias("sb"), F.col("n_grams").alias("grams_b"))
    return (
        shared.join(F.broadcast(ta), F.col("source_a") == F.col("sa"))
        .join(F.broadcast(tb), F.col("source_b") == F.col("sb"))
        .select("source_a", "source_b", "shared_grams", "grams_a", "grams_b")
    )


# -- temperature-scaled source mixture ----------------------------------------

MIX_TARGET = 200  # expected sample size across the whole corpus
_SQRT_FP = 1_000_000  # fixed-point scale for floor(sqrt(count) * 1e6)


@register(
    "sample_temperature_mixture",
    oracle=f"""
WITH c AS (
    SELECT source, COUNT(*) AS c,
           CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) * {_SQRT_FP}) AS BIGINT) AS sfp
    FROM documents GROUP BY source
),
t AS (SELECT SUM(sfp) AS tot_sfp FROM c),
r AS (
    SELECT source,
           CAST(LEAST(10000, ({MIX_TARGET} * sfp * 10000) // (tot_sfp * c))
                AS BIGINT) AS rate_bp
    FROM c, t
)
SELECT d.source, r.rate_bp,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN {md5_int_sql("CAST(doc_id AS VARCHAR)")} % 10000
                          < r.rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN {md5_int_sql("CAST(doc_id AS VARCHAR)")} % 10000
                          < r.rate_bp THEN n_chars ELSE 0 END) AS BIGINT)
           AS kept_chars
FROM documents d JOIN r ON d.source = r.source
GROUP BY d.source, r.rate_bp
""",
    doc=f"Temperature-scaled (α=0.5) source mixture: per-source keep rates "
    f"∝ sqrt(count)/count toward an expected {MIX_TARGET}-doc sample; "
    "deterministic hash selection.",
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial temperature sampling (the mixture-reweighting stage of
    every multilingual / multi-source training run, α = 0.5): a head
    source's share is damped toward the tail by sampling ∝ count^α.

    Cross-engine exactness: sqrt is IEEE-correctly-rounded in both
    engines, so ``floor(sqrt(c) * 1e6)`` is the same BIGINT; from there
    everything is integer math — the normalizer is a SUM of those
    fixed-point values (order-free), per-source rates are integer
    division in basis points, and row selection hashes the stable
    doc_id. No RNG, no float accumulation.

    Scale shape: two vocabulary-of-sources-sized aggregates (partial-agg
    combine makes the per-source count table |sources| rows), a
    broadcast of the ~|sources|-row rate table back onto the doc
    stream — the corpus itself shuffles ONCE (the final per-source
    rollup); selection is a map-side predicate. At 100 TB with a larger
    MIX_TARGET, move the rate arithmetic to DECIMAL(38,0) to keep the
    numerator in range; the plan is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    counts = counts.select(
        "source",
        "c",
        F.floor(F.sqrt(F.col("c").cast("double")) * _SQRT_FP)
        .cast("long")
        .alias("sfp"),
    )
    tot = counts.agg(F.sum("sfp").alias("tot_sfp"))
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.least(
                F.lit(10000),
                F.expr(f"({MIX_TARGET} * sfp * 10000) DIV (tot_sfp * c)"),
            )
            .cast("long")
            .alias("rate_bp"),
        )
    )
    kept = (md5_int_col(F.col("doc_id").cast("string")) % 10000) < F.col("rate_bp")
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source", "rate_bp")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
    )


# -- per-domain quota cap (deterministic reservoir) ---------------------------

QUOTA_K = 15  # max docs kept per source


@register(
    "domain_quota_cap",
    oracle=f"""
WITH ranked AS (
    SELECT source, doc_id, n_chars,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {md5_int_sql("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS rk
    FROM documents
),
tot AS (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source)
SELECT r.source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(r.n_chars) AS BIGINT) AS kept_chars,
       CAST(SUM(r.doc_id) AS BIGINT) AS kept_doc_sum,
       t.n_total
FROM ranked r JOIN tot t ON r.source = t.source
WHERE r.rk <= {QUOTA_K}
GROUP BY r.source, t.n_total
""",
    doc=f"Per-domain quota: keep at most {QUOTA_K} docs per source, "
    "selected by deterministic hash rank (reservoir-equivalent).",
)
def domain_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps — the anti-head-domain stage of a crawl
    pipeline (a handful of giant domains must not dominate the mix).
    Selection ranks by md5(doc_id): a uniform, stable order, so the cap
    is a deterministic reservoir sample — reproducible across runs and
    engines, stable under re-crawls.

    Scale shape: ONE hash shuffle on source; the rank filter sits
    directly above its Window, so Spark plans WindowGroupLimit and every
    map task pre-truncates its groups to K rows before the exchange —
    the shuffle carries O(K·|domains|) rows, not the corpus. The
    per-source totals are a broadcast-sized partial-agg table joined
    back at the end. kept_doc_sum + kept_chars prove both engines chose
    the SAME K documents, not merely the same counts."""
    docs = load_table(spark, sf_dir, "documents")
    h = md5_int_col(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    kept = (
        docs.select("source", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= QUOTA_K)
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
            F.sum("doc_id").cast("long").alias("kept_doc_sum"),
        )
        .join(F.broadcast(totals), "source")
    )


# -- product quantization (PQ codebook assignment) ----------------------------

PQ_M = 4  # subspaces
PQ_SUB = 16  # dims per subspace (4 × 16 = 64-dim vectors)
PQ_K = 8  # codes per subspace (seed codebook: first 8 vectors by vec_id)
PQ_FXP = 1 << 20  # fixed-point scale for subspace distances


def _pq_d_sql(s: int) -> str:
    """Left-assoc 16-term squared-L2 sum for subspace ``s`` (DuckDB)."""
    terms = [
        f"(e.dvec[{s * PQ_SUB + i}] - s.sv[{s * PQ_SUB + i}])"
        f" * (e.dvec[{s * PQ_SUB + i}] - s.sv[{s * PQ_SUB + i}])"
        for i in range(1, PQ_SUB + 1)
    ]
    return " + ".join(terms)


_PQ_KEYS_SQL = ",\n           ".join(
    f"CAST(FLOOR(({_pq_d_sql(s)}) * {PQ_FXP}) AS BIGINT) * {PQ_K} + s.seed_id"
    f" AS key_{s}"
    for s in range(PQ_M)
)
_PQ_CODE_SQL = " + ".join(f"(MIN(key_{s}) % {PQ_K}) * {PQ_K ** s}" for s in range(PQ_M))
_PQ_DIST_SQL = " + ".join(f"MIN(key_{s}) // {PQ_K}" for s in range(PQ_M))


@register(
    "embedding_pq_codes",
    oracle=f"""
WITH emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
    FROM embeddings
),
seeds AS (
    SELECT vec_id AS seed_id, dvec AS sv FROM emb ORDER BY vec_id LIMIT {PQ_K}
),
dist AS (
    SELECT e.vec_id,
           {_PQ_KEYS_SQL}
    FROM emb e CROSS JOIN seeds s
)
SELECT vec_id,
       CAST({_PQ_CODE_SQL} AS BIGINT) AS pq_code,
       CAST({_PQ_DIST_SQL} AS BIGINT) AS distortion_fp
FROM dist GROUP BY vec_id
""",
    doc=f"Product quantization: {PQ_M}×{PQ_SUB}-dim subspaces, {PQ_K}-entry "
    "seed codebooks; per-vector packed code + fixed-point distortion.",
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression — the memory side of billion-scale ANN (IVF-PQ):
    each vector stores M small codes instead of M·d floats. Codebooks
    here are seeded deterministically (the first K vectors), standing in
    for trained k-means codebooks; assignment is the real thing.

    Determinism: each subspace distance floors to fixed-point BIGINT
    immediately, and argmin runs on the integer key ``dfp*K + seed_id``
    (MIN gives nearest-then-lowest-seed with no float compares in the
    tie path). The squared-L2 folds accumulate in the same left-assoc
    order as the oracle's literal sum, so the doubles are bit-identical
    before flooring.

    Scale shape: the codebook is K full vectors — broadcast at any
    corpus size; distances are a broadcast nested loop (K candidates
    per vector) followed by ONE vec_id-keyed partial-agg (the MIN
    collapses K rows per vector map-side). At IVF-PQ scale the same
    plan nests inside each IVF list."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("dvec")
    )
    seeds = (
        emb.orderBy("vec_id")
        .limit(PQ_K)
        .select(F.col("vec_id").alias("seed_id"), F.col("dvec").alias("sv"))
    )

    def key(s: int):
        d = F.aggregate(
            F.zip_with(
                F.slice("dvec", s * PQ_SUB + 1, PQ_SUB),
                F.slice("sv", s * PQ_SUB + 1, PQ_SUB),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        return (F.floor(d * PQ_FXP).cast("long") * PQ_K + F.col("seed_id")).alias(
            f"key_{s}"
        )

    dist = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id", *[key(s) for s in range(PQ_M)]
    )
    mins = dist.groupBy("vec_id").agg(
        *[F.min(f"key_{s}").alias(f"k{s}") for s in range(PQ_M)]
    )
    code = sum(
        (F.col(f"k{s}") % PQ_K) * F.lit(PQ_K**s) for s in range(PQ_M)
    )
    dfp = None
    for s in range(PQ_M):
        t = F.expr(f"k{s} DIV {PQ_K}")
        dfp = t if dfp is None else dfp + t
    return mins.select(
        "vec_id",
        code.cast("long").alias("pq_code"),
        dfp.cast("long").alias("distortion_fp"),
    )


# -- deterministic output sharding --------------------------------------------

N_SHARDS = 32


@register(
    "corpus_shard_assign",
    oracle=f"""
SELECT {md5_int_sql("CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(doc_id) AS BIGINT) AS doc_checksum
FROM documents
GROUP BY shard
""",
    doc=f"Deterministic {N_SHARDS}-way output sharding by doc-id hash: "
    "per-shard doc/char/source balance stats.",
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenized-shard writer's partitioning contract: every doc
    lands in shard ``md5(doc_id) % N`` — stable under re-runs and
    incremental ingestion (a re-crawled doc rewrites the SAME shard),
    independent of cluster layout, and uniform (the md5 high bits make
    per-shard char mass concentrate tightly around corpus/N — the
    output columns are the balance audit a data loader wants).

    Scale shape: one narrow scan + one {N_SHARDS}-key partial agg; the
    production write is ``df.repartition(N, shard_expr)`` with this
    audit as the post-write check. No skew by construction — the hash
    decorrelates shard from source/length."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (md5_int_col(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard")
    return docs.groupBy(shard).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.sum("doc_id").cast("long").alias("doc_checksum"),
    )


# -- PQ ADC search (asymmetric distance over codes) ---------------------------

ADC_TOPK = 10


def _pq_probe_d_sql(s: int) -> str:
    """16-term squared-L2 between probe ``p.pv`` and seed ``s.sv`` in
    subspace ``s`` (DuckDB, left-assoc)."""
    terms = [
        f"(p.pv[{s * PQ_SUB + i}] - s.sv[{s * PQ_SUB + i}])"
        f" * (p.pv[{s * PQ_SUB + i}] - s.sv[{s * PQ_SUB + i}])"
        for i in range(1, PQ_SUB + 1)
    ]
    return " + ".join(terms)


def _pq_exact_d_sql() -> str:
    """Per-subspace-floored fixed-point exact distance probe↔vector."""
    return " + ".join(
        f"CAST(FLOOR(({_pq_probe_d_sql(s).replace('s.sv', 'e.dvec')}) * {PQ_FXP})"
        f" AS BIGINT)"
        for s in range(PQ_M)
    )


_ADC_LUT_SQL = ",\n           ".join(
    f"CAST(FLOOR(({_pq_probe_d_sql(s)}) * {PQ_FXP}) AS BIGINT) AS l{s}"
    for s in range(PQ_M)
)
_ADC_CODES_SQL = ", ".join(f"MIN(key_{s}) % {PQ_K} AS c{s}" for s in range(PQ_M))
_ADC_JOIN_SQL = "\n    ".join(
    f"JOIN lut t{s} ON t{s}.seed_id = c.c{s}" for s in range(PQ_M)
)
_ADC_SUM_SQL = " + ".join(f"t{s}.l{s}" for s in range(PQ_M))


@register(
    "ann_pq_adc_topk",
    oracle=f"""
WITH emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
    FROM embeddings
),
seeds AS (
    SELECT vec_id AS seed_id, dvec AS sv FROM emb ORDER BY vec_id LIMIT {PQ_K}
),
probe AS (SELECT dvec AS pv FROM emb ORDER BY vec_id DESC LIMIT 1),
dist AS (
    SELECT e.vec_id,
           {_PQ_KEYS_SQL}
    FROM emb e CROSS JOIN seeds s
),
codes AS (SELECT vec_id, {_ADC_CODES_SQL} FROM dist GROUP BY vec_id),
lut AS (
    SELECT s.seed_id,
           {_ADC_LUT_SQL}
    FROM seeds s CROSS JOIN probe p
),
adc AS (
    SELECT c.vec_id, CAST({_ADC_SUM_SQL} AS BIGINT) AS adc_fp
    FROM codes c
    {_ADC_JOIN_SQL}
),
top AS (
    SELECT vec_id, adc_fp,
           ROW_NUMBER() OVER (ORDER BY adc_fp, vec_id) AS rk
    FROM adc
)
SELECT t.rk, t.vec_id, t.adc_fp,
       CAST({_pq_exact_d_sql()} AS BIGINT) AS exact_fp
FROM top t JOIN emb e ON e.vec_id = t.vec_id CROSS JOIN probe p
WHERE t.rk <= {ADC_TOPK}
""",
    doc=f"PQ ADC search: top-{ADC_TOPK} nearest to a probe by "
    "asymmetric distance over codes, with exact distances alongside.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The search half of IVF-PQ: the probe never touches raw corpus
    vectors — each candidate costs M integer LOOKUPS into a K×M table
    of probe↔codebook distances (the LUT), which is why PQ scans
    billions of codes on one machine. Exact distances join back for
    the final top-k only, mirroring production re-ranking.

    Determinism: codes and LUT entries floor to fixed-point BIGINT
    per subspace, so ADC sums, ranking, and the exact re-check are all
    integer math; ties break on vec_id.

    Scale shape: the LUT is K×M values (bytes — broadcast trivially);
    the code table is M small ints per vector; ADC is M broadcast hash
    joins that AQE keeps map-side, then TakeOrderedAndProject keeps
    per-task top-k — no global sort, no shuffle of the code stream.
    Only the final 10-row re-rank touches full vectors."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("dvec")
    )
    seeds = (
        emb.orderBy("vec_id")
        .limit(PQ_K)
        .select(F.col("vec_id").alias("seed_id"), F.col("dvec").alias("sv"))
    )
    probe = emb.orderBy(F.desc("vec_id")).limit(1).select(F.col("dvec").alias("pv"))

    def dfp(s: int, left: str, right: str):
        return F.floor(
            F.aggregate(
                F.zip_with(
                    F.slice(left, s * PQ_SUB + 1, PQ_SUB),
                    F.slice(right, s * PQ_SUB + 1, PQ_SUB),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            * PQ_FXP
        ).cast("long")

    dist = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        *[
            (dfp(s, "dvec", "sv") * PQ_K + F.col("seed_id")).alias(f"key_{s}")
            for s in range(PQ_M)
        ],
    )
    codes = dist.groupBy("vec_id").agg(
        *[(F.min(f"key_{s}") % PQ_K).alias(f"c{s}") for s in range(PQ_M)]
    )
    lut = seeds.crossJoin(F.broadcast(probe)).select(
        "seed_id", *[dfp(s, "sv", "pv").alias(f"l{s}") for s in range(PQ_M)]
    )
    adc = codes
    for s in range(PQ_M):
        lut_s = lut.select(F.col("seed_id").alias(f"c{s}"), f"l{s}")
        adc = adc.join(F.broadcast(lut_s), f"c{s}")
    adc = adc.select(
        "vec_id", sum(F.col(f"l{s}") for s in range(PQ_M)).cast("long").alias("adc_fp")
    )
    top = adc.orderBy("adc_fp", "vec_id").limit(ADC_TOPK)
    w = Window.orderBy("adc_fp", "vec_id")  # ADC_TOPK rows post-limit
    top = top.withColumn("rk", F.row_number().over(w))
    exact = sum(dfp(s, "dvec", "pv") for s in range(PQ_M)).cast("long")
    return (
        top.join(emb, "vec_id")
        .crossJoin(F.broadcast(probe))
        .select("rk", "vec_id", "adc_fp", exact.alias("exact_fp"))
    )


# -- length-bucketed batching / padding-waste audit ---------------------------

PAD_BATCH = 8  # sequences per batch within a length bucket


@register(
    "corpus_padding_waste",
    oracle=f"""
WITH d AS (
    SELECT len(string_split(text, ' ')) AS n_tok FROM documents
),
b AS (
    SELECT n_tok,
           CASE WHEN n_tok <= 1 THEN 1
                ELSE 1 << length(bin(n_tok - 1)) END AS bucket
    FROM d
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST((COUNT(*) + {PAD_BATCH - 1}) // {PAD_BATCH} AS BIGINT) AS n_batches,
       CAST(SUM(n_tok) AS BIGINT) AS token_sum,
       CAST(COUNT(*) * bucket AS BIGINT) AS padded_sum,
       CAST(COUNT(*) * bucket - SUM(n_tok) AS DOUBLE)
           / (COUNT(*) * bucket) AS waste_frac
FROM b GROUP BY bucket
""",
    doc="Length-bucketed batching audit: power-of-two sequence buckets, "
    "batch counts, and the padding-waste fraction per bucket.",
)
def corpus_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batching-efficiency audit sequence-bucketed training runs
    before fixing its bucket boundaries: pad-to-longest batching wastes
    compute on padding tokens, and bucketing sequences by length bounds
    that waste. Each document lands in the next power-of-two token
    bucket (computed with integer bit arithmetic — ``1 <<
    length(bin(n-1))``, no float log, identical in both engines); per
    bucket the audit reports document and batch counts (batch size
    {PAD_BATCH}) and the padding-waste fraction ``(padded - real) /
    padded`` a pad-to-bucket batcher would spend.

    Plan: one shuffle-free projection computes token counts and bucket
    ids; the only exchange is the ~log(max_len)-row bucket rollup with
    map-side partial aggregation. At 100 TB this is a single linear
    scan — the audit output (a dozen rows) then sets the real batcher's
    bucket boundaries.""".format(PAD_BATCH=PAD_BATCH)
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    # F.shiftleft takes a literal int shift — the column-valued shift
    # needs the SQL form, where both operands are expressions.
    bucket = F.when(n_tok <= 1, F.lit(1)).otherwise(
        F.expr(
            "shiftleft(1, length(bin(CAST(size(split(text, ' ')) - 1 AS BIGINT))))"
        )
    )
    b = docs.select(n_tok.alias("n_tok"), bucket.cast("long").alias("bucket"))
    padded = F.count(F.lit(1)) * F.col("bucket")
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr(f"CAST((COUNT(1) + {PAD_BATCH - 1}) DIV {PAD_BATCH} AS BIGINT)").alias(
                "n_batches"
            ),
            F.sum("n_tok").cast("long").alias("token_sum"),
            padded.cast("long").alias("padded_sum"),
            (
                (padded - F.sum("n_tok")).cast("double") / padded
            ).alias("waste_frac"),
        )
    )


# -- per-source lexical diversity (Simpson index + TTR) -----------------------


@register(
    "corpus_diversity_simpson",
    oracle="""
WITH wc AS (
    SELECT source, word, COUNT(*) AS c FROM (
        SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ) GROUP BY source, word
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(COUNT(*) AS DOUBLE) / SUM(c) AS ttr,
       CAST(SUM(c * (c - 1)) AS DOUBLE)
           / (SUM(c) * (SUM(c) - 1)) AS simpson,
       1.0 - CAST(SUM(c * (c - 1)) AS DOUBLE)
           / (SUM(c) * (SUM(c) - 1)) AS diversity
FROM wc GROUP BY source
""",
    doc="Per-source lexical diversity: token/type counts, type-token "
    "ratio, and the unbiased Simpson concentration index (1 - Simpson "
    "= diversity).",
)
def corpus_diversity_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity measurement — the number a mixing decision
    reads before up- or down-weighting a source: a crawl slice that is
    mostly the same boilerplate has low lexical diversity even after
    near-dup removal. Entropy is the textbook metric but needs logs
    (transcendental — not bit-reproducible across engines); the
    unbiased SIMPSON index ``Σ c·(c−1) / (N·(N−1))`` — the probability
    two tokens drawn without replacement are the same type — is a pure
    RATIONAL with the same ordering, so every value here is an exact
    integer ratio evaluated identically in both engines (repo-wide
    determinism pattern: tfidf's rational idf, DSIR's ppm weights).

    Plan: one (source, word) groupBy with map-side partial aggregation
    collapses the token stream to per-source vocabularies; the
    per-source reduction is a |sources|-key aggregate over vocab-sized
    input. At 100 TB: the first shuffle moves (source, word, partial
    count) — vocabulary-sized, not token-sized — and nothing downstream
    touches the corpus again. Integer bounds: Σc(c−1) ≤ N² (~5e12 at
    sf1's 2.2M tokens/source) — BIGINT-safe until ~3e9 tokens per
    source, then DECIMAL(38) with the shape unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tokens = F.sum("c")
    n_types = F.count(F.lit(1))
    rep = F.sum(F.col("c") * (F.col("c") - 1))
    return wc.groupBy("source").agg(
        n_tokens.cast("long").alias("n_tokens"),
        n_types.cast("long").alias("n_types"),
        (n_types.cast("double") / n_tokens).alias("ttr"),
        (rep.cast("double") / (n_tokens * (n_tokens - 1))).alias("simpson"),
        (
            F.lit(1.0) - rep.cast("double") / (n_tokens * (n_tokens - 1))
        ).alias("diversity"),
    )


# -- cluster-balanced resampling ----------------------------------------------


@register(
    "embedding_cluster_resample",
    oracle=f"""
WITH {_CENTROID_BEST_SQL},
assign AS (SELECT vec_id, c_label FROM best WHERE rk = 1),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT c_label) AS BIGINT) AS k
    FROM assign
),
capd AS (SELECT (n_total // 2) // k AS cap FROM tot),
ranked AS (
    SELECT c_label, vec_id,
           ROW_NUMBER() OVER (PARTITION BY c_label
               ORDER BY {md5_int_sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS rnk
    FROM assign
)
SELECT c_label AS assigned_label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN rnk <= cap THEN 1 ELSE 0 END) AS BIGINT) AS kept_n,
       CAST(MIN(cap) AS BIGINT) AS cap
FROM ranked CROSS JOIN capd
GROUP BY c_label
""",
    doc="Cluster-balanced resampling: assign vectors to label-seeded "
    "centroids, cap every cluster at an equal share of a 50% budget "
    "(hash-ranked keeps) — the DataComp-style diversity-preserving "
    "downsample.",
)
def embedding_cluster_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced cluster sampling — the embedding-space analogue of
    ``domain_quota_cap``: dominant clusters (near-duplicate content
    modes) are capped at the same per-cluster budget as rare ones, so
    the downsampled corpus keeps its coverage diversity instead of its
    raw frequency mix (the DataComp / cluster-pruning recipe).

    Plan: assignment is the shared broadcast Lloyd step
    (``_centroid_best``); the budget is ONE 1-row aggregate broadcast
    back; ranking inside clusters is one hash-partitioned row_number
    window. Selection by md5(vec_id) rank is deterministic and
    partition-order-free. At 100 TB the per-cluster window would rank
    millions of rows per cluster — there you'd swap rank-≤-cap for a
    per-cluster hash THRESHOLD (quantile of the md5 space, as
    sample_temperature_mixture does) and keep the same semantics
    approximately; the exact-rank form here is the oracle-checkable
    reference semantics."""
    best = _centroid_best(spark, sf_dir)
    assign = best.select("vec_id", "c_label")
    tot = assign.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.countDistinct("c_label").cast("long").alias("k"),
    )
    capd = tot.select(F.expr("(n_total div 2) div k").alias("cap"))
    w = Window.partitionBy("c_label").orderBy(
        md5_int_col(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = assign.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(capd))
        .groupBy(F.col("c_label").alias("assigned_label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("rnk") <= F.col("cap"), 1).otherwise(0))
            .cast("long")
            .alias("kept_n"),
            F.min("cap").cast("long").alias("cap"),
        )
    )


# -- data-constrained epoch planning ------------------------------------------

EPOCH_BUDGET_X = 3  # total training-token budget, as a multiple of the corpus
EPOCH_MAX_FXP = 4 * 1_000_000  # repeat ceiling: 4 epochs (fixed-point 1e6)


@register(
    "corpus_epoch_plan",
    oracle=f"""
WITH per_src AS (
    SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM per_src
)
SELECT source,
       n_tokens,
       (corpus_tokens * {EPOCH_BUDGET_X}) // k AS target_tokens,
       CASE WHEN ((corpus_tokens * {EPOCH_BUDGET_X}) // k) * 1000000 // n_tokens
                 > {EPOCH_MAX_FXP}
            THEN {EPOCH_MAX_FXP}
            ELSE ((corpus_tokens * {EPOCH_BUDGET_X}) // k) * 1000000 // n_tokens
       END AS epochs_fp,
       CASE WHEN ((corpus_tokens * {EPOCH_BUDGET_X}) // k) * 1000000 // n_tokens
                 > {EPOCH_MAX_FXP}
            THEN n_tokens * 4
            ELSE (corpus_tokens * {EPOCH_BUDGET_X}) // k
       END AS alloc_tokens
FROM per_src CROSS JOIN tot
""",
    doc=f"Data-constrained epoch plan: split a {EPOCH_BUDGET_X}x-corpus "
    "token budget equally across sources, convert each share to "
    "fixed-point epochs capped at 4 repeats (the Muennighoff et al. "
    "repeat ceiling), and report the allocated tokens per source.",
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch allocation under a fixed training-token budget — the
    planning stage of data-constrained pretraining (Muennighoff et al.
    2023: repeating a source up to ~4 epochs is nearly as good as fresh
    data, beyond that returns decay). Each source gets an equal share
    of a corpus-multiple budget; a small source hits the 4-epoch
    ceiling and surrenders the remainder, a large one repeats
    fractionally.

    Scale: token counts are one map-side ``size(split(...))`` sum into
    a |sources|-row aggregate — the corpus is touched once, with no
    explode (counting words needs the array's length, not its
    elements). The budget is a 1-row broadcast; all plan arithmetic is
    integer fixed-point (truncating div, same semantics both engines),
    so the plan is reproducible anywhere. At 100 TB this query IS the
    production shape: the mixture planner reads per-source token
    counts from catalog stats and emits a KB-sized plan table."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("long").alias("corpus_tokens"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = per_src.crossJoin(F.broadcast(tot))
    target = f"(corpus_tokens * {EPOCH_BUDGET_X}) div k"
    raw_fp = f"({target}) * 1000000 div n_tokens"
    return j.select(
        "source",
        "n_tokens",
        F.expr(target).alias("target_tokens"),
        F.expr(
            f"CASE WHEN {raw_fp} > {EPOCH_MAX_FXP} THEN {EPOCH_MAX_FXP} "
            f"ELSE {raw_fp} END"
        ).alias("epochs_fp"),
        F.expr(
            f"CASE WHEN {raw_fp} > {EPOCH_MAX_FXP} THEN n_tokens * 4 "
            f"ELSE {target} END"
        ).alias("alloc_tokens"),
    )
