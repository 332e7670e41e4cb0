"""Text relevance scoring: BM25 over whitespace tokens — the ES
`match` query's ranking function (Lucene BM25Similarity), re-expressed
as native Spark expressions so scoring a 100 TB corpus is one codegen
scan plus a broadcast of corpus-level statistics.

Reference analog: Beats ships log lines to Elasticsearch where BM25
ranks them at query time; in a Spark-first engine the same ranking is
a batch scoring pass (e.g. relevance-filtering a training corpus
against seed queries).

Scale shape: corpus stats (N, avgdl, per-term df) reduce to ONE tiny
aggregate row cross-joined (broadcast) back to the scan — facts are
never shuffled; per-doc term frequencies are HOF filters over the
token array inside the same projection. Top-k selection is the
row_number()<=k WindowGroupLimit form.

Determinism: idf uses ln() — not guaranteed correctly rounded across
engines in general, so scores are rounded to 4dp and the oracle gate
verifies the actual inputs bitwise at every test scale (the q48
percentile recipe); all other arithmetic is IEEE-identical double
chains evaluated in the same order on both engines.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beats_spark.training import text


def _tf(words: Column, term: str) -> Column:
    # factory keeps the lambda arity exactly 1 (pyspark HOF contract)
    return F.size(F.filter(words, lambda w: w == term))


def bm25_scores(
    df: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for a bag of query `terms`:

        score = Σ_t idf(t) · tf_t·(k1+1) / (tf_t + k1·(1−b+b·dl/avgdl))
        idf(t) = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))   (Lucene form)

    Terms sum in the given order (sequential fold) so a SQL twin
    reproduces the identical double. Returns (id, dl, tf_<i>…, score)."""
    # the tokenize expression repeats per consumer on purpose: aliasing
    # it once would not share work — Catalyst collapses the projection
    # and re-inlines the split into every tf anyway (the put_fields
    # lesson), and a persist barrier would cost more than |terms|
    # extra splits in one codegen span
    words = text.words(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(words).cast("long").alias("dl"),
        *[_tf(words, t).cast("long").alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    score: Column = F.lit(0.0)
    for i in range(len(terms)):
        dfi = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - dfi + F.lit(0.5))
            / (dfi + F.lit(0.5))
        )
        tf = F.col(f"tf_{i}").cast("double")
        denom = tf + F.lit(float(k1)) * (
            F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl").cast("double") / avgdl
        )
        score = score + idf * tf * F.lit(float(k1) + 1.0) / denom
    return scored.select(
        F.col(id_col),
        F.col("dl"),
        *[F.col(f"tf_{i}") for i in range(len(terms))],
        score.alias("score"),
    )


def bm25_topk(
    df: DataFrame,
    terms: Sequence[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25, rounded to 4dp with id tiebreak.

    Global top-k does NOT get Spark's WindowGroupLimit rewrite (that
    needs a partition spec), so a rank-filtered window would drag the
    whole corpus into one partition. orderBy().limit(k) instead plans
    as TakeOrderedAndProject — every map task keeps its local top-k,
    the driver merges tasks·k rows; the rank window then runs over the
    k-row result only."""
    scored = bm25_scores(df, terms, id_col=id_col, text_col=text_col, k1=k1, b=b)
    s4 = F.round(F.col("score"), 4).alias("score4")
    top = (
        scored.select(F.col(id_col), F.col("dl"), s4)
        .orderBy(F.desc("score4"), F.col(id_col))
        .limit(int(k))
    )
    w = Window.orderBy(F.desc("score4"), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k_rrf: int = 60,
    topk: int = 10,
    scale: int = 10**12,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09)
    — the hybrid-retrieval combiner Elasticsearch ships as the `rrf`
    retriever: fused(q, d) = Σ_r 1/(k + rank_r(q, d)) over every
    ranking r that retrieved d for q. Rank-based fusion needs no
    score calibration between a lexical ranker (BM25) and a vector
    ranker (cosine ANN) — exactly why it is the default hybrid-search
    device.

    Determinism: contributions are the scaled integers
    floor(scale / (k + rank)) summed as BIGINTs — an IEEE 1/(k+r)
    float sum is fold-order-dependent and engine-unreproducible,
    while the integer form is exact in any engine and preserves the
    fused ORDER for every practical depth (distinct rational sums
    stay distinct at scale=10^12 for rank depths << 10^6). Final
    order: (score desc, doc id asc).

    SCALE SHAPE: one union of the (already small) per-ranker top-N
    tables, one map-side-combined groupBy on (query, doc), and the
    per-query top-k as the row_number()<=k WindowGroupLimit rewrite —
    input volume is rankers × queries × N rows, never corpus-sized;
    the heavy lifting stays in the rankers themselves.

    Each input needs columns (query_col, id_col, rank_col); rank is
    1-based. Output: (query_col, id_col, n_lists, score_scaled, rank).
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    if k_rrf < 0 or topk < 1:
        raise ValueError(f"rrf_fuse: bad k_rrf={k_rrf} / topk={topk}")
    contrib = F.expr(f"{scale} div ({k_rrf} + {rank_col})")
    uni = None
    for r in rankings:
        part = r.select(query_col, id_col, contrib.alias("c"))
        uni = part if uni is None else uni.unionAll(part)
    fused = uni.groupBy(query_col, id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.sum("c").cast("long").alias("score_scaled"),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("score_scaled"), F.col(id_col)
    )
    return fused.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= topk
    )


def significant_terms(
    docs: DataFrame,
    fg: Column,
    k: int = 20,
    scale: int = 10**6,
    min_fg_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The Elasticsearch `significant_terms` aggregation (reference
    ecosystem parity: the "what is DISTINCTIVE about this slice"
    query ES runs over Beats-shipped logs), scored with ES's default
    JLH heuristic: (fgPct - bgPct) * (fgPct / bgPct), doc-frequency
    based, background = the WHOLE corpus (superset semantics, like
    ES). Curation twin: domain-distinctive vocabulary of a source.

    Exactness: JLH is the rational fg·B·(fg·B - bg·F) / (F²·B·bg);
    emitted as the scaled integer (scale·fg·(fg·B - bg·F)) div
    (F²·bg) — pure BIGINT, so DuckDB replays every score bit-for-bit.
    Only positively-associated terms are kept (fg·B - bg·F > 0),
    which matches ES's behavior. On negatives the twins would still
    agree: Spark `div` and DuckDB `//` both truncate toward zero
    (DuckDB 1.0: -7 // 2 = -3). Intermediates stay < 2^63 for
    corpora up to ~10^5 fg docs × 10^7 bg docs at scale=10^6 — ANSI
    mode raises loudly rather than wrapping past that (swap scale
    down or scores to DOUBLE for truly huge slices; ranking is what
    matters there).

    SCALE SHAPE: one exploded-distinct-term scan feeding ONE
    map-side-combined groupBy(term) with a conditional count for the
    foreground — never two corpus scans; F/B are a 1-row aggregate
    collected driver-side (two scalars). Global top-k plans as
    TakeOrderedAndProject (orderBy().limit(k)), never a
    single-partition window.
    """
    w = docs.select(
        fg.cast("boolean").alias("__fg__"),
        F.explode(F.array_distinct(text.words(F.col(text_col)))).alias("term"),
    )
    tot = docs.agg(
        F.count_if(fg).alias("F"), F.count(F.lit(1)).alias("B")
    ).collect()[0]
    f_docs, b_docs = int(tot["F"]), int(tot["B"])
    if f_docs == 0 or b_docs == 0:
        raise ValueError("significant_terms: empty foreground or corpus")
    counts = w.groupBy("term").agg(
        F.count_if(F.col("__fg__")).alias("fg_docs"),
        F.count(F.lit(1)).alias("bg_docs"),
    )
    lift = (F.col("fg_docs") * b_docs) - (F.col("bg_docs") * f_docs)
    score = F.expr(
        f"({scale} * fg_docs * ((fg_docs * {b_docs}) - (bg_docs * {f_docs}))) "
        f"div ({f_docs} * {f_docs} * bg_docs)"
    )
    top = (
        counts.filter((F.col("fg_docs") >= min_fg_docs) & (lift > 0))
        .select("term", "fg_docs", "bg_docs", score.alias("score_scaled"))
        .orderBy(F.desc("score_scaled"), F.col("term"))
        .limit(int(k))
    )
    rw = Window.orderBy(F.desc("score_scaled"), F.col("term"))
    return top.withColumn("rank", F.row_number().over(rw))
