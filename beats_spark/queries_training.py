"""Oracle-checked queries for the training-data ops + multiline reader.

Same contract as queries.py: Spark implementation + DuckDB oracle over
the testdata views, identical column names/rounding on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from beats_spark.queries import query
from beats_spark.training import dedup, similarity, text


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the small testdata parquet is one scan partition; spread before
    # per-row-heavy text expressions (a 100 TB corpus splits naturally)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


# --- q11: exact dedup (hash-groupBy) -----------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    both = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1000000))
    kept = dedup.exact_dedup(both)
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_keep_ids"),
    )


@query("q11_dedup_exact", q_dedup_exact)
def q_dedup_exact_oracle() -> str:
    return """
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents),
kept AS (SELECT min(doc_id) AS keep_id FROM unioned GROUP BY text)
SELECT count(*) AS n_kept, CAST(sum(keep_id) AS BIGINT) AS sum_keep_ids FROM kept"""


# --- q12: text stats + language id -------------------------------------------

_SW_SQL = {
    lang: ", ".join(f"'{w}'" for w in ws) for lang, ws in text.STOPWORDS.items()
}


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.with_text_stats(_docs(spark, sf_dir))
    return (
        out.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_words").alias("sum_words"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_tokens_bpe").alias("sum_bpe"),
            F.sum(F.round(F.col("stopword_ratio") * 1e6).cast("long")).alias(
                "sum_swr_ppm"
            ),
        )
        .orderBy("lang_pred")
    )


@query("q12_text_stats", q_text_stats)
def q_text_stats_oracle() -> str:
    hits = {
        lang: (
            f"len(list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+'), "
            f"w -> w IN ({sql})))"
        )
        for lang, sql in _SW_SQL.items()
    }
    g = f"greatest({hits['de']}, {hits['en']}, {hits['es']}, {hits['fr']})"
    lang_pred = (
        f"CASE WHEN {g} = 0 THEN 'und' "
        f"WHEN {hits['de']} = {g} THEN 'de' "
        f"WHEN {hits['en']} = {g} THEN 'en' "
        f"WHEN {hits['es']} = {g} THEN 'es' ELSE 'fr' END"
    )
    bpe = (
        "len(regexp_extract_all(text, "
        "'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+'))"
    )
    return f"""
WITH t AS (
  SELECT {lang_pred} AS lang_pred,
         len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS n_words,
         length(text) AS n_chars,
         {bpe} AS n_bpe,
         {hits['en']} AS en_sw
  FROM documents)
SELECT lang_pred, count(*) AS n, CAST(sum(n_words) AS BIGINT) AS sum_words,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars, CAST(sum(n_bpe) AS BIGINT) AS sum_bpe,
       CAST(sum(CAST(round(en_sw * 1e6 / greatest(n_words, 1)) AS BIGINT)) AS BIGINT) AS sum_swr_ppm
FROM t GROUP BY lang_pred ORDER BY lang_pred"""


# --- q13: brute-force cosine top-k -------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rank + compare at 4 decimals: Spark (double accumulate) and
    # DuckDB list_cosine_similarity disagree by 1 ulp at the 6th
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(embs, queries, k=5, round_to=4)
    return out.select("query_id", "neighbor_id", "rank", "cos_sim").orderBy(
        "query_id", "rank"
    )


@query("q13_cosine_topk", q_cosine_topk)
def q_cosine_topk_oracle() -> str:
    return """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qv, e.embedding), 4) AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank"""


# --- q14: n-gram Jaccard pairs ----------------------------------------------


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted twins (VERDICT r03 item 1): the natural corpus has no
    pair above threshold at sf0.01/sf0.1, so the driver-scale gate was
    proving 0 = 0. Union five exact-text twins (doc_id + 100000,
    derived from the table itself — same arithmetic in the oracle) so
    the compare is non-vacuous at EVERY scale: each twin yields a
    jaccard-1.0 pair, and the shingle/join/threshold machinery must
    produce exactly those rows on both engines."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 40)
    twins = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").unionByName(twins)
    return dedup.ngram_jaccard_pairs(corpus, threshold=0.05).select(
        "id_a", "id_b", "n_common", "jaccard"
    ).orderBy("id_a", "id_b")


@query("q14_jaccard_pairs", q_jaccard_pairs)
def q_jaccard_pairs_oracle() -> str:
    sh = (
        "list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1), "
        "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2])))"
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 5),
w AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS ws
  FROM corpus),
sh AS (SELECT doc_id, {sh} AS s FROM w),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS n_common,
         len(a.s) AS n_a, len(b.s) AS n_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, n_common,
       round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) AS jaccard
FROM pairs
WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.05
ORDER BY id_a, id_b"""


# --- q60: winnowing shared-passage pairs -------------------------------------


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint pairs — catches a 20-word passage
    quoted inside an otherwise-unrelated document, the regime where
    whole-document Jaccard/MinHash are diluted below any usable
    threshold. Planted quoters (doc_id + 200000) embed the first 20
    words of docs 0-4 between fixed filler — derived from the table
    itself with engine-portable arithmetic (slice + join on the same
    whitespace split both engines use), so the compare is non-vacuous
    at every scale: each quoter must pair with its source."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 30).select("doc_id", "text")
    ws = text.words(F.col("text"))
    passage = F.array_join(F.slice(ws, 1, 20), " ")
    quoters = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta "),
            passage,
            F.lit(" iota kappa lambda mu nu xi omicron pi"),
        ).alias("text"),
    )
    corpus = docs.unionByName(quoters)
    return dedup.winnow_dup_pairs(
        corpus, k=4, w=4, min_shared=2, portable=True
    ).orderBy("id_a", "id_b")


@query("q60_winnow", q_winnow)
def q_winnow_oracle() -> str:
    split = "string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')"
    gram = (
        "('0x' || substring(md5(concat(ws[i], ' ', ws[i+1], ' ', ws[i+2], "
        "' ', ws[i+3])), 1, 15))::BIGINT"
    )
    return f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
src AS (SELECT doc_id, {split} AS ws FROM base WHERE doc_id < 5),
quot AS (
  SELECT doc_id + 200000 AS doc_id,
         concat('alpha beta gamma delta epsilon zeta eta theta ',
                array_to_string(ws[1:20], ' '),
                ' iota kappa lambda mu nu xi omicron pi') AS text
  FROM src),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM quot),
wz AS (SELECT doc_id, {split} AS ws FROM corpus),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 3, 0) + 1), i -> {gram}) AS hs
  FROM wz),
f AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, (CASE WHEN len(hs) = 0 THEN 0
                          ELSE greatest(len(hs) - 3, 1) END) + 1),
           p -> list_min(hs[p:p+3]))) AS fps
  FROM g),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.fps, b.fps)) AS n_shared,
         len(a.fps) AS n_a, len(b.fps) AS n_b
  FROM f a JOIN f b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, n_shared,
       round(CAST(n_shared AS DOUBLE) / least(n_a, n_b), 6) AS overlap
FROM pairs WHERE n_shared >= 2
ORDER BY id_a, id_b"""


# --- q61: exact-k stratified sample ------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source reservoir: exactly min(7, n_src) docs
    per source, picked by salted-hash rank — the training-mix
    subsampling primitive. Output is 7 * |sources| rows at every
    scale; the plan must show WindowGroupLimit (map-side local top-k
    before the one exchange)."""
    from beats_spark.training import curate

    docs = _docs(spark, sf_dir)
    return (
        curate.stratified_sample(docs, group_col="source", k=7)
        .select("source", "sample_rank", "doc_id")
        .orderBy("source", "sample_rank")
    )


@query("q61_stratified_sample", q_stratified_sample)
def q_stratified_sample_oracle() -> str:
    return """
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id) AS sample_rank
  FROM documents)
SELECT source, sample_rank, doc_id FROM ranked
WHERE sample_rank <= 7 ORDER BY source, sample_rank"""


# --- q64: weighted (importance) sampling --------------------------------------


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level Bernoulli sampling with keep probability = a
    length-derived quality proxy (least(n_chars, 2000)/2000) — both
    engines compute the weight AND the 52-bit hash-uniform with
    identical IEEE bits, so the kept set matches row-for-row."""
    from beats_spark.training import curate

    docs = _docs(spark, sf_dir)
    w = (F.least(F.col("n_chars"), F.lit(2000)) / F.lit(2000.0)).alias("w")
    kept = curate.weighted_sample(docs.select("doc_id", "source", w), "w")
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("sum_ids"))
        .orderBy("source")
    )


@query("q64_weighted_sample", q_weighted_sample)
def q_weighted_sample_oracle() -> str:
    return """
WITH t AS (
  -- divisors pinned to IEEE DOUBLE via '…'::DOUBLE (advice-r04 #3):
  -- bare numeric literals parse as DECIMAL and only happen to promote
  -- to DOUBLE in current DuckDB; a row-hash-exact oracle must not
  -- depend on version-specific decimal promotion rules
  SELECT doc_id, source,
         ('0x' || substring(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT::DOUBLE
           / '4503599627370496'::DOUBLE AS u,
         least(n_chars, 2000)::DOUBLE / '2000'::DOUBLE AS w
  FROM documents)
SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM t WHERE u < w GROUP BY source ORDER BY source"""


# --- q15: multiline sessionization ------------------------------------------


def q_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a deterministic line stream from orders (each order
    emits 1 header + N '  at ' continuation lines; unique offsets so
    the window order is total), merge, aggregate — sessionization with
    an exact SQL twin."""
    from beats_spark.readers.multiline import merge_lines

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lines = orders.select(
        (F.col("o_orderkey") % 8).alias("source"),
        F.col("o_orderkey").alias("ok"),
        F.explode(F.sequence(F.lit(1), F.col("o_orderkey") % 5 + 1)).alias("i"),
    ).select(
        "source",
        (F.col("ok") * 10 + F.col("i")).alias("offset"),
        F.when(F.col("i") == 1, F.concat(F.lit("Error in order "), F.col("ok")))
        .otherwise(F.concat(F.lit("  at line "), F.col("i")))
        .alias("message"),
    )
    merged = merge_lines(
        lines,
        {"type": "pattern", "pattern": r"^\s+at ", "match": "after"},
        group_col="source",
        order_col="offset",
    )
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("n_lines").alias("n_lines_total"),
        F.sum(F.length("message")).alias("sum_msg_len"),
    ).orderBy("source")


@query("q15_multiline", q_multiline)
def q_multiline_oracle() -> str:
    return """
WITH lines AS (
  SELECT o_orderkey % 8 AS source,
         o_orderkey * 10 + i AS offset,
         CASE WHEN i = 1
              THEN concat('Error in order ', o_orderkey)
              ELSE concat('  at line ', i) END AS message
  FROM orders, unnest(range(1, o_orderkey % 5 + 2)) AS t(i)),
marked AS (
  SELECT *,
         CASE WHEN NOT regexp_matches(message, '^\\s+at ')
                   OR row_number() OVER (PARTITION BY source ORDER BY "offset") = 1
              THEN 1 ELSE 0 END AS start
  FROM lines),
grouped AS (
  SELECT *, sum(start) OVER (
    PARTITION BY source ORDER BY "offset"
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS evt
  FROM marked),
merged AS (
  SELECT source, evt,
         string_agg(message, chr(10) ORDER BY "offset") AS message,
         count(*) AS n_lines
  FROM grouped GROUP BY source, evt)
SELECT source, count(*) AS n_events, CAST(sum(n_lines) AS BIGINT) AS n_lines_total,
       CAST(sum(length(message)) AS BIGINT) AS sum_msg_len
FROM merged GROUP BY source ORDER BY source"""


# --- q24: token-window (exact substring) dedup over the token table ---------


def q_token_window_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup over the BASELINE token arrays: k-token
    windows shared across documents. The token generator reuses values
    modulo the per-doc PRNG, so repeated windows across docs exist by
    construction."""
    from beats_spark.datagen import load_token_events
    from beats_spark.training.dedup import token_window_dup_groups

    df = load_token_events(spark, sf_dir)
    groups = token_window_dup_groups(df, k=8, min_docs=2)
    return groups.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("n_docs").alias("sum_docs"),
        F.sum(F.pmod(F.col("wh"), F.lit(1000003))).alias("hash_check"),
    )


@query("q24_token_window_dups", q_token_window_dups)
def q_token_window_dups_oracle() -> str:
    from beats_spark.datagen import token_events_sql

    return f"""
WITH events AS ({token_events_sql('duckdb')}),
wins AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(0, len(tokens) - 8 + 1),
           i -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT), tokens[i + 1 : i + 8]),
                  (acc, x) -> (acc * 31 + x) % 2147483647)))) AS wh
  FROM events WHERE len(tokens) >= 8),
grouped AS (
  SELECT wh, count(DISTINCT doc_id) AS n_docs
  FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2)
SELECT count(*) AS n_windows, CAST(sum(n_docs) AS BIGINT) AS sum_docs,
       CAST(sum(wh % 1000003) AS BIGINT) AS hash_check
FROM grouped"""


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q83: exact-substring dedup spans (Lee et al. 2022) over the
    BASELINE token arrays — merged per-doc token ranges covered by
    8-token windows shared across >= 2 documents, i.e. exactly the
    ranges the removal pass would cut. Checksums pin every span's
    (doc, start, end) triple, so the island merge arithmetic itself
    is oracle-verified."""
    from beats_spark.datagen import load_token_events
    from beats_spark.training.dedup import substring_dup_spans

    df = load_token_events(spark, sf_dir)
    spans = substring_dup_spans(df, k=8, min_docs=2)
    dkey = F.substring("id", 5, 12).cast("long")
    span_hash = F.pmod(
        dkey * 1000003 + F.col("span_start") * 97 + F.col("span_end"),
        F.lit(2147483647),
    )
    return spans.agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count_distinct("id").alias("n_docs"),
        F.sum("span_len").alias("removed_tokens"),
        F.sum(span_hash).alias("hash_check"),
    )


@query("q83_substring_spans", q_substring_spans)
def q_substring_spans_oracle() -> str:
    from beats_spark.datagen import token_events_sql

    return f"""
WITH events AS ({token_events_sql('duckdb')}),
wins AS (
  SELECT doc_id, pos,
         list_reduce(list_prepend(CAST(0 AS BIGINT), tokens[pos + 1 : pos + 8]),
                     (acc, x) -> (acc * 31 + x) % 2147483647) AS wh
  FROM (SELECT doc_id, tokens,
               unnest(range(0, len(tokens) - 8 + 1)) AS pos
        FROM events WHERE len(tokens) >= 8)),
dup AS (
  SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
hits AS (
  SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (wh)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS brk
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM marked),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
  FROM isl GROUP BY doc_id, g)
SELECT count(*) AS n_spans,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(e - s + 1) AS BIGINT) AS removed_tokens,
       CAST(sum((CAST(doc_id[5:] AS BIGINT) * 1000003 + s * 97 + e)
                % 2147483647) AS BIGINT) AS hash_check
FROM spans"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q84: DSIR importance selection (Xie et al. NeurIPS'23) — rank
    the raw documents corpus by hashed-unigram+bigram importance
    toward the src0 target slice; top-20 with exact integer micro
    scores. The oracle replays the identical bucket hash, add-one
    smoothed ln-ratio, and per-bucket 1e6 rounding."""
    from beats_spark.training.curate import dsir_topk

    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("source") == "src0")
    return dsir_topk(docs, target, k=20, n_buckets=1024)


@query("q84_dsir_select", q_dsir_select)
def q_dsir_select_oracle() -> str:
    from beats_spark.training.curate import dsir_bucket_sql, ngram_all_sql

    uni = ngram_all_sql(1)
    bi = ngram_all_sql(2)
    bucket = dsir_bucket_sql("gram", 1024)
    return f"""
WITH ws_t AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(
           regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'),
           w -> w != '') AS ws
  FROM documents),
g AS (
  SELECT doc_id, source, {bucket} AS bucket
  FROM (SELECT doc_id, source,
               unnest(list_concat({uni}, {bi})) AS gram FROM ws_t)),
rc AS (SELECT bucket, count(*) AS rc FROM g GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS tc FROM g WHERE source = 'src0'
       GROUP BY bucket),
tot AS (SELECT (SELECT CAST(sum(rc) AS BIGINT) FROM rc) AS R,
               (SELECT CAST(sum(tc) AS BIGINT) FROM tc) AS T),
w AS (
  SELECT rc.bucket,
         CAST(round((ln(COALESCE(tc.tc, 0) + 1) - ln(T + 1024)
                     - ln(rc.rc + 1) + ln(R + 1024)) * 1e6) AS BIGINT) AS wm
  FROM rc LEFT JOIN tc USING (bucket), tot),
s AS (
  SELECT g.doc_id, count(*) AS n_grams,
         CAST(sum(w.wm) AS BIGINT) AS score_micro
  FROM g JOIN w USING (bucket) GROUP BY g.doc_id)
SELECT doc_id, n_grams, score_micro FROM s
ORDER BY score_micro DESC, doc_id LIMIT 20"""


def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q86: unigram-LM perplexity quality filter (CCNet, Wenzek et
    al. 2020) over the BASELINE token table: fit the token unigram
    model in one map-side-combined count, score every doc's mean NLL
    in one scan via a broadcast weight join, then histogram docs into
    quarter-nat perplexity bands per source — the CCNet head/middle/
    tail partition generalized to exact integer bands."""
    from beats_spark.datagen import load_token_events
    from beats_spark.training.pack import unigram_nll

    df = load_token_events(spark, sf_dir)
    nll = unigram_nll(df, keep_cols=("source",))
    return (
        nll.groupBy(
            "source", F.expr("mean_nll_micro div 250000").alias("band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tok"),
            F.sum(F.pmod(F.col("nll_micro_sum"), F.lit(1000003))).alias(
                "nll_check"
            ),
        )
        .orderBy("source", "band")
    )


@query("q86_perplexity_filter", q_perplexity_filter)
def q_perplexity_filter_oracle() -> str:
    from beats_spark.datagen import token_events_sql

    return f"""
WITH events AS ({token_events_sql('duckdb')}),
ex AS (SELECT doc_id, source, unnest(tokens) AS t FROM events),
cnt AS (SELECT t, count(*) AS c FROM ex GROUP BY t),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM cnt),
w AS (SELECT t, CAST(round((ln(N) - ln(c)) * 1e6) AS BIGINT) AS nll_micro
      FROM cnt, tot),
per AS (
  SELECT doc_id, source, count(*) AS n_tok,
         CAST(sum(nll_micro) AS BIGINT) AS s
  FROM ex JOIN w USING (t) GROUP BY doc_id, source)
SELECT source, CAST((s // n_tok) // 250000 AS BIGINT) AS band,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
       CAST(sum(s % 1000003) AS BIGINT) AS nll_check
FROM per GROUP BY source, band ORDER BY source, band"""


_BPE_MERGES_N = 24


def _bpe_demo_merges() -> list[tuple[str, str]]:
    """The q87 tokenizer artifact: a merge table trained once, pure
    Python, on the static document vocabulary with unit counts — both
    the Spark query and the oracle generator call this, so the table
    is a shared deterministic constant (a stand-in for the
    tokenizer.json a production encode consumes)."""
    from beats_spark.datagen import _DOC_VOCAB
    from beats_spark.training.bpe import bpe_train

    return bpe_train({w: 1 for w in _DOC_VOCAB}, _BPE_MERGES_N)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q87: distributed BPE tokenization (Sennrich et al. 2016) of the
    documents corpus with a fixed merge table: encode each DISTINCT
    word once through the Arrow-batched pandas UDF (vocabulary-bounded
    Python work — the corpus never enters Python), broadcast-join the
    (word → tokens) map back to the occurrence stream, aggregate
    per-source token counts + a tokenization checksum. The oracle
    replays the encode as one rank-ordered list_reduce sweep per merge
    (exact equivalence lemma + property test in training/bpe.py)."""
    from beats_spark.training import bpe
    from beats_spark.training.text import words

    merges = _bpe_demo_merges()
    docs = _docs(spark, sf_dir)
    occ = docs.select(
        "source", F.explode(words(F.col("text"))).alias("word")
    )
    enc = bpe.bpe_encode_words(occ.select("word").distinct(), merges)
    enc = enc.select(
        "word",
        F.size("bpe_tokens").alias("n_bpe"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.array_join("bpe_tokens", "|").cast("binary")), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(1000003),
        ).alias("tok_h"),
    )
    return (
        occ.join(F.broadcast(enc), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_bpe").alias("sum_bpe_tokens"),
            F.sum("tok_h").alias("tok_check"),
        )
        .orderBy("source")
    )


@query("q87_bpe_encode", q_bpe_encode)
def q_bpe_encode_oracle() -> str:
    from beats_spark.training.bpe import bpe_tokens_sql_ctes

    merges = _bpe_demo_merges()
    ctes = bpe_tokens_sql_ctes("dwords", merges)
    return f"""
WITH ws_t AS (
  SELECT source,
         list_filter(string_split_regex(
           regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'),
           w -> w != '') AS ws
  FROM documents),
occ AS (SELECT source, unnest(ws) AS word FROM ws_t),
dwords AS (SELECT DISTINCT word FROM occ),
{ctes},
enc AS (
  SELECT word, len(toks) AS n_bpe,
         (('0x' || substring(md5(array_to_string(toks, '|')), 1, 15))::BIGINT
          % 1000003) AS tok_h
  FROM t{len(merges)})
SELECT source, count(*) AS n_words,
       CAST(sum(n_bpe) AS BIGINT) AS sum_bpe_tokens,
       CAST(sum(tok_h) AS BIGINT) AS tok_check
FROM occ JOIN enc USING (word) GROUP BY source ORDER BY source"""


# --- q25: quality scoring (C4/Gopher-style filter) ---------------------------


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.with_text_stats(_docs(spark, sf_dir))
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.round(F.col("quality") * 1e6).cast("long")).alias(
                "sum_quality_ppm"
            ),
            F.sum(F.round(F.col("mean_word_len") * 1e6).cast("long")).alias(
                "sum_mwl_ppm"
            ),
        )
        .orderBy("source")
    )


@query("q25_quality", q_quality)
def q_quality_oracle() -> str:
    sw = ", ".join(f"'{w}'" for w in text.STOPWORDS["en"])
    return f"""
WITH t AS (
  SELECT source,
         length(text) AS n_chars,
         len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS n_words,
         len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digits,
         len(list_filter(list_transform(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'),
                                        w -> lower(w)),
                         w -> w IN ({sw}))) AS en_sw
  FROM documents),
f AS (
  SELECT source,
         round(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 6) AS mwl,
         round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
         round(CAST(n_digits AS DOUBLE) / greatest(n_chars, 1), 6) AS digit_ratio,
         round(CAST(en_sw AS DOUBLE) / greatest(n_words, 1), 6) AS swr,
         n_words
  FROM t),
q AS (
  SELECT source, mwl,
         round((least(CAST(n_words AS DOUBLE) / 20.0, 1.0)
              + greatest(0.0, 1.0 - punct_ratio * 5)
              + greatest(0.0, 1.0 - digit_ratio * 5)
              + least(swr * 4, 1.0)) / 4, 6) AS quality
  FROM f)
SELECT source, count(*) AS n_docs,
       CAST(sum(CAST(round(quality * 1e6) AS BIGINT)) AS BIGINT) AS sum_quality_ppm,
       CAST(sum(CAST(round(mwl * 1e6) AS BIGINT)) AS BIGINT) AS sum_mwl_ppm
FROM q GROUP BY source ORDER BY source"""


# --- q33: sequence packing ---------------------------------------------------


def q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length training sequences (L=512) from the token table:
    concatenate tokens in doc_id order, cut every L. Integrity via
    per-sequence token count / doc count / sum / position-weighted sum
    (pins every token to its slot). Two-phase distributed prefix scan —
    no single-task window (training/pack.py)."""
    from beats_spark.datagen import load_token_events
    from beats_spark.training import pack

    return pack.pack_stats(load_token_events(spark, sf_dir), seq_len=512)


@query("q33_pack", q_pack)
def q_pack_oracle() -> str:
    from beats_spark.datagen import token_events_sql

    return f"""
WITH t AS ({token_events_sql('duckdb')}),
o AS (
  SELECT doc_id, tokens, n_tok,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM t),
e AS (
  SELECT doc_id,
         off + unnest(range(0, n_tok)) AS gpos,
         unnest(tokens) AS tok
  FROM o)
SELECT CAST(gpos // 512 AS BIGINT) AS seq_id,
       count(*) AS n_tokens,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS sum_tok,
       CAST(sum(tok * (gpos % 512 + 1)) AS BIGINT) AS weighted_tok
FROM e GROUP BY seq_id ORDER BY seq_id"""


# --- q30: duplicate clusters (connected components) --------------------------

_WS_SQL = "string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')"


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: docs sharing a RARE 3-gram
    (global frequency exactly 2) are edges; connected components over
    those edges assign every doc its cluster (min doc_id) + size.

    Scale shape: the frequency cap bounds self-join fan-out at
    f(f-1)/2 = 1 pair per gram — candidate volume is linear in the
    gram count, never quadratic in docs; the CC loop shuffles only
    (node, min) pairs per round (training/cluster.py)."""
    from beats_spark.training import cluster, curate

    docs = _docs(spark, sf_dir)
    ex = docs.select(
        F.col("doc_id"),
        F.explode(curate.word_ngrams(F.col("text"), 3)).alias("g"),
    )
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("f"))
    rare = ex.join(freq.filter(F.col("f") == 2).select("g"), "g", "left_semi")
    a = rare.select("g", F.col("doc_id").alias("id_a"))
    b = rare.select("g", F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        cluster.dup_clusters(pairs)
        .select(F.col("id").alias("doc_id"), "cluster_id", "n_members")
        .orderBy("doc_id")
    )


@query("q30_dup_clusters", q_dup_clusters)
def q_dup_clusters_oracle() -> str:
    from beats_spark.training import curate

    g3 = curate.ngram_sql(3)
    return f"""
WITH RECURSIVE w AS (
  SELECT doc_id, {_WS_SQL} AS ws FROM documents),
sh AS (SELECT doc_id, unnest({g3}) AS g FROM w),
freq AS (SELECT g FROM sh GROUP BY g HAVING count(*) = 2),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  JOIN freq r ON r.g = a.g),
edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS n_members
FROM lab ORDER BY doc_id"""


# --- q31: benchmark decontamination ------------------------------------------


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training decontamination: benchmark = every 17th doc
    (doc_id % 17 == 3); flag corpus docs sharing any word 5-gram with
    it. Benchmark gram set broadcast; corpus never shuffles on gram."""
    from beats_spark.training import curate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 3)
    corpus = docs.filter(F.col("doc_id") % 17 != 3)
    return curate.contamination(corpus, bench, n=5).orderBy("doc_id")


@query("q31_decontaminate", q_decontaminate)
def q_decontaminate_oracle() -> str:
    from beats_spark.training import curate

    g5 = curate.ngram_sql(5)
    return f"""
WITH w AS (
  SELECT doc_id, {_WS_SQL} AS ws FROM documents),
g AS (SELECT doc_id, unnest({g5}) AS g FROM w),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 17 = 3),
corpus AS (SELECT * FROM g WHERE doc_id % 17 <> 3)
SELECT c.doc_id, count(*) AS n_hits
FROM corpus c JOIN bench b ON c.g = b.g
GROUP BY c.doc_id ORDER BY c.doc_id"""


# --- q32: deterministic train/val/test split ---------------------------------


def q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket split (96/2/2 by salted md5 of doc_id) — stable
    under corpus growth and engine-portable, unlike randomSplit."""
    from beats_spark.training import curate

    docs = _docs(spark, sf_dir)
    return (
        curate.assign_split(docs)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split", "lang")
    )


@query("q32_split", q_split)
def q_split_oracle() -> str:
    return """
WITH b AS (
  SELECT lang, n_chars,
         ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk
  FROM documents),
s AS (SELECT CASE WHEN bk < 96 THEN 'train' WHEN bk < 98 THEN 'val'
             ELSE 'test' END AS split, lang, n_chars FROM b)
SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY split, lang ORDER BY split, lang"""


# --- q34: repetition quality signals (Gopher §A1.1) ---------------------------


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source aggregate of the Gopher repetition filters: duplicate
    word fraction, most-frequent-2-gram char fraction, repeated-3-gram
    char fraction (all integer ppm). Line signals are exercised by the
    pytest battery (testdata text is single-line)."""
    rep = text.repetition_features(
        _docs(spark, sf_dir),
        # only the signals aggregated below: skips the per-line
        # multiplicity explode dup_line_char alone needs (ADVICE r03)
        signals=("dup_word", "dup_line", "top2", "dup3"),
    )
    return (
        rep.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dup_word_ppm").alias("sum_dup_word_ppm"),
            F.sum("top2_ppm").alias("sum_top2_ppm"),
            F.sum("dup3_ppm").alias("sum_dup3_ppm"),
            F.sum("dup_line_ppm").alias("sum_dup_line_ppm"),
        )
        .orderBy("source")
    )


@query("q34_repetition", q_repetition)
def q_repetition_oracle() -> str:
    from beats_spark.training import curate

    g2 = curate.ngram_all_sql(2)
    g3 = curate.ngram_all_sql(3)
    return f"""
WITH base AS (
  SELECT doc_id, source, length(text) AS n_chars, {_WS_SQL} AS ws FROM documents),
arr AS (
  SELECT doc_id, source, n_chars, len(ws) AS n_words,
         len(list_distinct(ws)) AS nw_d, ws
  FROM base),
g2c AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest({g2}) AS g FROM base) GROUP BY doc_id, g),
top2 AS (
  SELECT doc_id, c * length(g) AS top2_chars
  FROM (SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM g2c)
  WHERE rn = 1),
g3c AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest({g3}) AS g FROM base) GROUP BY doc_id, g),
d3 AS (
  SELECT doc_id,
         sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS dup3_chars,
         sum(c * length(g)) AS g3_chars
  FROM g3c GROUP BY doc_id),
lns AS (
  SELECT doc_id,
         CASE WHEN length(regexp_replace(text, '^\\n+|\\n+$', '', 'g')) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(regexp_replace(text, '^\\n+|\\n+$', '', 'g'), '\\n+') END AS lines
  FROM documents),
sig AS (
  SELECT a.source,
         CASE WHEN a.n_words > 0 THEN CAST(round(1e6 * (a.n_words - a.nw_d) / a.n_words) AS BIGINT) ELSE 0 END AS dup_word_ppm,
         CASE WHEN a.n_chars > 0 THEN CAST(round(1e6 * coalesce(t.top2_chars, 0) / a.n_chars) AS BIGINT) ELSE 0 END AS top2_ppm,
         CASE WHEN coalesce(d.g3_chars, 0) > 0 THEN CAST(round(1e6 * coalesce(d.dup3_chars, 0) / d.g3_chars) AS BIGINT) ELSE 0 END AS dup3_ppm,
         CASE WHEN len(l.lines) > 0 THEN CAST(round(1e6 * (len(l.lines) - len(list_distinct(l.lines))) / len(l.lines)) AS BIGINT) ELSE 0 END AS dup_line_ppm
  FROM arr a
  LEFT JOIN top2 t ON t.doc_id = a.doc_id
  LEFT JOIN d3 d ON d.doc_id = a.doc_id
  JOIN lns l ON l.doc_id = a.doc_id)
SELECT source, count(*) AS n_docs,
       CAST(sum(dup_word_ppm) AS BIGINT) AS sum_dup_word_ppm,
       CAST(sum(top2_ppm) AS BIGINT) AS sum_top2_ppm,
       CAST(sum(dup3_ppm) AS BIGINT) AS sum_dup3_ppm,
       CAST(sum(dup_line_ppm) AS BIGINT) AS sum_dup_line_ppm
FROM sig GROUP BY source ORDER BY source"""


# --- q35: source-mix rebalancing ----------------------------------------------


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mix flattening: first thin each source to a
    different synthetic share (hash predicate keyed 'thin:' — the
    testdata mix is uniform by construction), then rebalance every
    source down to the smallest source's count via integer rates +
    salted-hash membership. Exact-membership check via sum(doc_id)."""
    from beats_spark.training import curate

    docs = _docs(spark, sf_dir)
    src_num = F.substring(F.col("source"), 4, 10).cast("int")
    thinned = docs.filter(
        curate.split_bucket(F.col("doc_id"), "thin:")
        < F.lit(10) + (src_num * 7) % 81
    )
    kept = curate.rebalance_sources(thinned)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("source")
    )


@query("q35_source_mix", q_source_mix)
def q_source_mix_oracle() -> str:
    return """
WITH thinned AS (
  SELECT doc_id, source FROM documents
  WHERE ('0x' || substring(md5('thin:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        < 10 + (CAST(substring(source, 4) AS INT) * 7) % 81),
counts AS (SELECT source, count(*) AS n FROM thinned GROUP BY source),
rates AS (
  SELECT source,
         least(100, CAST(floor(100 * (SELECT min(n) FROM counts) / CAST(n AS DOUBLE)) AS INT)) AS rate
  FROM counts),
kept AS (
  SELECT t.doc_id, t.source FROM thinned t JOIN rates r USING (source)
  WHERE ('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < r.rate)
SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM kept GROUP BY source ORDER BY source"""


# --- q36: corpus n-gram counts / top-k ----------------------------------------


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level 2-gram frequency mining: top 20 by (occurrences
    desc, gram asc) with document frequency — the n-gram LM count
    primitive; map-side-combined count, min_count tail prune."""
    from beats_spark.training import curate

    return curate.top_ngrams(_docs(spark, sf_dir), n=2, k=20, min_count=2).select(
        "g", "n_occurrences", "n_docs"
    )


@query("q36_top_ngrams", q_top_ngrams)
def q_top_ngrams_oracle() -> str:
    from beats_spark.training import curate

    g2 = curate.ngram_all_sql(2)
    return f"""
WITH w AS (SELECT doc_id, {_WS_SQL} AS ws FROM documents),
g AS (SELECT doc_id, unnest({g2}) AS g FROM w),
c AS (
  SELECT g, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
  FROM g GROUP BY g HAVING count(*) >= 2)
SELECT g, n_occurrences, n_docs FROM c
ORDER BY n_occurrences DESC, g LIMIT 20"""


# --- q37: PII/secret scrubbing -----------------------------------------------


def q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII scrub: deterministic synthetic PII planted from
    orders (emails on every 3rd row, 32-hex secrets on every 7th, IPv4
    on evens, phones on o_orderkey%5<2, plus a version-number
    near-miss that must NOT match ipv4), then redact + per-class
    counts. Redacted-text integrity via the md5-prefix checksum sum."""
    from beats_spark.training import scrub

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ok = F.col("o_orderkey")
    ck = F.col("o_custkey")
    s = lambda c: c.cast("string")  # noqa: E731
    txt = F.concat(
        F.lit("order "),
        s(ok),
        F.when(ok % 3 == 0, F.concat(F.lit(" contact c"), s(ck), F.lit("@mail.example.com"))).otherwise(F.lit(" contact none")),
        F.when(ok % 2 == 0, F.concat(F.lit(" ip 10."), s(ok % 200), F.lit("."), s(ck % 200), F.lit(".7"))).otherwise(F.lit(" v1.2 release")),
        F.when(ok % 7 == 0, F.concat(F.lit(" key "), F.md5(F.concat(F.lit("k"), s(ok))))).otherwise(F.lit("")),
        F.when(ok % 5 < 2, F.concat(F.lit(" call 555-"), s(ok % 900 + 100), F.lit("-"), s(ck % 9000 + 1000))).otherwise(F.lit(" tail")),
    )
    df = orders.select((ok % 4).alias("bucket_id"), txt.alias("text"))
    out = scrub.scrub(df)
    ck8 = F.conv(F.substring(F.md5(F.col("text_redacted")), 1, 8), 16, 10).cast("long")
    return (
        out.groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_email").alias("sum_email"),
            F.sum("n_secret").alias("sum_secret"),
            F.sum("n_ipv4").alias("sum_ipv4"),
            F.sum("n_phone").alias("sum_phone"),
            F.sum(F.length("text_redacted")).alias("sum_len"),
            F.sum(ck8).alias("sum_ck"),
        )
        .orderBy("bucket_id")
    )


@query("q37_scrub", q_scrub)
def q_scrub_oracle() -> str:
    from beats_spark.training import scrub

    p = scrub.patterns_sql()
    cnt = {k: f"len(regexp_extract_all(text, '{pat}'))" for k, (pat, _) in p.items()}
    red = "text"
    for _, (pat, rep) in p.items():
        red = f"regexp_replace({red}, '{pat}', '{rep}', 'g')"
    return f"""
WITH t AS (
  SELECT o_orderkey % 4 AS bucket_id,
         concat('order ', o_orderkey,
           CASE WHEN o_orderkey % 3 = 0
                THEN concat(' contact c', o_custkey, '@mail.example.com')
                ELSE ' contact none' END,
           CASE WHEN o_orderkey % 2 = 0
                THEN concat(' ip 10.', o_orderkey % 200, '.', o_custkey % 200, '.7')
                ELSE ' v1.2 release' END,
           CASE WHEN o_orderkey % 7 = 0
                THEN concat(' key ', md5(concat('k', CAST(o_orderkey AS VARCHAR))))
                ELSE '' END,
           CASE WHEN o_orderkey % 5 < 2
                THEN concat(' call 555-', o_orderkey % 900 + 100, '-', o_custkey % 9000 + 1000)
                ELSE ' tail' END) AS text
  FROM orders),
r AS (
  SELECT bucket_id,
         {cnt['email']} AS n_email,
         {cnt['secret']} AS n_secret,
         {cnt['ipv4']} AS n_ipv4,
         {cnt['phone']} AS n_phone,
         {red} AS red
  FROM t)
SELECT bucket_id, count(*) AS n_rows,
       CAST(sum(n_email) AS BIGINT) AS sum_email,
       CAST(sum(n_secret) AS BIGINT) AS sum_secret,
       CAST(sum(n_ipv4) AS BIGINT) AS sum_ipv4,
       CAST(sum(n_phone) AS BIGINT) AS sum_phone,
       CAST(sum(length(red)) AS BIGINT) AS sum_len,
       CAST(sum(('0x' || substring(md5(red), 1, 8))::BIGINT) AS BIGINT) AS sum_ck
FROM r GROUP BY bucket_id ORDER BY bucket_id"""


# --- q38: curation funnel ------------------------------------------------------


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style filter funnel with first-failing-stage attribution
    (too_short → repetitious words → repetitious 2-gram → low
    stopword density) and per-stage doc + char drop counters — the
    training-corpus analog of the pipeline observer's events.filtered
    accounting. Stage counts sum to the corpus size."""
    from beats_spark.training import curate, text

    docs = _docs(spark, sf_dir)
    # only the two signals the funnel reads — skips the 3-gram and
    # line explodes entirely (code-review r03 finding)
    rep = text.repetition_features(docs, signals=("dup_word", "top2"))
    n_words = text.token_count(F.col("text"))
    swr_ppm = F.when(
        n_words > 0,
        F.round(text.stopword_hits(F.col("text"), "en") * 1e6 / n_words).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    sig = rep.withColumn("n_words", n_words).withColumn("swr_ppm", swr_ppm)
    checks = {
        "too_short": F.col("n_words") >= 35,
        "rep_words": F.col("dup_word_ppm") < 550000,
        "rep_2gram": F.col("top2_ppm") < 30000,
        "low_stopword": F.col("swr_ppm") >= 50000,
    }
    return curate.funnel_counts(sig, checks, weight_col="n_chars").orderBy("stage")


@query("q38_quality_funnel", q_quality_funnel)
def q_quality_funnel_oracle() -> str:
    from beats_spark.training import curate

    g2 = curate.ngram_all_sql(2)
    sw = _SW_SQL["en"]
    return f"""
WITH base AS (
  SELECT doc_id, n_chars, {_WS_SQL} AS ws FROM documents),
arr AS (
  SELECT doc_id, n_chars, len(ws) AS n_words, len(list_distinct(ws)) AS nw_d,
         len(list_filter(list_transform(ws, w -> lower(w)), w -> w IN ({sw}))) AS en_sw,
         ws
  FROM base),
g2c AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest({g2}) AS g FROM base) GROUP BY doc_id, g),
top2 AS (
  SELECT doc_id, c * length(g) AS top2_chars
  FROM (SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM g2c)
  WHERE rn = 1),
sig AS (
  SELECT a.n_chars,
         a.n_words,
         CASE WHEN a.n_words > 0 THEN CAST(round(1e6 * (a.n_words - a.nw_d) / a.n_words) AS BIGINT) ELSE 0 END AS dup_word_ppm,
         CASE WHEN a.n_chars > 0 THEN CAST(round(1e6 * coalesce(t.top2_chars, 0) / a.n_chars) AS BIGINT) ELSE 0 END AS top2_ppm,
         CASE WHEN a.n_words > 0 THEN CAST(round(1e6 * a.en_sw / a.n_words) AS BIGINT) ELSE 0 END AS swr_ppm
  FROM arr a LEFT JOIN top2 t ON t.doc_id = a.doc_id),
st AS (
  SELECT CASE WHEN NOT (n_words >= 35) THEN 'too_short'
              WHEN NOT (dup_word_ppm < 550000) THEN 'rep_words'
              WHEN NOT (top2_ppm < 30000) THEN 'rep_2gram'
              WHEN NOT (swr_ppm >= 50000) THEN 'low_stopword'
              ELSE 'kept' END AS stage,
         n_chars
  FROM sig)
SELECT stage, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_weight
FROM st GROUP BY stage ORDER BY stage"""


# --- q39: token vocabulary histogram + coverage -------------------------------


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-audit primitive over the BASELINE token table: top-20
    token ids by frequency with cumulative token-mass coverage (ppm).
    The cumulative window runs on the aggregated vocab-sized histogram,
    never the token stream."""
    from beats_spark.datagen import load_token_events
    from beats_spark.training import pack

    return pack.vocab_stats(load_token_events(spark, sf_dir), k=20).orderBy("rank")


@query("q39_vocab", q_vocab)
def q_vocab_oracle() -> str:
    from beats_spark.datagen import token_events_sql

    return f"""
WITH t AS ({token_events_sql('duckdb')}),
h AS (
  SELECT token, count(*) AS n
  FROM (SELECT unnest(tokens) AS token FROM t) GROUP BY token),
r AS (
  SELECT token, n,
         sum(n) OVER (ORDER BY n DESC, token
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         row_number() OVER (ORDER BY n DESC, token) AS rank
  FROM h),
tot AS (SELECT sum(n) AS total FROM h)
SELECT rank, token, CAST(n AS BIGINT) AS n,
       CAST(round(1e6 * cum / total) AS BIGINT) AS coverage_ppm
FROM r, tot WHERE rank <= 20 ORDER BY rank"""


# --- q74: link-graph authority rank (exact integer PageRank) -----------------


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Citation-graph curation signal (round 5): rank every document
    by 3-iteration PageRank over a deterministic synthetic link graph
    — doc i cites (i·7+1) % n, (i·13+5) % n, (i·29+11) % n (duplicate
    targets dedup'd, so out-degree is 1-3 and the 18/deg weights stay
    integral). The score is the exact integer-scaled recurrence
    T_3 = rank_3·n·360³ (training/cluster.pagerank_scaled), so the
    DuckDB twin reproduces every BIGINT bit-for-bit — no grouped
    double sums anywhere. The n scalar is a count(), never a
    collect.

    Scale shape: edges persist partitioned on src once; each of the 3
    iterations moves only the skinny (node, T) table plus one
    map-side-combined groupBy(dst) — the canonical PageRank-on-Spark
    layout (bucket the edge table at 100 TB and the one repartition
    disappears too)."""
    from beats_spark.training import cluster

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    targets = F.array(
        (F.col("doc_id") * 7 + 1) % n,
        (F.col("doc_id") * 13 + 5) % n,
        (F.col("doc_id") * 29 + 11) % n,
    )
    edges = (
        docs.select(F.col("doc_id").alias("src"), F.explode(targets).alias("dst"))
        .distinct()
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    return (
        cluster.pagerank_scaled(edges, nodes, iterations=3)
        .select(F.col("node").alias("doc_id"), "pr_scaled")
        .orderBy("doc_id")
    )


@query("q74_pagerank", q_pagerank)
def q_pagerank_oracle() -> str:
    return """
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
edges AS (
  SELECT DISTINCT id AS src, dst
  FROM nodes, nn,
       UNNEST([(id*7 + 1) % n, (id*13 + 5) % n, (id*29 + 11) % n]) AS t(dst)),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
ew AS (SELECT e.src, e.dst, 18 // d AS w FROM edges e JOIN deg USING (src)),
r0 AS (SELECT id, CAST(1 AS BIGINT) AS t FROM nodes),
c1 AS (SELECT dst, CAST(SUM(t * w) AS BIGINT) AS s
       FROM ew JOIN r0 ON ew.src = r0.id GROUP BY dst),
r1 AS (SELECT id, CAST(54 + 17 * COALESCE(s, 0) AS BIGINT) AS t
       FROM nodes LEFT JOIN c1 ON id = dst),
c2 AS (SELECT dst, CAST(SUM(t * w) AS BIGINT) AS s
       FROM ew JOIN r1 ON ew.src = r1.id GROUP BY dst),
r2 AS (SELECT id, CAST(54 * 360 + 17 * COALESCE(s, 0) AS BIGINT) AS t
       FROM nodes LEFT JOIN c2 ON id = dst),
c3 AS (SELECT dst, CAST(SUM(t * w) AS BIGINT) AS s
       FROM ew JOIN r2 ON ew.src = r2.id GROUP BY dst),
r3 AS (SELECT id, CAST(54 * 360 * 360 + 17 * COALESCE(s, 0) AS BIGINT) AS t
       FROM nodes LEFT JOIN c3 ON id = dst)
SELECT id AS doc_id, t AS pr_scaled FROM r3 ORDER BY doc_id"""


# --- q80: triangle counts (degree-oriented, curation link signal) ------------


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation over the q74 citation
    family treated UNDIRECTED, plus a planted K12 clique on doc_id
    < 12 so the gate is non-vacuous at every scale (each clique
    member closes ≥ C(11,2) = 55 triangles; the organic family adds
    data-dependent ones on top). Exercises cluster.triangle_counts —
    degree orientation bounds the wedge volume at O(m^1.5) however
    skewed the degree distribution (see its docstring)."""
    from beats_spark.training import cluster

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    targets = F.array(
        (F.col("doc_id") * 7 + 1) % n,
        (F.col("doc_id") * 13 + 5) % n,
        (F.col("doc_id") * 29 + 11) % n,
    )
    base = docs.select(
        F.col("doc_id").alias("src"), F.explode(targets).alias("dst")
    )
    ids = spark.range(12).select(F.col("id"))
    clique = (
        ids.alias("l")
        .join(ids.alias("r"), F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("src"), F.col("r.id").alias("dst"))
    )
    edges = base.unionAll(clique)
    nodes = docs.select(F.col("doc_id").alias("node"))
    return (
        cluster.triangle_counts(edges, nodes)
        .select(F.col("node").alias("doc_id"), "n_tri")
        .orderBy("doc_id")
    )


@query("q80_triangles", q_triangles)
def q_triangles_oracle() -> str:
    return """
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
base AS (
  SELECT id AS src, dst
  FROM nodes, nn,
       UNNEST([(id*7 + 1) % n, (id*13 + 5) % n, (id*29 + 11) % n]) AS t(dst)),
clique AS (
  SELECT l.id AS src, r.id AS dst FROM nodes l JOIN nodes r ON l.id < r.id
  WHERE l.id < 12 AND r.id < 12),
canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM (SELECT src, dst FROM base UNION ALL SELECT src, dst FROM clique)
  WHERE src <> dst),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT a AS node FROM canon UNION ALL SELECT b AS node FROM canon)
  GROUP BY node),
orient AS (
  SELECT CASE WHEN (da.d, c.a) < (db.d, c.b) THEN c.a ELSE c.b END AS u,
         CASE WHEN (da.d, c.a) < (db.d, c.b) THEN c.b ELSE c.a END AS v
  FROM canon c JOIN deg da ON da.node = c.a JOIN deg db ON db.node = c.b),
wedges AS (
  SELECT e1.u AS apex, e1.v AS x, e2.v AS y
  FROM orient e1 JOIN orient e2 ON e1.u = e2.u AND e1.v < e2.v),
tris AS (
  SELECT w.apex, w.x, w.y
  FROM wedges w JOIN canon c ON c.a = w.x AND c.b = w.y),
per_node AS (
  SELECT node, COUNT(*) AS n_tri
  FROM tris, UNNEST([apex, x, y]) AS m(node) GROUP BY node)
SELECT id AS doc_id, CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri
FROM nodes LEFT JOIN per_node ON node = id
ORDER BY doc_id"""


# --- q81: Bloom-filter decontamination (constant-size broadcast) --------------


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q31's decontamination semantics through curate.bloom_
    contamination: the benchmark gram set compresses to a 2^18-bit /
    k=4 Bloom filter (32 KB broadcast regardless of benchmark size —
    the shape that still works when the eval battery's distinct grams
    no longer fit a broadcast hash relation). Membership — including
    the deterministic false positives of the md5 double-hash scheme —
    is replayed bit-for-bit by the DuckDB twin, which joins each
    gram's 4 positions against the set-bit table and demands all 4
    match. Planted contaminated docs (bench texts re-issued as corpus
    ids +300000, the q14 twin recipe) keep the gate non-vacuous at
    every scale — the natural corpus yields only a handful of hits."""
    from beats_spark.training import curate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 3)
    planted = bench.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    corpus = docs.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id", "text"
    ).unionByName(planted)
    return curate.bloom_contamination(
        corpus, bench, n=5, m_bits=1 << 18, k=4
    ).orderBy("doc_id")


@query("q81_bloom_decontaminate", q_bloom_decontaminate)
def q_bloom_decontaminate_oracle() -> str:
    from beats_spark.training import curate

    g5 = curate.ngram_sql(5)
    pos = curate.bloom_positions_sql("g", 1 << 18, 4)
    return f"""
WITH w AS (
  SELECT doc_id, {_WS_SQL} AS ws FROM documents),
g AS (SELECT doc_id, unnest({g5}) AS g FROM w),
bench_pos AS (
  SELECT DISTINCT unnest({pos}) AS p
  FROM (SELECT DISTINCT g FROM g WHERE doc_id % 17 = 3)),
corpus AS (
  SELECT doc_id, g FROM g WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, g FROM g
  WHERE doc_id % 17 = 3 AND doc_id < 100),
cp AS (
  SELECT doc_id, g, unnest({pos}) AS p FROM corpus),
gm AS (
  SELECT doc_id, g, count(*) AS ok
  FROM cp JOIN bench_pos USING (p) GROUP BY doc_id, g)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM gm WHERE ok = 4
GROUP BY doc_id ORDER BY doc_id"""


# --- q89: k-core membership (iterative peeling, link-graph quality) -----------


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-core of a deterministic citation graph with degree SPREAD —
    the global peeling signal next to q74 (propagation) and q80
    (local triangles): doc i cites (i·7 + j·13 + 1) % n for
    j = 0..(i % 9), so out-degree runs 1..9 and the undirected degree
    distribution actually has a sub-6 tail for peeling to bite
    (measured at the test scales: the 6-core keeps ~94% of n=500 and
    ~88% of n=5000 — data-dependent, not all-or-nothing). Two planted
    structures keep the gate non-vacuous in both directions at every
    scale: a K12 clique on doc_id < 12 (degree ≥ 11 internally —
    always survives) and a pendant path of 8 FRESH node ids n..n+7
    hung off node 0 (max degree 2 — always peels, and peeling it is
    the multi-round cascade that proves the loop iterates rather than
    thresholding first-round degrees).

    All set algebra on BIGINTs: the DuckDB twin replays the peel with
    a fixed 8-round CTE chain (idempotent past the measured ≤4-round
    convergence; Spark's loop raises past 8, so the two can never
    silently disagree on depth)."""
    from beats_spark.training import cluster

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    base = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.sequence(F.lit(0), F.col("doc_id") % 9)
        ).alias("j"),
    ).select(
        "src", ((F.col("src") * 7 + F.col("j") * 13 + 1) % n).alias("dst")
    )
    ids = spark.range(12).select(F.col("id"))
    clique = (
        ids.alias("l")
        .join(ids.alias("r"), F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("src"), F.col("r.id").alias("dst"))
    )
    path = spark.range(8).select(
        F.when(F.col("id") == 0, F.lit(0))
        .otherwise(F.col("id") + n - 1)
        .alias("src"),
        (F.col("id") + n).alias("dst"),
    )
    edges = base.unionAll(clique).unionAll(path)
    return (
        cluster.kcore_members(edges, k=6, max_rounds=8)
        .select(F.col("node").alias("doc_id"), "core_deg")
        .orderBy("doc_id")
    )


@query("q89_kcore", q_kcore)
def q_kcore_oracle() -> str:
    rounds = []
    for r in range(1, 9):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # each round references the previous one ~5×, so an inlined
        # 8-round chain expands to 5^8 copies of the base scan (it
        # exhausts file handles before it exhausts CPU)
        rounds.append(f"""
d{r} AS MATERIALIZED (
  SELECT node, COUNT(*) AS d
  FROM (SELECT a AS node FROM e{r - 1} UNION ALL SELECT b AS node FROM e{r - 1})
  GROUP BY node),
k{r} AS (SELECT node FROM d{r} WHERE d >= 6),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b
  FROM e{r - 1} e
  JOIN k{r} ka ON ka.node = e.a
  JOIN k{r} kb ON kb.node = e.b)""")
    return (
        """
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
base AS (
  SELECT id AS src, (id*7 + j*13 + 1) % n AS dst
  FROM nodes, nn, UNNEST(range(0, (id % 9) + 1)) AS jj(j)),
clique AS (
  SELECT l.id AS src, r.id AS dst FROM nodes l JOIN nodes r ON l.id < r.id
  WHERE l.id < 12 AND r.id < 12),
path AS (
  SELECT CASE WHEN t = 0 THEN 0 ELSE n + t - 1 END AS src, n + t AS dst
  FROM nn, UNNEST(range(0, 8)) AS tt(t)),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM (SELECT src, dst FROM base
        UNION ALL SELECT src, dst FROM clique
        UNION ALL SELECT src, dst FROM path)
  WHERE src <> dst),"""
        + ",".join(rounds)
        + """
SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM (SELECT a AS node FROM e8 UNION ALL SELECT b AS node FROM e8)
GROUP BY node ORDER BY doc_id"""
    )


# --- q90: Unicode normalization / text cleanup ---------------------------------


def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide text normalization (the C4/CCNet pre-tokenization
    stage): every document is dirtied with a deterministic suffix —
    leading whitespace, a BEL control, a tab run, and a doc_id-rotated
    Unicode tail (combining acute that composes, combining ring that
    composes, a precomposed é that NFC must leave alone, and the
    compositionless q+U+0301 that must STAY decomposed) — then pushed
    through text.normalize_text (control strip → whitespace collapse →
    trim → NFC). The rotation makes every NFC branch (compose,
    identity, no-composition) load-bearing at every scale, and the
    planting arithmetic is replayed verbatim by the DuckDB twin
    (chr() builds on both sides), whose utf8proc NFC must agree
    byte-for-byte with Python's unicodedata.

    Plan shape: the JVM regex chain is one codegen span over the scan;
    the only Python is the Arrow-batched NFC kernel with a C-speed
    isascii fast path — at 100 TB the overwhelmingly-ASCII rows never
    enter unicodedata."""
    from beats_spark.training import text as T

    docs = _docs(spark, sf_dir)
    # explicit escapes, never typed glyphs: branches 0/1/3 must enter
    # DECOMPOSED (base + combining mark) for NFC to have work to do,
    # and an editor normalizing the source file would silently flip
    # typed glyphs to precomposed
    tail = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(" e\u0301"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" A\u030a"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" \u00e9"))
        .otherwise(F.lit(" q\u0301"))
    )
    dirty = F.concat(
        F.lit("  "), F.col("text"), F.lit("\x07\t\t"), tail, F.lit(" \x1f ")
    )
    return docs.select(
        "doc_id",
        T.normalize_text(dirty).alias("norm_text"),
    ).select(
        "doc_id",
        "norm_text",
        F.length("norm_text").cast("long").alias("n_chars_norm"),
    ).orderBy("doc_id")


@query("q90_normalize", q_normalize)
def q_normalize_oracle() -> str:
    return r"""
WITH d AS (
  SELECT doc_id,
         '  ' || text || chr(7) || chr(9) || chr(9) ||
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN ' e' || chr(769)
           WHEN 1 THEN ' A' || chr(778)
           WHEN 2 THEN ' ' || chr(233)
           ELSE ' q' || chr(769) END || ' ' || chr(31) || ' ' AS t
  FROM documents),
n AS (
  SELECT doc_id,
         nfc_normalize(trim(regexp_replace(regexp_replace(
           t, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
           '\s+', ' ', 'g'))) AS norm_text
  FROM d)
SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS n_chars_norm
FROM n ORDER BY doc_id"""


# --- q91: label-propagation communities (synchronous LPA) ----------------------


def q_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over a deterministic link graph — the
    granularity between q30's connected components (pure
    reachability) and q80's triangles (purely local): LPA marks
    *template families* (mirror sites, boilerplate clusters) even
    when a stray bridge edge would fuse them into one CC.

    Graph: a ring i—(i+1)%n plus sparse chords i—(i·7+13)%n for
    i%5==0 (background), two planted K10 cliques on FRESH ids
    n..n+9 and n+10..n+19, a clique-to-clique bridge (n+9)—(n+10)
    and a clique-to-background bridge 0—(n). After 4 synchronous
    rounds the two cliques are provably labelled by their own
    minima (n and n+10) — 9 internal votes beat every bridge vote
    from round 2 on — while staying DISTINCT communities despite
    the bridge (one CC, two LPA labels: the non-vacuity both ways),
    and pytest pins that closed form. The DuckDB twin replays the
    full 4-round argmax cascade bit-for-bit (all-integer labels,
    count-desc/label-asc total tie order)."""
    from beats_spark.training import cluster

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    ring = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") + 1) % n).alias("dst"),
    )
    chords = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 13) % n).alias("dst"),
    )
    ids = spark.range(20).select(F.col("id"))
    cliques = (
        ids.alias("l")
        .join(
            ids.alias("r"),
            (F.col("l.id") < F.col("r.id"))
            & (F.floor(F.col("l.id") / 10) == F.floor(F.col("r.id") / 10)),
        )
        .select(
            (F.col("l.id") + n).alias("src"), (F.col("r.id") + n).alias("dst")
        )
    )
    bridges = spark.createDataFrame(
        [(0, n), (n + 9, n + 10)], "src long, dst long"
    )
    edges = ring.unionAll(chords).unionAll(cliques).unionAll(bridges)
    return (
        cluster.label_propagation(edges, rounds=4)
        .select(
            F.col("node").alias("doc_id"), F.col("label").cast("long").alias("label")
        )
        .orderBy("doc_id")
    )


@query("q91_lpa_communities", q_lpa)
def q_lpa_oracle() -> str:
    rounds = []
    for r in range(1, 5):
        rounds.append(f"""
l{r} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT nb.node, p.label, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY nb.node
                              ORDER BY COUNT(*) DESC, p.label ASC) AS rn
    FROM nbrs nb JOIN l{r - 1} p ON p.node = nb.nbr
    GROUP BY nb.node, p.label)
  WHERE rn = 1)""")
    return (
        """
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
ring AS (SELECT id AS src, (id + 1) % n AS dst FROM nodes, nn),
chords AS (
  SELECT id AS src, (id*7 + 13) % n AS dst FROM nodes, nn WHERE id % 5 = 0),
cliques AS (
  SELECT n + ll.l AS src, n + rr.r AS dst
  FROM nn, UNNEST(range(0, 20)) AS ll(l), UNNEST(range(0, 20)) AS rr(r)
  WHERE ll.l < rr.r AND ll.l // 10 = rr.r // 10),
bridges AS (
  SELECT 0 AS src, n AS dst FROM nn
  UNION ALL SELECT n + 9, n + 10 FROM nn),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM (SELECT src, dst FROM ring
        UNION ALL SELECT src, dst FROM chords
        UNION ALL SELECT src, dst FROM cliques
        UNION ALL SELECT src, dst FROM bridges)
  WHERE src <> dst),
nbrs AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e0
  UNION ALL SELECT b AS node, a AS nbr FROM e0),
l0 AS (SELECT DISTINCT node, node AS label FROM nbrs),"""
        + ",".join(rounds)
        + """
SELECT node AS doc_id, CAST(label AS BIGINT) AS label
FROM l4 ORDER BY doc_id"""
    )


# --- q93: reciprocal-rank-fusion hybrid retrieval ------------------------------


def q_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: a VECTOR ranking (brute-force cosine top-20
    per query over embeddings, the q13 ranker) fused with a LEXICAL
    ranking (distinct-word overlap top-20 between the query documents
    and the corpus — the posting-list join shape BM25 uses) through
    reciprocal-rank fusion (relevance.rrf_fuse) — the Elasticsearch
    `rrf` retriever device. Queries are docs/vecs 0-2 (aligned ids
    across both tables), k_rrf=60, fused top-10 per query.

    Determinism chain: the cosine ranks reuse the 4dp-rounded q13
    recipe; the overlap ranks are pure integers; fusion contributions
    are floor(10^12/(60+rank)) BIGINTs — so every fused score and the
    final order replay exactly in DuckDB. The lexical candidate join
    is word-bucketed (only docs SHARING a word meet), the fusion input
    is rankers × queries × 20 rows — the corpus is scanned once per
    ranker and never shuffled."""
    from beats_spark import relevance
    from beats_spark.training import similarity, text as T

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vec = (
        similarity.brute_force_topk(
            embs, embs.filter(F.col("vec_id") < 3), k=20, round_to=4
        )
        .select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    )
    docs = _docs(spark, sf_dir)
    qw = (
        docs.filter(F.col("doc_id") < 3)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct(T.words(F.col("text")))).alias("w"),
        )
    )
    cw = docs.select(
        "doc_id", F.explode(F.array_distinct(T.words(F.col("text")))).alias("w")
    )
    ov = (
        cw.join(F.broadcast(qw), "w")
        .filter(F.col("query_id") != F.col("doc_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("ovl"))
    )
    wl = Window.partitionBy("query_id").orderBy(F.desc("ovl"), F.col("doc_id"))
    lex = (
        ov.withColumn("rank", F.row_number().over(wl))
        .filter(F.col("rank") <= 20)
        .select("query_id", "doc_id", "rank")
    )
    return (
        relevance.rrf_fuse([vec, lex], k_rrf=60, topk=10)
        .select("query_id", "doc_id", "n_lists", "score_scaled", "rank")
        .orderBy("query_id", "rank")
    )


@query("q93_rrf_fusion", q_rrf)
def q_rrf_oracle() -> str:
    return f"""
WITH vq AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
vscored AS (
  SELECT vq.query_id, e.vec_id AS doc_id,
         round(list_cosine_similarity(vq.qv, e.embedding), 4) AS cs
  FROM embeddings e CROSS JOIN vq WHERE e.vec_id <> vq.query_id),
v20 AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id, row_number() OVER (
      PARTITION BY query_id ORDER BY cs DESC, doc_id) AS rank
    FROM vscored) WHERE rank <= 20),
qw AS (
  SELECT DISTINCT doc_id AS query_id, unnest({_WS_SQL}) AS w
  FROM documents WHERE doc_id < 3),
cw AS (
  SELECT DISTINCT doc_id, unnest({_WS_SQL}) AS w FROM documents),
ov AS (
  SELECT q.query_id, c.doc_id, COUNT(*) AS ovl
  FROM cw c JOIN qw q USING (w)
  WHERE c.doc_id <> q.query_id
  GROUP BY 1, 2),
l20 AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id, row_number() OVER (
      PARTITION BY query_id ORDER BY ovl DESC, doc_id) AS rank
    FROM ov) WHERE rank <= 20),
uni AS (
  SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c FROM v20
  UNION ALL
  SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c FROM l20),
fused AS (
  SELECT query_id, doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_lists,
         CAST(SUM(c) AS BIGINT) AS score_scaled
  FROM uni GROUP BY 1, 2)
SELECT query_id, doc_id, n_lists, score_scaled, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank
  FROM fused) WHERE rank <= 10
ORDER BY query_id, rank"""


# --- q94: significant terms (ES aggregation, JLH heuristic) --------------------


def q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `significant_terms` over a planted slice: ten foreground
    docs (doc_id < 10, re-keyed +200000, source 'plant') carry the
    original text plus the tokens 'quokka zebra' — vocabulary that
    exists NOWHERE in the background — so the JLH ranking must put
    exactly those two terms at ranks 1-2 (tie broken alphabetically)
    at every scale, while ordinary corpus words score near zero.
    The DuckDB twin replays the planting concat and the scaled-integer
    JLH arithmetic bit-for-bit."""
    from beats_spark import relevance

    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    planted = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" quokka zebra")).alias("text"),
        F.lit("plant").alias("source"),
    )
    corpus = docs.unionByName(planted)
    return (
        relevance.significant_terms(corpus, F.col("source") == "plant", k=20)
        .select("term", "fg_docs", "bg_docs", "score_scaled", "rank")
        .orderBy("rank")
    )


@query("q94_significant_terms", q_significant_terms)
def q_significant_terms_oracle() -> str:
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' quokka zebra' AS text
  FROM documents WHERE doc_id < 10),
tot AS (
  SELECT CAST(SUM(CASE WHEN doc_id >= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS F,
         CAST(COUNT(*) AS BIGINT) AS B
  FROM corpus),
w AS (
  SELECT DISTINCT doc_id, unnest({_WS_SQL}) AS term FROM corpus),
counts AS (
  SELECT term,
         CAST(SUM(CASE WHEN doc_id >= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS fg_docs,
         CAST(COUNT(*) AS BIGINT) AS bg_docs
  FROM w GROUP BY term),
scored AS (
  SELECT term, fg_docs, bg_docs,
         (1000000 * fg_docs * ((fg_docs * B) - (bg_docs * F)))
           // (F * F * bg_docs) AS score_scaled
  FROM counts, tot
  WHERE fg_docs >= 2 AND (fg_docs * B) - (bg_docs * F) > 0)
SELECT term, fg_docs, bg_docs, score_scaled,
       row_number() OVER (ORDER BY score_scaled DESC, term) AS rank
FROM scored
ORDER BY score_scaled DESC, term LIMIT 20"""


# --- q96: neighborhood function (HyperBall, sketch-based graph profile) --------


def q_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N(t) for t=0..3 over the q74 citation family (out-degree <= 3
    after dedup, so every 3-hop ball holds <= 40 nodes — far inside
    the lg_k=14 coupon-exact window, making the sketch sums
    bit-reproducible). The DuckDB twin IS the pair-explosion HyperBall
    replaces: four fixed-depth distinct-(v,u) CTEs — the exact
    semantics at test scale, the quadratic blowup the sketch version
    avoids at corpus scale."""
    from beats_spark.training import cluster

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    targets = F.array(
        (F.col("doc_id") * 7 + 1) % n,
        (F.col("doc_id") * 13 + 5) % n,
        (F.col("doc_id") * 29 + 11) % n,
    )
    edges = (
        docs.select(F.col("doc_id").alias("src"), F.explode(targets).alias("dst"))
        .distinct()
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    return cluster.neighborhood_function(edges, nodes, rounds=3).orderBy("t")


@query("q96_neighborhood", q_neighborhood)
def q_neighborhood_oracle() -> str:
    return """
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
edges AS (
  SELECT DISTINCT id AS src, dst
  FROM nodes, nn,
       UNNEST([(id*7 + 1) % n, (id*13 + 5) % n, (id*29 + 11) % n]) AS t(dst)),
r0 AS (SELECT id AS v, id AS u FROM nodes),
r1 AS (SELECT DISTINCT v, u FROM (
  SELECT v, u FROM r0
  UNION ALL
  SELECT e.src AS v, r.u FROM edges e JOIN r0 r ON r.v = e.dst)),
r2 AS (SELECT DISTINCT v, u FROM (
  SELECT v, u FROM r1
  UNION ALL
  SELECT e.src AS v, r.u FROM edges e JOIN r1 r ON r.v = e.dst)),
r3 AS (SELECT DISTINCT v, u FROM (
  SELECT v, u FROM r2
  UNION ALL
  SELECT e.src AS v, r.u FROM edges e JOIN r2 r ON r.v = e.dst))
SELECT * FROM (
  SELECT CAST(0 AS INT) AS t, CAST(COUNT(*) AS BIGINT) AS nf FROM r0
  UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT) FROM r1
  UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT) FROM r2
  UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT) FROM r3)
ORDER BY t"""


# --- q97: line-level boilerplate dedup (RefinedWeb/MassiveText) ----------------


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-wise corpus cleanup: documents are given deterministic
    line structure (every 4 corpus words = one line) and docs with
    even ids gain a planted boilerplate footer — the footer's global
    frequency is n/2 >> max_freq at every scale, so the removal path
    is always exercised, on top of whatever 4-word lines the natural
    vocabulary repeats. Output is per-doc kept/dropped counts plus an
    md5 of the reassembled text, so the oracle pins the
    reconstruction order, not just the counts."""
    from beats_spark.training import dedup, text

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ws = text.words(F.col("text"))
    # a zero-word doc has no lines (sequence(0, -1) would be [0, -1])
    seq = F.when(
        F.size(ws) > 0,
        F.sequence(F.lit(0), F.floor((F.size(ws) - 1) / 4).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    lines_arr = F.transform(
        seq, lambda i: F.array_join(F.slice(ws, i * 4 + 1, 4), " ")
    )
    with_footer = F.when(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0,
        F.concat(lines_arr, F.array(F.lit("data engine footer boilerplate"))),
    ).otherwise(lines_arr)
    lined = docs.select(
        "doc_id", F.array_join(with_footer, "\n").alias("text")
    )
    out = dedup.line_frequency_dedup(lined, max_freq=1)
    return out.select(
        "doc_id",
        "n_kept",
        "n_dropped",
        F.md5(F.col("text_clean").cast("binary")).alias("cksum"),
    ).orderBy("doc_id")


@query("q97_line_dedup", q_line_dedup)
def q_line_dedup_oracle() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, list_filter({_WS_SQL}, x -> x <> '') AS ws FROM documents),
lined AS (
  SELECT doc_id,
         list_transform(range((len(ws) + 3) // 4),
                        i -> array_to_string(ws[i*4+1:i*4+4], ' ')) AS ls
  FROM w),
pl AS (
  SELECT doc_id,
         -- the Spark side splits the joined text into lines, so a doc
         -- with no lines reads back as one empty line
         CASE WHEN doc_id % 2 = 0
              THEN list_append(ls, 'data engine footer boilerplate')
              WHEN len(ls) = 0 THEN ['']
              ELSE ls END AS ls
  FROM lined),
lines AS (
  SELECT doc_id, i AS line_no, ls[CAST(i + 1 AS BIGINT)] AS line
  FROM pl, UNNEST(range(len(ls))) AS t(i)),
freq AS (SELECT line, count(*) AS n FROM lines GROUP BY line),
fl AS (
  SELECT l.doc_id, l.line_no, l.line, f.n > 1 AS dup
  FROM lines l JOIN freq f USING (line))
SELECT doc_id,
       CAST(count(*) FILTER (WHERE NOT dup) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE dup) AS BIGINT) AS n_dropped,
       md5(coalesce(string_agg(line, chr(10) ORDER BY line_no)
                      FILTER (WHERE NOT dup), '')) AS cksum
FROM fl GROUP BY doc_id ORDER BY doc_id"""
