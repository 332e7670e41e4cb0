"""Deduplication for training-data pipelines.

Five strategies, all shuffle-architected for 100 TB:

- exact: hash-groupBy on a content hash — one shuffle on the 64-bit
  hash (never on the text itself); keep min(doc_id).
- n-gram Jaccard: shingle → explode → self-join on shingle →
  |A∩B| per pair / inclusion-exclusion. The join key is a shingle
  *hash*, and frequency-capped shingles avoid the quadratic blowup of
  boilerplate shingles.
- MinHash + LSH: per-doc signature (k permutations via (a*h+b) mod p),
  banded into r-row bands; candidate pairs = docs sharing a band
  bucket. Shuffle volume: docs × bands rows, NOT pairs.
- SimHash: 64-bit weighted-majority hash; near-dups = equal hash or
  small hamming distance within blocks.
- embedding cosine: see similarity.py (cosine_pairs).

Everything is native Column expressions; signatures use
F.transform/F.aggregate over shingle arrays (JVM-side).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.training.text import words

# Mersenne prime 2^31-1: (h mod P) * a stays < 2^62 — no int64 overflow
_P = (1 << 31) - 1


# --- exact ------------------------------------------------------------------


def content_key(col: Column) -> tuple[Column, Column]:
    """128-bit content identity as two independent 64-bit xxhash64
    lanes (distinct input framing → independent hash families). A
    single 64-bit hash silently merges ~10^4 non-duplicate documents
    at 10^12 rows (birthday bound); two lanes push the expected
    collision count below 10^-14 while the shuffle key stays 16 bytes
    (ADVICE r03)."""
    return F.xxhash64(col), F.xxhash64(F.lit(1), col)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact content key.
    Shuffles 16-byte keys (content_key), not documents."""
    h1, h2 = content_key(F.col(text_col))
    keep = (
        df.select(F.col(id_col), h1.alias("__h1__"), h2.alias("__h2__"))
        .groupBy("__h1__", "__h2__")
        .agg(F.min(id_col).alias(id_col))
        .drop("__h1__", "__h2__")
    )
    return df.join(keep, id_col, "left_semi")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(content key → n_docs, representative) for duplicate groups;
    content_hash exposes the first 64-bit lane (display/join handle)."""
    h1, h2 = content_key(F.col(text_col))
    return (
        df.select(h1.alias("content_hash"), h2.alias("__h2__"), F.col(id_col))
        .groupBy("content_hash", "__h2__")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
        .drop("__h2__")
    )


# --- shingles ----------------------------------------------------------------


def shingles(col: Column, k: int = 3, portable: bool = False) -> Column:
    """Word k-gram shingle array (distinct), as 64-bit hashes.

    portable=False (default): xxhash64 — fastest JVM path.
    portable=True: md5-derived 60-bit hash (first 15 hex chars) —
    md5 over UTF-8 bytes is identical in every engine, so a DuckDB
    oracle recomputes the hashes bit-for-bit (xxhash64 has no DuckDB
    equivalent). Same downstream arithmetic either way."""
    ws = words(col)
    n = F.size(ws)
    if portable:
        def gram(i):
            s = F.concat_ws(" ", F.slice(ws, i + 1, k))
            return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast(
                "long"
            )
    else:
        def gram(i):
            return F.xxhash64(F.concat_ws(" ", F.slice(ws, i + 1, k)))
    grams = F.transform(F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))), gram)
    return F.array_distinct(F.when(n >= k, grams).otherwise(F.array()))


def shingle_sql(text_expr: str = "text", k: int = 3) -> str:
    """DuckDB twin of shingles(..., portable=True): distinct md5-60bit
    word k-gram hashes (list may be empty for docs with < k words)."""
    assert k == 3, "oracle helper currently emits the k=3 form"
    gram = (
        f"('0x' || substring(md5(concat(ws[i], ' ', ws[i+1], ' ', ws[i+2])), 1, 15))"
        f"::BIGINT"
    )
    return (
        f"list_distinct(list_transform(range(1, greatest(len(ws) - {k - 1}, 0) + 1), "
        f"i -> {gram}))"
    )


# --- n-gram Jaccard ----------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """All pairs with Jaccard(shingles) >= threshold.

    explode → (shingle, doc) → self-join grouped count → inclusion-
    exclusion. `max_shingle_freq` drops ubiquitous shingles (boilerplate)
    before the join — the standard guard against quadratic hot keys.
    It defaults ON (1000): a single shingle shared by 100k docs would
    otherwise create a 10^10-row join group; pass None only for corpora
    known to have no hot shingles. NOTE the semantic: a capped-out
    shingle is excluded from the intersection count but still counts in
    n_a/n_b, so observed Jaccard for affected pairs is a lower bound.
    """
    from pyspark.sql.window import Window

    # exploded-gram path (no HOF lambdas — see exploded_shingles);
    # per-doc distinct size via a partition-wide window count
    ex = exploded_shingles(df, text_col, id_col, k, distinct=True)
    exploded = ex.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("id"))
    ).withColumnRenamed("h", "s")
    if max_shingle_freq is not None:
        freq = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
        exploded = exploded.join(
            freq.filter(F.col("f") <= max_shingle_freq).select("s"), "s", "left_semi"
        )
    a = exploded.select(
        F.col("s"), F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")
    )
    b = exploded.select(
        F.col("s"), F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")
    )
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


# --- Winnowing (rolling-hash document fingerprints) --------------------------


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    portable: bool = False,
) -> DataFrame:
    """(id, fp) distinct winnowing fingerprints — the MOSS algorithm
    (Schleimer/Wilkerson/Aiken, SIGMOD'03) over word k-grams: every
    window of `w` consecutive gram hashes contributes its minimum, and
    the distinct minima are the document's fingerprint set. Guarantee:
    any shared passage of >= w+k-1 consecutive words contains a full
    shared window, hence at least one shared fingerprint — so partial
    plagiarism/quotation is caught even when whole-document Jaccard is
    tiny (the regime MinHash misses by design). Expected density is
    2/(w+1) of the gram count, so the fingerprint set is ~2.5x smaller
    than the shingle set at w=4.

    Plan shape: posexplode + lead grams (codegen, no HOF lambdas), ONE
    exchange on id that the ordered min-frame, the per-doc count and
    the distinct all reuse. Docs with 0 < n_grams < w emit the min of
    all their grams (one truncated window); docs with < k words emit
    nothing. Mirrors the reference's fingerprint processor only in
    spirit (libbeat/processors/fingerprint/fingerprint.go:40 hashes
    whole field sets); passage-level fingerprinting has no Beats
    analog and comes from the published algorithm."""
    from pyspark.sql.window import Window

    ex = exploded_shingles(df, text_col, id_col, k, portable=portable, keep_pos=True)
    part = Window.partitionBy("id")
    frame = part.orderBy("pos").rowsBetween(0, w - 1)
    fp = ex.select(
        "id",
        "pos",
        F.min("h").over(frame).alias("fp"),
        F.count(F.lit(1)).over(part).alias("n_grams"),
    ).filter(F.col("pos") <= F.greatest(F.col("n_grams") - w, F.lit(0)))
    return fp.select("id", "fp").dropDuplicates(["id", "fp"])


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int | None = 1000,
    portable: bool = False,
) -> DataFrame:
    """Pairs sharing >= min_shared winnowing fingerprints, with
    `overlap` = n_shared / min(|fps_a|, |fps_b|) (containment — the
    right measure for a short passage quoted inside a long doc, where
    Jaccard is diluted by the long side). Bucketed by fingerprint like
    the shingle join: candidates shuffle (fp, id) only, and
    `max_fp_freq` drops boilerplate fingerprints before the self-join
    (same hot-key guard + lower-bound caveat as ngram_jaccard_pairs).
    """
    from pyspark.sql.window import Window

    fps = winnow_fingerprints(df, text_col, id_col, k, w, portable)
    sized = fps.withColumn("n_fp", F.count(F.lit(1)).over(Window.partitionBy("id")))
    if max_fp_freq is not None:
        freq = sized.groupBy("fp").agg(F.count(F.lit(1)).alias("f"))
        sized = sized.join(
            freq.filter(F.col("f") <= max_fp_freq).select("fp"), "fp", "left_semi"
        )
    a = sized.select("fp", F.col("id").alias("id_a"), F.col("n_fp").alias("n_a"))
    b = sized.select("fp", F.col("id").alias("id_b"), F.col("n_fp").alias("n_b"))
    shared = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    overlap = F.col("n_shared").cast("double") / F.least("n_a", "n_b")
    return shared.select(
        "id_a", "id_b", "n_shared", F.round(overlap, 6).alias("overlap")
    )


# --- MinHash + LSH -----------------------------------------------------------


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h'(x) = (a*x + b) mod P."""
    params = []
    state = seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        params.append((a, b))
    return params


def minhash_from_shingles(sh: Column, num_perm: int = 64, seed: int = 42) -> Column:
    """array<long> MinHash signature from a MATERIALIZED shingle-hash
    array column: per permutation i, min over shingles of
    (a_i*h + b_i) mod P. All JVM expressions, O(shingles × num_perm).

    IMPORTANT: `sh` must be a concrete column, not an inline shingle
    expression — Catalyst collapses projections, and an inlined
    expression would recompute the shingling num_perm times
    (measured 20× slowdown). Bulk paths use exploded_shingles +
    aggregate mins instead (no HOFs at all); this column form remains
    for small frames/tests."""

    def perm(a: int, b: int):
        # factory: pyspark HOFs count lambda params, so no default-arg
        # closures
        return lambda h: F.pmod(
            F.pmod(h, F.lit(_P)) * F.lit(a) % F.lit(_P) + F.lit(b), F.lit(_P)
        )

    mins = [
        F.array_min(F.transform(sh, perm(a, b)))
        for (a, b) in _perm_params(num_perm, seed)
    ]
    return F.when(F.size(sh) > 0, F.array(*mins))


def exploded_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    portable: bool = False,
    distinct: bool = False,
    keep_pos: bool = False,
) -> DataFrame:
    """(id, h) rows — one per word k-gram — built with posexplode +
    window lead instead of per-row HOF lambdas: HOFs evaluate
    interpreted (outside whole-stage codegen), and the lambda-built
    gram/hash was the dominant cost of the bulk sketch paths (measured
    simhash at sf0.1: 8.8 s HOF → 1.3 s exploded, identical output).
    One shuffle on id (the window); downstream groupBy(id) reuses the
    partitioning. distinct=True adds the per-doc dedup that
    array_distinct provided (needed for vote/count semantics; min-based
    signatures don't need it). keep_pos=True keeps the gram's 0-based
    start word position (full grams only, so positions stay the
    contiguous run 0..n_words-k — winnowing's window frames rely on
    that)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    ws = words(F.col(text_col))
    ex = df.repartition(par).select(
        F.col(id_col).alias("id"), F.posexplode(ws).alias("pos", "w")
    )
    from pyspark.sql.window import Window

    win = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(win) for i in range(1, k)]
    gram = F.concat_ws(" ", *parts)
    last = parts[-1]
    if portable:
        h = F.conv(F.substring(F.md5(gram.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        )
    else:
        h = F.xxhash64(gram)
    cols = ["id", "pos"] if keep_pos else ["id"]
    out = (
        ex.select(*cols, h.alias("h"), last.alias("__last__"))
        .filter(F.col("__last__").isNotNull())  # full k-grams only
        .drop("__last__")
    )
    if distinct:
        out = out.dropDuplicates(["id", "h"])
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    signature → `bands` band-hashes → explode → groupBy bucket →
    pairs within bucket. Shuffle rows = docs × bands. Output:
    (id_a, id_b, est_jaccard) with est = matching-minhash fraction.

    portable=True switches the shingle hash to md5-60bit and the band
    hash to a polynomial fold (band-index seed, base 1000003 mod
    2^31-1) so a DuckDB oracle reproduces the exact candidate set;
    the default path keeps xxhash64 (faster, hashes array slices
    directly with no string round-trip).
    """
    rows = num_perm // bands
    # signatures via the exploded-gram path: per (id, h) row the
    # num_perm permuted values are plain codegen expressions and the
    # per-permutation min is a hash-aggregate — no interpreted HOF
    # anywhere, and no per-doc dedup (min is duplicate-insensitive).
    ex = exploded_shingles(df, text_col, id_col, k, portable=portable)
    mins = [
        F.min(
            F.pmod(F.pmod(F.col("h"), F.lit(_P)) * F.lit(a) % F.lit(_P) + F.lit(b), F.lit(_P))
        ).alias(f"__m{i}__")
        for i, (a, b) in enumerate(_perm_params(num_perm))
    ]
    # persist: the bucket self-join references the signature table twice
    # and would otherwise recompute shingling+signatures for each side.
    # Signatures are tiny relative to the corpus (num_perm longs/doc).
    sig = (
        ex.groupBy("id")
        .agg(*mins)
        .select(
            "id", F.array(*[F.col(f"__m{i}__") for i in range(num_perm)]).alias("sig")
        )
        .persist()
    )
    if portable:
        # every intermediate < 2^51: safe on overflow-trapping engines
        def band_hash(bi: int) -> Column:
            return F.aggregate(
                F.slice("sig", bi * rows + 1, rows),
                F.lit(bi + 1).cast("long"),
                lambda acc, x: F.pmod(acc * 1000003 + x, F.lit(_P)),
            )

        band_hashes = F.array(*[band_hash(bi) for bi in range(bands)])
    else:
        band_hashes = F.array(
            *[
                F.xxhash64(F.lit(bi), F.slice("sig", bi * rows + 1, rows))
                for bi in range(bands)
            ]
        )
    buckets = sig.select(
        "id", "sig", F.explode(band_hashes).alias("bucket")
    )
    a = buckets.select(F.col("bucket"), F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = buckets.select(F.col("bucket"), F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.size("sig_a")
    )
    return pairs.select(
        "id_a", "id_b", F.round(est, 6).alias("est_jaccard")
    )


# --- token-window (exact substring) dedup ------------------------------------

_TW_BASE = 31


def token_window_hashes(tokens: Column, k: int) -> Column:
    """Polynomial hashes of every k-token window of an int-token array
    (the exact-substring dedup primitive for tokenized training
    sequences). Pure arithmetic — mod 2^31-1, base 31 — so an external
    oracle can recompute identical values. Rows shorter than k yield
    an empty array."""
    n = F.size(tokens)

    def win_hash(i: Column) -> Column:
        return F.aggregate(
            F.slice(tokens, i + 1, k),
            F.lit(0).cast("long"),
            lambda acc, x: F.pmod(acc * _TW_BASE + x, F.lit(_P)),
        )

    return F.when(
        n >= k, F.array_distinct(F.transform(F.sequence(F.lit(0), n - k), win_hash))
    ).otherwise(F.array().cast("array<long>"))


def token_window_dup_groups(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Shared-window groups: every k-token window held by >= min_docs
    distinct documents. Shuffle rows are (hash, id) pairs, never token
    arrays.

    Bulk shape (same lesson as exploded_shingles): posexplode tokens +
    k-1 window leads build the polynomial hash in whole-stage codegen —
    the earlier array-HOF fold (transform+aggregate per window)
    evaluated interpreted and cost 2× (11.9 s vs 6.2 s at sf0.1; the
    original count_distinct variant was 20.1 s). Per-doc window dedup
    is a (id, wh) aggregate whose partial phase runs map-side on the
    already-id-partitioned window output; the distinct-doc count is
    then a plain count."""
    ex = df.select(
        F.col(id_col).alias("id"), F.posexplode(tokens_col).alias("pos", "t")
    )
    from pyspark.sql.window import Window

    win = Window.partitionBy("id").orderBy("pos")
    toks = [F.col("t")] + [F.lead("t", i).over(win) for i in range(1, k)]
    h: Column = F.lit(0).cast("long")
    for t in toks:
        h = F.pmod(h * _TW_BASE + t, F.lit(_P))
    return (
        ex.select("id", h.alias("wh"), toks[-1].alias("__l__"))
        .filter(F.col("__l__").isNotNull())  # full k-windows only
        .drop("__l__")
        .dropDuplicates(["id", "wh"])
        .groupBy("wh")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def substring_dup_spans(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every maximal token
    range covered by k-token windows that appear in >= min_docs
    DISTINCT documents. This is the removal-side twin of
    token_window_dup_groups — q24 tells you WHICH windows repeat;
    this tells you WHAT to cut from each document: overlapping or
    adjacent duplicated windows [pos, pos+k-1] merge into one span
    (gaps-and-islands over sorted starts — windows all have length k,
    so the running max end is just lag(pos)+k-1 and a lag() suffices).

    Scale shape: the token fan-out stays in whole-stage codegen
    (posexplode + k-1 window leads building the polynomial hash — the
    q24 lesson; array-HOF folds evaluate interpreted at 2x cost).
    Shuffled rows are long triples (id, pos, wh), never token arrays.
    Per-doc window dedup of (id, wh) rides the id partitioning from
    the lead() exchange (subset-key clustering — no new exchange);
    the distinct-doc count groups on wh; hit positions equi-join the
    duplicated-hash set on wh (AQE broadcasts it when small, SMJ
    otherwise — never a theta join); the island merge re-keys on id.
    Matching windows are hash-equal (mod 2^31-1, base 31) — the same
    candidate semantics as q24; within-doc self-repeats are NOT spans
    (repetition_features / q34 owns those).

    Returns (id, span_start, span_end, span_len) — token positions,
    0-based inclusive.
    """
    from pyspark.sql.window import Window

    ex = df.select(
        F.col(id_col).alias("id"), F.posexplode(tokens_col).alias("pos", "t")
    )
    win = Window.partitionBy("id").orderBy("pos")
    toks = [F.col("t")] + [F.lead("t", i).over(win) for i in range(1, k)]
    h: Column = F.lit(0).cast("long")
    for t in toks:
        h = F.pmod(h * _TW_BASE + t, F.lit(_P))
    wins = (
        ex.select("id", "pos", h.alias("wh"), toks[-1].alias("__l__"))
        .filter(F.col("__l__").isNotNull())  # full k-windows only
        .drop("__l__")
    )
    dup = (
        wins.dropDuplicates(["id", "wh"])  # id-clustered: no exchange
        .groupBy("wh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("wh")
    )
    hits = wins.join(dup, "wh").select("id", "pos")
    lag_pos = F.lag("pos").over(win)
    brk = F.when(lag_pos.isNull() | (F.col("pos") > lag_pos + k), 1).otherwise(0)
    isl = F.sum(brk).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hits.withColumn("__g__", isl)
        .groupBy("id", "__g__")  # id-clustered after the window: no exchange
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


# --- SimHash -----------------------------------------------------------------


def simhash_from_shingles(sh: Column) -> Column:
    """SimHash from a MATERIALIZED shingle-hash array column: bit i of
    the result = sign of sum over shingles of (+1 if bit i set else -1).
    Native bit ops. Same materialization caveat as
    minhash_from_shingles — 63 bit-sums would re-inline an inline
    shingle expression 63×."""

    def bit_vote(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    # 63 bits: bit 63 would overflow the signed long literal
    bit_sums = [F.aggregate(sh, F.lit(0), bit_vote(i)) for i in range(63)]
    out = F.lit(0).cast("long")
    for i, s in enumerate(bit_sums):
        out = out + F.when(s > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return F.when(F.size(sh) > 0, out)


def simhash(col: Column, k: int = 3) -> Column:
    """Inline-column variant (tests/small frames)."""
    return simhash_from_shingles(shingles(col, k))


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id_col, simhash) for every doc — the bulk path: exploded-gram
    shingles (no HOF lambdas, see exploded_shingles) and
    hash-aggregated 63 bit votes, all Tungsten codegen; shuffle keys
    are (id, h) then (id, 63 ints), never documents."""
    ex = exploded_shingles(
        df, text_col, id_col, k, portable=portable, distinct=True
    )
    votes = ex.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(63)
        ]
    )
    sim = F.lit(0).cast("long")
    for i in range(63):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select(F.col("id").alias(id_col), sim.alias("simhash"))


def simhash_dup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Docs sharing an identical simhash (hamming distance 0 groups)."""
    return (
        simhash_df(df, text_col, id_col, k, portable=portable)
        .filter(F.col("simhash").isNotNull())
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def incremental_dedup(
    runner,
    transform=None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Exactly-once cross-chunk dedup for resumable ingestion: wraps a
    CheckpointedRunner chunk transform so every chunk is (a) deduped
    within itself (min-id representative) and (b) anti-joined against
    the content hashes of everything ALREADY COMMITTED — resolved
    strictly through the manifest pointer, so a crash-and-replay of an
    uncommitted chunk re-reads the same committed snapshot and the
    final corpus is identical to an uninterrupted run (the registrar
    exactly-once story extended to content identity; reference analog:
    the registrar dedupes by offset, this dedupes by payload).

    Scale shape: the seen-side is 16-byte content keys (content_key:
    two independent xxhash64 lanes — a single 64-bit hash would
    silently drop ~10^4 non-duplicates at 10^12 rows, ADVICE r03),
    never documents; within-chunk dedup shuffles keys too. Chunks
    process sequentially (the runner's contract) so the anti-join
    snapshot is well-defined; at 10^12 rows the seen-key table is
    still ~1% of the token payload and prunes with a broadcast when
    small enough.
    """
    from pyspark.sql import DataFrame  # noqa: F401 (signature clarity)

    def wrapped(part: DataFrame) -> DataFrame:
        out = exact_dedup(part, text_col, id_col)
        try:
            seen = runner.result()
        except FileNotFoundError:
            seen = None
        if seen is not None:
            s1, s2 = content_key(F.col(text_col))
            seen_h = seen.select(
                s1.alias("__seen_h1__"), s2.alias("__seen_h2__")
            ).distinct()
            c1, c2 = content_key(F.col(text_col))
            out = out.join(
                seen_h,
                (c1 == F.col("__seen_h1__")) & (c2 == F.col("__seen_h2__")),
                "left_anti",
            )
        return transform(out) if transform is not None else out

    return wrapped


def line_frequency_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_freq: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Line-wise boilerplate removal (RefinedWeb, Penedo et al. 2023;
    MassiveText, Rae et al. 2021): split every document into lines,
    count each line's EXACT frequency across the whole corpus, drop
    every occurrence of lines seen more than ``max_freq`` times
    (navigation bars, cookie banners, footers — the content that
    repeats across a crawl without being a document-level duplicate),
    and reassemble the surviving lines in document order.

    Returns (id_col, n_kept, n_dropped, text_clean) — one row per
    input document, including documents whose every line was dropped
    (text_clean = '').

    Scale shape: the frequency table is a map-side-combined groupBy on
    the 16-byte ``content_key`` of the line (hot boilerplate lines —
    the entire point of the operator — collapse to partial counts
    before the shuffle; grouping by the raw string would move the
    corpus). The flag join is an equi-join on that key; a pathological
    key (one line in 10^9 docs) is exactly the AQE skew-join split
    case. Reassembly is one groupBy(id) whose per-group state is
    bounded by the document's own line count. Nothing row-proportional
    is collected; lines move at most twice.

    Exactness: dropping on a 128-bit key instead of the string admits
    the same <1e-14 expected-collision budget as exact_dedup; the
    DuckDB twins group by the line string itself and hash-match.
    """
    lines = df.select(
        F.col(id_col),
        # split takes a Java regex: escape sep so '.', '|', '\\' split
        # on the literal separator array_join reassembles with
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias(
            "__line_no", "__line"
        ),
    )
    h1, h2 = content_key(F.col("__line"))
    keyed = lines.select(
        id_col, "__line_no", "__line", h1.alias("__h1"), h2.alias("__h2")
    )
    freq = keyed.groupBy("__h1", "__h2").agg(F.count(F.lit(1)).alias("__n"))
    flagged = keyed.join(freq, ["__h1", "__h2"]).select(
        id_col,
        "__line_no",
        "__line",
        (F.col("__n") > max_freq).alias("__dup"),
    )
    kept_struct = F.when(
        ~F.col("__dup"), F.struct(F.col("__line_no"), F.col("__line"))
    )
    return flagged.groupBy(id_col).agg(
        F.sum(F.when(F.col("__dup"), 0).otherwise(1)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("__dup"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["__line"],
            ),
            sep,
        ).alias("text_clean"),
    )
