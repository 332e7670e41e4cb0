"""Deterministic BASELINE token-table synthesis.

BASELINE.json `input_hint` fixes the input shape:
    (doc_id:string, tokens:array<int32>, n_tok:int32, source:string)
plus a rendered `payload` log line (FIXTURES.md §1) so the dissect/grok
analog has text to parse (mirrors Filebeat's `message` field,
libbeat/reader/message.go:87-102).

Two generation paths, both seed-free / purely arithmetic so that Spark
and the DuckDB oracle compute byte-identical tables:

1. `token_events_sql(dialect)` — derives the table FROM the driver's
   `orders` parquet with modular arithmetic (`o_orderkey` is the seed).
   Runnable verbatim in Spark SQL *and* DuckDB SQL (two dialect
   templates), which is what makes every downstream pipeline query
   oracle-checkable end to end.
2. `generate_token_events(spark, n_rows)` — standalone generator from
   `spark.range` for bench scales beyond the testdata row counts
   (same formulas keyed on the range id).

Skew is deliberate (FIXTURES.md: one hot source): keys 0-3 of the
mod-10 space collapse into `src-0`, giving it 40% of rows — this is
what the salted repartition path (skew.py) must digest.

Corruption: every o_orderkey % 101 == 0 row gets a non-dissectable
payload → exercises the `dissect_parsing_error` flag + dead-letter
routing (libbeat/outputs/elasticsearch/dead_letter_index.go:33-56).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# token PRNG constants (Knuth multiplicative + arbitrary odd stride, mod
# a GPT-2-ish vocab size). All intermediates < 2^63 for orderkey < 2^31.
_MULT = 2654435761
_STRIDE = 40503
_VOCAB = 50257

_LEVEL_CASE = (
    "CASE WHEN {k} % 20 < 8 THEN 'debug' "
    "WHEN {k} % 20 < 16 THEN 'info' "
    "WHEN {k} % 20 < 19 THEN 'warn' ELSE 'error' END"
)

# sources: 40% src-0 (hot key), rest src-4..src-9
_SRC_IDX = "(CASE WHEN {k} % 10 < 4 THEN 0 ELSE {k} % 10 END)"


def _core_sql(dialect: str, key: str, base: str) -> str:
    """The shared SELECT deriving the token table from integer key `key`
    over relation `base`. dialect ∈ {'spark', 'duckdb'}."""
    if dialect == "spark":
        s = "string"
        tokens = (
            f"transform(sequence(1, {key} % 97 + 3), "
            f"i -> cast(({key} * {_MULT} + i * {_STRIDE}) % {_VOCAB} as int))"
        )
    elif dialect == "duckdb":
        s = "varchar"
        tokens = (
            f"list_transform(range(1, cast({key} % 97 + 3 as int) + 1), "
            f"i -> cast(({key} * {_MULT} + i * {_STRIDE}) % {_VOCAB} as int))"
        )
    else:
        raise ValueError(dialect)
    lvl = _LEVEL_CASE.format(k=key)
    src = _SRC_IDX.format(k=key)
    payload_ok = (
        f"concat('level=', {lvl}, "
        f"' ts=2026-01-', lpad(cast({key} % 28 + 1 as {s}), 2, '0'), 'T12:00:00Z', "
        f"' caller=app/server_', cast({key} % 7 as {s}), '.go:', "
        f"cast({key} % 500 + 1 as {s}), "
        f"' msg=\"unit ', cast({key} as {s}), ' shipped\"', "
        f"' ip=10.', cast({key} % 3 as {s}), '.0.', cast({key} % 200 as {s}), "
        f"' seq=', cast({key} % 97 + 3 as {s}))"
    )
    payload = (
        f"CASE WHEN {key} % 101 = 0 THEN concat('CORRUPT##', cast({key} as {s})) "
        f"ELSE {payload_ok} END"
    )
    return (
        "SELECT "
        f"concat('doc-', lpad(cast({key} as {s}), 12, '0')) AS doc_id, "
        f"{tokens} AS tokens, "
        f"cast({key} % 97 + 3 as int) AS n_tok, "
        f"concat('src-', cast({src} as {s})) AS source, "
        f"{payload} AS payload "
        f"FROM {base}"
    )


def token_events_sql(dialect: str, base: str = "orders") -> str:
    """Token table derived from the `orders` testdata table (key =
    o_orderkey). Identical rows under Spark and DuckDB."""
    return _core_sql(dialect, "o_orderkey", base)


def load_token_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side token table for an sf dir (orders-derived).

    The orders parquet is a single small file (one scan partition); the
    derivation SQL fans each order out into a fat token row, so without
    a repartition the ENTIRE downstream pipeline inherits one task —
    measured 12 s single-threaded vs ~2 s spread for the flagship
    query at sf0.1."""
    par = spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(
        par
    ).createOrReplaceTempView("orders_base_")
    return spark.sql(token_events_sql("spark", "orders_base_"))


def generate_token_events(spark: SparkSession, n_rows: int, parts: int | None = None) -> DataFrame:
    """Standalone deterministic generator for bench scales (same
    formulas, key = range id + 1). Partition count defaults to
    defaultParallelism so generation itself never bottlenecks."""
    rng = spark.range(1, n_rows + 1, numPartitions=parts or spark.sparkContext.defaultParallelism)
    rng.createOrReplaceTempView("gen_base_")
    return spark.sql(_core_sql("spark", "id", "gen_base_"))


# --- scale-probe synthetics (documents / embeddings) ------------------------
#
# The driver's documents/embeddings tables stop at sf0.1 (5k docs /
# 2k vectors). The 10x scaling probe needs the SAME distribution at two
# sizes, so these generators synthesize both probe points themselves
# (pure integer-mixer arithmetic, deterministic, no external data) with
# the driver tables' shape: ~31-word vocab, 10-80 word docs, 5 sources,
# 10 embedding clusters, 64-dim ~U(-0.4,0.4) components, and a planted
# 4% duplicate rate so dedup/near-dup outputs grow linearly with n.

_DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window"
).split()

_LANGS = ("en", "en", "zh", "es", "fr", "de", "en", "zh", "es", "fr")


def _mix_col(idx):
    """Full-value twin of similarity._mix_sign_col: h in [0, 2^31).
    Same overflow-safe chain (every intermediate < 2^49)."""
    from pyspark.sql import functions as F

    h = (idx.cast("long") * F.lit(2654435761)) % F.lit(4294967296)
    h = h.bitwiseXOR(F.shiftright(h, 16))
    h = (h * F.lit(49157)) % F.lit(2147483647)
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = (h * F.lit(48271)) % F.lit(2147483647)
    return h


def generate_documents(spark: SparkSession, n_docs: int, parts: int | None = None) -> DataFrame:
    """Deterministic documents table (doc_id, text, lang, source,
    n_chars) matching the driver table's shape. Every 25th doc repeats
    the previous doc's content key → constant 4% exact-dup rate, so
    minhash/simhash candidate volume is Θ(n)."""
    from pyspark.sql import functions as F

    rng = spark.range(
        0, n_docs, numPartitions=parts or spark.sparkContext.defaultParallelism
    )
    ck = F.when(F.col("id") % 25 == 24, F.col("id") - 1).otherwise(F.col("id"))
    vocab = F.array(*[F.lit(w) for w in _DOC_VOCAB])
    nw = ck % 71 + 10

    def _word(i):
        return F.element_at(vocab, (_mix_col(ck * 131 + i) % 31 + 1).cast("int"))

    text = F.array_join(F.transform(F.sequence(F.lit(1), nw), _word), " ")
    return rng.select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.element_at(
            F.array(*[F.lit(x) for x in _LANGS]), (ck % 10 + 1).cast("int")
        ).alias("lang"),
        F.concat(F.lit("src"), (F.col("id") % 5).cast("string")).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


def generate_embeddings(
    spark: SparkSession,
    n_vecs: int,
    dim: int = 64,
    parts: int | None = None,
    n_clusters: int = 10,
) -> DataFrame:
    """Deterministic embeddings table (vec_id, embedding:array<float>,
    label) with `n_clusters` cluster centroids + per-vector noise;
    every 25th vector duplicates the previous one (cos=1.0) so planted
    near-dup pair counts grow linearly with n.

    Same-cluster vectors sit above typical dup thresholds (cos≈0.7),
    so with the default FIXED 10 clusters the all-pairs-above-τ count
    grows quadratically in n — fine for recall/cluster tests at one
    scale, wrong for scaling probes. A growing corpus adds topics, it
    doesn't densify the same ten: pass n_clusters ∝ n (constant
    cluster size) to hold the per-vector dup rate constant, which is
    the regime the 10× probe measures (scripts/probe_scale.py)."""
    from pyspark.sql import functions as F

    rng = spark.range(
        0, n_vecs, numPartitions=parts or spark.sparkContext.defaultParallelism
    )
    nk = F.when(F.col("id") % 25 == 24, F.col("id") - 1).otherwise(F.col("id"))
    # label follows the content key so planted dups share a centroid
    lbl = nk % n_clusters

    def _component(d):
        cent = (
            _mix_col(F.lit(7000003) + lbl * dim + d).cast("double")
            / F.lit(2147483647.0)
            - 0.5
        ) * 0.5
        noise = (
            _mix_col(F.lit(9000017) + nk * dim + d).cast("double")
            / F.lit(2147483647.0)
            - 0.5
        ) * 0.3
        return (cent + noise).cast("float")

    return rng.select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), _component).alias(
            "embedding"
        ),
        lbl.cast("int").alias("label"),
    )


# --- enrichment lookup (FIXTURES.md §2) -------------------------------------

_OS = ("linux", "windows", "darwin")
_REGIONS = ("us-east", "us-west", "eu-west", "eu-central",
            "ap-south", "ap-northeast", "sa-east", "af-south")
_TEAMS = ("core", "ingest", "search", "observability", "platform")

# src indices that actually occur: 0 (hot) and 4..9; src-9 deliberately
# missing from the lookup → left-join miss semantics (Beats enrich leaves
# the event unchanged on miss, translate_sid ignore_missing).
_LOOKUP_IDX = (0, 4, 5, 6, 7, 8)


def lookup_rows() -> list[dict]:
    return [
        {
            "source": f"src-{k}",
            "host_name": f"host-{k % 16}",
            "host_os": _OS[k % 3],
            "geo_region": _REGIONS[k % 8],
            "team": _TEAMS[k % 5],
        }
        for k in _LOOKUP_IDX
    ]


def lookup_sql(dialect: str) -> str:
    """Inline VALUES relation for the oracle side (and Spark SQL)."""
    rows = ", ".join(
        f"('{r['source']}', '{r['host_name']}', '{r['host_os']}', "
        f"'{r['geo_region']}', '{r['team']}')"
        for r in lookup_rows()
    )
    cols = "(source, host_name, host_os, geo_region, team)"
    if dialect == "duckdb":
        return f"(VALUES {rows}) AS lookup_source{cols}"
    return f"(VALUES {rows} AS lookup_source{cols})"
