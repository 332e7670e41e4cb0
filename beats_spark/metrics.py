"""Metric-series operators: counter→rate and fixed-width histograms.

Metricbeat ships raw monotonic counter SAMPLES (cpu ticks, network
bytes, `metricbeat/module/system/*`) and delegates the derivative to
the store (ES rate agg / Prometheus `rate()`); the ES `histogram`
aggregation is the standard value-distribution rollup. A Spark-first
engine expresses both natively:

- `counter_rate`: per-sample derivative of a monotonic counter with
  the Prometheus reset rule — a decrease means the process restarted,
  so the increase since the reset is the new value itself (resets that
  don't decrease the counter are undetectable, as in Prometheus).
  ONE keyed shuffle: a window partitioned by the series key, ordered
  by event time; a hot series is one sorted run bounded by that
  series' samples. No row multiplies.
- `value_histogram`: ES `histogram` agg analog — fixed-width buckets
  `floor(value/interval)*interval`, count + sum per (keys, bucket).
  Map-side partial aggregation; post-shuffle cardinality is
  value-range/interval × |keys|, independent of row count.

Oracle portability (CLAUDE.md): counters and values are integers
(milli-units); the rate divides exact-integer µs quantities as IEEE
doubles and floors — bit-identical in Spark and DuckDB. Window order
always carries an integer tiebreak column: event timestamps CAN
collide at µs resolution, and a tie-broken ROWS frame is the only
cross-engine-deterministic cumulative.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _us(ts_col: str) -> Column:
    # NTZ → LTZ before epoch math (session tz is UTC)
    return F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))


def counter_rate(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    counter_col: str,
    tiebreak_col: str | None = None,
    per_seconds: float = 1.0,
) -> DataFrame:
    """Per-sample rate of a monotonic integer counter with reset
    detection. Adds three columns:

    - `rate_milli_per_s`: floor(increase · 1e6 · per_seconds / Δt_µs)
      — the counter is assumed to be in milli-units, so this is
      milli-units per `per_seconds` seconds; NULL for each series'
      first sample and for Δt = 0 duplicates.
    - `counter_reset`: true when the counter decreased vs the previous
      sample (process restart); the increase then counts from 0, i.e.
      equals the new sample (Prometheus `rate()` reset rule).
    - `dt_us`: µs gap to the previous sample (NULL on first).

    Cost: one exchange keyed by `keys`, per-series sort. Ref analog:
    metricbeat emits the raw samples and leaves this derivative to ES
    (`metricbeat/mb/module/wrapper.go` period collector); this is the
    in-pipeline form.
    """
    order = [_us(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    c = F.col(counter_col)
    prev_c = F.lag(c).over(w)
    prev_us = F.lag(_us(ts_col)).over(w)
    dt = _us(ts_col) - prev_us
    reset = prev_c.isNotNull() & (c < prev_c)
    increase = F.when(reset, c).otherwise(c - prev_c)
    scale = F.lit(int(1_000_000 * per_seconds))
    rate = F.when(
        prev_c.isNotNull() & (dt > 0), F.floor(increase * scale / dt)
    ).cast("long")
    return df.select(
        "*",
        rate.alias("rate_milli_per_s"),
        reset.alias("counter_reset"),
        F.when(prev_c.isNotNull(), dt).alias("dt_us"),
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    z: float = 3.0,
) -> DataFrame:
    """Flag rows whose integer `value_col` deviates more than `z`
    population standard deviations from their group mean — the
    classic per-dimension anomaly gate. Adds a boolean `is_outlier`.

    Scale shape: per-group (n, Σv, Σv²) via groupBy (map-side partial
    → |keys| rows) then a BROADCAST join back onto the facts — the
    fact table is scanned twice but never shuffled, which beats a
    window formulation (one full exchange of every row) as soon as
    network is the bottleneck.

    Cross-engine determinism (the oracle recipe): the test
    |v − μ| > z·σ is cross-multiplied to
        (n·v − Σv)² > z²·(n·Σv² − (Σv)²)
    with `n·v − Σv` exact in int64 and the squares/products evaluated
    as IEEE doubles in a fixed tree — both engines round identically,
    so the flag is bit-reproducible even where the doubles are
    inexact. No sqrt, no float mean, no order-dependent float sum.
    """
    n = F.count(F.lit(1)).cast("long").alias("__n__")
    s1 = F.sum(F.col(value_col)).cast("long").alias("__s1__")
    s2 = F.sum(F.col(value_col) * F.col(value_col)).cast("long").alias("__s2__")
    stats = df.groupBy(*[F.col(k) for k in keys]).agg(n, s1, s2)
    joined = df.join(F.broadcast(stats), on=list(keys), how="inner")
    dev = (F.col("__n__") * F.col(value_col) - F.col("__s1__")).cast("double")
    var_n2 = F.col("__n__").cast("double") * F.col("__s2__").cast("double") - (
        F.col("__s1__").cast("double") * F.col("__s1__").cast("double")
    )
    flag = (dev * dev) > (F.lit(float(z) * float(z)) * var_n2)
    return joined.withColumn("is_outlier", flag).drop("__n__", "__s1__", "__s2__")


def grouped_topk(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Top-k rows per group by `order_col` (desc by default), with a
    1-based `rank` column. The ordering is made total via
    `tiebreak_col` so the selected set is engine-reproducible.

    Scale shape: `row_number() <= k` over a (keys, order) window is
    rewritten by Spark 4's WindowGroupLimit: each map task keeps only
    its local top-k per group BEFORE the exchange, so the shuffle
    carries ≤ k·|groups| rows per task, not the corpus — the
    distributed heap-select you'd hand-write, for free from the
    declarative form."""
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    interval: int,
    keys: Sequence[str] = (),
    min_doc_count: int = 1,
) -> DataFrame:
    """ES `histogram` aggregation analog over an integer value column:
    fixed-width buckets keyed by `floor(value/interval)*interval`,
    emitting `bucket`, `n` and `sum_value` per (keys, bucket). Buckets
    with fewer than `min_doc_count` rows are dropped (ES default 0
    keeps empties only with extended_bounds — empty buckets don't
    exist in a groupBy, so the floor here is 1)."""
    if interval <= 0:
        raise ValueError("value_histogram: interval must be positive")
    b = (F.floor(F.col(value_col) / F.lit(int(interval))) * int(interval)).cast(
        "long"
    )
    out = df.groupBy(*[F.col(k) for k in keys], b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col)).alias("sum_value"),
    )
    if min_doc_count > 1:
        out = out.filter(F.col("n") >= int(min_doc_count))
    return out


def distinct_sketch_table(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lg_k: int = 14,
) -> DataFrame:
    """Pre-aggregated cardinality table: one HLL (Apache DataSketches)
    sketch of `value_col` per fine-grain key — the ES cardinality-agg
    analog, materialized. ONE scan of the facts with map-side partial
    sketch merges; the result is |keys| rows of ~2^lg_k-byte sketches
    that every coarser rollup can be answered from via
    `rollup_sketches` WITHOUT touching the facts again — the property
    exact count_distinct fundamentally lacks (distinct sets don't
    merge; sketches do). At 100 TB this is the difference between one
    fact scan per dashboard grain and one fact scan total.

    Accuracy contract: estimates are EXACT while a sketch stays in
    coupon mode (roughly < 3/4 · 2^(lg_k-2) distincts — the regime the
    oracle checks at test scales) and ~1.6%/sqrt(2^lg_k/2048) relative
    error beyond it; lg_k sizes the ceiling."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(int(lg_k))).alias("distinct_sketch")
    )


def rollup_sketches(sketch_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge a `distinct_sketch_table` to a coarser grain (any subset
    of its keys, including none for the global figure): hll_union_agg
    over the sketch column, estimate at the end. Input is already
    dimension-sized, so the rollup moves |fine-grain| sketch rows, not
    facts."""
    agg = F.hll_sketch_estimate(F.hll_union_agg("distinct_sketch")).alias(
        "n_distinct"
    )
    if keys:
        return sketch_df.groupBy(*keys).agg(agg)
    return sketch_df.agg(agg)


def quantile_sketch_table(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    k: int = 4096,
) -> DataFrame:
    """Pre-aggregated quantile table — the KLL (Apache DataSketches)
    twin of distinct_sketch_table (verdict-r04 item 8): one mergeable
    rank sketch of `value_col` (BIGINT) per fine-grain key, built in
    ONE scan of the facts with map-side partial merges. Every coarser
    grain (and the global figure) is then answered from these
    dimension-sized rows via `rollup_quantiles` without re-reading
    facts — the property exact percentiles fundamentally lack
    (order statistics don't merge; KLL sketches do, with a proven
    rank-error bound). At 100 TB: one fact scan total, not one per
    dashboard grain.

    Accuracy contract: quantiles are EXACT (the ceil(q·n)-th order
    statistic, DataSketches inclusive rule) while every sketch —
    including every MERGED rollup — retains all its items, i.e. while
    grain n ≤ k (verified empirically: n=3000 k=4096 exact through a
    7-way merge; the regime the q65 oracle checks at test scales).
    Beyond it the normalized rank error is ~1.33%·(200/k)^0.5 — the
    estimate-regime band test_kll_estimate_regime_rank_band pins."""
    return df.groupBy(*keys).agg(
        F.kll_sketch_agg_bigint(value_col, F.lit(int(k))).alias("q_sketch")
    )


def rollup_quantiles(
    sketch_df: DataFrame,
    keys: Sequence[str],
    quantiles: Sequence[float] = (0.5, 0.9),
) -> DataFrame:
    """Merge a `quantile_sketch_table` to a coarser grain (any key
    subset, or none for global) and read the requested quantiles +
    the merged item count. Moves |fine-grain| sketch rows, never
    facts."""
    merged = F.kll_merge_agg_bigint("q_sketch").alias("q_sketch")
    base = (
        sketch_df.groupBy(*keys).agg(merged) if keys else sketch_df.agg(merged)
    )
    labels = [f"p{round(q * 100):02d}" for q in quantiles]
    if len(set(labels)) != len(labels):
        # 2-digit percent labels collide for close quantiles (0.899 vs
        # 0.9 would both be "p90") and mislabel q >= 0.995 as "p100" —
        # refuse rather than emit duplicate/misleading column names
        raise ValueError(
            f"quantiles {list(quantiles)} produce colliding column "
            f"labels {labels} — space them or select them separately"
        )
    cols = [F.col(c) for c in keys]
    cols.append(F.kll_sketch_get_n_bigint("q_sketch").alias("n"))
    for q, lab in zip(quantiles, labels):
        cols.append(
            F.kll_sketch_get_quantile_bigint("q_sketch", F.lit(float(q))).alias(
                lab
            )
        )
    return base.select(*cols)


def mad_anomalies(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    threshold: float = 3.0,
    min_mad: float = 0.0,
) -> DataFrame:
    """Robust per-group anomaly detection: |x − median| > threshold ·
    MAD (median absolute deviation) — the outlier rule that, unlike
    the z-score (q53), a single extreme value cannot drag (breakdown
    point 50% vs 0%). The ES watcher / SRE runbook staple for skewed
    latency metrics.

    Plan shape: two grouped percentile aggregates over ONE key
    partitioning (group medians broadcast back to the facts — same
    zscore recipe: the fact table is never shuffled, only the
    dimension-sized stats move), then a codegen filter.

    Determinism: exact F.percentile interpolation — Spark and DuckDB
    quantile_cont share the p·(n−1) rule AND the IEEE result bits (the
    q48 finding); medians/MADs of integer inputs are .0/.5 doubles,
    exactly representable, no rounding anywhere.

    Degenerate case: when >50% of a group equals its median, MAD = 0
    and EVERY deviating row flags regardless of threshold (a 1-unit
    jitter on a near-constant metric becomes an alert storm). Pass
    `min_mad` (an epsilon floor in value units) to clamp the scale —
    kept out of the default so the oracle-checked semantics stay the
    textbook rule."""
    med = df.groupBy(*keys).agg(
        F.percentile(F.col(value_col), F.lit(0.5)).alias("__med__")
    )
    with_med = df.join(F.broadcast(med), on=list(keys))
    dev = F.abs(F.col(value_col).cast("double") - F.col("__med__"))
    mad = with_med.groupBy(*keys).agg(
        F.percentile(dev, F.lit(0.5)).alias("__mad__"),
        F.first("__med__").alias("__med__"),
        F.count(F.lit(1)).alias("n"),
    )
    flagged = with_med.drop("__med__").join(F.broadcast(mad), on=list(keys))
    scale = F.greatest(F.col("__mad__"), F.lit(float(min_mad)))
    return flagged.withColumn(
        "is_anomaly",
        dev > F.lit(float(threshold)) * scale,
    ).withColumnRenamed("__med__", "med").withColumnRenamed("__mad__", "mad")


def theta_overlap_matrix(
    df: DataFrame,
    key_col: str,
    member_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Pairwise audience overlap: a Theta sketch of `member_col` per
    `key_col` value, then intersection/union ESTIMATES for every key
    pair — the segment-overlap question HLL fundamentally cannot
    answer (HLL unions only; Theta sketches close under intersection
    and difference, the reason DataSketches ships both).

    ONE fact scan builds the sketches; the pair matrix is a broadcast
    self-join of the |keys|-row sketch table — facts never shuffle.
    Exact while sketches stay under ~2^lg_k retained members (the
    regime the q69 oracle checks; ~3% relative error beyond)."""
    sk = df.groupBy(F.col(key_col).alias("k")).agg(
        F.theta_sketch_agg(member_col, F.lit(int(lg_k))).alias("sk")
    )
    a = sk.select(F.col("k").alias("k_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("k").alias("k_b"), F.col("sk").alias("sk_b"))
    pairs = a.join(F.broadcast(b), F.col("k_a") < F.col("k_b"))
    return pairs.select(
        "k_a",
        "k_b",
        F.theta_sketch_estimate(F.col("sk_a")).cast("long").alias("n_a"),
        F.theta_sketch_estimate(F.col("sk_b")).cast("long").alias("n_b"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_a"), F.col("sk_b"))
        ).cast("long").alias("n_both"),
        F.theta_sketch_estimate(F.theta_union(F.col("sk_a"), F.col("sk_b")))
        .cast("long")
        .alias("n_either"),
    )


def _cms_bucket(key: Column, r: int, width: int) -> Column:
    """Row-r hash bucket: md5-60bit of the salted key string, mod
    width — the portable-hash recipe (identical in every engine, so
    COLLISIONS, and therefore the exact overestimates, replay in the
    SQL twin)."""
    h = F.md5(F.concat(F.lit(f"cms{r}:"), key.cast("string")).cast("binary"))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % F.lit(width)


def cms_table(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Pre-aggregated FREQUENCY table: one count-min sketch (Cormode &
    Muthukrishnan, J.Alg 2005) of `value_col` per fine-grain key — the
    third mergeable-sketch family next to HLL (distincts, q63) and KLL
    (quantiles, q65): heavy-hitter counts without per-value state.
    Output rows are (keys..., cms_r, cms_b, cms_c): depth×width
    bounded counters per grain. ONE fact scan, a bounded ×depth
    explode, then a map-side-combined groupBy — at 100 TB every
    coarser grain and every point estimate is answered from this
    dimension-sized table, never the facts.

    Accuracy contract: estimate = min over rows ≥ true count, with
    overshoot ≤ 2·N/width at confidence 1-2^-depth (N = grain total).
    The arithmetic is integer end-to-end and the hash is engine-
    portable, so estimates — including collision overshoot — are
    bit-reproducible cross-engine."""
    positions = F.array(
        *[
            F.struct(
                F.lit(r).alias("cms_r"),
                _cms_bucket(F.col(value_col), r, width).alias("cms_b"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(*keys, F.explode(positions).alias("p"))
        .groupBy(*keys, "p.cms_r", "p.cms_b")
        .agg(F.count(F.lit(1)).alias("cms_c"))
    )


def cms_rollup(sketch_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge a cms_table to a coarser grain: counters SUM cellwise
    (the defining mergeability of linear sketches) — merged ==
    single-pass bit-for-bit, pinned in tests. Moves dimension-sized
    counter rows, never facts."""
    return sketch_df.groupBy(*keys, "cms_r", "cms_b").agg(
        F.sum("cms_c").alias("cms_c")
    )


def cms_estimate(
    sketch_df: DataFrame,
    keys_df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point estimates for the values in keys_df against a (possibly
    rolled-up, grain-free) sketch: min over the depth counters. An
    equi-join of |keys|·depth probe rows against the bounded counter
    table — the facts are long gone."""
    probes = keys_df.select(
        value_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("cms_r"),
                        _cms_bucket(F.col(value_col), r, width).alias("cms_b"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select(value_col, "p.cms_r", "p.cms_b")
    return (
        probes.join(sketch_df.select("cms_r", "cms_b", "cms_c"), ["cms_r", "cms_b"])
        .groupBy(value_col)
        .agg(F.min("cms_c").alias("est_n"))
    )


def date_histogram(
    df: DataFrame,
    ts_col: str,
    interval_us: int,
    value_col: str | None = None,
    min_doc_count: int = 0,
) -> DataFrame:
    """ES `date_histogram` aggregation analog (the bucket source every
    Kibana time-series panel and every pipeline aggregation consumes;
    Beats delegates this rollup to the store — metricbeat docs name
    date_histogram as the visualization path for its metrics).

    Buckets are exact integer floor(epoch_µs / interval) — the
    pmod-subtraction floor, so pre-1970 timestamps bucket identically
    in Spark and DuckDB (`//` truncates toward zero there). With
    ``min_doc_count=0`` empty buckets between the first and last
    populated one are emitted with n=0 (the ES gap-filling contract
    that makes derivatives/moving windows see calendar gaps).

    Scale shape: ONE map-side-combined groupBy over the facts; the
    bucket table is bounded by time-range/interval (thousands of rows
    for years of days), NOT by row count, so the gap-filling spine
    (bounds crossJoin + sequence explode) and everything downstream is
    dimension-sized. 100 TB of facts still reduce to the same spine.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    d = F.lit(int(interval_us))
    bucket = ((us - F.pmod(us, d)) / d).cast("long").alias("bucket_idx")
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col)).alias("sum_v"))
    b = df.select(bucket, *([value_col] if value_col else [])).groupBy(
        "bucket_idx"
    ).agg(*aggs)
    if min_doc_count > 0:
        return b.filter(F.col("n") >= min_doc_count)
    bounds = b.agg(F.min("bucket_idx").alias("lo"), F.max("bucket_idx").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bucket_idx")
    )
    filled = [F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")]
    if value_col is not None:
        filled.append(
            F.coalesce(F.col("sum_v"), F.lit(0)).cast("long").alias("sum_v")
        )
    return spine.join(b, "bucket_idx", "left").select("bucket_idx", *filled)


def pipeline_aggs(
    buckets: DataFrame,
    order_col: str,
    metric_cols: Sequence[str],
    window: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """ES *pipeline aggregations* over a bucket series: for each metric
    m adds `cum_{m}` (cumulative_sum), `deriv_{m}` (derivative — NULL
    for the first bucket, exactly ES's "no value for the first"), and
    `mavg_{m}_scaled` (moving_fn avg over the trailing `window` buckets
    INCLUDING current, head-shrunk like moving_fn's partial windows;
    emitted as floor(scale·sum/count) so the value is an exact BIGINT
    both engines reproduce bit-for-bit — metrics must be non-negative,
    which every count/sum-of-milli here is, making trunc == floor).

    The window is intentionally GLOBAL and unpartitioned: pipeline
    aggs are defined over the reduced bucket list (ES runs them on the
    coordinating node after the shard reduce), and `date_histogram`
    bounds that list by time-range/interval, not by fact rows — a
    single sorted run of thousands of rows at any corpus size. Facts
    were reduced one stage earlier; nothing row-proportional enters
    this window.
    """
    w_ord = Window.orderBy(order_col)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_mov = w_ord.rowsBetween(-(window - 1), Window.currentRow)
    out = buckets
    for m in metric_cols:
        # exact integer floor division of two BIGINTs: (s - pmod(s, n))
        # is divisible by n, so the truncating `div` IS the floor — the
        # IEEE `/` rounds once scale·sum passes 2^53 (exact-integer oracle
        # rule; same as geo's centroid)
        out = (
            out.withColumn(f"cum_{m}", F.sum(m).over(w_cum).cast("long"))
            .withColumn(
                f"deriv_{m}", (F.col(m) - F.lag(m, 1).over(w_ord)).cast("long")
            )
            .withColumn("__mavg_s", F.lit(int(scale)) * F.sum(m).over(w_mov))
            .withColumn("__mavg_n", F.count(F.lit(1)).over(w_mov))
            .withColumn(
                f"mavg_{m}_scaled",
                F.expr("(__mavg_s - pmod(__mavg_s, __mavg_n)) div __mavg_n"),
            )
            .drop("__mavg_s", "__mavg_n")
        )
    return out


def ewma_smooth(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    num: int = 1,
    den: int = 8,
) -> DataFrame:
    """Per-series exponentially-weighted moving average with a RATIONAL
    smoothing factor α = num/den (Roberts 1959 control chart; the ES
    `moving_fn` ewma / Metricbeat load-average smoothing analog), kept
    in exact integers:

        s_1 = x_1;   s_t = (num·x_t + (den−num)·s_{t−1}) // den

    Floating EWMA is engine-unreproducible (every step rounds), so the
    recurrence floors at each step and is DEFINED that way — a DuckDB
    recursive CTE replays it bit-for-bit (values must be non-negative
    for that twin: DuckDB `//` truncates toward zero, Python floors).

    EWMA is non-associative — no window/aggregate expresses it — so a
    Python fold is unavoidable; the shape that scales is "VECTORIZE
    ACROSS SERIES, loop within a series": each series is assembled
    JVM-side into one time-ordered array row
    (array_sort(collect_list(struct))) and ONE scalar pandas UDF folds
    a whole Arrow batch of series per call — measured 40× faster than
    the per-group applyInPandas form, whose per-group Arrow round-trip
    (~4 ms) dominates when thousands of small series land on few
    post-AQE partitions. The fold returns an ewma array; posexplode
    (JVM) rebuilds the rows. Scale shape: ONE keyed exchange
    (groupBy collect_list); per-row memory is the largest single
    series (a series too long for one row should be restarted per
    time-window upstream — the recurrence forgets at rate (1−α)^t, so
    windowed restarts are standard practice, not a workaround).
    Returns (keys..., rn, value, ewma) with rn the 1-based position in
    the series — emitted so twins can join row-for-row.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not (0 < num < den):
        raise ValueError(f"need 0 < num < den, got {num}/{den}")
    nn, dd = int(num), int(den)
    ser = _assemble_series(df, keys, ts_col, value_col, tiebreak_col)

    def _fold(vals):
        out = []
        for arr in vals:
            s: list[int] = []
            cur: int | None = None
            for x in arr:
                x = int(x)  # numpy int64 would overflow silently
                cur = x if cur is None else (nn * x + (dd - nn) * cur) // dd
                s.append(cur)
            out.append(s)
        return pd.Series(out)

    # real-object annotations (the module uses `from __future__ import
    # annotations`, so inline hints would be unresolvable strings here)
    _fold.__annotations__ = {"vals": pd.Series, "return": pd.Series}
    fold = pandas_udf(_fold, "array<long>")

    z = F.posexplode(F.arrays_zip(F.col("__vals"), F.col("__ewma")))
    return (
        ser.withColumn("__ewma", fold("__vals"))
        .select(*keys, z.alias("__pos", "__z"))
        .select(
            *keys,
            (F.col("__pos") + 1).cast("long").alias("rn"),
            F.col("__z.__vals").alias("value"),
            F.col("__z.__ewma").alias("ewma"),
        )
    )


def _assemble_series(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """The JVM-side half of the batched series fold shared by
    ewma_smooth / holt_smooth: one keyed exchange assembles each
    series into a single time-ordered long array
    (array_sort(collect_list(struct)) — struct compare is
    field-order lexicographic, so (ts, tiebreak) ordering is exact)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    return df.groupBy(*keys).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        us.alias("u"),
                        F.col(tiebreak_col).alias("tb"),
                        F.col(value_col).cast("long").alias("v"),
                    )
                )
            ),
            lambda x: x["v"],
        ).alias("__vals")
    )


def holt_smooth(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    alpha: tuple[int, int] = (1, 4),
    beta: tuple[int, int] = (1, 8),
) -> DataFrame:
    """Per-series Holt linear (double exponential) smoothing with
    rational factors — the ES `moving_fn` holt() / Metricbeat trend
    model — kept in exact integers:

        l_1 = x_1
        b_1 = x_2 − x_1   (0 for a length-1 series)
        l_t = ⌊(na·x_t + (da−na)·(l_{t−1} + b_{t−1})) / da⌋
        b_t = ⌊(nb·(l_t − l_{t−1}) + (db−nb)·b_{t−1}) / db⌋

    Each step FLOORS (Python `//`; trends go negative, so the DuckDB
    recursive-CTE twin must spell the floor out — engine `//`/`div`
    truncate toward zero). Same scale shape as ewma_smooth: series
    assembled JVM-side (one keyed exchange), ONE scalar pandas UDF
    folds whole Arrow batches of series, posexplode rebuilds rows.
    Returns (keys..., rn, value, level, trend, forecast) with
    forecast = level + trend, the 1-step-ahead prediction."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    na, da = map(int, alpha)
    nb, db = map(int, beta)
    if not (0 < na < da and 0 < nb < db):
        raise ValueError(f"need proper fractions, got {alpha}, {beta}")
    ser = _assemble_series(df, keys, ts_col, value_col, tiebreak_col)

    def _fold(vals):
        out = []
        for arr in vals:
            xs = [int(x) for x in arr]  # numpy int64 would overflow
            if not xs:
                out.append([])
                continue
            lv = xs[0]
            tr = xs[1] - xs[0] if len(xs) > 1 else 0
            lb = [[lv, tr]]
            for x in xs[1:]:
                prev = lv
                lv = (na * x + (da - na) * (lv + tr)) // da
                tr = (nb * (lv - prev) + (db - nb) * tr) // db
                lb.append([lv, tr])
            out.append(lb)
        return pd.Series(out)

    _fold.__annotations__ = {"vals": pd.Series, "return": pd.Series}
    fold = pandas_udf(_fold, "array<array<long>>")

    z = F.posexplode(F.arrays_zip(F.col("__vals"), F.col("__lb")))
    lvl = F.element_at("__z.__lb", 1)
    trd = F.element_at("__z.__lb", 2)
    return (
        ser.withColumn("__lb", fold("__vals"))
        .select(*keys, z.alias("__pos", "__z"))
        .select(
            *keys,
            (F.col("__pos") + 1).cast("long").alias("rn"),
            F.col("__z.__vals").alias("value"),
            lvl.alias("level"),
            trd.alias("trend"),
            (lvl + trd).alias("forecast"),
        )
    )


# ES auto_date_histogram's fixed-interval ladder (the sub-calendar
# prefix of the published rounding table; month/year rounding is
# calendar arithmetic and out of scope — spans that would need it get
# the 7d ceiling, documented)
AUTO_HISTOGRAM_INTERVALS_US: tuple[int, ...] = tuple(
    s * 1_000_000
    for s in (
        1, 5, 10, 30,  # seconds
        60, 300, 600, 1_800,  # minutes
        3_600, 10_800, 43_200,  # hours: 1h 3h 12h
        86_400, 604_800,  # 1d 7d
    )
)


def auto_date_histogram(
    df: DataFrame,
    ts_col: str,
    target_buckets: int,
    value_col: str | None = None,
) -> tuple[DataFrame, int]:
    """ES `auto_date_histogram`: pick the SMALLEST interval from the
    rounding ladder whose gap-filled bucket count stays ≤
    target_buckets, then run the ordinary date_histogram at it.
    Interval choice needs only the (min, max) epoch-µs pair — one
    2-scalar aggregate collected driver-side (the bounded n=count()
    pattern), after which the plan is exactly date_histogram's. Bucket
    count per candidate is floor(max/iv) − floor(min/iv) + 1 with
    Python's flooring `//` — an oracle replays the same rule in SQL
    (explicit floor for negative epochs). Returns (buckets DataFrame,
    chosen interval_us); the interval rides along as a constant column
    so result consumers (and oracles) see the choice."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    lo, hi = df.select(
        F.min(us).alias("lo"), F.max(us).alias("hi")
    ).collect()[0]
    if lo is None:
        raise ValueError("auto_date_histogram: empty input")
    iv = AUTO_HISTOGRAM_INTERVALS_US[-1]
    for cand in AUTO_HISTOGRAM_INTERVALS_US:
        if int(hi) // cand - int(lo) // cand + 1 <= target_buckets:
            iv = cand
            break
    out = date_histogram(df, ts_col, iv, value_col=value_col).withColumn(
        "interval_us", F.lit(iv).cast("long")
    )
    return out, iv
