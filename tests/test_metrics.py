"""Metric-series operators (beats_spark/metrics.py) vs hand oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from beats_spark.metrics import counter_rate, value_histogram
from tests.harness import pin_file_order


def _samples(spark):
    # host h1: steady counter, then a restart (300 -> 40)
    # host h2: a zero-dt duplicate sample
    return spark.createDataFrame(
        [
            ("h1", 1, "2024-01-01 00:00:00", 100),
            ("h1", 2, "2024-01-01 00:00:10", 300),
            ("h1", 3, "2024-01-01 00:00:20", 40),   # reset: counts from 0
            ("h1", 4, "2024-01-01 00:00:30", 140),
            ("h2", 5, "2024-01-01 00:00:00", 50),
            ("h2", 6, "2024-01-01 00:00:00", 70),   # dt = 0 → NULL rate
            ("h2", 7, "2024-01-01 00:00:05", 120),
        ],
        "host string, sid long, ts string, ctr long",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_counter_rate_reset_rule_and_zero_dt(spark):
    out = counter_rate(
        _samples(spark), keys=("host",), ts_col="ts",
        counter_col="ctr", tiebreak_col="sid",
    )
    rows = {r.sid: r for r in out.collect()}
    # first sample per series: everything NULL
    assert rows[1].rate_milli_per_s is None and rows[1].dt_us is None
    # 200 over 10s = 20/s
    assert rows[2].rate_milli_per_s == 20 and not rows[2].counter_reset
    # reset: increase = the new value (40), over 10s = 4/s
    assert rows[3].counter_reset and rows[3].rate_milli_per_s == 4
    # post-reset resumes normal deltas: 100 over 10s
    assert rows[4].rate_milli_per_s == 10 and not rows[4].counter_reset
    # zero-dt duplicate: rate NULL, not a reset (70 >= 50), dt recorded
    assert rows[6].rate_milli_per_s is None
    assert not rows[6].counter_reset and rows[6].dt_us == 0
    # tiebreak made the 00:00:05 sample diff against sid=6 (ctr 70)
    assert rows[7].rate_milli_per_s == 10  # (120-70)/5s
    assert out.count() == 7  # no row multiplied or lost


def test_counter_rate_undetectable_reset_is_plain_delta(spark):
    # a restart that lands ABOVE the previous sample cannot be seen
    # (Prometheus semantics): treated as a normal increase
    df = spark.createDataFrame(
        [("h", 1, "2024-01-01 00:00:00", 10), ("h", 2, "2024-01-01 00:00:01", 90)],
        "host string, sid long, ts string, ctr long",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = counter_rate(df, keys=("host",), ts_col="ts", counter_col="ctr",
                       tiebreak_col="sid").collect()
    r = {x.sid: x for x in out}[2]
    assert not r.counter_reset and r.rate_milli_per_s == 80


def test_grouped_topk_rank_ties_and_plan(spark):
    from beats_spark.metrics import grouped_topk

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 30), ("a", 4, 20), ("b", 5, 7)],
        "k string, id long, v long",
    )
    out = grouped_topk(df, keys=("k",), order_col="v", k=2, tiebreak_col="id")
    got = [(r.k, r.rank, r.id, r.v) for r in out.orderBy("k", "rank").collect()]
    # tie at v=30 broken by id asc; v=20 misses the cut
    assert got == [("a", 1, 2, 30), ("a", 2, 3, 30), ("b", 1, 5, 7)]
    # ascending mode
    asc = grouped_topk(df, keys=("k",), order_col="v", k=1, ascending=True,
                       tiebreak_col="id")
    assert [(r.k, r.id) for r in asc.orderBy("k").collect()] == [("a", 1), ("b", 5)]
    # Spark 4 rewrites row_number()<=k into a pre-shuffle group limit
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_zscore_outliers_hand_oracle(spark):
    from beats_spark.metrics import zscore_outliers

    # group a: mean 20, pop-var 2560 (σ≈50.6) → only the 100 clears z=1
    df = spark.createDataFrame(
        [("a", 0), ("a", 0), ("a", 0), ("a", 0), ("a", 100),
         ("b", 5), ("b", 5)],
        "k string, v long",
    )
    out = zscore_outliers(df, "v", keys=("k",), z=1.0)
    got = sorted((r.k, r.v, r.is_outlier) for r in out.collect())
    assert got == [
        ("a", 0, False), ("a", 0, False), ("a", 0, False), ("a", 0, False),
        ("a", 100, True),
        ("b", 5, False), ("b", 5, False),  # zero variance: nothing flags
    ]
    # z=3 unflags it: dev²=160000 vs 9·40000
    strict = zscore_outliers(df, "v", keys=("k",), z=3.0)
    assert not any(r.is_outlier for r in strict.collect())
    # helper columns never leak
    assert out.columns == ["k", "v", "is_outlier"]


def test_value_histogram_buckets_and_min_doc_count(spark):
    df = spark.createDataFrame(
        [("a", 3), ("a", 7), ("a", 12), ("a", 27), ("b", 12)],
        "k string, v long",
    )
    out = value_histogram(df, "v", interval=10, keys=("k",))
    got = {(r.k, r.bucket): (r.n, r.sum_value) for r in out.collect()}
    assert got == {
        ("a", 0): (2, 10),
        ("a", 10): (1, 12),
        ("a", 20): (1, 27),
        ("b", 10): (1, 12),
    }
    kept = value_histogram(df, "v", interval=10, keys=("k",), min_doc_count=2)
    assert [(r.k, r.bucket) for r in kept.collect()] == [("a", 0)]


def test_streaming_counter_rate_matches_batch_across_microbatches(spark, tmp_path):
    """The GroupState carry makes the continuous form emit EXACTLY the
    batch engine's rates: multi-file micro-batches split each series
    mid-stream, with h1's counter reset landing exactly on the batch
    boundary — the reset must be detected against the carried state,
    not within a batch."""
    import os

    from beats_spark.streaming import streaming_counter_rate

    src = str(tmp_path / "src")
    os.makedirs(src)
    batch_df = _samples(spark).withColumn("ts_us", F.unix_micros("ts"))
    pdf = batch_df.select("host", "sid", "ts_us", "ctr").toPandas()
    pdf = pdf.sort_values("sid")
    # file 1 ends with h1 at ctr=300; file 2 opens with the reset to 40
    for i, part in enumerate([pdf.iloc[:2], pdf.iloc[2:5], pdf.iloc[5:]]):
        part.to_json(f"{src}/f{i}.json", orient="records", lines=True)
    pin_file_order(src)

    stream = (
        spark.readStream.format("json")
        .schema("host string, sid long, ts_us long, ctr long")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    out = streaming_counter_rate(
        stream, key_col="host", ts_us_col="ts_us", counter_col="ctr",
        tiebreak_col="sid",
    )
    rows = []
    q = (
        out.writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    want = {
        (r.host, r["ts_us"]): (r.rate_milli_per_s, r.counter_reset, r.dt_us)
        for r in counter_rate(
            _samples(spark), keys=("host",), ts_col="ts",
            counter_col="ctr", tiebreak_col="sid",
        ).withColumn("ts_us", F.unix_micros("ts")).collect()
        # the zero-dt duplicate pair shares (host, ts_us); streaming
        # orders them by the sid tiebreak identically, but the dict key
        # collides — compare that series by multiset below
        if r.host != "h2"
    }
    got = {
        (r.key, r.ts_us): (r.rate_milli_per_s, r.counter_reset, r.dt_us)
        for r in rows if r.key != "h2"
    }
    assert got == want and len(got) == 4
    h2_want = sorted(
        [
            (r.rate_milli_per_s, r.counter_reset, r.dt_us)
            for r in counter_rate(
                _samples(spark), keys=("host",), ts_col="ts",
                counter_col="ctr", tiebreak_col="sid",
            ).collect()
            if r.host == "h2"
        ],
        key=str,
    )
    h2_got = sorted(
        [
            (r.rate_milli_per_s, r.counter_reset, r.dt_us)
            for r in rows
            if r.key == "h2"
        ],
        key=str,
    )
    assert h2_got == h2_want and len(h2_got) == 3


def test_sketch_rollup_merge_equals_direct_and_error_bounded(spark):
    """Mergeability (the whole point): the union of per-group sketches
    estimates the same figure as one single-pass sketch of the union —
    so coarse grains never need the facts again. Beyond coupon mode the
    estimate is approximate but bounded (HLL sigma at lg_k=12 is
    ~1.6%; this fixed dataset lands at 3.7% ~ 2.3 sigma — assert <5%)."""
    from beats_spark.metrics import distinct_sketch_table, rollup_sketches

    df = spark.range(200_000).select(
        (F.col("id") % 8).alias("g"), (F.col("id") % 50_000).alias("u")
    )
    sk = distinct_sketch_table(df, ["g"], "u", lg_k=12)
    merged = rollup_sketches(sk, []).first().n_distinct
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("u", F.lit(12))).alias("n")
    ).first().n
    assert merged == direct
    assert abs(merged - 50_000) / 50_000 < 0.05
    # per-group coupon-mode exactness at small cardinalities
    small = spark.range(3_000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 400).alias("u")
    )
    per = rollup_sketches(distinct_sketch_table(small, ["g"], "u"), ["g"]).collect()
    assert all(r.n_distinct == 400 for r in per)


def test_streaming_counter_rate_multi_chunk_group(spark, tmp_path):
    """A key's rows can span several Arrow chunks inside ONE
    micro-batch: with maxRecordsPerBatch=3 and 12 shuffled samples in
    a single file, per-chunk sorting would interleave the time order —
    the handler must concat before sorting (regression for the
    cross-chunk fix)."""
    import json as _json
    import os
    import random

    from beats_spark.streaming import streaming_counter_rate

    src = str(tmp_path / "src")
    os.makedirs(src)
    samples = [
        {"host": "h", "sid": i, "ts_us": 1_000_000 * (i + 1), "ctr": 10 * i}
        for i in range(12)
    ]
    shuffled = samples[:]
    random.Random(7).shuffle(shuffled)
    with open(f"{src}/f0.json", "w") as fh:
        fh.write("\n".join(_json.dumps(r) for r in shuffled))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = (
            spark.readStream.format("json")
            .schema("host string, sid long, ts_us long, ctr long")
            .load(src)
        )
        out = streaming_counter_rate(
            stream, key_col="host", ts_us_col="ts_us", counter_col="ctr",
            tiebreak_col="sid",
        )
        rows = []
        q = (
            out.writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {r.ts_us: (r.rate_milli_per_s, r.dt_us) for r in rows}
    # inc=10 per 1s step -> floor(10 * 1e6 / 1e6) = 10 milli-units/s
    want = {1_000_000 * (i + 1): (
        None if i == 0 else 10, None if i == 0 else 1_000_000
    ) for i in range(12)}
    assert got == want


def test_kll_rollup_merge_equals_single_pass_exact_regime(spark):
    """Verdict-r04 item 8 mergeability gate: merging per-group KLL
    sketches answers the same quantiles as one single-pass sketch over
    all facts — bit-equal in the exact regime (every sketch retains
    all items), where both equal the ceil(q·n)-th order statistic."""
    import math

    from pyspark.sql import functions as F

    from beats_spark.metrics import quantile_sketch_table, rollup_quantiles

    vals = [((v * 48_271) % 3001, v % 11) for v in range(1, 2501)]
    df = spark.createDataFrame(vals, "milli long, g int").repartition(8)
    sk = quantile_sketch_table(df, ["g"], "milli")
    merged = rollup_quantiles(sk, [], quantiles=(0.5, 0.9)).collect()[0]
    single = (
        rollup_quantiles(
            quantile_sketch_table(df, [], "milli"), [], quantiles=(0.5, 0.9)
        ).collect()[0]
    )
    assert (merged.n, merged.p50, merged.p90) == (single.n, single.p50, single.p90)
    ordered = sorted(m for m, _ in vals)
    n = len(ordered)
    assert merged.n == n
    assert merged.p50 == ordered[math.ceil(0.5 * n) - 1]
    assert merged.p90 == ordered[math.ceil(0.9 * n) - 1]


def test_kll_estimate_regime_rank_band(spark):
    """Beyond the exact regime (n >> k) the merged estimate must stay
    inside KLL's published normalized-rank error (~1.33% at k=200;
    assert a generous 3% band) — the honest sketch contract at the
    scales where exactness is impossible."""
    from pyspark.sql import functions as F

    from beats_spark.metrics import quantile_sketch_table, rollup_quantiles

    n = 60_000
    df = (
        spark.range(1, n + 1)
        .select(
            ((F.col("id") * 48_271) % 1_000_003).alias("milli"),
            (F.col("id") % 16).cast("int").alias("g"),
        )
        .repartition(8)
    )
    sk = quantile_sketch_table(df, ["g"], "milli", k=200)
    got = rollup_quantiles(sk, [], quantiles=(0.5, 0.9)).collect()[0]
    assert got.n == n
    ordered = sorted(
        r.milli for r in df.select("milli").collect()
    )
    for q, est in ((0.5, got.p50), (0.9, got.p90)):
        # normalized rank of the estimate vs requested rank
        import bisect

        rank = bisect.bisect_right(ordered, est) / n
        assert abs(rank - q) <= 0.03, (q, est, rank)


def test_mad_min_scale_floors_degenerate_groups(spark):
    """MAD=0 degenerate case (review-r5): >50% of a group at the
    median flags every 1-unit jitter by default (textbook rule, the
    oracle-checked semantics); min_mad floors the scale for
    operational use."""
    from beats_spark.metrics import mad_anomalies

    rows = [("g", i, 100) for i in range(60)] + [
        ("g", 60 + i, 101) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, i long, v long")
    assert mad_anomalies(df, ("g",), "v").filter("is_anomaly").count() == 40
    assert (
        mad_anomalies(df, ("g",), "v", min_mad=0.5)
        .filter("is_anomaly")
        .count()
        == 0
    )


def test_kll_label_collision_raises(spark):
    from beats_spark.metrics import quantile_sketch_table, rollup_quantiles

    df = spark.range(1, 100).selectExpr("id as milli", "1 as g")
    sk = quantile_sketch_table(df, ["g"], "milli")
    import pytest

    with pytest.raises(ValueError, match="colliding"):
        rollup_quantiles(sk, [], quantiles=(0.899, 0.9))


def test_cms_merge_equals_single_pass_and_python_twin(spark):
    import hashlib

    from beats_spark.metrics import cms_estimate, cms_rollup, cms_table

    rows = [(i % 7, f"u{i % 23}") for i in range(500)]
    df = spark.createDataFrame(rows, ["day", "uid"])
    depth, width = 3, 32  # tiny width forces collisions
    fine = cms_table(df, ["day"], "uid", depth=depth, width=width)
    merged = cms_rollup(fine, [])
    single = cms_table(df.select("uid"), [], "uid", depth=depth, width=width)
    # linear sketches: merged counters == single-pass counters, cell-exact
    m = {(r.cms_r, r.cms_b): r.cms_c for r in merged.collect()}
    s = {(r.cms_r, r.cms_b): r.cms_c for r in single.collect()}
    assert m == s
    # point estimates match a pure-Python CMS with the same hash
    def bucket(uid: str, r: int) -> int:
        return int(hashlib.md5(f"cms{r}:{uid}".encode()).hexdigest()[:15], 16) % width

    ctr: dict = {}
    for _, uid in rows:
        for r in range(depth):
            k = (r, bucket(uid, r))
            ctr[k] = ctr.get(k, 0) + 1
    expect = {}
    exact: dict = {}
    for _, uid in rows:
        exact[uid] = exact.get(uid, 0) + 1
    for uid in exact:
        expect[uid] = min(ctr[(r, bucket(uid, r))] for r in range(depth))
    keys = spark.createDataFrame([(u,) for u in exact], ["uid"])
    est = {
        r.uid: r.est_n
        for r in cms_estimate(merged, keys, "uid", depth=depth, width=width).collect()
    }
    assert est == expect
    # CMS never undercounts
    assert all(est[u] >= exact[u] for u in exact)
    # the tiny width really collided (the estimate-vs-exact gap exists)
    assert any(est[u] > exact[u] for u in exact)


# --- date_histogram + pipeline aggs (q95 family) ------------------------------


def test_date_histogram_gap_fill_and_pipeline_aggs(spark):
    from beats_spark.metrics import date_histogram, pipeline_aggs

    # days 0, 1, 4 populated -> gap days 2, 3 must surface as n=0
    rows = [
        ("2024-01-01 00:00:01", 10),
        ("2024-01-01 12:00:00", 20),
        ("2024-01-02 05:00:00", 5),
        ("2024-01-05 23:59:59", 7),
    ]
    df = spark.createDataFrame(rows, "ts STRING, v LONG").select(
        F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    b = date_histogram(df, "ts", 86_400_000_000, value_col="v")
    out = {
        r["bucket_idx"]: r
        for r in pipeline_aggs(b, "bucket_idx", ["n", "sum_v"], window=3).collect()
    }
    base = 19723  # 2024-01-01 in days since epoch
    assert sorted(out) == [base + i for i in range(5)]
    assert [out[base + i]["n"] for i in range(5)] == [2, 1, 0, 0, 1]
    assert [out[base + i]["sum_v"] for i in range(5)] == [30, 5, 0, 0, 7]
    # cumulative sum
    assert [out[base + i]["cum_n"] for i in range(5)] == [2, 3, 3, 3, 4]
    # derivative: NULL for the first bucket (ES contract)
    assert out[base]["deriv_n"] is None
    assert [out[base + i]["deriv_n"] for i in range(1, 5)] == [-1, -1, 0, 1]
    # moving avg: head-shrunk windows, floor(1e6*sum/cnt)
    exp_n = [2, 1, 0, 0, 1]
    for i in range(5):
        w = exp_n[max(0, i - 2): i + 1]
        assert out[base + i]["mavg_n_scaled"] == (10**6 * sum(w)) // len(w)


def test_pipeline_aggs_mavg_exact_past_2_53(spark):
    """ADVICE r5: the moving average is an exact integer floor even when
    scale·(window sum) passes 2^53, where an IEEE `/` rounds."""
    from beats_spark.metrics import pipeline_aggs

    sums = [6_000_000_000, 7_000_000_000, 7_000_000_000]
    b = spark.createDataFrame(list(enumerate(sums)), "bucket_idx LONG, v LONG")
    out = {
        r["bucket_idx"]: r["mavg_v_scaled"]
        for r in pipeline_aggs(b, "bucket_idx", ["v"], window=3).collect()
    }
    s = 10**6 * sum(sums)
    num = s - s % 3
    assert num > 2**53 and int(float(num) / 3) != num // 3  # `/` would miss
    assert out[2] == s // 3
    assert out[0] == 10**6 * sums[0] and out[1] == 10**6 * sum(sums[:2]) // 2


def test_date_histogram_min_doc_count_filters(spark):
    from beats_spark.metrics import date_histogram

    rows = [("2024-01-01 00:00:01",), ("2024-01-01 02:00:00",), ("2024-01-03 00:00:01",)]
    df = spark.createDataFrame(rows, "ts STRING").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    got = date_histogram(df, "ts", 86_400_000_000, min_doc_count=2).collect()
    assert len(got) == 1 and got[0]["n"] == 2


# --- ewma_smooth (q98 family) --------------------------------------------------


def test_ewma_smooth_matches_python_fold(spark):
    from beats_spark.metrics import ewma_smooth
    import random

    rng = random.Random(98)
    rows = []
    for key in ("a", "b"):
        for i in range(25):
            rows.append((key, f"2024-01-01 00:{i:02d}:00", i, rng.randrange(0, 5000)))
    df = spark.createDataFrame(
        rows, "k STRING, ts STRING, tb LONG, v LONG"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "tb", "v")
    got = {
        (r["k"], r["rn"]): (r["value"], r["ewma"])
        for r in ewma_smooth(df, ["k"], "ts", "v", "tb").collect()
    }
    by_key: dict[str, list[int]] = {}
    for k, _, _, v in rows:
        by_key.setdefault(k, []).append(v)
    for k, xs in by_key.items():
        s = None
        for i, x in enumerate(xs):
            s = x if s is None else (x + 7 * s) // 8
            assert got[(k, i + 1)] == (x, s)
    # ewma converges toward a constant series' value
    const = spark.createDataFrame(
        [("c", f"2024-01-01 00:{i:02d}:00", i, 800) for i in range(40)],
        "k STRING, ts STRING, tb LONG, v LONG",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "tb", "v")
    last = (
        ewma_smooth(const, ["k"], "ts", "v", "tb")
        .orderBy(F.desc("rn")).limit(1).collect()[0]
    )
    assert last["ewma"] == 800


def test_ewma_smooth_validates_alpha(spark):
    from beats_spark.metrics import ewma_smooth
    import pytest as _pytest

    df = spark.range(1).select(
        F.lit("k").alias("k"),
        F.current_timestamp().alias("ts"),
        F.lit(0).alias("tb"),
        F.lit(1).alias("v"),
    )
    with _pytest.raises(ValueError):
        ewma_smooth(df, ["k"], "ts", "v", "tb", num=8, den=8)


def test_streaming_ewma_matches_batch_across_microbatches(spark, tmp_path):
    """GroupState carry makes the continuous EWMA emit EXACTLY the
    batch fold: micro-batch files split each series mid-stream, so the
    recurrence must resume from carried (last_s, n_seen), not restart."""
    import os

    from beats_spark.metrics import ewma_smooth
    from beats_spark.streaming import streaming_ewma

    rows = []
    for k in ("h1", "h2"):
        base = 100 if k == "h1" else 4000
        for i in range(9):
            rows.append((k, 1_700_000_000_000_000 + i * 1_000_000, i, base + i * 37))
    df = spark.createDataFrame(rows, "k string, ts_us long, tb long, v long")

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = df.toPandas().sort_values(["k", "tb"])
    # three files -> three micro-batches, each splitting both series
    for i, part in enumerate([pdf.iloc[:5], pdf.iloc[5:12], pdf.iloc[12:]]):
        part.to_json(f"{src}/f{i}.json", orient="records", lines=True)
    pin_file_order(src)
    stream = (
        spark.readStream.format("json")
        .schema("k string, ts_us long, tb long, v long")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    out = streaming_ewma(
        stream, key_col="k", ts_us_col="ts_us", value_col="v", tiebreak_col="tb"
    )
    got_rows = []
    q = (
        out.writeStream.foreachBatch(lambda d, _: got_rows.extend(d.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    batch = ewma_smooth(
        df.select("k", F.timestamp_micros("ts_us").alias("ts"), "tb", "v"),
        ["k"], "ts", "v", "tb",
    )
    want = {(r["k"], r["rn"]): (r["value"], r["ewma"]) for r in batch.collect()}
    got = {(r["key"], r["rn"]): (r["value"], r["ewma"]) for r in got_rows}
    assert got == want and len(got) == 18


def test_holt_smooth_matches_python_fold_with_negative_trends(spark):
    from beats_spark.metrics import holt_smooth
    import random

    rng = random.Random(102)
    rows = []
    for key in ("up", "down", "noisy"):
        base, step = (0, 40) if key == "up" else (9000, -37)
        for i in range(30):
            v = base + step * i + (rng.randrange(-50, 50) if key == "noisy" else 0)
            rows.append((key, f"2024-01-01 01:{i:02d}:00", i, v))
    rows.append(("solo", "2024-01-01 02:00:00", 0, 123))  # length-1 series
    df = spark.createDataFrame(
        rows, "k STRING, ts STRING, tb LONG, v LONG"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "tb", "v")
    got = {
        (r["k"], r["rn"]): (r["value"], r["level"], r["trend"], r["forecast"])
        for r in holt_smooth(
            df, ["k"], "ts", "v", "tb", alpha=(1, 4), beta=(1, 8)
        ).collect()
    }
    by_key: dict[str, list[int]] = {}
    for k, _, _, v in rows:
        by_key.setdefault(k, []).append(v)
    n_checked = 0
    for k, xs in by_key.items():
        lv = xs[0]
        tr = xs[1] - xs[0] if len(xs) > 1 else 0
        assert got[(k, 1)] == (xs[0], lv, tr, lv + tr)
        for i, x in enumerate(xs[1:], start=2):
            prev = lv
            lv = (1 * x + 3 * (lv + tr)) // 4  # python // floors: exact twin
            tr = (1 * (lv - prev) + 7 * tr) // 8
            assert got[(k, i)] == (x, lv, tr, lv + tr)
            n_checked += 1
    assert n_checked == 87
    # the 'down' series must actually exercise negative trend values
    assert any(got[("down", i)][2] < 0 for i in range(1, 31))


def test_auto_date_histogram_interval_pick(spark):
    from beats_spark.metrics import (
        AUTO_HISTOGRAM_INTERVALS_US,
        auto_date_histogram,
    )

    # 90 seconds of data, target 20 buckets: 1s -> 91 buckets (no),
    # 5s -> 19 buckets (yes) — first-adequate rule picks 5s
    rows = [(i, i * 1_000_000) for i in range(0, 91, 1)]
    df = spark.createDataFrame(rows, "i long, us long").select(
        "i", F.timestamp_micros("us").alias("ts")
    )
    out, iv = auto_date_histogram(df, "ts", target_buckets=20, value_col="i")
    assert iv == 5_000_000
    buckets = {r.bucket_idx: (r.n, r.sum_v) for r in out.collect()}
    assert len(buckets) == 19 and buckets[0] == (5, 0 + 1 + 2 + 3 + 4)
    assert all(r == 5_000_000 for r in [x.interval_us for x in out.collect()])
    # a span that exhausts the ladder clamps to the 7d ceiling
    wide = spark.createDataFrame(
        [(i, i * 604_800_000_000 * 3) for i in range(25)], "i long, us long"
    ).select("i", F.timestamp_micros("us").alias("ts"))
    _, iv2 = auto_date_histogram(wide, "ts", target_buckets=20)
    assert iv2 == AUTO_HISTOGRAM_INTERVALS_US[-1]


def test_streaming_holt_matches_batch_across_microbatches(spark, tmp_path):
    """streaming_holt == holt_smooth, with micro-batch boundaries that
    hit BOTH interesting spots: one right after a series' FIRST value
    (the deferred rn-1 emit must cross the boundary via pend_x) and
    one mid-recurrence (level/trend carry). A series whose second
    point never arrives stays pending — asserted absent."""
    import os

    from beats_spark.metrics import holt_smooth
    from beats_spark.streaming import streaming_holt

    rows = []
    for k in ("h1", "h2"):
        base, step = (100, 37) if k == "h1" else (9000, -61)
        for i in range(9):
            rows.append(
                (k, 1_700_000_000_000_000 + i * 1_000_000, i, base + i * step)
            )
    rows.append(("solo", 1_700_000_000_000_000, 0, 555))
    df = spark.createDataFrame(rows, "k string, ts_us long, tb long, v long")

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = df.toPandas().sort_values(["k", "tb"])
    # file 0 carries only h1's FIRST value (+ solo); the rn-1 emit for
    # h1 must happen in micro-batch 1 via the carried pend_x
    for i, part in enumerate([pdf.iloc[:1], pdf.iloc[1:6], pdf.iloc[6:13], pdf.iloc[13:]]):
        part.to_json(f"{src}/f{i}.json", orient="records", lines=True)
    pin_file_order(src)
    stream = (
        spark.readStream.format("json")
        .schema("k string, ts_us long, tb long, v long")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    out = streaming_holt(
        stream, key_col="k", ts_us_col="ts_us", value_col="v", tiebreak_col="tb"
    )
    got_rows = []
    q = (
        out.writeStream.foreachBatch(lambda d, _: got_rows.extend(d.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    batch = holt_smooth(
        df.filter(F.col("k") != "solo").select(
            "k", F.timestamp_micros("ts_us").alias("ts"), "tb", "v"
        ),
        ["k"], "ts", "v", "tb",
    )
    want = {
        (r["k"], r["rn"]): (r["value"], r["level"], r["trend"], r["forecast"])
        for r in batch.collect()
    }
    got = {
        (r["key"], r["rn"]): (r["value"], r["level"], r["trend"], r["forecast"])
        for r in got_rows
    }
    assert got == want and len(got) == 18
    assert not any(k == "solo" for k, _ in got)  # still pending, by contract
