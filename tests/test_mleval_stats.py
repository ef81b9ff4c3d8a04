"""Hand-checked goldens: exact AUC (ties included), weighted median."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_rsna_spark.operators import relational as rel


def _scores(spark, rows):
    return spark.createDataFrame(rows, "score long, lab int")


def test_auc_perfect_separation(spark):
    df = _scores(spark, [(1, 0), (2, 0), (3, 1), (4, 1)])
    row = rel.exact_auc(df, "score", "lab").collect()[0]
    assert (row["npos"], row["nneg"]) == (2, 2)
    assert row["auc_num2"] == 8  # 4 winning pairs * 2
    assert row["auc_ppm"] == 1_000_000


def test_auc_random_and_inverted(spark):
    # inverted: every positive below every negative -> AUC 0
    df = _scores(spark, [(1, 1), (2, 1), (3, 0), (4, 0)])
    assert rel.exact_auc(df, "score", "lab").collect()[0]["auc_ppm"] == 0


def test_auc_ties_get_half_credit(spark):
    # pos at 2, negs at 1 and 2: one win + one tie = 1.5/2 -> 0.75
    df = _scores(spark, [(1, 0), (2, 0), (2, 1)])
    row = rel.exact_auc(df, "score", "lab").collect()[0]
    assert row["auc_num2"] == 3  # 2*1 win + 1 tie
    assert row["auc_ppm"] == 750_000


def test_auc_hand_computed_mixed(spark):
    # scores: neg {1,3}, pos {2,4}: pairs (2>1)=1, (2<3)=0, (4>1)=1,
    # (4>3)=1 -> 3/4
    df = _scores(spark, [(1, 0), (3, 0), (2, 1), (4, 1)])
    assert (
        rel.exact_auc(df, "score", "lab").collect()[0]["auc_ppm"] == 750_000
    )


def _wm(spark, rows):
    return spark.createDataFrame(rows, "k string, v long, w long")


def test_weighted_median_basic(spark):
    # key a: value 10 w=1, value 20 w=1, value 30 w=2
    # total 4, half 2 -> cum at 20 is 2 -> 2*2>=4 -> lower median 20
    df = _wm(spark, [("a", 10, 1), ("a", 20, 1), ("a", 30, 2)])
    row = rel.weighted_median(df, "k", "v", "w").collect()[0]
    assert (row["wmedian"], row["total_weight"]) == (20, 4)


def test_weighted_median_heavy_value_dominates(spark):
    df = _wm(spark, [("a", 10, 1), ("a", 50, 100), ("a", 90, 1)])
    assert rel.weighted_median(df, "k", "v", "w").collect()[0]["wmedian"] == 50


def test_weighted_median_duplicate_values_merge(spark):
    # duplicate (k, v) rows must merge their weights before the scan
    df = _wm(spark, [("a", 10, 1), ("a", 10, 1), ("a", 10, 1), ("a", 99, 2)])
    assert rel.weighted_median(df, "k", "v", "w").collect()[0]["wmedian"] == 10


def test_weighted_median_per_key_independent(spark):
    df = _wm(spark, [("a", 1, 1), ("a", 2, 1), ("b", 100, 3), ("b", 7, 1)])
    got = {
        r["k"]: r["wmedian"]
        for r in rel.weighted_median(df, "k", "v", "w").collect()
    }
    # a: total 2, cum at 1 is 1, 2*1>=2 -> 1 (lower median)
    # b: total 4, cum at 7 is 1 (no), at 100 is 4 -> 100
    assert got == {"a": 1, "b": 100}


def test_weighted_median_keeps_null_key(spark):
    # the NULL key is one group, as in GROUP BY: a 1 and 2 (w 1 each),
    # NULL 5 (w 1) and 6 (w 3) -> NULL: total 4, cum at 5 is 1, at 6 is 4
    df = _wm(spark, [("a", 1, 1), ("a", 2, 1), (None, 5, 1), (None, 6, 3)])
    got = {
        r["k"]: (r["wmedian"], r["total_weight"])
        for r in rel.weighted_median(df, "k", "v", "w").collect()
    }
    assert got == {"a": (1, 2), None: (6, 4)}


def test_linear_trend_known_slope(spark):
    # v = 7*t exactly -> slope_num/slope_den == 7
    from data_pipeline_rsna_spark import queries  # noqa: F401  (registry)
    import datetime

    rows = [
        (i, datetime.datetime(2024, 1, 1 + i), 1, "a", 7.0 * i / 100.0, "{}")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    # inline the sufficient-stats shape from the registered query
    t = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("bigint")
    v = df.select(
        "event_type",
        t.alias("t"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("val"),
    )
    s = v.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum("val").cast("decimal(38,0)").alias("sv"),
        F.sum(F.col("t") * F.col("val")).cast("decimal(38,0)").alias("stv"),
        F.sum(F.col("t") * F.col("t")).cast("decimal(38,0)").alias("stt"),
    )
    row = s.select(
        (F.col("n") * F.col("stv") - F.col("st") * F.col("sv")).alias("num"),
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).alias("den"),
    ).collect()[0]
    assert int(row["num"]) == 7 * int(row["den"])


def test_exact_auc_by_group_matches_global_and_handles_degenerate(spark):
    from data_pipeline_rsna_spark.operators import relational as rel

    # group A: perfect separation -> AUC 1.0; group B: inverted -> 0.0;
    # group C: all positive -> undefined (NULL)
    rows = (
        [("A", s, 1) for s in (10, 11, 12)]
        + [("A", s, 0) for s in (1, 2, 3)]
        + [("B", s, 0) for s in (10, 11)]
        + [("B", s, 1) for s in (1, 2)]
        + [("C", s, 1) for s in (5, 6)]
    )
    df = spark.createDataFrame(rows, "g string, score long, lab int")
    out = {
        r.g: r for r in rel.exact_auc_by_group(df, "g", "score", "lab").collect()
    }
    assert out["A"].auc_ppm == 1_000_000
    assert out["B"].auc_ppm == 0
    assert out["C"].auc_ppm is None and out["C"].nneg == 0
    # a single-group frame must agree with the global exact_auc
    one = df.filter("g = 'A'")
    glob = rel.exact_auc(one, "score", "lab").collect()[0]
    assert (out["A"].npos, out["A"].nneg, out["A"].auc_num2) == (
        glob.npos, glob.nneg, glob.auc_num2,
    )


def test_logreg_gd_matches_pure_python_replay(spark):
    """The distributed fixed-point GD trajectory must equal a pure-
    Python replay of the same spec (hard sigmoid, ppm weights, BIGINT
    sums, truncating division) — the property the DuckDB oracle also
    asserts, checked here on a handcrafted frame."""
    from data_pipeline_rsna_spark.operators import stats as st

    rows = [(3, 7, 1_000_000), (5, 1, 0), (2, 9, 1_000_000),
            (8, 2, 0), (1, 4, 1_000_000), (6, 6, 0), (4, 3, 0)]
    df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
    out = st.logreg_gd_hard_sigmoid(
        df, ["x1", "x2"], "y", steps=3, lr_div=16
    ).collect()[0]

    def clamp(z):
        return max(0, min(1_000_000, 500_000 + st._tdiv(z, 4)))

    wb = w1 = w2 = 0
    n = len(rows)
    for _ in range(3):
        gb = g1 = g2 = 0
        for x1, x2, y in rows:
            p = clamp(wb + w1 * x1 + w2 * x2)
            gb += p - y
            g1 += (p - y) * x1
            g2 += (p - y) * x2
        wb -= st._tdiv(st._tdiv(gb, n), 16)
        w1 -= st._tdiv(st._tdiv(g1, n), 16)
        w2 -= st._tdiv(st._tdiv(g2, n), 16)
    correct = sum(
        1 for x1, x2, y in rows
        if (clamp(wb + w1 * x1 + w2 * x2) >= 500_000) == (y == 1_000_000)
    )
    assert (out.n, out.w_bias, out.w_x1, out.w_x2, out.n_correct) == (
        n, wb, w1, w2, correct
    )


def test_tdiv_truncates_toward_zero():
    from data_pipeline_rsna_spark.operators.stats import _tdiv

    assert _tdiv(7, 2) == 3 and _tdiv(-7, 2) == -3
    assert _tdiv(7, -2) == -3 and _tdiv(-7, -2) == 3
