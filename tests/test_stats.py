"""Drift / information statistics: hand-computed goldens."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_pipeline_rsna_spark.operators import stats as st
import pytest


def test_ks_two_sample_hand_check(spark):
    # A = {1, 2, 3}, B = {3, 4} (values in dollars -> cents 100..400)
    # F_a steps: 1/3, 2/3, 3/3; F_b: 0, 0, 1/2, 1
    # D = max|F_a - F_b| = 2/3 at v=2  =>  ks_num = D*n_a*n_b = 4
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = st.ks_two_sample(df, "grp", "a", "b").collect()[0]
    assert (got.n_a, got.n_b, got.ks_num) == (3, 2, 4)
    assert got.ks_ppm == 4 * 1_000_000 // 6  # 666666


def test_ks_identical_distributions_is_zero(spark):
    rows = [("a", float(v)) for v in range(10)] + [
        ("b", float(v)) for v in range(10)
    ]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = st.ks_two_sample(df, "grp", "a", "b").collect()[0]
    assert got.ks_num == 0 and got.ks_ppm == 0


def test_psi_buckets_hand_check(spark):
    # Two buckets over cents 100..200: A all in low bucket, B all high.
    rows = [("a", 1.0)] * 4 + [("b", 2.0)] * 4
    df = spark.createDataFrame(rows, "grp string, value double")
    out = {
        r.bucket: r
        for r in st.psi_buckets(
            df, "grp", "a", "b", n_buckets=2
        ).collect()
    }
    assert set(out) == {0, 1}
    r0 = out[0]
    # smoothed: sa=5, sb=1, na=nb=6 -> x = ln5 - ln1 = ln5 micro-nats
    assert r0.ca == 4 and r0.cb == 0
    assert r0.x_micro == round(math.log(5) * 1e6)
    assert r0.term_num == (5 * 6 - 1 * 6) * r0.x_micro
    # bucket 1 mirrors bucket 0
    assert out[1].term_num == r0.term_num  # (1*6-5*6)*(-ln5) symmetric


def test_categorical_entropy_golden(spark):
    # group g: 2 cats with counts 2,2 -> H = ln 4 - (2ln2+2ln2)/4 = ln2
    rows = [("g", "x")] * 2 + [("g", "y")] * 2 + [("h", "x")] * 3
    df = spark.createDataFrame(rows, "grp string, cat string")
    out = {
        r.grp: r for r in st.categorical_entropy(df, "grp", "cat").collect()
    }
    ln2_micro = round(math.log(4) * 1e6) - (
        4 * round(math.log(2) * 1e6) // 4
    )
    assert out["g"].entropy_micro == ln2_micro
    # single-category group: H = 0 exactly
    assert out["h"].entropy_micro == round(math.log(3) * 1e6) - (
        3 * round(math.log(3) * 1e6) // 3
    ) == 0


def test_mutual_information_dependence(spark):
    # perfectly dependent: b == a over 2 symbols, n=4
    # MI = ln 2; mi_sum = sum c_ab*(L(2)+L(4)-L(2)-L(2)) = 4*(L4-L2)
    rows = [("x", "x"), ("x", "x"), ("y", "y"), ("y", "y")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = st.mutual_information(df, "a", "b").collect()[0]
    l2, l4 = round(math.log(2) * 1e6), round(math.log(4) * 1e6)
    assert got.n == 4 and got.mi_sum_micro == 4 * (l4 - l2)


def test_mutual_information_independent_near_zero(spark):
    # independent uniform 2x2, counts all equal -> each term exactly 0
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(3)]
    df = spark.createDataFrame(rows, "a string, b string")
    got = st.mutual_information(df, "a", "b").collect()[0]
    # c_ab=3, c_a=c_b=6, n=12: L(3)+L(12)-L(6)-L(6) = rounding-only
    assert abs(got.mi_sum_micro) <= 12  # within 1 micro-nat per row


def test_bootstrap_weights_deterministic_and_distributed(spark):
    df = spark.createDataFrame(
        [(i, 10.0) for i in range(500)], "k long, value double"
    )
    out1 = st.bootstrap_means(df, F.col("k"), n_replicates=8).collect()
    out2 = st.bootstrap_means(
        df.repartition(7), F.col("k"), n_replicates=8
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert len(out1) == 8
    for r in out1:
        # all values identical -> every replicate mean is exactly 1000
        assert r.mean_cents == 1000
        # Poisson(1) total weight concentrates near n
        assert 350 < r.n_eff < 650


def test_seasonal_anomalies_flags_planted_outlier(spark):
    # 23 calm rows + one 100x spike in the same (type, hour) cell
    rows = [("click", f"2024-01-01 05:00:{s:02d}", 10.0) for s in range(23)]
    rows.append(("click", "2024-01-01 05:00:59", 1000.0))
    df = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).select("event_type", F.to_timestamp("ts_s").alias("ts"), "value")
    got = st.seasonal_anomalies(df).collect()
    assert len(got) == 1
    assert (got[0].n, got[0].n_anomalies) == (24, 1)


def test_chi2_categorical_hand_check(spark):
    # 2x2: cat X (a:3, b:1), cat Y (a:1, b:3); n=8, rt=4, na=nb=4
    # e = 2 everywhere, chi2 cell = (o-2)^2/2 = 0.5 -> 500000 micro
    rows = (
        [("a", "X")] * 3 + [("b", "X")] + [("a", "Y")] + [("b", "Y")] * 3
    )
    df = spark.createDataFrame(rows, "grp string, cat string")
    out = {
        r.cat: r
        for r in st.chi2_categorical(df, "grp", "a", "b", "cat").collect()
    }
    for cat in "XY":
        assert out[cat].chi2_a_micro == 500000
        assert out[cat].chi2_b_micro == 500000


def test_chi2_no_drift_is_zero(spark):
    rows = [("a", c) for c in "XXY"] + [("b", c) for c in "XXY"]
    df = spark.createDataFrame(rows, "grp string, cat string")
    out = st.chi2_categorical(df, "grp", "a", "b", "cat").collect()
    assert all(r.chi2_a_micro == 0 and r.chi2_b_micro == 0 for r in out)


def test_wasserstein_point_masses(spark):
    # A all at 1.00, B all at 3.00: W1 = |100 - 300| = 200 cents exactly
    rows = [("a", 1.0)] * 4 + [("b", 3.0)] * 2
    df = spark.createDataFrame(rows, "grp string, value double")
    got = st.wasserstein_1d(df, "grp", "a", "b").collect()[0]
    # numerator = W1 * n_a * n_b = 200 * 8
    assert (got.n_a, got.n_b, got.w1_num) == (4, 2, 200 * 8)
    assert got.w1_micro_cents == 200 * 1_000_000


def test_wasserstein_partition_invariant(spark):
    rows = [("a", float(v % 7)) for v in range(40)] + [
        ("b", float(v % 5)) for v in range(30)
    ]
    df = spark.createDataFrame(rows, "grp string, value double")
    r1 = st.wasserstein_1d(df, "grp", "a", "b", partitions=2).collect()
    r2 = st.wasserstein_1d(
        df.repartition(9), "grp", "a", "b", partitions=5
    ).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]


def test_column_profiles_nulls_and_distincts(spark):
    rows = [
        ("g1", "a", 1.0), ("g1", "a", None), ("g1", "b", 3.0),
        ("g2", None, 2.0),
    ]
    df = spark.createDataFrame(rows, "grp string, s string, v double")
    out = {
        (r.grp, r.col_name): r
        for r in st.column_profiles(
            df, "grp", {"s": "s", "v_cents": "CAST(round(v * 100) AS BIGINT)"}
        ).collect()
    }
    g1s = out[("g1", "s")]
    assert (g1s.n_rows, g1s.n_null, g1s.n_distinct) == (3, 0, 2)
    assert (g1s.min_str, g1s.max_str) == ("a", "b")
    g1v = out[("g1", "v_cents")]
    assert (g1v.n_null, g1v.n_distinct) == (1, 2)
    assert g1v.null_ppm == 1_000_000 // 3
    g2s = out[("g2", "s")]
    assert (g2s.n_rows, g2s.n_null, g2s.n_distinct) == (1, 1, 0)
    assert g2s.min_str is None and g2s.max_str is None


def test_bootstrap_weights_match_python_md5_reference(spark):
    """End-to-end weight check: bootstrap_means' md5/threshold chain
    must produce exactly the truncated-Poisson weights a direct Python
    md5 evaluation yields — per replicate, for arbitrary keys."""
    import hashlib

    from data_pipeline_rsna_spark.operators.stats import POISSON1_T28

    def w_of(key: str, b: int) -> int:
        # one digest per group of four replicates; replicate b reads
        # the (b mod 4)-th 7-hex (28-bit) slice of md5(key|salt|b//4)
        dig = hashlib.md5(f"{key}|boot|{b // 4}".encode()).hexdigest()
        j = b % 4
        u = int(dig[j * 7 : j * 7 + 7], 16)
        for k, t in enumerate(POISSON1_T28):
            if u < t:
                return k
        return 4

    keys = [str(i * 7919) for i in range(50)]
    df = spark.createDataFrame(
        [(k, (i + 1) * 1.0) for i, k in enumerate(keys)],
        "k string, value double",
    )
    # 6 replicates: spans a digest-group boundary (b=4,5 read the
    # second digest) AND a partial group (6 % 4 != 0 exercises the
    # b < n_replicates trim)
    got = {
        r.b: (r.n_eff, r.mean_cents)
        for r in st.bootstrap_means(
            df, F.col("k"), n_replicates=6
        ).collect()
    }
    assert sorted(got) == list(range(6))
    for b in range(6):
        ws = [w_of(k, b) for k in keys]
        n_eff = sum(ws)
        cents = [(i + 1) * 100 for i in range(50)]
        mean = sum(w * c for w, c in zip(ws, cents)) // n_eff
        assert got[b] == (n_eff, mean), (b, got[b], (n_eff, mean))


def test_ks_by_group_matches_per_segment_global(spark):
    """Per-segment KS must equal running ks_two_sample independently on
    each segment's slice, and one-sided segments report NULL ks_ppm."""
    rows = (
        [("s1", "a", float(v)) for v in (1, 2, 3)]
        + [("s1", "b", float(v)) for v in (3, 4)]
        + [("s2", "a", float(v)) for v in (5, 5, 6)]
        + [("s2", "b", float(v)) for v in (5, 6)]
        + [("s3", "a", 9.0)]  # no b side
    )
    df = spark.createDataFrame(rows, "seg string, grp string, value double")
    out = {
        r.seg: r
        for r in st.ks_two_sample_by_group(
            df, "seg", "grp", "a", "b"
        ).collect()
    }
    for seg in ("s1", "s2"):
        solo = st.ks_two_sample(
            df.filter(F.col("seg") == seg), "grp", "a", "b"
        ).collect()[0]
        got = out[seg]
        assert (got.n_a, got.n_b, got.ks_num, got.ks_ppm) == tuple(solo)
    assert out["s3"].ks_ppm is None and out["s3"].n_b == 0


def test_ks_by_group_keeps_null_segment(spark):
    """The NULL segment is a segment: its KS equals ks_two_sample over
    its own slice, as s1's does."""
    rows = (
        [("s1", "a", float(v)) for v in (1, 2, 3)]
        + [("s1", "b", float(v)) for v in (3, 4)]
        + [(None, "a", float(v)) for v in (5, 5, 6)]
        + [(None, "b", float(v)) for v in (7, 8)]
    )
    df = spark.createDataFrame(rows, "seg string, grp string, value double")
    out = {
        r.seg: tuple(r)[1:]
        for r in st.ks_two_sample_by_group(
            df, "seg", "grp", "a", "b"
        ).collect()
    }
    want = {
        seg: tuple(st.ks_two_sample(
            df.filter(F.col("seg").eqNullSafe(F.lit(seg))), "grp", "a", "b"
        ).collect()[0])
        for seg in ("s1", None)
    }
    assert out == want


def test_cohens_kappa_golden_and_negative(spark):
    """Hand-computed kappa: 2x2 confusion [[20,5],[10,15]] -> n=50,
    agree=35, pe_num = 25*30 + 25*20 = 1250, num = 50*35-1250 = 500,
    den = 2500-1250 = 1250 (kappa = 0.4). Perfect disagreement on a
    2x2 flips the sign exactly."""
    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5
        + [("n", "y")] * 10 + [("n", "n")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = st.cohens_kappa(df, "a", "b").collect()[0]
    assert (r.n, r.agree, r.po_ppm) == (50, 35, 700000)
    assert (int(r.kappa_num), int(r.kappa_den)) == (500, 1250)
    anti = spark.createDataFrame(
        [("y", "n")] * 3 + [("n", "y")] * 3, "a string, b string"
    )
    r2 = st.cohens_kappa(anti, "a", "b").collect()[0]
    # po=0, pe_num = 3*3+3*3 = 18, num = -18, den = 36-18 -> kappa = -1
    assert (int(r2.kappa_num), int(r2.kappa_den)) == (-18, 18)


def test_l_diversity_summary(spark):
    """Class (q=1) has sensitive {a,b,c} (diverse), class (q=2) only
    {a} twice (below l=2) -> 1 class below, 2 rows below, min 1."""
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "a")],
        "q int, s string",
    )
    r = st.l_diversity(df, ["q"], "s", l=2).collect()[0]
    assert (
        r.n_classes, r.n_rows, r.classes_below_l,
        r.rows_below_l, r.min_diversity,
    ) == (2, 5, 1, 2, 1)


def test_cusum_changepoint_planted_shift(spark):
    """Level shift 10->20 after t=5 on 10 periods: mean 15, cumulative
    deviation peaks (|c|) at t=5 with T-scaled height 10*25 = 250."""
    rows = [(t, 10) for t in range(1, 6)] + [(t, 20) for t in range(6, 11)]
    df = spark.createDataFrame(rows, "t int, x int")
    r = st.cusum_changepoint(df, "t", "x").collect()[0]
    assert (r.t_periods, r.s_total) == (10, 150)
    assert (r.changepoint_at, r.cusum_max_scaled) == (5, 250)


@pytest.mark.slow
def test_cusum_changepoint_partition_invariance(spark):
    """Same answer at 1 and 7 input partitions (two-phase prefix sum)."""
    rows = [(t, (t * 37) % 11) for t in range(1, 40)]
    df = spark.createDataFrame(rows, "t int, x int")
    a = st.cusum_changepoint(df.coalesce(1), "t", "x").collect()[0]
    b = st.cusum_changepoint(df.repartition(7), "t", "x").collect()[0]
    assert tuple(a) == tuple(b)


def test_srm_check_detects_mismatch_and_missing_arm(spark):
    """30/10 observed against a 50/25/25 design: arm 'c' never appears
    (o=0 row present), and the hand-computed chi2 terms match.
    n=40, W=4. a: w=2 -> (4*30-2*40)^2*1e6/(4*2*40) = 1600e6/320;
    b: w=1 -> (40-40)^2 = 0; c: w=1 -> (0-40)^2*1e6/160."""
    rows = [(f"u{i}", "a") for i in range(30)] + [
        (f"v{i}", "b") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "unit string, arm string")
    out = {
        r.arm: r
        for r in st.srm_check(
            df, "unit", "arm", {"a": 2, "b": 1, "c": 1}
        ).collect()
    }
    assert out["a"].n_units == 30 and out["a"].chi2_term_micro == 1600 * 10**6 // 320
    assert out["b"].chi2_term_micro == 0
    assert out["c"].n_units == 0
    assert out["c"].chi2_term_micro == 1600 * 10**6 // 160
    assert out["a"].expected_ppm == 500000
    assert out["a"].observed_ppm == 750000


def test_mi_ranking_matches_single_pair_mi(spark):
    """The one-pass multi-feature sweep must equal mutual_information
    run per feature, including the perfectly-dependent (mi = sum over
    cells, high) and independent (near-zero) cases."""
    rows = [(t, t, v) for t in ("x", "y") for v in ("p", "q") for _ in range(5)]
    df = spark.createDataFrame(rows, "t string, dep string, ind string")
    out = {
        r.feature: r
        for r in st.mutual_information_ranking(
            df, "t", ["dep", "ind"]
        ).collect()
    }
    for feat in ("dep", "ind"):
        solo = st.mutual_information(df, feat, "t").collect()[0]
        assert (out[feat].n, out[feat].mi_sum_micro) == (
            solo.n, solo.mi_sum_micro,
        ), feat
    assert out["dep"].mi_sum_micro > out["ind"].mi_sum_micro
    assert abs(out["ind"].mi_sum_micro) <= 40  # rounding only


def test_cuped_adjustment_reduces_to_raw_mean_when_theta_zero(spark):
    """With a pre-period covariate that is CONSTANT across units,
    var(X) > 0 fails, so build instead: X uncorrelated-by-symmetry
    cases are fragile — assert the exact arithmetic contract directly
    against a python fixed-point reference on a small frame."""
    from data_pipeline_rsna_spark.operators import stats as st

    rows = [
        # (unit, arm, x_cents, y_cents)
        (1, "control", 100, 500),
        (2, "control", 200, 900),
        (3, "treatment", 150, 800),
        (4, "treatment", 250, 1200),
    ]
    df = spark.createDataFrame(rows, "u long, arm string, x long, y long")
    got = {
        r.arm: r
        for r in st.cuped_adjusted_means(df, "u", "arm", "x", "y").collect()
    }

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    xs = [r[2] for r in rows]
    ys = [r[3] for r in rows]
    n = len(rows)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    theta_ppm = tdiv(1000000 * (n * sxy - sx * sy), n * sxx - sx * sx)
    for arm in ("control", "treatment"):
        sub = [r for r in rows if r[1] == arm]
        na = len(sub)
        sxa = sum(r[2] for r in sub)
        sya = sum(r[3] for r in sub)
        mean_y = (1000000 * sya) // na
        adj = mean_y - tdiv(
            theta_ppm * ((1000000 * sxa) // na - (1000000 * sx) // n),
            1000000,
        )
        assert got[arm].theta_ppm == theta_ppm
        assert got[arm].mean_y_micro == mean_y
        assert got[arm].adj_mean_micro == adj
        assert got[arm].n_units == na


def test_cuped_adjusted_grand_mean_is_preserved(spark):
    """CUPED must not move the pooled mean (up to fixed-point floors):
    sum over arms of n_a * (adj - raw) is the theta-weighted sum of
    centered X means, which is 0 by construction when arms partition
    the units. Verified within the 1-micro-per-arm floor tolerance."""
    import random

    from data_pipeline_rsna_spark.operators import stats as st

    rng = random.Random(5)
    rows = [
        (i, "control" if i % 2 == 0 else "treatment",
         rng.randint(0, 1000), rng.randint(0, 2000))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "u long, arm string, x long, y long")
    out = st.cuped_adjusted_means(df, "u", "arm", "x", "y").collect()
    drift = sum(r.n_units * (r.adj_mean_micro - r.mean_y_micro) for r in out)
    total_n = sum(r.n_units for r in out)
    # each arm's correction floors twice (mean_x floor + /1e6 floor)
    assert abs(drift) <= 2 * total_n * max(
        1, max(abs(r.theta_ppm) for r in out) // 1000000 + 1
    )


def test_split_conformal_brute_force_parity(spark):
    """Exact python rederivation on a small planted dataset, including
    the ceil((n+1)*0.9) rank index and ppm coverage."""
    rows = []
    # group 'b' on i%3==0 hits both parities, so both groups appear in
    # the calibration AND test slices
    for i in range(16):
        rows.append((i, "b" if i % 3 == 0 else "a",
                     5.0 if i % 3 == 0 else float(1 + (i % 8))))
    df = spark.createDataFrame(rows, "event_id long, g string, v double")
    got = st.split_conformal_interval(
        df, "g", "v", "event_id % 2 = 0"
    ).collect()[0]

    cents = {i: round(v * 100) for i, _, v in rows}
    grp = {i: g for i, g, _ in rows}
    cal = [i for i, _, _ in rows if i % 2 == 0]
    test = [i for i, _, _ in rows if i % 2 == 1]
    means = {}
    for g in {"a", "b"}:
        gs = [cents[i] for i in cal if grp[i] == g]
        means[g] = (1_000_000 * sum(gs)) // len(gs)
    r = {i: abs(cents[i] * 1_000_000 - means[grp[i]]) for i in cents}
    cal_r = sorted(r[i] for i in cal)
    n = len(cal_r)
    k = min((9 * (n + 1) + 9) // 10, n)
    q = cal_r[k - 1]
    cov = (1_000_000 * sum(r[i] <= q for i in test)) // len(test)
    assert (got.n_cal, got.n_test) == (n, len(test))
    assert got.q_micro == q
    assert got.coverage_ppm == cov


def test_neyman_allocation_brute_force_parity(spark):
    import math

    rows = [("lo", v) for v in (10.0, 10.1, 9.9, 10.0)] + [
        ("hi", v) for v in (0.0, 50.0, 100.0, 25.0)
    ] + [("const", 7.0)] * 3
    df = spark.createDataFrame(rows, "s string, v double")
    got = {r.stratum: r for r in st.neyman_allocation(df, "s", "v").collect()}

    w = {}
    for s in {"lo", "hi", "const"}:
        xs = [round(v * 100) for t, v in rows if t == s]
        d = len(xs) * sum(x * x for x in xs) - sum(xs) ** 2
        w[s] = round(math.sqrt(d) * 1_000_000)
    tot = sum(w.values())
    for s, wm in w.items():
        assert got[s].w_micro == wm, s
        assert got[s].alloc_ppm == (1_000_000 * wm) // tot
        assert got[s].alloc_n == (1000 * wm) // tot
    # zero-variance stratum gets zero budget; high-variance dominates
    assert got["const"].alloc_n == 0
    assert got["hi"].alloc_n > got["lo"].alloc_n


def test_diff_in_diff_planted_effect(spark):
    """Control flat at 10.00 both periods; treatment 10.00 pre and
    13.50 post -> DiD = +3.50 exactly (micro-cents)."""
    rows = []
    for i in range(8):
        rows.append((i, False, False, 10.0))
        rows.append((i, False, True, 10.0))
        rows.append((i, True, False, 10.0))
        rows.append((i, True, True, 13.5))
    df = spark.createDataFrame(rows, "u long, t boolean, p boolean, v double")
    got = st.diff_in_diff(df, "t", "p", "v").collect()[0]
    assert (got.n_c_pre, got.n_c_post, got.n_t_pre, got.n_t_post) == (
        8, 8, 8, 8
    )
    assert got.m_t_post_micro == 1350 * 1_000_000
    assert got.did_micro == 350 * 1_000_000
    # parallel pre-trends baked in: both pre means equal
    assert got.m_c_pre_micro == got.m_t_pre_micro


def test_kaplan_meier_textbook_example(spark):
    """Classic worked example: durations (6,6,6,7,10) events with
    censoring at 6+,9+,10+ — S steps match the hand-multiplied
    products, and exact-zero survival when the last subject dies."""
    import math

    subj = [
        (6, 1), (6, 1), (6, 1), (6, 0),
        (7, 1), (9, 0), (10, 1), (10, 0),
    ]
    df = spark.createDataFrame(subj, "t long, e int")
    out = {r.t: r for r in st.kaplan_meier(df, "t", "e").collect()}

    def lnm(x):
        return round(math.log(x) * 1_000_000)

    t6 = out[6]
    assert (t6.n_risk, t6.n_events, t6.n_censored) == (8, 3, 1)
    assert t6.s_lnmicro == lnm(5) - lnm(8)
    t7 = out[7]
    assert (t7.n_risk, t7.n_events) == (4, 1)
    assert t7.s_lnmicro == lnm(5) - lnm(8) + lnm(3) - lnm(4)
    t9 = out[9]
    assert t9.n_events == 0 and t9.s_lnmicro == t7.s_lnmicro
    t10 = out[10]
    # 2 at risk, 1 dies, 1 censored -> S = prior * 1/2, still > 0
    assert (t10.n_risk, t10.n_events, t10.n_censored) == (2, 1, 1)
    assert t10.s_ppm == math.floor(
        1_000_000 * math.exp(t10.s_lnmicro / 1_000_000)
    )


def test_kaplan_meier_hits_exact_zero(spark):
    df = spark.createDataFrame([(3, 1), (5, 1)], "t long, e int")
    out = {r.t: r for r in st.kaplan_meier(df, "t", "e").collect()}
    assert out[3].s_ppm == 500_000
    assert out[5].s_lnmicro is None and out[5].s_ppm == 0


def test_t_closeness_identical_vs_concentrated(spark):
    """A class mirroring the global distribution scores t=0; a class
    concentrated in one bucket scores the hand-computed EMD."""
    # global: values 0.50 and 9.50 in equal halves across two classes
    rows = (
        [("mirror", 0.5)] * 4 + [("mirror", 9.5)] * 4
        + [("skewed", 0.5)] * 8
    )
    df = spark.createDataFrame(rows, "qi string, v double")
    out = {r.qi: r for r in st.t_closeness(df, ["qi"], "v", n_buckets=2).collect()}
    # global: bucket0 = 12, bucket1 = 4, N = 16
    # mirror (nc=8): cum_cb(b0)=4, cum_b(b0)=12 -> |4*16 - 12*8| = 32
    m = out["mirror"]
    assert m.class_size == 8
    assert int(m.emd_num) == abs(4 * 16 - 12 * 8)
    assert m.t_ppm == (32 * 1_000_000) // (8 * 16 * 1)
    # skewed (nc=8): cum_cb(b0)=8 -> |8*16 - 12*8| = 32 (symmetric here)
    s = out["skewed"]
    assert int(s.emd_num) == abs(8 * 16 - 12 * 8)


def test_t_closeness_last_bucket_class_not_dropped(spark):
    """A class concentrated entirely in the LAST bucket — the maximally
    leaking class the audit exists to flag — must appear in the output
    (round-7 fix: pre-densify it produced zero per-class rows after the
    b < B-1 filter and silently vanished)."""
    rows = [("lo", 0.5)] * 8 + [("hi", 9.5)] * 8
    df = spark.createDataFrame(rows, "qi string, v double")
    out = {r.qi: r for r in st.t_closeness(df, ["qi"], "v", n_buckets=2).collect()}
    assert set(out) == {"lo", "hi"}
    # global: b0=8, b1=8, N=16; hi (nc=8): cum_cb(b0)=0, cum_b(b0)=8
    assert int(out["hi"].emd_num) == abs(0 * 16 - 8 * 8)
    assert out["hi"].t_ppm == (64 * 1_000_000) // (8 * 16 * 1)


def test_t_closeness_sparse_class_counts_skipped_buckets(spark):
    """EMD terms for buckets the class does NOT occupy still count —
    the class CDF is flat there but the global CDF keeps rising
    (round-7 fix: the join-on-occupied-buckets shape skipped them)."""
    # buckets via (v*100 - 50) * 4 DIV 901: 0.5->0, 3.5->1, 6.5->2, 9.5->3
    rows = (
        [("full", 0.5), ("full", 3.5), ("full", 6.5), ("full", 9.5)]
        + [("gap", 0.5)] * 2 + [("gap", 9.5)] * 2
    )
    df = spark.createDataFrame(rows, "qi string, v double")
    out = {r.qi: r for r in st.t_closeness(df, ["qi"], "v", n_buckets=4).collect()}
    # global: nb = [3,1,1,3], N=8; gap (nc=4): cum_cb=[2,2,2,4], cum_b=[3,4,5,8]
    # num = |2*8-3*4| + |2*8-4*4| + |2*8-5*4| = 4 + 0 + 4 = 8
    assert int(out["gap"].emd_num) == 8
    assert out["gap"].t_ppm == (8 * 1_000_000) // (4 * 8 * 3)
    # full (nc=4): cum_cb=[1,2,3], terms 4+0+4 = 8
    assert int(out["full"].emd_num) == 8


@pytest.mark.slow
def test_t_closeness_division_rounding_boundary(spark):
    """t_ppm must TRUNCATE, exactly, even when the quotient sits within
    5e-7 below an integer (round-12 driver fix): Spark decimal division
    rounds HALF_UP at the result scale (6) BEFORE a floor(), so
    floor(num*1e6 / den) bumped such a quotient up by 1 while the
    oracle's integer division truncates. Constructed input: one
    singleton class whose EMD numerator satisfies
    num * 1e6 === -1 (mod N), i.e. the quotient is (k+1) - 1/N with
    1/N < 5e-7 — the exact boundary. The integral `div` form returns k.
    Also pins the BIGINT (python int) output types the driver's value
    hash compares across engines."""
    n_total = 2_000_003  # odd, not divisible by 5 -> 1e6 invertible mod N
    inv = pow(1_000_000, -1, n_total)
    # bucket-0 global count = inv: ids < inv get v=0.0 (bucket 0), the
    # rest v=0.01 (bucket 1); id 0 is the singleton class 'a' in bucket 0
    df = spark.range(n_total).selectExpr(
        "CASE WHEN id = 0 THEN 'a' ELSE 'b' END AS qi",
        f"CASE WHEN id < {inv} THEN 0.0 ELSE 0.01 END AS v",
    )
    out = {r.qi: r for r in st.t_closeness(df, ["qi"], "v", n_buckets=2).collect()}
    a = out["a"]
    num = n_total - inv  # |1*N - inv*1| for the singleton class
    # the constructed input really is at the rounding boundary
    assert (num * 1_000_000) % n_total == n_total - 1
    assert a.emd_num == num
    assert a.t_ppm == (num * 1_000_000) // n_total  # truncated, not +1
    # integral python types on the Spark side (what the driver hashes)
    assert isinstance(a.emd_num, int) and isinstance(a.t_ppm, int)


def test_bootstrap_arrow_and_sql_twins_match(spark):
    """The mapInArrow vector-md5 path and the SQL-expression path must
    produce identical replicate tables — including null keys
    (concat_ws skips them), empty-string keys, unicode keys, and keys
    past the single-block limit (hashlib fallback)."""
    rows = (
        [(None, 10.0), ("", 7.0), ("κλειδί-μακρύ", 3.25)]
        + [("k" * 80 + str(i), float(i)) for i in range(5)]
        + [(f"key{i}", float(i) * 1.5) for i in range(300)]
    )
    df = spark.createDataFrame(rows, "k string, value double")
    a = sorted(
        map(
            tuple,
            st.bootstrap_means(
                df, F.col("k"), n_replicates=6, impl="arrow"
            ).collect(),
        )
    )
    s = sorted(
        map(
            tuple,
            st.bootstrap_means(
                df, F.col("k"), n_replicates=6, impl="sql"
            ).collect(),
        )
    )
    assert a == s
    assert len(a) == 6


def test_bootstrap_twins_match_on_null_values(spark):
    """Degenerate but legal inputs: some/all NULL values. With ALL
    values null the SQL form's sum(w*cents) is NULL, so mean_cents
    must be NULL — the arrow path's fill_null(0) must not turn it
    into 0 (r11 review); with MIXED nulls both paths must agree on
    the null-skipping mean."""
    for rows in (
        [(f"key{i}", None) for i in range(50)],
        [(f"key{i}", None if i % 3 else float(i)) for i in range(50)],
    ):
        df = spark.createDataFrame(rows, "k string, value double")
        a = sorted(map(tuple, st.bootstrap_means(
            df, F.col("k"), n_replicates=4, impl="arrow").collect()))
        s = sorted(map(tuple, st.bootstrap_means(
            df, F.col("k"), n_replicates=4, impl="sql").collect()))
        assert a == s
    # the all-null case really is NULL, not 0
    df = spark.createDataFrame(
        [("k1", None), ("k2", None)], "k string, value double"
    )
    out = st.bootstrap_means(
        df, F.col("k"), n_replicates=4, impl="arrow"
    ).collect()
    assert all(r["mean_cents"] is None for r in out)


def test_bootstrap_rejects_sql_breaking_salt(spark):
    import pytest

    df = spark.createDataFrame([("k", 1.0)], "k string, value double")
    with pytest.raises(ValueError):
        st.bootstrap_means(df, F.col("k"), salt="o'boot")


def test_bootstrap_rejects_unknown_impl(spark):
    import pytest

    df = spark.createDataFrame([("k", 1.0)], "k string, value double")
    with pytest.raises(ValueError):
        st.bootstrap_means(df, F.col("k"), impl="Arrow")
