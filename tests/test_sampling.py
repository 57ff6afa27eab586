"""Deterministic sampling operators: determinism, fraction bounds, exact-k."""

import math

import pytest
from pyspark.sql import functions as F

from geojson_utility_spark.operators.sampling import reservoir_k, stratified_sample


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
def test_hash_sample_deterministic_and_bounded(spark, orders, family):
    """The hash Bernoulli sample: ``stratified_sample`` over one stratum."""
    n = orders.count()
    frac = 0.3
    one = orders.withColumn("stratum", F.lit("all"))

    def keys(seed):
        out = stratified_sample(
            one, "stratum", {"all": frac}, key_col="o_orderkey", seed=seed, hash_family=family
        )
        return sorted(r.o_orderkey for r in out.select("o_orderkey").collect())

    a, b = keys(11), keys(11)
    assert a == b, "same (key, seed) must select the same rows"
    # binomial 5-sigma bound on the sample size
    sigma = math.sqrt(n * frac * (1 - frac))
    assert abs(len(a) - n * frac) < 5 * sigma + 1
    # a different seed selects a different set
    assert set(a) != set(keys(12))


def test_stratified_fractions_respected(spark, orders):
    fracs = {"O": 0.2, "F": 0.1, "P": 0.5}
    out = stratified_sample(
        orders, "o_orderstatus", fracs, key_col="o_orderkey", seed=3
    )
    got = {
        r.o_orderstatus: r.n
        for r in out.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    base = {
        r.o_orderstatus: r.n
        for r in orders.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    for s, f in fracs.items():
        n = base[s]
        sigma = math.sqrt(n * f * (1 - f))
        assert abs(got.get(s, 0) - n * f) < 5 * sigma + 1, (s, got.get(s), n, f)
    assert set(got) <= set(fracs), "unlisted strata must be dropped"


def test_stratified_drops_unlisted_stratum(spark, orders):
    out = stratified_sample(
        orders, "o_orderstatus", {"O": 1.0}, key_col="o_orderkey", seed=3
    )
    assert out.select("o_orderstatus").distinct().collect()[0][0] == "O"
    # fraction 1.0 keeps the entire stratum
    assert out.count() == orders.filter(F.col("o_orderstatus") == "O").count()


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
def test_reservoir_exact_k_and_deterministic(spark, orders, family):
    k = 5
    out = reservoir_k(
        orders, "o_orderpriority", "o_orderkey", k=k, seed=7, hash_family=family
    )
    sizes = {
        r.o_orderpriority: r.n
        for r in out.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    base = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for g, n in base.items():
        assert sizes[g] == min(k, n)
    a = sorted((r.o_orderpriority, r.o_orderkey) for r in out.collect())
    b = sorted(
        (r.o_orderpriority, r.o_orderkey)
        for r in reservoir_k(
            orders, "o_orderpriority", "o_orderkey", k=k, seed=7, hash_family=family
        ).collect()
    )
    assert a == b


def test_seed_composition_single_string(spark):
    """Both families hash the single string key||':'||seed — the one
    composition an external engine (or the pure-Python XXH64) can reproduce.
    Pin the xxhash64 family against an explicit single-string hash."""
    from geojson_utility_spark.operators.sampling import _BUCKETS, _bucket

    df = spark.createDataFrame([("abc",), ("42",)], "k string")
    got = df.select(
        _bucket(F.col("k"), 7, "xxhash64").alias("b"),
        F.pmod(F.xxhash64(F.concat(F.col("k"), F.lit(":7"))), F.lit(_BUCKETS)).alias(
            "want"
        ),
    ).collect()
    assert all(r.b == r.want for r in got)


def test_reservoir_prefilter_two_phase_matches_full_sort(spark, orders):
    """The extreme-N escape must return EXACTLY the unfiltered rank result.
    Force it on (threshold via n_hint) at boundary ks and compare."""
    for k in (1, 5, 37):
        full = sorted(
            (r.o_orderpriority, r.o_orderkey)
            for r in reservoir_k(
                orders, "o_orderpriority", "o_orderkey", k=k, seed=7, n_hint=1
            ).collect()
        )
        pre = sorted(
            (r.o_orderpriority, r.o_orderkey)
            for r in reservoir_k(
                orders,
                "o_orderpriority",
                "o_orderkey",
                k=k,
                seed=7,
                n_hint=10**12,  # pretend strata are huge -> engage pre-filter
            ).collect()
        )
        assert full == pre, f"two-phase diverged at k={k}"


def test_reservoir_prefilter_plan_and_underfill(spark, orders):
    """With a huge n_hint the plan must contain the bucket pre-filter (a
    pushed filter over the hash bucket, BEFORE the rank window), and a
    stratum whose survivors under-fill must still return exactly k rows."""
    out = reservoir_k(
        orders, "o_orderpriority", "o_orderkey", k=3, seed=7, n_hint=10**12
    )
    # n_hint=1e12 with expected=max(2k, k+10*sqrt(k)) -> threshold 1 bucket of
    # 1e6: at sf0.01 (~15k orders) nearly every stratum under-fills, so the
    # union fallback branch runs — and must still produce exact-k everywhere.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan and "Filter" in plan, plan[:2000]
    sizes = {
        r.o_orderpriority: r.n
        for r in out.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    base = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sizes == {g: min(3, n) for g, n in base.items()}


def test_reservoir_temp_col_collision_guard(spark):
    """An input column literally named _rk must survive untouched."""
    df = spark.createDataFrame(
        [("a", i, f"v{i}") for i in range(10)], "g string, k long, _rk string"
    )
    out = reservoir_k(df, "g", "k", k=4, n_hint=10)
    rows = out.collect()
    assert len(rows) == 4
    assert set(out.columns) == {"g", "k", "_rk"}
    assert all(r._rk == f"v{r.k}" for r in rows)


def test_sampling_validation():
    from geojson_utility_spark.operators.sampling import _bucket, _threshold

    with pytest.raises(ValueError, match="fraction"):
        _threshold(1.5)
    with pytest.raises(ValueError, match="hash_family"):
        _bucket(F.lit("x"), 1, "crc32")
    with pytest.raises(ValueError, match="k must be"):
        reservoir_k(None, "g", "k", k=0)
